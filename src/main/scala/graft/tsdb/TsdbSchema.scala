package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Schema constants + dynamic-column conventions for the wide/stored form
  * (SURVEY.md §1.4; reference `simpleSchema()` hello.go:120-157).
  *
  * The reference's load-bearing design decision is FrostDB "dynamic
  * columns": one physical, dictionary-encoded, nullable string column per
  * observed label name, flat-named `labels.<name>` (literal dot —
  * hello.go:334 trims the "labels." prefix on decode). Spark schemas are
  * fixed per DataFrame, so dynamism is realized as:
  *
  *   long form  : (time LONG, value DOUBLE, labels MAP<STRING,STRING>)
  *   wide form  : (time LONG, value DOUBLE, `labels.a` STRING, ...)
  *                discovered per-batch; later batches with new label names
  *                produce parquet files with a superset schema, reconciled
  *                at read with mergeSchema=true (FrostDB's read-time union).
  */
object TsdbSchema {
  val TimeCol = "time"
  val ValueCol = "value"
  val LabelsCol = "labels"
  val LabelPrefix = "labels."

  /** Wide-form label column name for a label name ("instance" →
    * "labels.instance"). Always address via [[labelCol]] — the dot is part
    * of the flat name, never a struct path. */
  def labelColName(name: String): String = LabelPrefix + name

  /** Backtick-safe Column for a label column (literal dot in flat name). */
  def labelCol(name: String): Column = col(s"`${labelColName(name)}`")

  /** All label column names present in a wide DataFrame, in schema order. */
  def labelColumns(df: DataFrame): Seq[String] =
    df.columns.toSeq.filter(_.startsWith(LabelPrefix))

  /** DynCol("labels") expansion (P2, hello.go:527): every concrete member
    * of the dynamic family that exists in storage, as Columns. */
  def dynCols(df: DataFrame): Seq[Column] =
    labelColumns(df).map(c => col(s"`$c`"))

  /** Non-label payload/grid columns a vector frame may carry — the
    * complement of the label universe for [[alignLabelSpellings]]. */
  private[tsdb] val VectorReserved =
    Set(TimeCol, ValueCol, "hist", "t", "bucket", "rvalue", "rank")

  /** Unify the label SPELLINGS of two frames about to UNION (`or`
    * appends the right side's rows to the left's): a key spelled wide
    * (`labels.k`, a selector output) on one side and bare (`k`, an
    * aggregation output) on the other would land as TWO columns in one
    * frame — half the rows NULL in each — which downstream matching
    * resolves wide-first (silently wrong match groups) and the
    * arithKeys corruption guard rejects. Renames `df`'s bare spelling
    * to the wide one wherever `other` spells the same key wide.
    * (Found by the round-18 router-lattice property: `up or sum
    * by(user)(up)` fed into a further set op threw the corruption
    * error.) */
  def alignLabelSpellings(df: DataFrame, other: DataFrame): DataFrame =
    df.columns.foldLeft(df) { (acc, c) =>
      if (!c.startsWith(LabelPrefix) && !VectorReserved(c) &&
          !df.columns.contains(labelColName(c)) &&
          other.columns.contains(labelColName(c)))
        acc.withColumnRenamed(c, labelColName(c))
      else acc
    }

  /** Prometheus's staleness marker: a NaN with this exact payload
    * (prometheus/model/value StaleNaN). Spark canonicalizes NaN bit
    * patterns inside UnsafeRow, so the marker cannot survive a shuffle
    * as a float — the engine's long/wide data model represents it as a
    * NULL `value` instead, mapped at source-decode time (the only place
    * the raw bits exist). Contract: NULL value ≡ staleness marker —
    * instant lookback ends a series at it, range selections skip it. */
  val StaleNaNBits = 0x7ff0000000000002L

  /** True iff the double carries the staleness-marker bit pattern
    * (exact-bits check; ordinary NaN values stay live, as in
    * Prometheus's IsStaleNaN). */
  def isStaleMarker(v: Double): Boolean =
    java.lang.Double.doubleToRawLongBits(v) == StaleNaNBits
}
