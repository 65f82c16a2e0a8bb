package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PER-SERIES native-over-float shadowing — the ONE copy of the
  * migration-point semantics every read surface shares (remote read,
  * the PromQL query endpoints' float shares, raw-sample matrices,
  * federation).
  *
  * The migration story: a series pushed as FLOAT samples starts
  * arriving as NATIVE HISTOGRAMS (classic→native histogram migration
  * over remote write). From the series' FIRST native sample on, the
  * native store owns it — float rows at/after that instant are the
  * dual-write shadow and must not double-count — while float history
  * BEFORE the migration point keeps serving (the backfill window
  * long-term storage exists for).
  *
  * The migration point is keyed by the FULL LABEL SET, not the metric
  * name: during a partial fleet migration (instance A pushes native,
  * instance B still pushes float under the same metric name) B's
  * series has no native samples and must keep serving — a per-name
  * cut-over would silently drop it (the round-17 advisor's data-loss
  * finding).
  *
  * Scale shape: the since table is one row per MIGRATED series —
  * series-universe-sized, never sample-sized — and every filter is a
  * BROADCAST left join against it; no sample-sized shuffle anywhere.
  * Callers cache the since frame per ingest version
  * (`localCheckpoint`) so the per-query cost is the join alone.
  */
object Shadowing {

  /** NUL-escaped join of flattened (key, value) entry structs — the
    * injective, order-preserving `labels.Compare` key
    * ([[RemoteRead.labelSortKey]]'s in-plan twin; see its scaladoc for
    * the escaping proof). Entries must already be key-sorted. */
  private[tsdb] def escapedKey(entries: Column): Column =
    array_join(
      transform(
        flatten(transform(entries,
          e => array(e.getField("key"), e.getField("value")))),
        f => replace(f, lit("\u0000"), lit("\u0000\u0001"))),
      "\u0000\u0000")

  /** Series identity over a LABEL-MAP column (wire names —
    * `__name__`): sorted entries, empty values dropped (Prometheus's
    * labels semantics: `""` ≡ absent). */
  def skeyOfLabelMap(labels: Column): Column =
    escapedKey(filter(array_sort(map_entries(labels)),
      e => e.getField("value").isNotNull && e.getField("value") =!= ""))

  /** Series identity over a WIDE frame (storage label columns, the
    * table's `metric` label column keyed as the wire `__name__` so the
    * key space matches [[skeyOfLabelMap]]): NULL and empty values
    * drop, entries sort by wire name in UTF-8 byte order — the same
    * order `array_sort(map_entries(...))` produces at runtime. */
  def skeyOfWide(df: DataFrame, metric: String): Column = {
    val pairs = TsdbSchema.labelColumns(df)
      .map(c => (TsdbSchema.wireName(c, metric), col(s"`$c`")))
      .sortBy(_._1)(RemoteRead.utf8ByteOrder)
    if (pairs.isEmpty) lit("")
    else escapedKey(filter(
      array(pairs.map { case (k, v) =>
        struct(lit(k).as("key"), v.as("value")) }: _*),
      e => e.getField("value").isNotNull && e.getField("value") =!= ""))
  }

  /** [[skeyOfWide]] over a stored frame or a selector's output. */
  def skeyOfWide(df: DataFrame): Column =
    skeyOfWide(df, TsdbSchema.metricLabel(df))

  /** Per-series migration WINDOWS of a NATIVE-HISTOGRAM head (wide
    * shape: label columns + `time` + `hist`): one `(__skey, __since,
    * __until)` row per stored series — `__since` = its first LIVE
    * native sample (stale NULL-hist markers carry no observation and
    * do not open a migration window), `__until` = its LAST live native
    * sample + `staleMs` (the staleness horizon). The native store owns
    * the series only INSIDE that window: a series that pushed native
    * once and ROLLED BACK to float-only pushing (aborted migration,
    * canary) resumes serving float after its native data goes stale —
    * an open-ended cut-over would blackhole its float samples forever
    * (round-18 review find). Series-universe-sized by construction. */
  def seriesSince(histWide: DataFrame, staleMs: Long): DataFrame = {
    val live =
      if (histWide.columns.contains(PromQLHist.HistCol))
        histWide.where(col(PromQLHist.HistCol).isNotNull)
      else histWide
    live
      .select(skeyOfWide(histWide).as("__skey"),
        col(TsdbSchema.TimeCol).as("__t"))
      .groupBy(col("__skey")).agg(min(col("__t")).as("__since"),
        (max(col("__t")) + staleMs).as("__until"))
  }

  /** Drop the rows a native series SHADOWS: keep a row when its series
    * has no native samples (`__since` null — never migrated) or when
    * `time` falls OUTSIDE the series' native ownership window — before
    * its first native sample (pre-migration history) or at/after its
    * last native sample + staleness (rollback: the native series went
    * stale, float pushes own the series again). `key` is the row's
    * series identity ([[skeyOfWide]] / [[skeyOfLabelMap]]); `time` is
    * the surface's time axis — the raw sample time for sample-level
    * reads, the evaluation step for instant-vector frames (ownership
    * is per step: a step inside the window answers from the native
    * store, so a lookback-held stale float sample must not leak
    * through beside it). */
  def dropShadowed(df: DataFrame, key: Column, time: Column,
                   since: Option[DataFrame]): DataFrame = since match {
    case None => df
    case Some(s) =>
      df.withColumn("__fkey", key)
        .join(broadcast(s), col("__fkey") === col("__skey"), "left")
        .where(col("__since").isNull || time < col("__since") ||
          time >= col("__until"))
        .drop("__fkey", "__skey", "__since", "__until")
  }
}
