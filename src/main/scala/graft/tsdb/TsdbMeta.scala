package graft.tsdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Matcher

/** The TSDB metadata API — Prometheus's `/api/v1/labels`,
  * `/api/v1/label/<name>/values` and `/api/v1/series` endpoints (the
  * surface Grafana variable queries hit constantly), over the same
  * matcher-compiled, pushdown-pruned slice the data queries use
  * (reference adjacency: `tsdb.DBReadOnly` exposes the same via its
  * index reader, hello.go:50-74).
  *
  * Scale shape: every endpoint is ONE scan of the matched slice (time +
  * equality matchers pushed to parquet; only the needed label columns
  * read) followed by a partial-aggregated tiny aggregation — the
  * labels/values/series results are bounded by label-universe size, not
  * sample count. `"" ≡ absent` holds throughout (hello.go:339-349).
  */
object TsdbMeta {
  import TsdbSchema._

  /** `/api/v1/labels` — label names with at least one non-empty value in
    * the matched slice. One aggregation row (a non-null count per label
    * column), exploded to names — no shuffle wider than |labels|. */
  def labelNames(t: TsdbTable, start: Long, end: Long,
                 matchers: Seq[Matcher]): DataFrame =
    labelNamesOf(t.select(start, end, matchers))

  /** Repeated `match[]` form: the UNION of the selectors (Prometheus's
    * API contract), still one pruned scan ([[TsdbTable.selectAny]]). */
  def labelNamesAny(t: TsdbTable, start: Long, end: Long,
                    selectors: Seq[Seq[Matcher]]): DataFrame =
    labelNamesOf(t.selectAny(start, end, selectors))

  private def labelNamesOf(slice: DataFrame): DataFrame = {
    val labels = labelColumns(slice)
    val aggs = labels.map(c => count(nullif(col(s"`$c`"), lit(""))).as(c))
    slice.agg(aggs.head, aggs.tail: _*)
      .select(explode(map(labels.flatMap(c =>
        Seq(lit(c.stripPrefix(LabelPrefix)), col(s"`$c`"))): _*))
        .as(Seq("label", "cnt")))
      .where(col("cnt") > 0)
      .select(col("label"))
      .orderBy(col("label"))
  }

  /** `/api/v1/label/<name>/values` — distinct non-empty values of one
    * label in the matched slice. Column pruning means the scan reads the
    * matcher columns plus THIS label only. */
  def labelValues(t: TsdbTable, label: String, start: Long, end: Long,
                  matchers: Seq[Matcher]): DataFrame =
    labelValuesOf(t.select(start, end, matchers), label)

  /** Repeated `match[]` form — the union of the selectors. */
  def labelValuesAny(t: TsdbTable, label: String, start: Long, end: Long,
                     selectors: Seq[Seq[Matcher]]): DataFrame =
    labelValuesOf(t.selectAny(start, end, selectors), label)

  private def labelValuesOf(slice: DataFrame, label: String): DataFrame =
    slice
      .select(nullif(labelCol(label), lit("")).as("value"))
      .where(col("value").isNotNull)
      .distinct()
      .orderBy(col("value"))

  /** `/api/v1/series` — the distinct label SETS matching the selector
    * (no samples returned). Output: one column per label, NULL = absent
    * (`""` normalized to NULL first, per the reference's label-hash
    * semantics). */
  def series(t: TsdbTable, start: Long, end: Long,
             matchers: Seq[Matcher]): DataFrame =
    seriesOf(t.select(start, end, matchers))

  /** Repeated `match[]` form — the union of the selectors' series. */
  def seriesAny(t: TsdbTable, start: Long, end: Long,
                selectors: Seq[Seq[Matcher]]): DataFrame =
    seriesOf(t.selectAny(start, end, selectors))

  private def seriesOf(slice: DataFrame): DataFrame = {
    val labels = labelColumns(slice)
    slice
      .select(labels.map(c => nullif(col(s"`$c`"), lit(""))
        .as(c.stripPrefix(LabelPrefix))): _*)
      .distinct()
  }
}
