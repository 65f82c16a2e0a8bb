package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Matcher

/** The `/federate` endpoint — Prometheus's hierarchy-scaling surface: a
  * downstream server scrapes an upstream's CURRENT samples of the
  * series matching the repeated `match[]` selectors, in text exposition
  * format. Semantically it is the instant vector at the scrape time
  * (newest in-lookback sample per matched series) rendered as
  * exposition lines — so this composes the pieces the engine already
  * verifies: [[TsdbTable.selectAny]] (repeated-selector union, one
  * OR-combined pruned scan), [[RangeVectors.instant]] (latest-in-
  * lookback with the staleness rule), and
  * [[SampleReaders.toOpenMetricsLines]] (the deterministic exporter the
  * parser round-trips under the oracle).
  *
  * Scale shape: one pruned scan + one partial-agg groupBy (the instant
  * kernel) + a map-side render — the response is bounded by matched
  * SERIES count, never sample count. (Reference adjacency: hello.go's
  * commented federation goal, README.md:125's "query across blocks".)
  */
object Federate {

  /** Exposition lines for the newest in-lookback sample of every series
    * matching ANY of `selectors`, at scrape instant `at`. The table's
    * metric-name label ([[TsdbSchema.metricLabel]]) renders as the
    * metric name; every other non-absent label renders inside the
    * braces, keys sorted (deterministic output, as the exporter
    * contract).
    *
    * `externalLabels` reproduce Prometheus's federation contract: each
    * configured external label is added to every exported series that
    * does NOT already carry that label name — the series' own value
    * always wins (the hierarchical-federation dedup mechanism). */
  def federate(t: TsdbTable, selectors: Seq[Seq[Matcher]],
               at: Long, lookbackMs: Long,
               externalLabels: Seq[(String, String)] = Nil): DataFrame = {
    val slice = t.selectAny(Long.MinValue, Long.MaxValue, selectors)
    val iv = RangeVectors.instant(slice, at, lookbackMs)
    SampleReaders.toOpenMetricsLines(withExternal(
      longForm(iv, TsdbSchema.metricLabel(t.df)), externalLabels))
  }

  /** Native-histogram series federation. Prometheus can federate
    * native histograms only over protobuf exposition; TEXT exposition
    * cannot carry them — so the hist head's matched series federate
    * CLASSIC-style: each dense histogram projects to `_bucket` series
    * (CUMULATIVE counts per `le`, `+Inf` included), `_count` and
    * `_sum` — the `histogram_quantile`-compatible view any downstream
    * text scraper consumes. (Without this the pushed-native series
    * simply VANISHED from a federation hierarchy.)
    *
    * Scale shape: one pruned scan + one partial-agg groupBy (latest
    * snapshot per series) + a map-side bucket explode — response is
    * series × buckets, never samples. External labels follow the same
    * series-value-wins contract as [[federate]]; the metric name is
    * the head's [[TsdbSchema.metricLabel]] column. */
  def federateHists(hists: DataFrame, selectors: Seq[Seq[Matcher]],
                    at: Long, lookbackMs: Long,
                    externalLabels: Seq[(String, String)] = Nil)
      : DataFrame = {
    import TsdbSchema.{TimeCol, LabelPrefix, labelColName}
    val metric = labelColName(TsdbSchema.metricLabel(hists))
    val known = TsdbSchema.labelColumns(hists)
      .map(_.stripPrefix(LabelPrefix)).toSet
    val anySel = selectors.map(ms => MatcherCompiler.compileAll(ms, known))
      .reduceOption(_ || _).getOrElse(lit(false))
    val labels = TsdbSchema.dynCols(hists)
    val iv0 = hists
      .where(anySel && col(TimeCol) > at - lookbackMs && col(TimeCol) <= at)
      .groupBy(labels: _*)
      .agg(max_by(col("hist"), col(TimeCol)).as("hist"))
      .where(col("hist").isNotNull) // staleness: series ended
    // classic projection needs a metric name to suffix — a (degenerate)
    // nameless hist series cannot render as text exposition
    if (!iv0.columns.contains(metric))
      return iv0.sparkSession.emptyDataFrame.select(lit("").as("line"))
    val iv = iv0.where(col(s"`$metric`").isNotNull)
    val h = col("hist")
    val les = h.getField("les"); val counts = h.getField("counts")
    // cumulative bucket counts (classic le-series are cumulative);
    // O(buckets²) per row over ≤ a few dozen elements — map-side
    val cum = transform(sequence(lit(1), size(counts)),
      i => aggregate(slice(counts, lit(1), i), lit(0.0), (a, x) => a + x))
    def leStr(i: Column): Column =
      when(element_at(les, i) === lit(Double.PositiveInfinity), lit("+Inf"))
        .otherwise(element_at(les, i).cast("string"))
    val bucketRows = transform(sequence(lit(1), size(counts)),
      i => struct(lit("_bucket").as("suffix"),
        element_at(cum, i).as("value"), leStr(i).as("le")))
    val extraRows = array(
      struct(lit("_count").as("suffix"), h.getField("count").as("value"),
        lit(null).cast("string").as("le")),
      struct(lit("_sum").as("suffix"), h.getField("sum").as("value"),
        lit(null).cast("string").as("le")))
    val rows = iv.withColumn("_r", explode(concat(bucketRows, extraRows)))
    val labelCols = TsdbSchema.labelColumns(iv)
    val nameEntry = struct(lit("__name__").as("key"),
      concat(col(s"`$metric`"), col("_r.suffix")).as("value"))
    val baseEntries = labelCols.filterNot(_ == metric)
      .map { c =>
        struct(lit(c.stripPrefix(LabelPrefix)).as("key"),
          nullif(col(s"`$c`"), lit("")).as("value"))
      }
    val leEntry = struct(lit("le").as("key"), col("_r.le").as("value"))
    val lf = rows.select(
      lit(at).as("time"), col("_r.value").as("value"),
      map_from_entries(filter(array(nameEntry +: baseEntries :+
          leEntry: _*),
        e => e.getField("value").isNotNull)).as("labels"))
    SampleReaders.toOpenMetricsLines(withExternal(lf, externalLabels))
  }

  /** Prometheus's federation external-label rule: each configured
    * external label is added to every exported series that does NOT
    * already carry that label name — the series' own value wins. */
  private def withExternal(lf: DataFrame,
                           externalLabels: Seq[(String, String)])
      : DataFrame =
    if (externalLabels.isEmpty) lf
    else {
      val ext = map(externalLabels.flatMap { case (k, v) =>
        Seq(lit(k), lit(v)) }: _*)
      lf.withColumn("labels", map_concat(
        map_filter(ext, (k, _) => !map_contains_key(col("labels"), k)),
        col("labels")))
    }

  /** Wide instant-vector rows → the long `(time, value, labels MAP)`
    * form the exporter consumes: the `metric` label column
    * ([[TsdbSchema.metricLabel]] of the table the rows came from)
    * becomes `__name__`, absent (NULL or `""`) labels drop out of the
    * map. */
  private[tsdb] def longForm(iv: DataFrame, metric: String): DataFrame = {
    val labelCols = TsdbSchema.labelColumns(iv)
    val entries = labelCols.map { c =>
      struct(lit(TsdbSchema.wireName(c, metric)).as("key"),
        nullif(col(s"`$c`"), lit("")).as("value"))
    }
    iv.select(
      col("time"), col("value"),
      map_from_entries(filter(array(entries: _*),
        e => e.getField("value").isNotNull)).as("labels"))
  }
}
