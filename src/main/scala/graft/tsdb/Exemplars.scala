package graft.tsdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.model.Matcher

/** Exemplars — Prometheus's fourth query API (`/api/v1/query_exemplars`
  * next to query / query_range / metadata): sparse high-value samples
  * annotated with trace identifiers, the bridge between metrics and
  * tracing. The reference scopes this out entirely (hello.go consumes
  * float samples only); this is engine-extension surface like the
  * metadata API.
  *
  * Data model: an exemplar row = the owning series' wide label columns
  * (`labels.<k>`) + `time` + `value` + `trace_id`. In a real deployment
  * exemplars arrive from scrape protos alongside samples;
  * [[fromSamples]] is that ingest adapter for sample-only sources —
  * it marks the samples a tracing-enabled SDK would have annotated
  * (here: deterministic value-threshold selection, trace ids from the
  * portable md5 hash family so the DuckDB oracle replays them exactly).
  *
  * Scale shape: derivation is a map-side filter + projection (no
  * shuffle, pushdown-friendly); [[query]] is a pruned scan — matchers
  * and the time range compile to scan-level predicates exactly like
  * [[TsdbTable.select]]. Exemplar volume is a tiny fraction of sample
  * volume by construction (that is their point), so storing them as a
  * separate narrow table keeps the hot sample path untouched.
  */
object Exemplars {

  /** Derive the exemplar table from a wide sample frame: every sample
    * with `value > threshold` becomes an exemplar whose `trace_id` is
    * the hex of the portable 60-bit hash of the series' label values
    * (name-sorted, absent → "") plus the sample time — the
    * deterministic stand-in for a scrape-attached trace id. Map-side
    * only. */
  def fromSamples(wide: DataFrame, threshold: Double): DataFrame = {
    val labelParts = TsdbSchema.labelColumns(wide).sorted
      .map(c => coalesce(col(s"`$c`"), lit("")))
    val key = concat_ws(":",
      labelParts :+ col(TsdbSchema.TimeCol).cast("string"): _*)
    wide
      .where(col(TsdbSchema.ValueCol) > threshold)
      .withColumn("trace_id", lower(hex(Hashing.hash64(key))))
  }

  /** The DuckDB fragment replaying [[fromSamples]]'s trace id, for
    * oracle SQL (`lower(hex(hash64(key)))`): pass the label
    * expressions in the SAME name-sorted order, coalesced to ''. */
  def duckTraceId(labelExprs: Seq[String], timeExpr: String): String = {
    val key = (labelExprs.map(e => s"coalesce($e, '')") :+
      s"CAST($timeExpr AS VARCHAR)").mkString(" || ':' || ")
    s"lower(hex(${Hashing.duckHash64(key)}))"
  }

  /** `/api/v1/query_exemplars`: exemplars of the series matching the
    * selector, inside the INCLUSIVE [start, end] range (the API
    * contract — unlike the reference's exclusive sample range). One
    * pruned scan; matchers and the range reach the parquet scan. */
  def query(exemplars: DataFrame, matchers: Seq[Matcher],
            startMs: Long, endMs: Long): DataFrame = {
    val known = TsdbSchema.labelColumns(exemplars)
      .map(_.stripPrefix(TsdbSchema.LabelPrefix)).toSet
    exemplars.where(
      MatcherCompiler.compileAll(matchers, known) &&
        col(TsdbSchema.TimeCol) >= startMs && col(TsdbSchema.TimeCol) <= endMs)
  }

  /** `/api/v1/query_exemplars` with its REAL parameter — a full PromQL
    * expression: Prometheus extracts every vector selector from the
    * query and unions their exemplars. One OR-combined pruned pass
    * (never a scan per selector), matchers text-anchored. */
  def queryExpr(exemplars: DataFrame, query: String,
                startMs: Long, endMs: Long): DataFrame = {
    val sels = PromQL.selectorsOf(PromQL.parse(query))
    require(sels.nonEmpty,
      s"query_exemplars: no vector selectors in: $query")
    val known = TsdbSchema.labelColumns(exemplars)
      .map(_.stripPrefix(TsdbSchema.LabelPrefix)).toSet
    val anyOf = sels.map(MatcherCompiler.compileAll(_, known)).reduce(_ || _)
    exemplars.where(anyOf &&
      col(TsdbSchema.TimeCol) >= startMs && col(TsdbSchema.TimeCol) <= endMs)
  }

  /** The API response shape: one row per series with its exemplars as a
    * time-sorted array of (time, value, trace_id) structs — what the
    * JSON layer would serialize. One partial-agg groupBy; array size is
    * bounded by per-series exemplar count (sparse by construction). */
  def grouped(queried: DataFrame): DataFrame = {
    val labels = TsdbSchema.dynCols(queried)
    queried
      .groupBy(labels: _*)
      .agg(array_sort(collect_list(struct(
        col(TsdbSchema.TimeCol), col(TsdbSchema.ValueCol),
        col("trace_id")))).as("exemplars"))
  }
}
