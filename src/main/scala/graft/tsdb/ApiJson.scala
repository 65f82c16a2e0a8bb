package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The HTTP API's JSON result shapes — what `/api/v1/query` and
  * `/api/v1/query_range` actually serialize: a `vector` result is one
  * `{"metric":{...},"value":[<ts sec>,"<value>"]}` object per series, a
  * `matrix` result one `{"metric":{...},"values":[[t,"v"],...]}` object
  * per series with its time-sorted sample pairs. Sample values are JSON
  * STRINGS and timestamps epoch SECONDS, per the API contract.
  *
  * Rendering is map-side (`to_json` + concat over each row/group); the
  * matrix grouping is one partial-agg groupBy bounded by series ×
  * steps. Label keys render sorted, so the output is deterministic —
  * which lets the oracle round-trip the TEXT through `from_json` and
  * hash-compare the recovered samples.
  *
  * The served table's `metric` label ([[TsdbSchema.metricLabel]])
  * renders as `__name__`; the one-argument forms read it off a frame
  * that still carries its table's label columns.
  */
object ApiJson {

  /** Instant-vector frame (wide labels + `time` + `value`, or `hist`
    * for a histogram vector) → one JSON object per series, the `result`
    * array elements of a vector response, with the `value` pair or the
    * `histogram` one in Prometheus's native-histogram API shape. Absent
    * labels drop. `keyed = true` renders the series' `labels.Compare`
    * sort key alongside (`skey`, `json`) — what the MIXED-shape
    * responses interleave on, so histogram and float entries render in
    * one label-ordered stream and a `limit` truncates label-ordered
    * instead of systematically preferring one kind. */
  def vectorJson(iv: DataFrame): DataFrame =
    vectorJson(iv, TsdbSchema.metricLabel(iv))

  def vectorJson(iv: DataFrame, metric: String,
                 keyed: Boolean = false): DataFrame =
    if (iv.columns.contains("hist"))
      jsonOf(iv, metric, "histogram", histPair(col("time")), keyed)
    else jsonOf(iv, metric, "value", valuePair(col("time")), keyed)

  /** Range-evaluation frame (labels + `t` + `value` or `hist`, one row
    * per series per step) → one JSON object per series with its sorted
    * `values` (`histograms`) pairs — the matrix response elements. */
  def matrixJson(rv: DataFrame): DataFrame =
    matrixJson(rv, TsdbSchema.metricLabel(rv))

  def matrixJson(rv: DataFrame, metric: String): DataFrame = {
    val (field, g) = matrixGrouped(rv)
    jsonOf(g, metric, field, pairsPayload)
  }

  /** [[matrixJson]]'s PARTS form: `(skey, metric, field, payload)`
    * with the rendered metric map and the pair list as SEPARATE
    * columns — the mixed matrix responses assemble and merge
    * same-series objects driver-side from these. Substring surgery on
    * assembled JSON was unsound: '}' and ',' are legal unescaped
    * inside JSON strings, so a label VALUE ending in "}," made the
    * field-boundary search land inside the metric map (round-18
    * advisor find). */
  def matrixJsonParts(rv: DataFrame, metric: String): DataFrame = {
    val (field, g) = matrixGrouped(rv)
    partsOf(g, metric, field, pairsPayload)
  }

  /** A range frame grouped per series with its time-sorted pairs as
    * `_pairs`, and the field they render under. */
  private def matrixGrouped(rv: DataFrame): (String, DataFrame) = {
    val (field, pair) =
      if (rv.columns.contains("hist")) ("histograms", histPair(col("t")))
      else ("values", valuePair(col("t")))
    val labels = rv.columns.toSeq.filterNot(
      Set("t", TsdbSchema.TimeCol, TsdbSchema.ValueCol, "hist"))
    val g = rv.withColumn("_pair", struct(col("t"), pair.as("p")))
      .groupBy(labels.map(c => col(s"`$c`")): _*)
      .agg(array_sort(collect_list(col("_pair"))).as("_pairs"))
    // a label-less frame aggregates globally, which yields one row even
    // over no input — no samples is no series, not an empty one
    (field, if (labels.isEmpty) g.where(size(col("_pairs")) > 0) else g)
  }

  private def valuePair(t: Column): Column =
    concat(lit("["), tsSec(t), lit(",\""),
      col(TsdbSchema.ValueCol).cast("string"), lit("\"]"))

  private def histPair(t: Column): Column =
    concat(lit("["), tsSec(t), lit(","), histJson(col("hist")), lit("]"))

  /** The time-sorted pair array of a [[matrixGrouped]] frame rendered
    * as one JSON array. */
  private def pairsPayload: Column =
    concat(lit("["),
      concat_ws(",", transform(col("_pairs"), _.getField("p"))),
      lit("]"))

  /** One dense engine histogram (`{count,sum,les,counts}` over
    * `les = [0, grid…, +Inf]`) rendered in the API's native-histogram
    * shape: `{"count":"…","sum":"…","buckets":[[0,"lo","hi","cnt"],…]}`
    * — boundary rule 0 = open-left `(lo, hi]`, exactly the exponential
    * buckets' semantics; zero-count buckets drop (Prometheus sends
    * only populated buckets); dense position 0 renders as
    * `(-Inf, 0]` (the grid's zero+negative mass) and the overflow's
    * upper bound as `+Inf`. Values are strings, as everywhere in the
    * API. */
  private def histJson(h: Column): Column = {
    val les = h.getField("les"); val counts = h.getField("counts")
    def bound(v: Column): Column =
      when(v === lit(Double.PositiveInfinity), lit("+Inf"))
        .otherwise(v.cast("string"))
    val buckets = transform(
      filter(sequence(lit(0), size(counts) - 1),
        i => element_at(counts, i + 1) =!= 0.0),
      i => concat(lit("[0,\""),
        when(i === 0, lit("-Inf"))
          .otherwise(bound(element_at(les, i))), lit("\",\""),
        bound(element_at(les, i + 1)), lit("\",\""),
        element_at(counts, i + 1).cast("string"), lit("\"]")))
    concat(lit("{\"count\":\""), h.getField("count").cast("string"),
      lit("\",\"sum\":\""), h.getField("sum").cast("string"),
      lit("\",\"buckets\":["), concat_ws(",", buckets), lit("]}"))
  }

  private def tsSec(t: Column): Column =
    // epoch seconds with millisecond precision, no scientific notation
    concat((t / 1000).cast("long").cast("string"), lit("."),
      lpad((t % 1000).cast("string"), 3, "0"))

  /** `{"metric":<sorted label map>,"<field>":<rendered>}` per row.
    * `keyed = true` additionally emits the series' injective
    * `labels.Compare` sort key as `skey` (the [[Shadowing.escapedKey]]
    * encoding — binary string order ≡ Prometheus label order) for the
    * mixed-shape responses' interleave. */
  private def jsonOf(df: DataFrame, metric: String, field: String,
                     rendered: Column, keyed: Boolean = false): DataFrame = {
    val entries = labelEntries(df, metric, field)
    val json = concat(
      lit("""{"metric":"""), metricJson(entries),
      lit(s""","$field":"""), rendered, lit("}")).as("json")
    if (!keyed) df.select(json)
    else df.select(seriesKey(entries).as("skey"), json)
  }

  /** `(skey, metric, field, payload)` per row — the PARTS form the
    * mixed matrix responses assemble driver-side ([[matrixJsonParts]]'s
    * rationale). `field` rides as a literal column so the union of the
    * two kinds orders deterministically by (skey, field) and the
    * driver knows each payload's field name without parsing. */
  private def partsOf(df: DataFrame, metric: String, field: String,
                      rendered: Column): DataFrame = {
    val entries = labelEntries(df, metric, field)
    df.select(seriesKey(entries).as("skey"),
      metricJson(entries).as("metric"),
      lit(field).as("field"), rendered.as("payload"))
  }

  /** The frame's label columns as (wire key, non-empty value) entry
    * structs — shared by the metric-map renderer and the series sort
    * key so the two can never disagree on the label set. */
  private def labelEntries(df: DataFrame, metric: String,
                           field: String): Seq[Column] = {
    val labelCols = df.columns.toSeq
      .filterNot(Set("t", TsdbSchema.TimeCol, TsdbSchema.ValueCol,
        "hist", "_pairs", field))
    labelCols.map { c =>
      struct(lit(TsdbSchema.wireName(c, metric)).as("key"),
        nullif(col(s"`$c`"), lit("")).as("value"))
    }
  }

  // zero label columns (e.g. `vector(1)`): `array()` of no args has
  // no element type for `filter` — emit the empty metric map directly
  private def metricJson(entries: Seq[Column]): Column =
    if (entries.isEmpty) lit("{}")
    else to_json(map_from_entries(filter(array(entries: _*),
      e => e.getField("value").isNotNull)))

  /** The series' injective `labels.Compare` sort key
    * ([[Shadowing.escapedKey]] — binary string order ≡ Prometheus
    * label order). */
  private def seriesKey(entries: Seq[Column]): Column =
    if (entries.isEmpty) lit("")
    else Shadowing.escapedKey(array_sort(filter(array(entries: _*),
      e => e.getField("value").isNotNull)))
}
