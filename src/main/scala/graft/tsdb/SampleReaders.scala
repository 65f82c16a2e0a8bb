package graft.tsdb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Long-form sample readers (SURVEY.md §7.2): every source lands in the
  * same ingest-form relation `(time LONG ms, value DOUBLE,
  * labels MAP<STRING,STRING>)` that [[TsdbIngest]] pivots wide — the
  * Spark analogue of the reference's `Data{Value, Time, LABEL}` rows
  * (hello.go:29-38), source-agnostic by construction.
  *
  * All parsing is built-in expressions (regexp/str_to_map) — codegen'd,
  * no UDFs, so a 100 TB text backfill runs at scan speed and the
  * formatter⇄parser pair is replayable by the SQL oracle.
  */
object SampleReaders {

  /** CSV with columns `time,value,labels` where labels is encoded
    * `k1=v1;k2=v2` (no header assumptions beyond these names). */
  def fromCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(StructType(Seq(
        StructField("time", LongType), StructField("value", DoubleType),
        StructField("labels", StringType))))
      .option("header", "true")
      .csv(path)
      .select(col("time"), col("value"),
        str_to_map(col("labels"), lit(";"), lit("=")).as("labels"))

  /** Prometheus text-exposition / OpenMetrics sample lines:
    *
    *   metric_name{label="value",other="v2"} 1.5 1704067200000
    *
    * Comment (`#`) and blank lines are dropped; the metric name lands in
    * the label map as `__name__` (Prometheus convention). Timestamps are
    * read as epoch milliseconds (the text-exposition convention).
    * Simple-subset parser: label values must not contain escaped quotes,
    * commas or `=` (the reference's own fixture vocabulary is within
    * this subset). */
  def fromOpenMetricsLines(lines: DataFrame, lineCol: String = "line"): DataFrame = {
    // The normalized line `l` (exemplar tail stripped — an exemplar
    // rides after ` # ` on a sample line) is consumed by five regex
    // anchors AND the comment/blank filter. Materialize it as a real
    // attribute through a filtered single-element-array explode rather
    // than a `.where`: a plain filter on the derived expression gets
    // PUSHED BELOW upstream projections/exchanges (measured on q153: the
    // whole render+trim chain re-ran inside the one-task scan stage as a
    // pushed filter), and an inlined alias would re-evaluate the
    // trim/regexp_replace chain once per consumer. The Generate is a
    // pushdown barrier and gives every anchor the SAME computed `l`.
    val lraw = trim(regexp_replace(trim(col(lineCol)), "\\s#\\s.*$", ""))
    val l = col("l")
    // Prometheus 3 UTF-8 names: a non-legacy metric name moves INSIDE
    // the braces as a bare leading quoted string —
    // `{"my.metric",code="200"} 5 1704…` — and quoted label names
    // (`"my.label"="v"`) parse via the same quote-strip the legacy
    // form uses
    val legacyName = regexp_extract(l, "^([a-zA-Z_:][a-zA-Z0-9_:]*)", 1)
    val quotedName = regexp_extract(l, "^\\{\"([^\"]+)\"", 1)
    val name = when(quotedName =!= "", quotedName).otherwise(legacyName)
    val labelBlob0 = regexp_extract(l, "\\{(.*)\\}", 1)
    val labelBlob = when(quotedName =!= "",
      regexp_replace(labelBlob0, "^\"[^\"]+\"\\s*,?\\s*", ""))
      .otherwise(labelBlob0)
    val value = regexp_extract(l, "[}\\s]\\s*([-+0-9.eE]+)\\s+[0-9]+\\s*$", 1)
    val ts = regexp_extract(l, "([0-9]+)\\s*$", 1)
    lines
      .select(explode(filter(array(lraw),
        x => x =!= "" && !x.startsWith("#"))).as("l"))
      .select(
        ts.cast("long").as("time"),
        value.cast("double").as("value"),
        map_concat(
          map(lit("__name__"), name),
          when(labelBlob === "", map().cast("map<string,string>"))
            .otherwise(str_to_map(regexp_replace(labelBlob, "\"", ""),
              lit(","), lit("=")))).as("labels"))
  }

  /** OpenMetrics METADATA comment lines — `# TYPE <metric> <type>`,
    * `# UNIT <metric> <unit>`, `# HELP <metric> <help>` — pivoted to
    * one `(metric, type, unit, help)` row per metric: the text-format
    * source of the `/api/v1/metadata` view. Metadata is
    * metric-universe-sized; the pivot is one tiny groupBy. */
  def fromOpenMetricsMeta(lines: DataFrame, lineCol: String = "line"): DataFrame = {
    val l = trim(col(lineCol))
    val kind = regexp_extract(l, "^# (TYPE|UNIT|HELP) ", 1)
    val metric = regexp_extract(l, "^# (?:TYPE|UNIT|HELP) (\\S+)", 1)
    val rest = regexp_extract(l, "^# (?:TYPE|UNIT|HELP) \\S+ (.*)$", 1)
    lines
      .where(kind =!= "")
      .select(metric.as("metric"), kind.as("kind"), rest.as("rest"))
      .groupBy(col("metric"))
      .agg(
        coalesce(max(when(col("kind") === "TYPE", col("rest"))), lit(""))
          .as("type"),
        coalesce(max(when(col("kind") === "UNIT", col("rest"))), lit(""))
          .as("unit"),
        coalesce(max(when(col("kind") === "HELP", col("rest"))), lit(""))
          .as("help"))
  }

  /** The inverse — one TYPE/UNIT/HELP line triple per metric. */
  def toOpenMetricsMetaLines(meta: DataFrame): DataFrame =
    meta.select(explode(array(
      concat(lit("# TYPE "), col("metric"), lit(" "), col("type")),
      concat(lit("# UNIT "), col("metric"), lit(" "), col("unit")),
      concat(lit("# HELP "), col("metric"), lit(" "), col("help"))))
      .as("line"))

  /** OpenMetrics EXEMPLARS — the ` # {trace_id="…"} <value> <ts>` tail
    * a sample line may carry. Returns only annotated lines, as
    * `(time, value, labels, exemplar MAP, ex_value, ex_time)`. */
  def fromOpenMetricsExemplars(lines: DataFrame,
                               lineCol: String = "line"): DataFrame = {
    // `tail`/`core` materialized as attributes via the filtered-array
    // explode — same pushdown-barrier + compute-once rationale as
    // [[fromOpenMetricsLines]] (the annotated-line filter would
    // otherwise re-run the regex chain below upstream exchanges)
    val lraw = trim(col(lineCol))
    val tailRaw = regexp_extract(lraw, "\\s#\\s(\\{.*)$", 1)
    val coreRaw = trim(regexp_replace(lraw, "\\s#\\s.*$", ""))
    val tail = col("p").getField("tail")
    val core = col("p").getField("core")
    val exBlob = regexp_extract(tail, "^\\{(.*)\\}", 1)
    val exValue = regexp_extract(tail, "^\\{.*\\}\\s+([-+0-9.eE]+)", 1)
    val exTs = regexp_extract(tail, "^\\{.*\\}\\s+[-+0-9.eE]+\\s+([0-9]+)", 1)
    val name = regexp_extract(core, "^([a-zA-Z_:][a-zA-Z0-9_:]*)", 1)
    val labelBlob = regexp_extract(core, "\\{(.*)\\}", 1)
    val value = regexp_extract(core, "[}\\s]\\s*([-+0-9.eE]+)\\s+[0-9]+\\s*$", 1)
    val ts = regexp_extract(core, "([0-9]+)\\s*$", 1)
    lines
      .select(explode(filter(
        array(struct(tailRaw.as("tail"), coreRaw.as("core"),
          lraw.startsWith("#").as("comment"))),
        x => x.getField("tail") =!= "" && !x.getField("comment"))).as("p"))
      .select(
        ts.cast("long").as("time"),
        value.cast("double").as("value"),
        map_concat(
          map(lit("__name__"), name),
          when(labelBlob === "", map().cast("map<string,string>"))
            .otherwise(str_to_map(regexp_replace(labelBlob, "\"", ""),
              lit(","), lit("=")))).as("labels"),
        when(exBlob === "", map().cast("map<string,string>"))
          .otherwise(str_to_map(regexp_replace(exBlob, "\"", ""),
            lit(","), lit("="))).as("exemplar"),
        exValue.cast("double").as("ex_value"),
        exTs.cast("long").as("ex_time"))
  }

  /** The inverse — sample lines with exemplar tails, from a frame
    * `(time, value, labels MAP, exemplar MAP, ex_value, ex_time)`. */
  def toOpenMetricsExemplarLines(rows: DataFrame): DataFrame = {
    val pairs = transform(
      array_sort(map_keys(col("labels"))),
      k => concat(k, lit("=\""), element_at(col("labels"), k), lit("\"")))
    val exPairs = transform(
      array_sort(map_keys(col("exemplar"))),
      k => concat(k, lit("=\""), element_at(col("exemplar"), k), lit("\"")))
    rows.select(concat(
      element_at(col("labels"), "__name__"),
      lit("{"),
      concat_ws(",", filter(pairs, p => !p.startsWith("__name__="))),
      lit("} "),
      col("value").cast("string"), lit(" "), col("time").cast("string"),
      lit(" # {"), concat_ws(",", exPairs), lit("} "),
      col("ex_value").cast("string"), lit(" "),
      col("ex_time").cast("string")).as("line"))
  }

  /** [[fromOpenMetricsLines]] over text files. */
  def fromOpenMetricsText(spark: SparkSession, path: String): DataFrame =
    fromOpenMetricsLines(spark.read.text(path), "value")

  /** JSON-lines samples — `{"time":…,"value":…,"labels":{"k":"v"}}`,
    * the interchange shape of most log shippers/collectors. Built-in
    * `from_json` (codegen'd, permissive: malformed lines parse to NULL
    * and are dropped rather than failing a 100 TB backfill). */
  def fromJsonLines(lines: DataFrame, lineCol: String = "line"): DataFrame = {
    val schema = StructType(Seq(
      StructField("time", LongType), StructField("value", DoubleType),
      StructField("labels", MapType(StringType, StringType))))
    // parse + drop-malformed in ONE pass: wrap the parsed struct in a
    // single-element array, filter it INSIDE the expression, explode.
    // A `.where(s.isNotNull)` after the projection would be pushed below
    // it and re-evaluate from_json per row (the parse is the whole cost
    // of this operator); the higher-order filter keeps one parse per
    // row and the Generate drops empties for free.
    lines
      .select(explode(filter(array(from_json(col(lineCol), schema)),
        s => s.isNotNull && s.getField("time").isNotNull)).as("s"))
      .select(col("s.time").as("time"), col("s.value").as("value"),
        col("s.labels").as("labels"))
  }

  /** The inverse — long-form rows to JSON lines (sorted label keys so
    * the encoding is deterministic; the round-trip pairs with
    * [[fromJsonLines]] under the identity oracle). */
  def toJsonLines(samples: DataFrame): DataFrame = {
    val sortedLabels = map_from_entries(transform(
      array_sort(map_keys(col("labels"))),
      k => struct(k, element_at(col("labels"), k))))
    samples.select(to_json(struct(
      col("time"), col("value"), sortedLabels.as("labels"))).as("line"))
  }

  /** OTLP/JSON metrics (the OpenTelemetry protocol's JSON encoding —
    * opentelemetry-proto `metrics.proto` mapped per the proto3 JSON
    * spec): each line is one ExportMetricsServiceRequest. Gauge and Sum
    * (counter) data points are read; attributes become labels and the
    * metric name lands as `__name__`. `timeUnixNano` arrives as a
    * string (uint64 per proto3-JSON) and converts to epoch ms. Built-in
    * `from_json` + explodes — codegen'd, permissive (malformed lines
    * drop), so an OTel-collector backfill parses at scan speed. */
  def fromOtlpJsonLines(lines: DataFrame, lineCol: String = "line"): DataFrame = {
    val attrType = ArrayType(StructType(Seq(
      StructField("key", StringType),
      StructField("value", StructType(Seq(
        StructField("stringValue", StringType)))))))
    val dataPointType = ArrayType(StructType(Seq(
      StructField("timeUnixNano", StringType),
      StructField("asDouble", DoubleType),
      StructField("asInt", StringType), // int64 is a JSON string too
      StructField("attributes", attrType))))
    val schema = StructType(Seq(StructField("resourceMetrics", ArrayType(
      StructType(Seq(StructField("scopeMetrics", ArrayType(StructType(Seq(
        StructField("metrics", ArrayType(StructType(Seq(
          StructField("name", StringType),
          StructField("gauge", StructType(Seq(
            StructField("dataPoints", dataPointType)))),
          StructField("sum", StructType(Seq(
            StructField("dataPoints", dataPointType))))))))))))))))))
    // no null-filter on `r`: a malformed line parses to NULL, whose
    // resourceMetrics array is NULL, and explode (not explode_outer)
    // drops it — an explicit isNotNull filter here gets PUSHED BELOW the
    // projection and re-evaluates the whole from_json per row (twice the
    // parse cost; seen in the q107 physical plan, optimization guide
    // §4.4's duplication applied to built-in expressions)
    lines
      .select(from_json(col(lineCol), schema).as("r"))
      .select(explode(col("r.resourceMetrics")).as("rm"))
      .select(explode(col("rm.scopeMetrics")).as("sm"))
      .select(explode(col("sm.metrics")).as("m"))
      .select(col("m.name").as("name"),
        explode(coalesce(col("m.gauge.dataPoints"), col("m.sum.dataPoints")))
          .as("dp"))
      .where(col("dp.timeUnixNano").isNotNull)
      .select(
        // integer DIV: nanos exceed 2^53, a double division would lose ms
        expr("CAST(dp.timeUnixNano AS BIGINT) DIV 1000000").as("time"),
        coalesce(col("dp.asDouble"), col("dp.asInt").cast("double")).as("value"),
        map_concat(
          map(lit("__name__"), col("name")),
          map_from_entries(transform(
            coalesce(col("dp.attributes"), array().cast(attrType)),
            a => struct(a.getField("key"),
              a.getField("value").getField("stringValue"))))).as("labels"))
  }

  /** OTLP EXPONENTIAL-HISTOGRAM data points → the wire-sparse
    * [[RemoteWrite.SparseHist]] rows [[RemoteWrite.denseFromSparse]]
    * densifies — the OTLP twin of [[RemoteWrite.decodeHistRequests]],
    * closing the one wire format whose native-histogram path stopped
    * short. Index convention: OTLP bucket `i` of a `(offset,
    * bucketCounts)` pair covers `(base^(offset+i), base^(offset+i+1)]`
    * while a Prometheus sparse index `j` covers `(base^(j-1), base^j]`,
    * so `j = offset + i + 1` (the same shift the OTel collector's
    * Prometheus translator applies); `scale` is Prometheus `schema`
    * verbatim. uint64/fixed64 fields (`count`, `zeroCount`,
    * `bucketCounts`, `timeUnixNano`) arrive as proto3-JSON strings.
    * Built-in expressions only — map-side, codegen'd. */
  def fromOtlpExpHistJsonLines(lines: DataFrame, lineCol: String = "line")
      : org.apache.spark.sql.Dataset[RemoteWrite.SparseHist] = {
    val sp = lines.sparkSession
    import sp.implicits._
    val attrType = ArrayType(StructType(Seq(
      StructField("key", StringType),
      StructField("value", StructType(Seq(
        StructField("stringValue", StringType)))))))
    val bucketsType = StructType(Seq(
      StructField("offset", IntegerType),
      StructField("bucketCounts", ArrayType(StringType))))
    val dpType = ArrayType(StructType(Seq(
      StructField("timeUnixNano", StringType),
      StructField("count", StringType),
      StructField("sum", DoubleType),
      StructField("scale", IntegerType),
      StructField("zeroCount", StringType),
      StructField("zeroThreshold", DoubleType),
      StructField("positive", bucketsType),
      StructField("negative", bucketsType),
      StructField("attributes", attrType))))
    val schema = StructType(Seq(StructField("resourceMetrics", ArrayType(
      StructType(Seq(StructField("scopeMetrics", ArrayType(StructType(Seq(
        StructField("metrics", ArrayType(StructType(Seq(
          StructField("name", StringType),
          StructField("exponentialHistogram", StructType(Seq(
            StructField("dataPoints", dpType))))))))))))))))))
    def side(b: org.apache.spark.sql.Column) = {
      val bc = coalesce(b.getField("bucketCounts"),
        array().cast(ArrayType(StringType)))
      // (count, position) → (promIndex = offset + pos + 1, count)
      zip_with(bc, sequence(lit(0), greatest(size(bc) - 1, lit(0))),
        (c, i) => struct(
          (coalesce(b.getField("offset"), lit(0)) + i + 1).as("_1"),
          c.cast("double").as("_2")))
    }
    // no null-filter on `r`: a malformed line parses to NULL, whose
    // resourceMetrics array is NULL, and explode (not explode_outer)
    // drops it — an explicit isNotNull filter here gets PUSHED BELOW the
    // projection and re-evaluates the whole from_json per row (twice the
    // parse cost; seen in the q107 physical plan, optimization guide
    // §4.4's duplication applied to built-in expressions)
    lines
      .select(from_json(col(lineCol), schema).as("r"))
      .select(explode(col("r.resourceMetrics")).as("rm"))
      .select(explode(col("rm.scopeMetrics")).as("sm"))
      .select(explode(col("sm.metrics")).as("m"))
      .where(col("m.exponentialHistogram").isNotNull)
      .select(col("m.name").as("name"),
        explode(col("m.exponentialHistogram.dataPoints")).as("dp"))
      .where(col("dp.timeUnixNano").isNotNull)
      .select(
        expr("CAST(dp.timeUnixNano AS BIGINT) DIV 1000000").as("time"),
        map_concat(
          map(lit("__name__"), col("name")),
          map_from_entries(transform(
            coalesce(col("dp.attributes"), array().cast(attrType)),
            a => struct(a.getField("key"),
              a.getField("value").getField("stringValue"))))).as("labels"),
        coalesce(col("dp.count").cast("double"), lit(0.0)).as("count"),
        coalesce(col("dp.sum"), lit(0.0)).as("sum"),
        coalesce(col("dp.scale"), lit(0)).as("schema"),
        coalesce(col("dp.zeroThreshold"), lit(0.0)).as("zeroThreshold"),
        coalesce(col("dp.zeroCount").cast("double"), lit(0.0)).as("zeroCount"),
        filter(side(col("dp.positive")),
          e => e.getField("_2") =!= 0.0).as("positive"),
        filter(side(col("dp.negative")),
          e => e.getField("_2") =!= 0.0).as("negative"),
        // exp-hist JSON points carry no NHCB bounds / reset hint
        array().cast("array<double>").as("customValues"),
        lit(0).as("resetHint"))
      .as[RemoteWrite.SparseHist]
  }

  /** The inverse — dense [[NativeHistogram]] frames (the
    * `(time, labels, hist)` shape [[RemoteWrite.encodeHistRequests]]
    * takes, labels keyed with `__name__`) to OTLP/JSON
    * exponential-histogram lines, one single-data-point request per
    * row. The dense grid maps to one contiguous positive run:
    * `offset = minExp − 1`, `bucketCounts` = the grid buckets plus the
    * +Inf overflow riding as the last entry (index `maxExp + 1` — the
    * same documented convention as the remote-write codec, which
    * [[RemoteWrite.denseFromSparse]] inverts exactly). */
  def toOtlpExpHistJsonLines(df: DataFrame, schemaId: Int, minExp: Int,
                             maxExp: Int): DataFrame = {
    val nonName = filter(
      array_sort(map_keys(col("labels"))), k => k =!= "__name__")
    val attrs = transform(nonName, k => struct(
      k.as("key"),
      struct(element_at(col("labels"), k).as("stringValue")).as("value")))
    val gridAndInf = transform(
      slice(col("hist.counts"), 2, maxExp - minExp + 2),
      c => c.cast("long").cast("string"))
    df.select(to_json(struct(array(struct(array(struct(array(struct(
      element_at(col("labels"), "__name__").as("name"),
      struct(array(struct(
        (col("time") * 1000000L).cast("string").as("timeUnixNano"),
        col("hist.count").cast("long").cast("string").as("count"),
        col("hist.sum").as("sum"),
        lit(schemaId).as("scale"),
        element_at(col("hist.counts"), 1).cast("long").cast("string")
          .as("zeroCount"),
        struct(lit(minExp - 1).as("offset"),
          gridAndInf.as("bucketCounts")).as("positive"),
        attrs.as("attributes"))).as("dataPoints"))
        .as("exponentialHistogram")))
      .as("metrics"))).as("scopeMetrics"))).as("resourceMetrics")))
      .as("line"))
  }

  /** OTLP EXPLICIT-BOUNDS histogram data points → classic Prometheus
    * series, exactly the OTel collector's Prometheus mapping:
    * `<name>_bucket{le=<bound>}` with CUMULATIVE counts (OTLP buckets
    * are per-interval), `<name>_bucket{le="+Inf"}` = count,
    * `<name>_count` and `<name>_sum`. Long-form output, ready for
    * [[TsdbIngest]] and the `histogram_quantile` text tier. */
  def fromOtlpHistogramJsonLines(lines: DataFrame,
                                 lineCol: String = "line"): DataFrame = {
    val attrType = ArrayType(StructType(Seq(
      StructField("key", StringType),
      StructField("value", StructType(Seq(
        StructField("stringValue", StringType)))))))
    val dpType = ArrayType(StructType(Seq(
      StructField("timeUnixNano", StringType),
      StructField("count", StringType),
      StructField("sum", DoubleType),
      StructField("bucketCounts", ArrayType(StringType)),
      StructField("explicitBounds", ArrayType(DoubleType)),
      StructField("attributes", attrType))))
    val schema = StructType(Seq(StructField("resourceMetrics", ArrayType(
      StructType(Seq(StructField("scopeMetrics", ArrayType(StructType(Seq(
        StructField("metrics", ArrayType(StructType(Seq(
          StructField("name", StringType),
          StructField("histogram", StructType(Seq(
            StructField("dataPoints", dpType))))))))))))))))))
    // no null-filter on `r` — see fromOtlpJsonLines: explode of the
    // NULL array drops malformed lines, and the explicit filter would
    // double the from_json cost via predicate pushdown
    val base = lines
      .select(from_json(col(lineCol), schema).as("r"))
      .select(explode(col("r.resourceMetrics")).as("rm"))
      .select(explode(col("rm.scopeMetrics")).as("sm"))
      .select(explode(col("sm.metrics")).as("m"))
      .where(col("m.histogram").isNotNull)
      .select(col("m.name").as("name"),
        explode(col("m.histogram.dataPoints")).as("dp"))
      .where(col("dp.timeUnixNano").isNotNull)
      .select(col("name"),
        expr("CAST(dp.timeUnixNano AS BIGINT) DIV 1000000").as("time"),
        col("dp.count").cast("double").as("count"),
        col("dp.sum").as("sum"),
        transform(coalesce(col("dp.bucketCounts"),
          array().cast(ArrayType(StringType))), c => c.cast("double"))
          .as("bc"),
        coalesce(col("dp.explicitBounds"), array().cast(ArrayType(DoubleType)))
          .as("bounds"),
        map_from_entries(transform(
          coalesce(col("dp.attributes"), array().cast(attrType)),
          a => struct(a.getField("key"),
            a.getField("value").getField("stringValue")))).as("attrs"))
    def withName(suffix: org.apache.spark.sql.Column) = map_concat(
      map(lit("__name__"), concat(col("name"), suffix)), col("attrs"))
    // ONE pass emits every classic series kind per data point — the old
    // 4-way union (finite buckets ∪ +Inf ∪ _count ∪ _sum) re-evaluated
    // the ENTIRE from_json parse chain once per branch (its exec stage
    // ran 4x the scan's tasks); each data point now explodes a single
    // (value, labels) element array built in place.
    // Finite cumulative buckets: one element per explicit bound, the
    // running `aggregate` fold left-to-right. Bound-less points (legal
    // OTLP: only count/sum observed) get the empty-array guard —
    // sequence() needs a ≥1 upper bound and zip_with null-pads the
    // empty bounds array into a spurious `le=null` element otherwise;
    // such points still emit their +Inf/_count/_sum elements.
    val elType = "array<struct<value:double,labels:map<string,string>>>"
    val finite = zip_with(col("bounds"),
      transform(sequence(lit(1), size(col("bounds"))),
        i => aggregate(slice(col("bc"), lit(1), i), lit(0.0), (a, x) => a + x)),
      (le, cum) => struct(cum.as("value"),
        map_concat(
          map(lit("__name__"), concat(col("name"), lit("_bucket")),
            lit("le"), le.cast("string")),
          col("attrs")).as("labels")))
    val els = concat(
      when(size(col("bounds")) > 0, finite).otherwise(array().cast(elType)),
      array(
        struct(col("count").as("value"),
          map_concat(
            map(lit("__name__"), concat(col("name"), lit("_bucket")),
              lit("le"), lit("+Inf")),
            col("attrs")).as("labels")),
        struct(col("count").as("value"), withName(lit("_count")).as("labels")),
        struct(col("sum").as("value"), withName(lit("_sum")).as("labels"))))
    base.select(col("time"), explode(els).as("e"))
      .select(col("time"), col("e.value").as("value"),
        col("e.labels").as("labels"))
  }

  /** The explicit-bounds exporter — classic `(time, labels with
    * `__name__`, count, sum, bounds, bucketCounts)` rows to OTLP/JSON
    * histogram lines, the round-trip twin of
    * [[fromOtlpHistogramJsonLines]]. `bucketCounts` are PER-INTERVAL
    * (the OTLP contract), one more entry than `bounds` (overflow last). */
  def toOtlpHistogramJsonLines(df: DataFrame): DataFrame = {
    val nonName = filter(
      array_sort(map_keys(col("labels"))), k => k =!= "__name__")
    val attrs = transform(nonName, k => struct(
      k.as("key"),
      struct(element_at(col("labels"), k).as("stringValue")).as("value")))
    df.select(to_json(struct(array(struct(array(struct(array(struct(
      element_at(col("labels"), "__name__").as("name"),
      struct(array(struct(
        (col("time") * 1000000L).cast("string").as("timeUnixNano"),
        col("count").cast("long").cast("string").as("count"),
        col("sum").as("sum"),
        transform(col("bucketCounts"),
          c => c.cast("long").cast("string")).as("bucketCounts"),
        col("bounds").as("explicitBounds"),
        attrs.as("attributes"))).as("dataPoints")).as("histogram")))
      .as("metrics"))).as("scopeMetrics"))).as("resourceMetrics")))
      .as("line"))
  }

  /** SUMMARY data points from OTLP/JSON lines → classic Prometheus
    * series per the otlptranslator mapping — `{name}{quantile="φ"}`
    * per quantile value plus `{name}_count` / `{name}_sum` — the JSON
    * twin of [[OtlpProto.decodeSummaries]] (field 11 of the Metric
    * oneof; proto-JSON camelCase: `summary.dataPoints[].quantileValues`
    * with `quantile`/`value` doubles, uint64 `count` as a string).
    * Distributed from_json + explodes, map-side. */
  def fromOtlpSummaryJsonLines(lines: DataFrame,
                               lineCol: String = "line"): DataFrame = {
    val attrType = ArrayType(StructType(Seq(
      StructField("key", StringType),
      StructField("value", StructType(Seq(
        StructField("stringValue", StringType)))))))
    val qvType = ArrayType(StructType(Seq(
      StructField("quantile", DoubleType),
      StructField("value", DoubleType))))
    val dpType = ArrayType(StructType(Seq(
      StructField("timeUnixNano", StringType),
      StructField("count", StringType),
      StructField("sum", DoubleType),
      StructField("quantileValues", qvType),
      StructField("attributes", attrType))))
    val schema = StructType(Seq(StructField("resourceMetrics", ArrayType(
      StructType(Seq(StructField("scopeMetrics", ArrayType(StructType(Seq(
        StructField("metrics", ArrayType(StructType(Seq(
          StructField("name", StringType),
          StructField("summary", StructType(Seq(
            StructField("dataPoints", dpType))))))))))))))))))
    // no null-filter on `r` — see fromOtlpJsonLines: explode of the
    // NULL array drops malformed lines, and the explicit filter would
    // double the from_json cost via predicate pushdown
    val base = lines
      .select(from_json(col(lineCol), schema).as("r"))
      .select(explode(col("r.resourceMetrics")).as("rm"))
      .select(explode(col("rm.scopeMetrics")).as("sm"))
      .select(explode(col("sm.metrics")).as("m"))
      .where(col("m.summary").isNotNull)
      .select(col("m.name").as("name"),
        explode(col("m.summary.dataPoints")).as("dp"))
      .where(col("dp.timeUnixNano").isNotNull)
      .select(col("name"),
        expr("CAST(dp.timeUnixNano AS BIGINT) DIV 1000000").as("time"),
        col("dp.count").cast("double").as("count"),
        col("dp.sum").as("sum"),
        coalesce(col("dp.quantileValues"), array().cast(qvType)).as("qv"),
        map_from_entries(transform(
          coalesce(col("dp.attributes"), array().cast(attrType)),
          a => struct(a.getField("key"),
            a.getField("value").getField("stringValue")))).as("attrs"))
    def withName(suffix: org.apache.spark.sql.Column) = map_concat(
      map(lit("__name__"), concat(col("name"), suffix)), col("attrs"))
    // Go-shortest quantile label for the common case: integral doubles
    // drop the ".0" (strconv.FormatFloat(q,'f',-1,64) renders 1 as "1")
    def qstr(q: org.apache.spark.sql.Column) =
      when(q === q.cast("long").cast("double"),
        q.cast("long").cast("string")).otherwise(q.cast("string"))
    // ONE pass per data point — see fromOtlpHistogramJsonLines: the old
    // 3-way union (quantiles ∪ _count ∪ _sum) re-ran the from_json
    // parse chain once per branch
    val els = concat(
      transform(col("qv"), q => struct(q.getField("value").as("value"),
        map_concat(
          map(lit("__name__"), col("name"),
            lit("quantile"), qstr(q.getField("quantile"))),
          col("attrs")).as("labels"))),
      array(
        struct(col("count").as("value"), withName(lit("_count")).as("labels")),
        struct(col("sum").as("value"), withName(lit("_sum")).as("labels"))))
    base.select(col("time"), explode(els).as("e"))
      .select(col("time"), col("e.value").as("value"),
        col("e.labels").as("labels"))
  }

  /** The summary exporter — `(time, labels with `__name__`, count,
    * sum, quantiles array<struct<q,v>>)` rows to OTLP/JSON summary
    * lines, the round-trip twin of [[fromOtlpSummaryJsonLines]] (and
    * [[OtlpProto.encodeSummaryRequests]]'s JSON sibling). */
  def toOtlpSummaryJsonLines(df: DataFrame): DataFrame = {
    val nonName = filter(
      array_sort(map_keys(col("labels"))), k => k =!= "__name__")
    val attrs = transform(nonName, k => struct(
      k.as("key"),
      struct(element_at(col("labels"), k).as("stringValue")).as("value")))
    df.select(to_json(struct(array(struct(array(struct(array(struct(
      element_at(col("labels"), "__name__").as("name"),
      struct(array(struct(
        (col("time") * 1000000L).cast("string").as("timeUnixNano"),
        col("count").cast("long").cast("string").as("count"),
        col("sum").as("sum"),
        transform(col("quantiles"), s => struct(
          s.getField("q").as("quantile"),
          s.getField("v").as("value"))).as("quantileValues"),
        attrs.as("attributes"))).as("dataPoints")).as("summary")))
      .as("metrics"))).as("scopeMetrics"))).as("resourceMetrics")))
      .as("line"))
  }

  /** The inverse — long-form rows to OTLP/JSON lines, one
    * single-data-point gauge request per sample (a valid
    * ExportMetricsServiceRequest each; sorted attribute keys make the
    * encoding deterministic, pairing with [[fromOtlpJsonLines]] under
    * the identity oracle). */
  def toOtlpJsonLines(samples: DataFrame): DataFrame = {
    val nonName = filter(
      array_sort(map_keys(col("labels"))), k => k =!= "__name__")
    val attrs = transform(nonName, k => struct(
      k.as("key"),
      struct(element_at(col("labels"), k).as("stringValue")).as("value")))
    samples.select(to_json(struct(array(struct(array(struct(array(struct(
      element_at(col("labels"), "__name__").as("name"),
      struct(array(struct(
        (col("time") * 1000000L).cast("string").as("timeUnixNano"),
        col("value").as("asDouble"),
        attrs.as("attributes"))).as("dataPoints")).as("gauge")))
      .as("metrics"))).as("scopeMetrics"))).as("resourceMetrics")))
      .as("line"))
  }

  /** The inverse — long-form rows to exposition lines (a text exporter;
    * also the round-trip harness that puts the parser under the
    * oracle). Legacy names render classic; non-legacy metric names use
    * Prometheus 3's quoted form (`{"my.metric",code="200"} …`) and
    * non-legacy LABEL names quote in place (`{"my.label"="v"}`) — a
    * classic renderer would emit unparseable text for them. */
  def toOpenMetricsLines(samples: DataFrame): DataFrame = {
    val legacy = "^[a-zA-Z_:][a-zA-Z0-9_:]*$"
    val nameCol = element_at(col("labels"), "__name__")
    val pairs = transform(
      filter(array_sort(map_keys(col("labels"))), k => k =!= "__name__"),
      k => concat(
        when(k.rlike(legacy), k).otherwise(concat(lit("\""), k, lit("\""))),
        lit("=\""), element_at(col("labels"), k), lit("\"")))
    val tail = concat(lit("} "),
      col("value").cast("string"), lit(" "), col("time").cast("string"))
    val classic = concat(nameCol, lit("{"), concat_ws(",", pairs), tail)
    val quoted = concat(lit("{\""), nameCol, lit("\""),
      when(size(pairs) > 0, concat(lit(","), concat_ws(",", pairs)))
        .otherwise(lit("")),
      tail)
    samples.select(
      when(nameCol.rlike(legacy), classic).otherwise(quoted).as("line"))
  }
}
