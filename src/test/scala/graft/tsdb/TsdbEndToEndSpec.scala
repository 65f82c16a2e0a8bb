package graft.tsdb

import graft.SparkSpec
import graft.model.{Matcher, Sample}
import graft.inspect.ParquetInspect

/** The minimum end-to-end slice of SURVEY.md §7: ingest a synthetic
  * Prometheus-shaped fixture → wide sorted parquet → Q2-style select →
  * regroup → assert series semantics. Covers dynamic columns, schema
  * merge across batches, exclusive bounds, duplicate timestamps,
  * empty-label drop, storage layout.
  */
class TsdbEndToEndSpec extends SparkSpec {
  import spark.implicits._

  // Fixture ≡ FIXTURES.md §A edge cases.
  private lazy val samples = Seq(
    // the canonical 'up' series — what Q2 must isolate
    Sample(1000L, 1.0, Map("__name__" -> "up", "instance" -> "localhost:9090", "job" -> "prometheus")),
    Sample(2000L, 1.0, Map("__name__" -> "up", "instance" -> "localhost:9090", "job" -> "prometheus")),
    Sample(2000L, 0.0, Map("__name__" -> "up", "instance" -> "localhost:9090", "job" -> "prometheus")), // duplicate ts — KEPT
    Sample(9000L, 1.0, Map("__name__" -> "up", "instance" -> "localhost:9090", "job" -> "prometheus")), // == end, excluded
    Sample(500L, 1.0, Map("__name__" -> "up", "instance" -> "localhost:9090", "job" -> "prometheus")),  // == start, excluded
    // decoy series
    Sample(1500L, 7.0, Map("__name__" -> "up", "instance" -> "other:9090", "job" -> "prometheus")),
    Sample(1500L, 3.0, Map("__name__" -> "go_goroutines", "instance" -> "localhost:9090", "job" -> "prometheus", "quantile" -> "0.5")),
    // empty-string label value ≡ absent (must merge with the no-label series)
    Sample(1200L, 5.0, Map("__name__" -> "x", "slot" -> "")),
    Sample(1300L, 6.0, Map("__name__" -> "x"))
  )

  private lazy val tablePath: String = {
    val path = tmpDir("tsdb_wide")
    TsdbIngest.ingest(samples.toDS(), path)
    path
  }

  test("label-name discovery unions all names (hello.go:216-233 analogue)") {
    assert(TsdbIngest.labelNames(samples.toDF()) ==
      Seq("__name__", "instance", "job", "quantile", "slot"))
  }

  test("wide pivot: absent label ⇒ NULL column") {
    val wide = TsdbIngest.toWide(samples.toDF())
    assert(wide.columns.toSet ==
      Set("time", "value", "labels.__name__", "labels.instance", "labels.job",
        "labels.quantile", "labels.slot"))
    val nulls = wide.where(TsdbSchema.labelCol("quantile").isNull).count()
    assert(nulls == samples.size - 1)
  }

  test("Q2: exclusive time range + matchers isolates one series; dup ts kept") {
    val t = TsdbTable.load(spark, tablePath)
    val series = t.series(500L, 9000L, Seq(
      Matcher.Eq("__name__", "up"),
      Matcher.Eq("instance", "localhost:9090"),
      Matcher.Eq("job", "prometheus"))).collect()
    assert(series.length == 1)
    val s = series.head
    assert(s.labels == Map("__name__" -> "up", "instance" -> "localhost:9090", "job" -> "prometheus"))
    assert(s.ts == Seq(1000L, 2000L, 2000L)) // bounds excluded, duplicate kept
    assert(s.ts.zip(s.v).sorted == Seq((1000L, 1.0), (2000L, 0.0), (2000L, 1.0)))
  }

  test("regroup drops empty-string labels: '' ≡ absent (hello.go:339-349)") {
    val t = TsdbTable.load(spark, tablePath)
    val series = t.regroup(t.select(Seq(Matcher.Eq("__name__", "x")))).collect()
    // both samples collapse into ONE series keyed {__name__=x}
    assert(series.length == 1)
    assert(series.head.labels == Map("__name__" -> "x"))
    assert(series.head.ts == Seq(1200L, 1300L))
  }

  test("late-arriving label name: second batch merges at read (dynamic columns)") {
    val path = tmpDir("tsdb_dyn")
    TsdbIngest.ingest(samples.toDS(), path)
    val late = Seq(Sample(5000L, 9.0, Map("__name__" -> "up", "zone" -> "eu")))
    TsdbIngest.write(TsdbIngest.toWide(late.toDF()), path,
      mode = org.apache.spark.sql.SaveMode.Append)
    val t = TsdbTable.load(spark, path)
    assert(t.knownLabels.contains("zone"))
    val zoned = t.select(Seq(Matcher.Eq("zone", "eu")))
    assert(zoned.count() == 1)
    // old rows see the new column as NULL
    assert(t.df.where(TsdbSchema.labelCol("zone").isNull).count() == samples.size.toLong)
  }

  test("storage layout: snappy + dictionary labels + time-sorted row groups (R2/§1.5)") {
    // single output file: parquet-mr only emits a dictionary page once a
    // chunk has enough values, so 1-row-per-file splits would show PLAIN
    val layoutPath = tmpDir("tsdb_layout")
    TsdbIngest.write(TsdbIngest.toWide(samples.toDF()), layoutPath, timePartitions = 1)
    val stats = ParquetInspect.inspect(layoutPath)
    assert(stats.nonEmpty)
    val all = stats.flatMap(_.columns)
    val labelCols = all.filter(_.column.startsWith("labels."))
    assert(labelCols.nonEmpty)
    // all-NULL chunks may skip the dictionary; the always-present label
    // column must be dictionary-encoded in every chunk
    val nameCols = all.filter(_.column == "labels.__name__")
    assert(nameCols.nonEmpty)
    assert(nameCols.forall(c => c.encodings.exists(_.contains("DICTIONARY"))))
    // time column: DELTA_BINARY_PACKED via the v2 writer (hello.go:136)
    val timeCols = all.filter(_.column == "time")
    assert(timeCols.nonEmpty)
    assert(timeCols.forall(_.encodings.exists(_.contains("DELTA_BINARY_PACKED"))),
      timeCols.map(_.encodings).toString)
    // read back and confirm time ordering within each file (write-time sort)
    val spark2 = spark
    import org.apache.spark.sql.functions._
    val f = spark2.read.parquet(layoutPath)
      .select(input_file_name().as("f"), col("time"))
      .groupBy(col("f"))
      .agg((min(col("time")) <= max(col("time"))).as("ok"),
        collect_list(col("time")).as("ts"))
      .select(col("ts"))
      .as[Seq[Long]].collect()
    assert(f.forall(ts => ts == ts.sorted))
  }

  test("ParquetInspect reports footer stats ≡ visualize (hello.go:75-119)") {
    val stats = ParquetInspect.inspect(tablePath)
    assert(stats.map(_.numRows).sum == samples.size.toLong)
    assert(stats.head.columns.forall(_.compressedBytes > 0))
    val rendered = ParquetInspect.render(stats)
    assert(rendered.contains("labels.__name__") && rendered.contains("INT64"))
  }
}

class MetricPartitionSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.model.Matcher

  test("metric-partitioned layout: Eq(__name__) becomes a partition filter") {
    assumeFixture(graft.ReferenceFixture.Block)
    val block = spark.read.format("tsdb-block")
      .load("/root/reference/01GW1T7K3E9F9R361GDPVH8NZF")
    val wide = TsdbIngest.toWide(block)
    val flat = tmpDir("tsdb_flat"); val part = tmpDir("tsdb_part")
    TsdbIngest.write(wide, flat)
    TsdbIngest.writePartitionedByMetric(wide, part)

    val q = Seq(Matcher.Eq("__name__", "up"))
    val flatT = TsdbTable(TsdbIngest.read(spark, flat))
    val partT = TsdbTable(TsdbIngest.readPartitioned(spark, part))

    // identical results through both layouts
    def canon(t: TsdbTable) = t.regroup(t.select(q)).collect()
      .map(s => (s.labels, s.ts.toList, s.v.toList)).toSet
    assert(canon(partT) == canon(flatT))
    assert(canon(partT).size == 1)

    // and the partitioned plan prunes directories at planning time
    val plan = partT.select(q).queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") &&
      plan.contains("__metric"), s"no partition filter in:\n$plan")
    // only the up/ directory's files are actually read
    val scanned = partT.select(q).select(input_file_name())
      .distinct().collect().map(_.getString(0))
    assert(scanned.nonEmpty && scanned.forall(_.contains("__metric=up")))
  }
}
