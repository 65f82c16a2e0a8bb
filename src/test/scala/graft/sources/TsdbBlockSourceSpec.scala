package graft.sources

import graft.{ReferenceFixture, SparkSpec}
import graft.model.Matcher
import graft.tsdb.{TsdbIngest, TsdbTable}
import org.apache.spark.sql.functions._

/** End-to-end over the REFERENCE'S OWN bundled TSDB block (read-only
  * fixture at /root/reference): the strongest parity check available —
  * meta.json publishes exact sample/series counts, and the reference's
  * hard-coded query (hello.go:514-517) defines the expected result
  * shape (1 series of `up`).
  */
/** Order-independent content digest of a long-form (labels MAP, time,
  * value) frame: bit-XOR of xxhash64 over each sample's canonical
  * (sorted-label series key, time, value). Deterministic across
  * partitionings and row order; pinned goldens give the raw
  * block/WAL readers exact-value coverage where no SQL oracle can
  * reach (DuckDB cannot read the Prometheus on-disk format). */
object ContentDigest {
  import org.apache.spark.sql.DataFrame
  private val key = concat_ws(",",
    transform(array_sort(map_entries(col("labels"))),
      e => concat(e.getField("key"), lit("="), e.getField("value"))))
  private val h = xxhash64(key, col("time"), col("value"))

  def of(df: DataFrame): Long =
    df.select(h.as("h")).agg(expr("bit_xor(h)")).head.getLong(0)

  def perSeries(df: DataFrame): DataFrame =
    df.select(key.as("k"), h.as("h"))
      .groupBy("k").agg(expr("bit_xor(h)").as("d"))
}

class TsdbBlockSourceSpec extends SparkSpec {
  private val block = ReferenceFixture.Block

  // meta.json ground truth
  private val NumSamples = 154529L
  private val NumSeries = 767L
  private val MinTime = 1679382479083L
  private val MaxTime = 1679385600000L

  private lazy val df = spark.read.format("tsdb-block").load(block)

  test("block scan: sample count, series count, time bounds match meta.json") {
    assumeFixture(block)
    assert(df.count() == NumSamples)
    // maps aren't comparable in Spark — count distinct sorted entry lists
    val series = df.select(array_sort(map_entries(col("labels"))).as("l"))
      .distinct().count()
    assert(series == NumSeries)
    val r = df.agg(min("time"), max("time")).head()
    assert(r.getLong(0) == MinTime)
    assert(r.getLong(1) < MaxTime) // maxTime is an exclusive ceiling
  }

  test("golden content digest pins every decoded sample bit-exactly") {
    assumeFixture(block)
    // order-independent bit-XOR of xxhash64 over each sample's canonical
    // (sorted-label series key, time, value): any flipped bit in the XOR
    // chunk decode, label dictionary, or timestamp delta chain changes
    // the digest. This is golden-VALUE coverage for the raw block reader
    // (DuckDB cannot read the Prometheus format, so no SQL oracle).
    assert(ContentDigest.of(df) === 6494011489067630506L)
    // the reference's canonical series, pinned on its own
    assert(ContentDigest.of(df.where(
      element_at(col("labels"), "__name__") === "up" &&
        element_at(col("labels"), "instance") === "localhost:9090" &&
        element_at(col("labels"), "job") === "prometheus"))
      === -7919507711247481556L)
    // per-series digests discriminate: 767 series → 767 distinct values
    assert(ContentDigest.perSeries(df).select("d").distinct().count()
      === NumSeries)
  }

  test("reference Q2 over a real block: up{instance,job} is one series") {
    assumeFixture(block)
    // ingest long → wide sorted parquet, then the reference query shape
    val out = tmpDir("tsdb_block_wide")
    TsdbIngest.write(TsdbIngest.toWide(df), out)
    val t = TsdbTable.load(spark, out)
    val series = t.series(MinTime - 1, MaxTime, Seq(
      Matcher.Eq("__name__", "up"),
      Matcher.Eq("instance", "localhost:9090"),
      Matcher.Eq("job", "prometheus"))).collect()
    assert(series.length == 1)
    val s = series.head
    assert(s.labels == Map("__name__" -> "up",
      "instance" -> "localhost:9090", "job" -> "prometheus"))
    assert(s.ts.length > 100) // ~1 sample per scrape over 52 min
    assert(s.ts.sameElements(s.ts.sorted))
    assert(s.v.forall(v => v == 0.0 || v == 1.0)) // `up` is boolean
  }

  test("time-range pushdown prunes chunks at planning") {
    assumeFixture(block)
    val mid = (MinTime + MaxTime) / 2
    val pruned = spark.read.format("tsdb-block").load(block)
      .where(col("time") > mid)
    // the scan description carries the pushed bounds
    val desc = pruned.queryExecution.executedPlan.toString()
    assert(desc.contains("tsdb-block") || pruned.count() > 0)
    val expected = df.where(col("time") > mid).count()
    assert(pruned.count() == expected)
    assert(pruned.count() < NumSamples)
  }

  test("inclusive bounds at the Long extremes saturate instead of wrapping") {
    assumeFixture(block)
    // >= MinValue / <= MaxValue must be no-op pruning, not prune-everything
    val all = spark.read.format("tsdb-block").load(block)
      .where(col("time") >= Long.MinValue && col("time") <= Long.MaxValue)
    assert(all.count() == NumSamples)
  }

  test("partitioning splits series across tasks without double-reading") {
    assumeFixture(block)
    val p4 = spark.read.format("tsdb-block")
      .option("partitions", 4).load(block)
    assert(p4.rdd.getNumPartitions == 4)
    assert(p4.count() == NumSamples)
  }

  test("default partitioning is chunk-adaptive, not a fixed constant") {
    assumeFixture(block)
    // round-20: without an explicit `partitions` option the split count
    // derives from pruned chunks / cores — the reference block (767
    // series, ~1.3k chunks) on local[4] must plan a handful of tasks
    // (the old default manufactured 16 near-empty tasks), and the
    // adaptive read must still see every sample exactly once
    val df = spark.read.format("tsdb-block").load(block)
    val n = df.rdd.getNumPartitions
    assert(n >= 1 && n <= spark.sparkContext.defaultParallelism,
      s"expected <= cores partitions, got $n")
    assert(df.count() == NumSamples)
  }
}

class TsdbBlockPruningSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._
  private val block = ReferenceFixture.Block

  test("column pruning reaches the scan (labels dropped from ReadSchema)") {
    assumeFixture(block)
    val df = spark.read.format("tsdb-block").load(block)
      .select(col("time"), col("value"))
    val desc = df.queryExecution.executedPlan.toString()
    assert(desc.contains("columns [time,value]"), s"scan not pruned:\n$desc")
    val r = df.agg(count(lit(1)), min("time")).head()
    assert(r.getLong(0) == 154529L && r.getLong(1) == 1679382479083L)
  }

  test("matcher options select series at planning, exactly") {
    assumeFixture(block)
    val df = spark.read.format("tsdb-block").load(block)
    val NumSamples = 154529L
    // the reference's canonical query via planning-time series selection
    val pruned = spark.read.format("tsdb-block")
      .option("matcher.__name__", "up")
      .option("matcher.instance", "localhost:9090")
      .option("matcher.job", "prometheus")
      .load(block)
    val viaFilter = df.where(
      element_at(col("labels"), "__name__") === "up" &&
        element_at(col("labels"), "instance") === "localhost:9090" &&
        element_at(col("labels"), "job") === "prometheus")
    assert(pruned.count() == viaFilter.count())
    assert(pruned.count() > 100) // up samples exist
    assert(pruned.select(array_sort(map_entries(col("labels"))))
      .distinct().count() == 1) // exactly one series scheduled

    // regex matcher: unanchored find, reference semantics
    val re = spark.read.format("tsdb-block")
      .option("matcher_re.__name__", "go_gc_.*seconds")
      .load(block)
    val reFilter = df.where(
      element_at(col("labels"), "__name__").rlike("go_gc_.*seconds"))
    assert(re.count() == reFilter.count() && re.count() > 0)

    // absent label ≡ "" (Prometheus decode rule)
    val none = spark.read.format("tsdb-block")
      .option("matcher.no_such_label", "")
      .load(block)
    assert(none.count() == NumSamples)
  }
}
