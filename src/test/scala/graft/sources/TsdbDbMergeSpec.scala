package graft.sources

import graft.SparkSpec
import graft.model.Matcher
import graft.sources.tsdbblock.{TsdbBlockWriter, TsdbDb, TsdbWalWriter}
import graft.tsdb.{TsdbAdmin, TsdbIngest, TsdbSchema}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

/** The whole-DB view merges only the sources that can collide: over
  * any data directory it must answer exactly what one (series, time)
  * aggregate over every source answers, and a disjoint, duplicate-free
  * directory must read without a shuffle. */
class TsdbDbMergeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import TsdbDbMergeSpec._

  private val Range = 10000L
  private val series = Seq(
    Seq("__name__" -> "m", "job" -> "a"),
    Seq("__name__" -> "m", "job" -> "b"),
    Seq("__name__" -> "n", "env" -> "x", "job" -> "a"))

  private def frame(rows: Seq[(Long, Double, Seq[(String, String)])])
      : DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.map { case (t, v, l) => (t, v, l.toMap) }
      .toDF("time", "value", "labels")
  }

  /** Every series at `times`, values from `salt` (NaN at every 7th). */
  private def samples(times: Seq[Long], salt: Int, nan: Boolean)
      : Seq[(Long, Double, Seq[(String, String)])] =
    for {
      t <- times
      (l, s) <- series.zipWithIndex
    } yield {
      val k = (salt * 31 + (t / 100).toInt * 7 + s) % 10
      (t, if (nan && k == 6) Double.NaN else k.toDouble, l)
    }

  /** A hand-framed WAL segment (raw value bits, so staleness markers
    * survive): refs `base+1`, `base+2` name series 0 and 1; series 0
    * gets a marker at 3000 (beside the base block's real sample) and a
    * marker-only instant at 50000; series 1 a real 42 at 3000 and a
    * sample at 50000 that a WAL tombstone deletes. */
  private def markerSegment(walDir: String): Unit = {
    val base = 77L << 32
    val stale = TsdbSchema.StaleNaNBits
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(walDir))
    TsdbWalWriter.writeSegment(s"$walDir/00000090", Iterator(
      TsdbWalWriter.seriesRecord(Seq(base + 1 -> series(0),
        base + 2 -> series(1))),
      rawSamples(Seq((base + 1, 3000L, stale), (base + 1, 50000L, stale),
        (base + 2, 3000L, java.lang.Double.doubleToLongBits(42.0)),
        (base + 2, 50000L, java.lang.Double.doubleToLongBits(1.0)))),
      TsdbWalWriter.tombstonesRecord(Seq((base + 2, 50000L, 50000L)))))
  }

  /** Build the data directory a recipe describes; returns its path. */
  private def build(r: Recipe): String = {
    val db = tmpDir("merge_prop")
    val wal = s"$db/wal"
    TsdbBlockWriter.write(frame(samples((0L until 20000L by 1000L), r.salt,
      r.nan)), db, Range)
    val first = new java.io.File(db).listFiles().filter(_.isDirectory)
      .map(_.getPath).sorted
    if (r.overlapBlock) // salted new directories over both base windows
      TsdbBlockWriter.write(frame(samples((5000L until 14000L by 1000L),
        r.salt + 1, r.nan)), db, Range)
    r.compacted.foreach { c =>
      // each (series, time) one to three times: equal timestamps inside
      // a chunk, and sometimes across a chunk boundary
      val dup = (c until c + Range by 100L).flatMap { t =>
        val copies = 1 + ((t / 100 + r.salt) % 3).toInt
        (0 until copies).flatMap(k => samples(Seq(t), r.salt + 3 * k, r.nan))
      }
      val scratch = tmpDir("merge_prop_wal")
      TsdbWalWriter.write(frame(dup), scratch)
      TsdbBlockWriter.compactWal(spark, scratch, db, Range)
    }
    r.walStart.foreach { w =>
      // walDups: a ref's timestamps repeat (every third second twice)
      TsdbWalWriter.write(frame(samples(w until w + Range by 1000L,
        r.salt + 5, r.nan) ++ (if (r.walDups)
          samples(w until w + Range by 3000L, r.salt + 7, r.nan) else Nil)),
        wal)
      if (r.walAppend) // a second ref for every label set, same instants
        TsdbWalWriter.write(frame(samples(w until w + Range by 2000L,
          r.salt + 6, r.nan)), wal)
    }
    if (r.markers) markerSegment(wal)
    if (r.blockStone)
      TsdbAdmin.deleteSeries(first.head, Seq(Matcher.Eq("job", "a")),
        2000L, 6000L)
    db
  }

  /** The parent's whole-DB formula: every source through one
    * (series, time) aggregate. */
  private def mergeAll(db: String, matchers: Seq[Matcher]): DataFrame = {
    val root = new java.io.File(db)
    val parts = root.listFiles()
      .filter(f => f.isDirectory && new java.io.File(f, "index").isFile)
      .map(f => spark.read.format("tsdb-block").load(f.getPath)).toSeq ++
      (if (new java.io.File(root, "wal").isDirectory)
        Seq(spark.read.format("tsdb-wal").load(s"$db/wal"))
      else Nil)
    matchers.foldLeft(parts.reduce(_ unionByName _))((d, m) =>
        d.where(residual(m)))
      .withColumn("_entries", array_sort(map_entries(col("labels"))))
      .groupBy(col("_entries"), col("time"))
      .agg(min(col("value")).as("value"))
      .select(col("time"), col("value"),
        map_from_entries(col("_entries")).as("labels"))
  }

  private val recipe: Gen[Recipe] = for {
    overlapBlock <- Gen.oneOf(false, true)
    compacted <- Gen.option(Gen.oneOf(20000L, 30000L, 15000L))
    walStart <- Gen.option(Gen.oneOf(40000L, 15000L))
    walAppend <- Gen.oneOf(false, true)
    walDups <- Gen.oneOf(false, true)
    markers <- Gen.oneOf(false, true)
    blockStone <- Gen.oneOf(false, true)
    salt <- Gen.choose(0, 9)
    nan <- Gen.oneOf(false, true)
    matchers <- Gen.oneOf[Seq[Matcher]](Nil, Seq(Matcher.Eq("job", "a")),
      Seq(Matcher.Re("__name__", "m"), Matcher.NotEq("job", "a")),
      Seq(Matcher.NotRe("env", "x")))
  } yield Recipe(overlapBlock, compacted, walStart, walAppend, walDups,
    markers, blockStone, salt, nan, matchers)

  /** `TsdbDb.select` ≡ [[mergeAll]] (rows, schema, label names) on the
    * directory `r` describes, with and without its matchers. */
  private def agrees(r: Recipe): Boolean = {
    val db = build(r)
    Seq(Nil, r.matchers).forall { ms =>
      val got = TsdbDb.select(spark, db, ms)
      val want = mergeAll(db, ms)
      val ok = got.schema == want.schema &&
        rows(got) == rows(want) &&
        TsdbIngest.labelNames(got) == explodedNames(got)
      if (!ok) info(s"$r, matchers $ms: got ${rows(got)}, want ${rows(want)}")
      ok
    }
  }

  test("whole-DB read ≡ one aggregate over every source, on generated directories") {
    // corners first: each duplicate a pass-through source could hide,
    // in a source no other overlaps
    val plain = Recipe(overlapBlock = false, compacted = None,
      walStart = Some(40000L), walAppend = false, walDups = false,
      markers = false, blockStone = false, salt = 3, nan = true,
      matchers = Seq(Matcher.Eq("job", "a")))
    assert(agrees(plain.copy(walAppend = true)))
    assert(agrees(plain.copy(walDups = true)))
    assert(agrees(plain.copy(compacted = Some(20000L))))
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(8),
      Prop.forAllNoShrink(recipe)(agrees))
    assert(res.passed, res.status.toString)
  }

  test("disjoint, duplicate-free directory: executed plan has no exchange and no aggregate") {
    val db = tmpDir("merge_disjoint")
    TsdbBlockWriter.write(frame(samples(0L until 20000L by 1000L, 1,
      nan = false)), db, Range)
    TsdbWalWriter.write(frame(samples(20000L until 30000L by 1000L, 2,
      nan = false)), s"$db/wal")
    val df = TsdbDb.read(spark, db)
    assert(rows(df) == rows(mergeAll(db, Nil)))
    val plan = df.queryExecution.executedPlan
    assert(scans(plan).size == 3)
    assert(collect(plan) { case e: Exchange => e }.isEmpty, plan.toString)
    assert(collect(plan) { case a: BaseAggregateExec => a }.isEmpty,
      plan.toString)
  }

  test("a WAL overlapping the newest block: only those two feed the aggregate") {
    val db = tmpDir("merge_overlap")
    TsdbBlockWriter.write(frame(samples(0L until 20000L by 1000L, 1,
      nan = false)), db, Range)
    TsdbWalWriter.write(frame(samples(15000L until 25000L by 1000L, 2,
      nan = false)), s"$db/wal")
    val df = TsdbDb.read(spark, db)
    assert(rows(df) == rows(mergeAll(db, Nil)))
    val plan = df.queryExecution.executedPlan
    val newest = new java.io.File(db).listFiles()
      .filter(f => new java.io.File(f, "index").isFile)
      .maxBy(f => spark.read.format("tsdb-block").load(f.getPath)
        .agg(max("time")).head().getLong(0)).getPath
    val merged = collect(plan) { case a: BaseAggregateExec => scans(a) }
      .flatten.toSet
    assert(merged.size == 2, plan.toString)
    assert(merged.exists(_.startsWith(s"tsdb-block $newest,")) &&
      merged.exists(_.startsWith("tsdb-wal ")), merged)
    assert(scans(plan).size == 3)
  }

  test("equal timestamps inside a chunk collapse by the merge's rule") {
    val db = tmpDir("merge_chunk_dups")
    val dir = s"$db/b"
    TsdbBlockWriter.writeBlock(dir, Seq(TsdbBlockWriter.SeriesData(
      series(0), Array(1000L, 1000L, 1000L, 2000L, 2000L, 3000L),
      Array(5.0, 3.0, Double.NaN, Double.NaN, 4.0, 1.0))))
    val got = spark.read.format("tsdb-block").load(dir)
      .select(col("time"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1000L, 3.0), (2000L, 4.0), (3000L, 1.0)))
    // a compacted WAL's duplicates read back as the WAL's merge
    val wal = tmpDir("merge_chunk_wal")
    TsdbWalWriter.write(frame(Seq((1000L, 9.0, series(1)),
      (1000L, 2.0, series(1)), (2000L, 7.0, series(1)))), wal)
    TsdbBlockWriter.compactWal(spark, wal, s"$db/c", Range)
    val c = new java.io.File(s"$db/c").listFiles().head.getPath
    assert(rows(spark.read.format("tsdb-block").load(c)) ==
      Seq((series(1), 1000L, Some(2.0)), (series(1), 2000L, Some(7.0)))
        .map { case (l, t, v) => (l.mkString(","), t, v.map(bits)) })
  }

  test("a timestamp going back inside a series fails the scan naming the block") {
    val dir = s"${tmpDir("merge_backwards")}/b"
    TsdbBlockWriter.writeBlock(dir, Seq(TsdbBlockWriter.SeriesData(
      series(0), Array(1000L, 3000L, 2000L), Array(1.0, 2.0, 3.0))))
    val e = intercept[Exception] {
      spark.read.format("tsdb-block").load(dir).collect()
    }
    val msg = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(msg.contains(s"block $dir") && msg.contains("2000 after 3000"), msg)
  }

  private def scans(plan: SparkPlan): Seq[String] =
    collect(plan) { case b: BatchScanExec => b.scan.description() }
}

object TsdbDbMergeSpec {
  final case class Recipe(overlapBlock: Boolean, compacted: Option[Long],
                          walStart: Option[Long], walAppend: Boolean,
                          walDups: Boolean, markers: Boolean, blockStone: Boolean, salt: Int,
                          nan: Boolean, matchers: Seq[Matcher])

  private def bits(v: Double): Long = java.lang.Double.doubleToLongBits(v)

  /** Rows as a sorted multiset: (sorted labels, time, value bits). */
  def rows(df: DataFrame): Seq[(String, Long, Option[Long])] =
    df.collect().map { r: Row =>
      (r.getMap[String, String](r.fieldIndex("labels")).toSeq.sorted
        .mkString(","), r.getAs[Long]("time"),
        Option(r.get(r.fieldIndex("value"))).map(v => bits(v.asInstanceOf[Double])))
    }.toSeq.sorted

  /** `TsdbIngest.labelNames`'s earlier form: explode, distinct, sort. */
  def explodedNames(df: DataFrame): Seq[String] =
    df.select(explode(map_keys(col("labels")))).distinct().collect()
      .map(_.getString(0)).sorted.toSeq

  /** `TsdbDb.select`'s residual matcher filter (absent label ≡ ""). */
  def residual(m: Matcher): Column = {
    def l(n: String) = coalesce(element_at(col("labels"), n), lit(""))
    m match {
      case Matcher.Eq(n, v) => l(n) === v
      case Matcher.NotEq(n, v) => l(n) =!= v
      case Matcher.Re(n, p) => l(n).rlike(p)
      case Matcher.NotRe(n, p) => !l(n).rlike(p)
    }
  }

  /** A samples record (kind 2) from raw value bits. */
  def rawSamples(samples: Seq[(Long, Long, Long)]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    def be64(v: Long): Unit = {
      var i = 56; while (i >= 0) { b.write(((v >>> i) & 0xff).toInt); i -= 8 }
    }
    def varint(v: Long): Unit = {
      var x = (v << 1) ^ (v >> 63)
      while ((x & ~0x7fL) != 0) { b.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      b.write(x.toInt)
    }
    val (baseRef, baseTime, _) = samples.head
    b.write(2); be64(baseRef); be64(baseTime)
    samples.foreach { case (ref, t, v) =>
      varint(ref - baseRef); varint(t - baseTime); be64(v)
    }
    b.toByteArray
  }
}
