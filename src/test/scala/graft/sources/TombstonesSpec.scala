package graft.sources

import graft.SparkSpec
import graft.model.Matcher
import graft.sources.tsdbblock.{IndexReader, Tombstones, TsdbBlockWriter}
import graft.tsdb.TsdbAdmin
import org.apache.spark.sql.functions._

/** Tombstones (the TSDB deletion markers): file round trips against the
  * documented format, interval algebra, plan-time chunk pruning vs
  * per-sample masking, the Delete admin API, and the clean-tombstones
  * rewrite. The reference's own block ships a 9-byte EMPTY tombstones
  * file — the empty case is pinned byte-exactly against it. */
class TombstonesSpec extends SparkSpec {

  private def writeBlock(dir: String): Unit = {
    val s1 = TsdbBlockWriter.SeriesData(
      Seq("__name__" -> "up", "job" -> "api"),
      (0L until 300L).map(_ * 1000L).toArray,
      (0 until 300).map(_.toDouble).toArray)
    val s2 = TsdbBlockWriter.SeriesData(
      Seq("__name__" -> "up", "job" -> "db"),
      (0L until 10L).map(_ * 1000L).toArray,
      Array.fill(10)(1.0))
    TsdbBlockWriter.writeBlock(dir, Seq(s1, s2))
  }

  test("empty tombstones file is the reference's 9 bytes; read ≡ empty") {
    val dir = tmpDir("graft_ts_")
    writeBlock(dir)
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/tombstones"))
    assert(bytes.length === 9)
    assert(Tombstones.read(s"$dir/tombstones") === Map.empty)
    // write(empty) reproduces the same bytes
    Tombstones.write(s"$dir/tombstones", Map.empty)
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/tombstones")).toSeq === bytes.toSeq)
  }

  test("stones round-trip with merged intervals; corrupt CRC refuses") {
    val p = tmpDir("graft_ts_rt_") + "/tombstones"
    val stones = Map(
      42L -> Seq(Tombstones.Interval(100, 200), Tombstones.Interval(150, 400),
        Tombstones.Interval(402, 500)),
      7L -> Seq(Tombstones.Interval(Long.MinValue, Long.MaxValue)))
    Tombstones.write(p, stones)
    val back = Tombstones.read(p)
    assert(back(42L) === Seq(
      Tombstones.Interval(100, 400), Tombstones.Interval(402, 500)))
    assert(back(7L) === Seq(Tombstones.Interval(Long.MinValue, Long.MaxValue)))
    // adjacent-on-the-integer-grid intervals coalesce: [1,2]+[3,4]=[1,4]
    assert(Tombstones.merge(Seq(
      Tombstones.Interval(3, 4), Tombstones.Interval(1, 2))) ===
      Seq(Tombstones.Interval(1, 4)))
    // flip a stones byte → checksum must refuse
    val buf = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    buf(6) = (buf(6) ^ 0x01).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(p), buf)
    intercept[IllegalArgumentException] { Tombstones.read(p) }
  }

  test("write replaces the file through a renamed temporary") {
    val dir = tmpDir("graft_ts_replace_")
    writeBlock(dir)
    val p = s"$dir/tombstones"
    val stones = Map(0L -> Seq(Tombstones.Interval(5, 9)),
      3L -> Seq(Tombstones.Interval(1, 2), Tombstones.Interval(7, 8)))
    Tombstones.write(p, stones)
    assert(Tombstones.read(p) === stones)
    val old = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    // a reader that opened the file before a rewrite still reads the old
    // stones whole: the new file replaces it, never truncates it
    val opened = new java.io.FileInputStream(p)
    try {
      Tombstones.write(p, Map(3L -> Seq(Tombstones.Interval(4, 4))))
      assert(opened.readAllBytes().toSeq === old.toSeq)
    } finally opened.close()
    assert(Tombstones.read(p) === Map(3L -> Seq(Tombstones.Interval(4, 4))))
    assert(new java.io.File(dir).list().toSet ===
      Set("chunks", "index", "meta.json", "tombstones"))
  }

  test("deleteSeries masks partial overlap and prunes covered chunks") {
    val dir = tmpDir("graft_ts_del_")
    writeBlock(dir)
    // windowed delete on the api series: [50s, 150s] inclusive spans the
    // first chunk's tail and the second's head — per-sample masking
    val n1 = TsdbAdmin.deleteSeries(dir,
      Seq(Matcher.Eq("job", "api")), 50000L, 150000L)
    assert(n1 === 1)
    // whole-series delete of db: every chunk covered — planning prunes it
    val n2 = TsdbAdmin.deleteSeries(dir, Seq(Matcher.Eq("job", "db")))
    assert(n2 === 1)
    // a matcher that hits nothing stones nothing
    assert(TsdbAdmin.deleteSeries(dir, Seq(Matcher.Eq("job", "nope"))) === 0)
    // windowed delete OUTSIDE the series' data stones nothing
    assert(TsdbAdmin.deleteSeries(dir,
      Seq(Matcher.Eq("job", "api")), 900000L, 999000L) === 0)

    val back = spark.read.format("tsdb-block").load(dir)
      .select(col("time"), element_at(col("labels"), "job").as("job"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(back.forall(_._2 == "api"), "db series must be fully deleted")
    assert(back.map(_._1).toSet ===
      ((0L until 50L) ++ (151L until 300L)).map(_ * 1000L).toSet)

    // meta.json carries the stone count (2 series × 1 interval)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/meta.json")), "UTF-8")
    assert(meta.contains("\"numTombstones\": 2"))

    // delete-on-delete unions: re-deleting api over [140s, 260s] merges
    // with [50s,150s] into one [50s,260s] stone
    TsdbAdmin.deleteSeries(dir, Seq(Matcher.Eq("job", "api")), 140000L, 260000L)
    val refs = IndexReader.read(s"$dir/index")
      .map(s => s.labels("job") -> s.ref).toMap
    val stones = Tombstones.read(s"$dir/tombstones")
    assert(stones(refs("api")) === Seq(Tombstones.Interval(50000L, 260000L)))
  }

  test("cleanTombstones rewrites without deleted data, empty stones") {
    val dir = tmpDir("graft_ts_clean_")
    writeBlock(dir)
    TsdbAdmin.deleteSeries(dir, Seq(Matcher.Eq("job", "api")), 50000L, 150000L)
    TsdbAdmin.deleteSeries(dir, Seq(Matcher.Eq("job", "db")))
    val destRoot = tmpDir("graft_ts_clean_out_")
    val names = TsdbAdmin.cleanTombstones(spark, dir, destRoot,
      blockRangeMs = 3600 * 1000L)
    assert(names.size === 1)
    val clean = s"$destRoot/${names.head}"
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$clean/tombstones")).length === 9,
      "a cleaned block must carry empty tombstones")
    val back = spark.read.format("tsdb-block").load(clean)
      .select(col("time")).collect().map(_.getLong(0))
    assert(back.toSet === ((0L until 50L) ++ (151L until 300L))
      .map(_ * 1000L).toSet)
    // physical: the masked window is GONE from the index, not just hidden
    val entries = IndexReader.read(s"$clean/index")
    assert(entries.size === 1 && entries.head.labels("job") == "api")
  }

  test("deleteSeriesDb stones blocks AND the WAL head in one call") {
    import graft.sources.tsdbblock.{TsdbDb, TsdbWalWriter}
    val db = tmpDir("graft_ts_db_")
    writeBlock(s"$db/block1")
    // head: the api series continues past the block
    val s = spark
    import org.apache.spark.sql.functions._
    val sq = s
    import sq.implicits._
    val head = (300L until 400L).map(_ * 1000L).toDF("time")
      .withColumn("value", lit(1.0))
      .withColumn("labels", map(lit("__name__"), lit("up"),
        lit("job"), lit("api")))
    TsdbWalWriter.write(head, s"$db/wal", partitions = 1)
    // windowed delete of api spans block tail AND head start
    val stoned = TsdbAdmin.deleteSeriesDb(db,
      Seq(Matcher.Eq("job", "api")), 250000L, 350000L)
    assert(stoned === 2, "one block series + one WAL series")
    val times = TsdbDb.read(spark, db)
      .where(element_at(col("labels"), "job") === "api")
      .select(col("time")).collect().map(_.getLong(0)).toSet
    assert(times === ((0L until 250L) ++ (351L until 400L))
      .map(_ * 1000L).toSet,
      "the deletion window must vanish seamlessly across block and head")
  }

  test("time-range pushdown composes with tombstone masking") {
    val dir = tmpDir("graft_ts_push_")
    writeBlock(dir)
    TsdbAdmin.deleteSeries(dir, Seq(Matcher.Eq("job", "api")), 50000L, 150000L)
    val got = spark.read.format("tsdb-block").load(dir)
      .where(col("time") >= 40000L && col("time") < 160000L &&
        element_at(col("labels"), "job") === "api")
      .select(col("time")).collect().map(_.getLong(0)).sorted
    assert(got.toSeq ===
      ((40L until 50L) ++ (151L until 160L)).map(_ * 1000L))
  }
}
