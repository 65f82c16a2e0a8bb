package graft.sources

import graft.{ReferenceFixture, SparkSpec}
import graft.sources.tsdbblock.{TsdbWalWriter, WalReader}
import org.apache.spark.sql.functions._

/** The WAL writer against the WAL reader: record framing (page splits,
  * snappy flag, CRCs), round trips through the DataSource V2, and the
  * reference-WAL rewrite — the same proof shape as the block writer. */
class TsdbWalWriterSpec extends SparkSpec {

  test("record framing round-trips, including page-spanning records") {
    val dir = tmpDir("graft_walw_")
    // a record big enough to span two 32 KiB pages (first/middle/last
    // path), plus small uncompressed and mid-size snappy-compressed ones
    val big = Array.tabulate[Byte](70 * 1024)(i => (i * 31 % 251).toByte)
    val small = Array[Byte](9, 1, 2, 3)
    val mid = Array.tabulate[Byte](4000)(i => (i % 7).toByte)
    val path = s"$dir/00000000"
    TsdbWalWriter.writeSegment(path, Iterator(big, small, mid))
    val back = WalReader.records(path).toSeq
    assert(back.size === 3)
    assert(back(0).toSeq === big.toSeq)
    assert(back(1).toSeq === small.toSeq)
    assert(back(2).toSeq === mid.toSeq)
  }

  test("series + samples records decode through WalReader") {
    val dir = tmpDir("graft_walw2_")
    val series = Seq(
      5L -> Seq("__name__" -> "up", "job" -> "api"),
      6L -> Seq("__name__" -> "up", "job" -> "db"))
    val samples = Seq((5L, 1000L, 1.5), (6L, 1000L, 0.5), (5L, 2000L, -2.0))
    val path = s"$dir/00000000"
    TsdbWalWriter.writeSegment(path, Iterator(
      TsdbWalWriter.seriesRecord(series),
      TsdbWalWriter.samplesRecord(samples)))
    val dict = WalReader.seriesDict(dir)
    assert(dict === Map(
      5L -> Map("__name__" -> "up", "job" -> "api"),
      6L -> Map("__name__" -> "up", "job" -> "db")))
    val got = WalReader.samples(path).map(s => (s.ref, s.time, s.value)).toSeq
    assert(got === samples)
  }

  test("Spark write → tsdb-wal reader round-trips the frame") {
    val s = spark; import s.implicits._
    val rows = (0 until 500).map { i =>
      (i.toLong * 1000L, i * 0.5,
        Map("__name__" -> "m", "k" -> (i % 5).toString))
    }
    val walDir = tmpDir("graft_walw3_")
    val nSegs = TsdbWalWriter.write(
      rows.toDF("time", "value", "labels"), walDir, partitions = 3)
    assert(nSegs > 0 && nSegs <= 3)
    val back = spark.read.format("tsdb-wal").load(walDir)
      .select(col("time"), col("value"), col("labels")("k").as("k"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(back === rows.map(r => (r._1, r._2, r._3("k"))).toSet)
  }

  test("re-writing the reference WAL reproduces every sample") {
    assumeFixture(ReferenceFixture.Wal)
    // reference wal → reader → our writer → reader: identical
    // (labels, time, value) multiset — 657,681 samples (count pinned by
    // TsdbWalSpec against the raw segments)
    def canon(dir: String) =
      spark.read.format("tsdb-wal").load(dir)
        .select(
          concat_ws(",", transform(array_sort(map_entries(col("labels"))),
            e => concat(e.getField("key"), lit("="), e.getField("value"))))
            .as("series"),
          col("time"), col("value"))
    val orig = canon("/root/reference/wal")
    val walDir = tmpDir("graft_walrw_")
    TsdbWalWriter.write(
      orig.select(col("time"), col("value"),
        map_from_entries(transform(split(col("series"), ","),
          kv => struct(substring_index(kv, "=", 1),
            substring_index(kv, "=", -1)))).as("labels")),
      walDir, partitions = 4)
    def digest(df: org.apache.spark.sql.DataFrame) =
      df.groupBy().agg(count(lit(1)).as("n"),
        sum(hash(col("series"), col("time"), col("value")).cast("long")).as("h"))
        .collect().head
    assert(digest(canon(walDir)) === digest(orig))
  }

  test("partitionsForBytes sizes segments to the 128 MB target") {
    import graft.sources.tsdbblock.TsdbWalWriter.partitionsForBytes
    assert(partitionsForBytes(0L) === 1)                    // floor: 1 task
    assert(partitionsForBytes(1L) === 1)
    assert(partitionsForBytes(128L << 20) === 1)            // exactly one segment
    assert(partitionsForBytes((128L << 20) + 1) === 2)      // spill to a second
    assert(partitionsForBytes(10L * (128L << 20)) === 10)
    assert(partitionsForBytes(1L << 40, targetSegmentBytes = 1L << 30) === 1024)
    // the memory contract: per-task heap ~ input/partitions — a 1 TB
    // backfill at the default target runs 8192 segment tasks, each
    // materializing ~128 MB, never the whole input
    assert(partitionsForBytes(1L << 40) === 8192)
  }
}
