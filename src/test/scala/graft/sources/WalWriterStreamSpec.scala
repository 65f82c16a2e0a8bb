package graft.sources

import graft.SparkSpec
import graft.sources.tsdbblock.{TsdbBlockWriter, TsdbWalWriter, WalReader}
import graft.tsdb.TsdbSchema
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The WAL writer's streamed segments: staleness markers keep their
  * bits, and every write numbers its segments without gaps. */
class WalWriterStreamSpec extends SparkSpec {

  private def frame(rows: Seq[(Long, Option[Double], String)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.map { case (t, v, job) => (t, v, Map("__name__" -> "m", "job" -> job)) }
      .toDF("time", "value", "labels")
  }

  /** (time → value) of one series read back, None for NULL. */
  private def byTime(df: DataFrame, job: String): Map[Long, Option[Double]] =
    df.where(col("labels")("job") === job).select("time", "value").collect()
      .map(r => r.getLong(0) -> Option.when(!r.isNullAt(1))(r.getDouble(1))).toMap

  test("a NULL value is written as the staleness marker; NaN stays NaN") {
    val wal = tmpDir("graft_walw_stale_")
    TsdbWalWriter.write(frame(Seq((1000L, Some(1.0), "a"), (2000L, None, "a"),
      (3000L, Some(Double.NaN), "a"), (4000L, Some(2.0), "a"),
      (2000L, Some(5.0), "b"))), wal, partitions = 2)
    val raw = WalReader.segments(wal).flatMap(WalReader.samples)
      .map(s => s.time -> java.lang.Double.doubleToRawLongBits(s.value))
    assert(raw.count(_._2 == TsdbSchema.StaleNaNBits) === 1)
    assert(raw.contains(2000L -> TsdbSchema.StaleNaNBits))
    def check(got: Map[Long, Option[Double]]): Unit = {
      assert(got.keySet === Set(1000L, 2000L, 3000L, 4000L))
      assert(got(1000L) === Some(1.0) && got(4000L) === Some(2.0))
      assert(got(2000L) === None, "the marker reads back NULL")
      assert(got(3000L).exists(_.isNaN), "a plain NaN reads back NaN")
    }
    check(byTime(spark.read.format("tsdb-wal").load(wal), "a"))
    val db = tmpDir("graft_walw_stale_db_")
    TsdbBlockWriter.compactWal(spark, wal, db)
    val blocks = new java.io.File(db).listFiles().filter(_.isDirectory)
      .map(d => spark.read.format("tsdb-block").load(d.getPath)).reduce(_ unionByName _)
    check(byTime(blocks, "a"))
    assert(byTime(blocks, "b") === Map(2000L -> Some(5.0)))
  }

  test("every write numbers its segments without gaps, empty ones included") {
    val dir = tmpDir("graft_walw_seq_")
    val rows = for (job <- Seq("a", "b"); t <- 0L until 20L)
      yield (t * 1000L, Some(t.toDouble), job)
    // two series into four segments: at least two of them hold no series
    assert(TsdbWalWriter.write(frame(rows), dir, partitions = 4) === 4)
    // an empty frame at a pinned base: Spark runs no task over it
    assert(TsdbWalWriter.write(frame(Nil), dir, partitions = 4,
      baseSegment = Some(4)) === 4)
    assert(TsdbWalWriter.write(frame(rows.map { case (t, v, j) =>
      (t + 100000L, v, j) }), dir, partitions = 4, baseSegment = Some(8)) === 4)
    val names = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    assert(names === (0 until 12).map(i => f"$i%08d"))
    val back = spark.read.format("tsdb-wal").load(dir)
      .select(col("time"), col("value"), col("labels")("job")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sorted.toSeq
    val want = rows.flatMap { case (t, v, j) =>
      Seq((t, v.get, j), (t + 100000L, v.get, j)) }.sorted
    assert(back === want)
  }
}
