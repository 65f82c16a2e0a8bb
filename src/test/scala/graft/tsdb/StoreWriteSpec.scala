package graft.tsdb

import graft.{JobProbe, SparkSpec}
import graft.sources.tsdbblock.{TsdbBlockWriter, TsdbDb, TsdbWalWriter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The Parquet store written from a data directory: the frame
  * [[TsdbDb.read]] returns knows its time range, so the write places
  * rows on equal time slices with no sampling job, and the store is
  * the same sorted, time-disjoint table the range-sampled write gives. */
class StoreWriteSpec extends SparkSpec {

  private val Hour = 3600L * 1000L

  /** Blocks over hours 0–5 and a WAL over hour 6; one WAL-only series
    * carries a label no other series has. */
  private def dataDir(): String = {
    val sp = spark
    import sp.implicits._
    val db = tmpDir("graft_store_db_")
    def series(from: Long, until: Long) = for {
      t <- from until until by 60000L
      job <- Seq("a", "b", "c")
      code <- Seq("200", "500")
    } yield (t, (t / 60000L % 97).toDouble + code.toDouble,
      Map("__name__" -> "http_requests_total", "job" -> job, "code" -> code))
    TsdbBlockWriter.write(series(0L, 6 * Hour).toDF("time", "value", "labels"), db)
    val head = series(6 * Hour, 7 * Hour) ++
      (6 * Hour until 7 * Hour by 60000L).map(t =>
        (t, 1.0, Map("__name__" -> "up", "job" -> "a", "zone" -> "z1")))
    TsdbWalWriter.write(head.toDF("time", "value", "labels"), s"$db/wal")
    db
  }

  /** Each Parquet file's (time, label values) rows, in file order. */
  private def files(store: String, labels: Seq[String])
      : Seq[Seq[(Long, Seq[Option[String]])]] =
    new java.io.File(store).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq.map { f =>
        spark.read.parquet(f).select(col("time") +: labels.map(c => col(s"`$c`")): _*)
          .collect().toSeq.map(r => (r.getLong(0),
            labels.indices.map(i => Option(r.getString(i + 1)))))
      }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq.map(c => col(s"`$c`"))
    a.select(cols: _*).exceptAll(b.select(cols: _*)).isEmpty &&
      b.select(cols: _*).exceptAll(a.select(cols: _*)).isEmpty
  }

  test("a data directory's store is sorted, time-disjoint and holds its rows") {
    val long = TsdbDb.read(spark, dataDir())
    assert(TsdbDb.timeRange(long) === Some((0L, 7 * Hour - 60000L)))
    val wide = TsdbIngest.toWide(long)
    assert(TsdbDb.timeRange(wide) === TsdbDb.timeRange(long))
    val store = tmpDir("graft_store_") + "/store"
    TsdbIngest.write(wide, store)
    val labels = TsdbSchema.labelColumns(wide)
    val parts = files(store, labels)
    assert(parts.size === 8)
    import Ordering.Implicits._
    parts.foreach(rows => assert(rows === rows.sorted,
      "a file must be sorted by (time, label columns asc, nulls first)"))
    parts.map(rows => (rows.head._1, rows.last._1)).sorted.sliding(2)
      .foreach { case Seq(a, b) => assert(a._2 < b._1, s"time ranges overlap: $a $b") }
    assert(sameRows(TsdbIngest.read(spark, store), wide))
  }

  test("the tagged write runs one job fewer than the same rows untagged") {
    val wide = TsdbIngest.toWide(TsdbDb.read(spark, dataDir()))
    val untagged = wide.select(wide.columns.toSeq.map(c => col(s"`$c`")): _*)
    assert(TsdbDb.timeRange(untagged).isEmpty)
    val root = tmpDir("graft_store_jobs_")
    val (_, placed) = JobProbe(spark)(TsdbIngest.write(wide, s"$root/placed"))
    val (_, sampled) = JobProbe(spark)(TsdbIngest.write(untagged, s"$root/sampled"))
    assert(placed.jobs + 1 === sampled.jobs, s"placed $placed, sampled $sampled")
    assert(sameRows(TsdbIngest.read(spark, s"$root/placed"),
      TsdbIngest.read(spark, s"$root/sampled")))
  }
}
