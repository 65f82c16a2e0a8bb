package perfbench

import java.io.File

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum}

import graft.sources.tsdbblock.{TsdbBlockWriter, TsdbDb, TsdbWalWriter}
import graft.tsdb.TsdbIngest

import Corpus._
import Roundtrip._

/** `tsdb_roundtrip`: the paper's conversion, one iteration at a time
  * on one thread, each into a fresh directory: hours 0–5 as 2 h
  * blocks, hour 6 as a WAL, then the data directory is read, its label
  * names discovered, and the Parquet store written. It converts the
  * series of one job (160 series, 230,400 samples): a whole-corpus
  * iteration takes about 11 s on 4 cores, too long for a run to hold
  * several. */
final class Roundtrip(spark: SparkSession, args: Main.Args) extends Workload {
  private val corpus = new Corpus(args.seed)
  private val fail = new FailureLog
  private val BlockSteps = 5 * 240

  /** The conversion's input: long-form samples of `series`, generated
    * and cached in set-up so iterations time the engine only. */
  final class Input(series: IndexedSeq[SeriesDef]) {
    val samples: Long = series.size.toLong * Steps
    val checksum: Double = corpus.valueSum(0, Steps, series)
    val blocks: DataFrame = corpus.longForm(spark, 0, BlockSteps, series).cache()
    val wal: DataFrame = corpus.longForm(spark, BlockSteps, Steps, series).cache()
    blocks.count(); wal.count()
    def close(): Unit = { blocks.unpersist(); wal.unpersist(); () }
  }

  /** The converted series: one job's. */
  private def setUp(): Input = new Input(corpus.series.filter(_.labels("job") == Jobs.head))

  private def iterate(i: Int, in: Input, trace: Option[Trace]): Iteration = {
    def span[T](layer: String)(body: => T): T =
      trace.fold(body)(_.span(layer, "call")(body))
    val dir = new File(args.workDir, s"roundtrip-$i")
    val db = dir.getPath
    val store = new File(dir, "store").getPath
    val (_, ms) = Stats.time {
      span("block_writer")(TsdbBlockWriter.write(in.blocks, db))
      span("wal_writer")(TsdbWalWriter.write(in.wal, s"$db/wal"))
      val wide = span("datadir_read")(TsdbIngest.toWide(TsdbDb.read(spark, db)))
      span("store")(TsdbIngest.write(wide, store))
    }
    val walBytes = Stats.dirSize(new File(dir, "wal"))
    val storeDirBytes = Stats.dirSize(new File(store))
    val blockBytes = Stats.dirSize(dir) - walBytes - storeDirBytes
    val (storeBytes, storeFiles) = Stats.parquetSize(new File(store))
    val got = Try(TsdbIngest.read(spark, store).agg(count(lit(1)), sum("value")).head())
    val ok = got.toOption.exists(r => r.getLong(0) == in.samples &&
      math.abs(r.getDouble(1) - in.checksum) <= 1e-9 * math.abs(in.checksum))
    if (!ok) fail("round trip", s"$got, want (${in.samples}, ${in.checksum})")
    Stats.deleteRecursively(dir)
    Iteration(ms, ok, blockBytes, walBytes, storeBytes, storeFiles)
  }

  def timed(): Result = {
    val (in, setupMs) = Setup.repeated[Input](_ => setUp(), _.close())
    Stats.phase("set-up")
    // one untimed iteration: iterations get faster for several more,
    // and a smaller warm-up left the first timed one 50% slower
    iterate(-1, in, None)
    Stats.phase("warm-up")
    val deadline = Stats.nowMs + args.seconds * 1000
    val its = Iterator.from(0).takeWhile(_ => Stats.nowMs < deadline)
      .map(iterate(_, in, None)).toVector
    System.err.println("perfbench: iterations " + its.map(i => f"${i.ms}%.0f").mkString(" ") + " ms")
    val med = Stats.median(its.map(_.ms))
    Result(its.size, its.count(!_.ok), Seq(
      Metric("setup_s", Stats.median(setupMs) / 1000, "s"),
      Metric("latency_ms", med, "ms"),
      Metric("throughput_per_s", in.samples / (med / 1000), "1/s"),
      Metric("parquet_bytes_per_sample", Stats.mean(its.map(_.storeBytes.toDouble)) / in.samples, "B"),
      Metric("live_heap_mb", Stats.liveHeapMb(), "MiB")))
  }

  def traced(): Result = {
    val in = setUp()
    iterate(-1, in, None)
    // untraced and traced iterations take turns, twice each, so
    // warming up does not bias the tracing overhead
    val trace = new Trace(spark)
    val phases = (0 until 4).map { p =>
      val t = if (p % 2 == 1) { trace.start(); Some(trace) } else None
      val end = Stats.nowMs + args.seconds / 4 * 1000
      val its = Iterator.from(100 * p).takeWhile(_ => Stats.nowMs < end)
        .map(iterate(_, in, t)).toVector
      t.foreach(_.stop())
      its
    }
    val plain = phases(0) ++ phases(2)
    val traced = phases(1) ++ phases(3)
    def layer(name: String) = trace.spans.filter(_.layer == name).toSeq
    def works(name: String) = layer(name).map(trace.workWithin)
    val its = trace.spans.filter(_.layer == "block_writer").toSeq.map { b =>
      // an iteration runs from its block write to the end of its store write
      val s = layer("store").find(_.start >= b.start).get
      Trace.Span("iteration", "call", b.start, s.end)
    }
    val cat = its.map(trace.catalyst)
    val ops = (plain ++ traced).map(i => Op("iteration", i.ms, i.ok))
    Result(ops.size, ops.count(!_.ok), Layers.complete(Seq(
      Metric("catalyst.analysis_ms", Stats.median(cat.map(_._1)), "ms"),
      Metric("catalyst.optimization_ms", Stats.median(cat.map(_._2)), "ms"),
      Metric("catalyst.planning_ms", Stats.median(cat.map(_._3)), "ms")) ++
      LayerMetrics.exec(its.map(trace.workWithin)) ++ Seq(
      Metric("block_writer.ms", Stats.median(layer("block_writer").map(_.ms)), "ms"),
      Metric("block_writer.cpu_s", Stats.mean(works("block_writer").map(_.cpuS)), "s"),
      Metric("block_writer.shuffle_bytes", Stats.mean(works("block_writer").map(_.shuffleWrite.toDouble)), "B"),
      Metric("block_writer.spill_bytes", Stats.mean(works("block_writer").map(_.spill.toDouble)), "B"),
      Metric("block_writer.bytes_written", Stats.mean(traced.map(_.blockBytes.toDouble)), "B"),
      Metric("wal_writer.ms", Stats.median(layer("wal_writer").map(_.ms)), "ms"),
      Metric("wal_writer.cpu_s", Stats.mean(works("wal_writer").map(_.cpuS)), "s"),
      Metric("wal_writer.bytes_written", Stats.mean(traced.map(_.walBytes.toDouble)), "B"),
      Metric("datadir_read.planning_ms", Stats.median(layer("datadir_read").map(trace.catalyst(_)._3)), "ms"),
      Metric("datadir_read.ms", Stats.median(layer("datadir_read").map(_.ms)), "ms"),
      Metric("datadir_read.cpu_s", Stats.mean(works("datadir_read").map(_.cpuS)), "s"),
      Metric("datadir_read.records_read", Stats.mean(works("datadir_read").map(_.recordsRead.toDouble)), "count"),
      Metric("store.write_ms", Stats.median(layer("store").map(_.ms)), "ms"),
      Metric("store.cpu_s", Stats.mean(works("store").map(_.cpuS)), "s"),
      Metric("store.bytes_written", Stats.mean(traced.map(_.storeBytes.toDouble)), "B"),
      Metric("store.files", Stats.mean(traced.map(_.storeFiles.toDouble)), "count")) ++
      Layers.overhead(plain.map(i => Op("iteration", i.ms, i.ok)),
        traced.map(i => Op("iteration", i.ms, i.ok)))))
  }
}

object Roundtrip {
  final case class Iteration(ms: Double, ok: Boolean, blockBytes: Long, walBytes: Long,
                             storeBytes: Long, storeFiles: Int)
}
