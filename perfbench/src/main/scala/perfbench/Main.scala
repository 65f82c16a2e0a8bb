package perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work-dir <dir>`.
  * Prints one JSON object as the last line of standard output. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, workDir: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.get("trace").contains("1"), kv("work-dir"))
    val spark = session(args.workDir)
    Stats.phase("spark session")
    val result = try {
      val w: Workload = args.workload match {
        case "dashboard" => new Dashboard(spark, args)
        case "tsdb_roundtrip" => new Roundtrip(spark, args)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (args.trace) w.traced() else w.timed()
    } finally spark.stop()
    Stats.phase("done")
    println(result.json)
    System.out.flush()
    // the JDK HTTP client keeps non-daemon selector threads alive
    sys.exit(0)
  }

  private def session(workDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$workDir/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** One workload. `timed()` measures the end-to-end metrics with no
  * tracing; `traced()` runs a separate, traced pass for the per-layer
  * metrics. */
trait Workload {
  def timed(): Result
  def traced(): Result
}

/** One operation of a timed phase; `endMs` is when it completed. */
final case class Op(kind: String, latencyMs: Double, ok: Boolean,
                    endMs: Double = Stats.nowMs)

final case class Metric(name: String, value: Double, unit: String)

final case class Result(attempted: Long, failed: Long, metrics: Seq[Metric]) {
  def json: String = {
    val ms = metrics.map { m =>
      s""""${m.name}": {"value": ${fmt(m.value)}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); NaN when empty. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def nowMs: Double = System.nanoTime() / 1e6

  /** Note on standard error how far into the run a phase ended. */
  def phase(name: String): Unit = System.err.println(
    f"perfbench: $name at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s")

  def time[T](body: => T): (T, Double) = {
    val t = nowMs
    val r = body
    (r, nowMs - t)
  }

  /** Heap in use after a full collection, in MiB. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Bytes under a directory (recursively). */
  def dirSize(f: java.io.File): Long =
    if (f.isDirectory) f.listFiles().map(dirSize).sum else f.length()

  /** Parquet data files and their bytes under a store directory. */
  def parquetSize(dir: java.io.File): (Long, Int) = {
    val fs = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (fs.map(_.length()).sum, fs.length)
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

/** Set-up is repeated this many times per run and `setup_s` is the
  * median, so work moved into set-up shows in a steady number. */
object Setup {
  val Reps = 3

  def repeated[E](make: Int => E, close: E => Unit): (E, Seq[Double]) = {
    val runs = (0 until Reps).map(rep => Stats.time(make(rep)))
    runs.init.foreach(r => close(r._1))
    (runs.last._1, runs.map(_._2))
  }
}

/** A closed loop: each client sends its next operation only after the
  * previous one completes, until the deadline. Operations that started
  * before the deadline are counted. */
object ClosedLoop {
  def run(seconds: Double, clients: Seq[Int => Op]): Seq[Op] = {
    val deadline = Stats.nowMs + seconds * 1000
    val results = clients.map(_ => mutable.ArrayBuffer.empty[Op])
    val threads = clients.zip(results).map { case (next, out) =>
      new Thread(() => {
        var i = 0
        while (Stats.nowMs < deadline) { out += next(i); i += 1 }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    results.flatten
  }
}

/** Loopback HTTP client. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port"

  def get(path: String, params: Seq[(String, String)]): (Int, String) = {
    val q = params.map { case (k, v) =>
      URLEncoder.encode(k, UTF_8) + "=" + URLEncoder.encode(v, UTF_8) }.mkString("&")
    val r = client.send(HttpRequest.newBuilder(URI.create(s"$base$path?$q")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  def post(path: String, body: Array[Byte]): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
      .header("Content-Encoding", "snappy")
      .header("Content-Type", "application/x-protobuf")
      .header("X-Prometheus-Remote-Write-Version", "0.1.0")
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
}

/** Set when a check fails, so a workload can report the first reason
  * on standard error without aborting the run. */
final class FailureLog {
  private val reported = new AtomicBoolean(false)
  def apply(what: String, why: String): Unit =
    if (reported.compareAndSet(false, true))
      System.err.println(s"check failed: $what: $why")
}
