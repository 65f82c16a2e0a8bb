package perfbench

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The seeded input generator. The seed sets values (rates, phases,
  * request orders, evaluation times), never sizes: every seed gives
  * 4 jobs × 10 instances × 16 series = 640 series, one sample every
  * 15 s over 6 h (921,600 samples), plus one native histogram series
  * per instance that only remote-write pushes carry.
  *
  * Every float series follows one closed form,
  * `value(k) = a + b·k + c·sin(w·k + phi)` for sample index k, so the
  * output checks can compute any expected value (and any counter's
  * rate) without reading the data back. Counters start from a day's
  * worth of prior count, so `rate` never extrapolates to zero. */
final class Corpus(val seed: Long) {
  import Corpus._

  val series: IndexedSeq[SeriesDef] = {
    val rnd = new Rng(seed)
    for {
      (job, j) <- Jobs.zipWithIndex
      i <- 0 until InstancesPerJob
      s <- instanceSeries(job, s"10.0.$j.${i + 10}:9100", rnd)
    } yield s
  }.zipWithIndex.map { case (s, id) => s.copy(id = id) }

  /** Native histogram series (`rpc_duration_seconds`), one per instance. */
  val hists: IndexedSeq[HistDef] = {
    val rnd = new Rng(seed ^ 0x5eed4157L)
    for {
      (job, j) <- Jobs.zipWithIndex
      i <- 0 until InstancesPerJob
    } yield HistDef(job, s"10.0.$j.${i + 10}:9100",
      (0 until HistBuckets).map(_ => 1 + rnd.nextInt(20)))
  }

  def value(s: SeriesDef, k: Int): Double =
    s.a + s.b * k + s.c * math.sin(s.w * k + s.phi)

  def timeOf(k: Int): Long = T0 + k.toLong * StepMs

  /** Per-second rate of a counter series (exact for the linear form). */
  def rate(s: SeriesDef): Double = s.b / (StepMs / 1000.0)

  /** Long-form samples `(time, value, labels)` of `of` with `k` in
    * [kFrom, kTo), the metric name under `__name__`. */
  def longForm(spark: SparkSession, kFrom: Int, kTo: Int,
               of: IndexedSeq[SeriesDef] = series): DataFrame = {
    import spark.implicits._
    val defs = of.map(s => (s.labels.updated("__name__", s.metric),
      s.a, s.b, s.c, s.w, s.phi))
      .toDF("labels", "a", "b", "c", "w", "phi")
    val ks = spark.range(kFrom, kTo).toDF("k")
    defs.crossJoin(ks).select(
      (lit(T0) + col("k") * lit(StepMs)).as("time"),
      (col("a") + col("b") * col("k").cast("double") +
        col("c") * sin(col("w") * col("k").cast("double") + col("phi")))
        .as("value"),
      col("labels"))
  }

  /** Sum of every sample value of `of` with k in [kFrom, kTo): the
    * checksum the round trip's read-back must reproduce. */
  def valueSum(kFrom: Int, kTo: Int, of: IndexedSeq[SeriesDef]): Double = {
    var acc = 0.0
    of.foreach { s => var k = kFrom; while (k < kTo) { acc += value(s, k); k += 1 } }
    acc
  }

  /** Cumulative bucket counts of histogram `h` at sample k (integer
    * counts: `perStep · (PriorSteps + k)`). */
  def histBuckets(h: HistDef, k: Int): IndexedSeq[Double] =
    h.perStep.map(_.toDouble * (PriorSteps + k))

  /** One remote-write v1 request per scrape-minute (4 scrapes) for
    * scrapes in [kFrom, kTo): every float series and every native
    * histogram, in time order. */
  def remoteWritePayloads(kFrom: Int, kTo: Int): IndexedSeq[Payload] =
    (kFrom until kTo by ScrapesPerRequest).map { k0 =>
      val k1 = math.min(k0 + ScrapesPerRequest, kTo)
      val w = new Proto
      series.foreach { s =>
        val ts = new Proto
        labelsOf(s.labels.updated("__name__", s.metric)).foreach(ts.bytes(1, _))
        (k0 until k1).foreach { k =>
          val smp = new Proto
          smp.fixed64(1, java.lang.Double.doubleToRawLongBits(value(s, k)))
          smp.int64(2, timeOf(k))
          ts.bytes(2, smp.toBytes)
        }
        w.bytes(1, ts.toBytes)
      }
      hists.foreach { h =>
        val ts = new Proto
        labelsOf(Map("__name__" -> HistMetric, "job" -> h.job,
          "instance" -> h.instance)).foreach(ts.bytes(1, _))
        (k0 until k1).foreach(k => ts.bytes(4, histogramMsg(h, k)))
        w.bytes(1, ts.toBytes)
      }
      Payload(org.xerial.snappy.Snappy.compress(w.toBytes),
        series.size * (k1 - k0), hists.size * (k1 - k0))
    }

  private def histogramMsg(h: HistDef, k: Int): Array[Byte] = {
    val counts = histBuckets(h, k)
    val m = new Proto
    m.fixed64(2, java.lang.Double.doubleToRawLongBits(counts.sum)) // count_float
    m.fixed64(3, java.lang.Double.doubleToRawLongBits(
      counts.zipWithIndex.map { case (c, i) => c * math.pow(2, i + 0.5) }.sum))
    m.key(4, 0); m.varint(0) // schema 0 (zigzag 0)
    m.fixed64(5, java.lang.Double.doubleToRawLongBits(0.0)) // zero_threshold
    m.fixed64(7, java.lang.Double.doubleToRawLongBits(0.0)) // zero_count_float
    val span = new Proto
    span.key(1, 0); span.varint(2L) // offset 1, zigzag-encoded
    span.int64(2, counts.size.toLong)
    m.bytes(11, span.toBytes) // positive span: buckets 1..HistBuckets
    val packed = new ByteArrayOutputStream()
    counts.foreach { c =>
      var x = java.lang.Double.doubleToRawLongBits(c); var i = 0
      while (i < 8) { packed.write((x & 0xff).toInt); x >>>= 8; i += 1 }
    }
    m.bytes(13, packed.toByteArray) // positive_counts (float form)
    m.int64(15, timeOf(k))
    m.toBytes
  }

  private def labelsOf(ls: Map[String, String]): Seq[Array[Byte]] =
    ls.toSeq.sortBy(_._1).map { case (n, v) =>
      val l = new Proto; l.string(1, n); l.string(2, v); l.toBytes
    }

  /** A dashboard client's request sequence: `n` requests in blocks
    * that each hold every panel shape once, in a seeded order. The j-th
    * request of a shape evaluates at a point of a Weyl sequence from a
    * seeded start, and cycles through the jobs, so any run sees the
    * shapes in near-equal shares and each shape's evaluation times
    * spread evenly over the data, whatever the seed. */
  def requests(client: Int, n: Int): IndexedSeq[Request] = {
    val rnd = new Rng(seed * 31 + client)
    val starts = DashboardShapes.map(_ => (rnd.nextDouble(), rnd.nextInt(Jobs.size))).toArray
    val seen = Array.fill(DashboardShapes.size)(0)
    Iterator.continually(shuffle(DashboardShapes, rnd)).flatten.take(n).map { shape =>
      val s = DashboardShapes.indexOf(shape)
      val j = seen(s)
      seen(s) += 1
      val u = (starts(s)._1 + j * Golden) % 1.0
      Request(shape, Jobs((starts(s)._2 + j) % Jobs.size), rnd.nextInt(InstancesPerJob),
        MinEvalStep + (u * (Steps - MinEvalStep)).toInt)
    }.toIndexedSeq
  }

  private def shuffle(xs: IndexedSeq[String], rnd: Rng): IndexedSeq[String] = {
    val a = xs.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  def instanceOf(job: String, i: Int): String =
    s"10.0.${Jobs.indexOf(job)}.${i + 10}:9100"
}

object Corpus {
  val Jobs: IndexedSeq[String] = IndexedSeq("api", "checkout", "search", "auth")
  val InstancesPerJob = 10
  val StepMs = 15000L
  val Steps: Int = 6 * 240 // 6 h of 15 s scrapes
  /** 2023-11-14T22:00Z: a 2 h boundary, so the block writer cuts at
    * hours 2 and 4 as Prometheus's head compaction would. */
  val T0 = 1700000000000L / 7200000L * 7200000L + 7200000L
  val PriorSteps = 5760 // one day of counts before T0
  /** Earliest evaluation scrape: 1 h 10 min in, so the 1 h range
    * panels see full 5 min rate and 10 min average windows only. */
  val MinEvalStep = 280
  val ScrapesPerRequest = 4
  private val Golden = 0.6180339887498949
  val HistMetric = "rpc_duration_seconds"
  val HistBuckets = 6
  val Les: IndexedSeq[String] =
    IndexedSeq("0.005", "0.01", "0.025", "0.05", "0.1", "0.25", "1", "+Inf")

  val DashboardShapes: IndexedSeq[String] = IndexedSeq(
    "rate_sum", "hist_quantile", "topk", "avg_over_time", "selector", "series")

  final case class SeriesDef(id: Int, metric: String,
                             labels: Map[String, String],
                             a: Double, b: Double, c: Double,
                             w: Double, phi: Double)

  final case class HistDef(job: String, instance: String,
                           perStep: IndexedSeq[Int])

  /** One pre-encoded remote-write request and the samples it carries. */
  final case class Payload(bytes: Array[Byte], floatSamples: Int, histSamples: Int)

  final case class Request(shape: String, job: String, instance: Int, k: Int)

  private def instanceSeries(job: String, instance: String,
                             rnd: Rng): Seq[SeriesDef] = {
    val base = Map("job" -> job, "instance" -> instance)
    def counter(metric: String, extra: Map[String, String],
                perSec: Double) = {
      val b = perSec * StepMs / 1000.0
      SeriesDef(0, metric, base ++ extra, b * PriorSteps, b, 0.0, 0.0, 0.0)
    }
    val gauge = SeriesDef(0, "go_goroutines", base,
      50 + 150 * rnd.nextDouble(), 0.0, 5 + 20 * rnd.nextDouble(),
      2 * math.Pi / (120 + rnd.nextInt(240)), 2 * math.Pi * rnd.nextDouble())
    val cpu = counter("process_cpu_seconds_total", Map.empty,
      0.01 + 0.5 * rnd.nextDouble())
    val requests = for (m <- Seq("GET", "POST"); c <- Seq("200", "500"))
      yield counter("http_requests_total", Map("method" -> m, "code" -> c),
        if (c == "200") 1 + 20 * rnd.nextDouble() else 0.01 + rnd.nextDouble())
    val perSec = 1 + 10 * rnd.nextDouble()
    val weights = Seq.fill(Les.size)(0.2 + rnd.nextDouble())
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    val buckets = Les.zip(cum).map { case (le, f) =>
      counter("http_request_duration_seconds_bucket", Map("le" -> le),
        if (le == "+Inf") perSec else perSec * f)
    }
    val mean = 0.05 + 0.25 * rnd.nextDouble()
    Seq(gauge, cpu) ++ requests ++ buckets ++ Seq(
      counter("http_request_duration_seconds_sum", Map.empty, perSec * mean),
      counter("http_request_duration_seconds_count", Map.empty, perSec))
  }

  /** SplitMix64: a small, fully specified generator, so the same seed
    * gives the same inputs on every JVM. */
  final class Rng(seed: Long) {
    private var state = seed
    def nextLong(): Long = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextInt(n: Int): Int = ((nextLong() >>> 33) % n).toInt
  }

  /** Minimal protobuf writer for the remote-write wire format. */
  final class Proto {
    private val buf = new ByteArrayOutputStream()
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { buf.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      buf.write(v.toInt)
    }
    def key(field: Int, wire: Int): Unit = varint((field << 3 | wire).toLong)
    def bytes(field: Int, b: Array[Byte]): Unit = {
      key(field, 2); varint(b.length.toLong); buf.write(b)
    }
    def string(field: Int, s: String): Unit = bytes(field, s.getBytes("UTF-8"))
    def fixed64(field: Int, bits: Long): Unit = {
      key(field, 1)
      var x = bits; var i = 0
      while (i < 8) { buf.write((x & 0xff).toInt); x >>>= 8; i += 1 }
    }
    def int64(field: Int, v: Long): Unit = { key(field, 0); varint(v) }
    def toBytes: Array[Byte] = buf.toByteArray
  }
}
