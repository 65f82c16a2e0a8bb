package graft.tsdb

import java.net.{Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sum, udf}

import graft.SparkSpec

/** The server runs request handlers on a bounded pool: a stalled
  * client holds one handler, concurrent answers equal serial ones,
  * concurrent writers lose nothing while reads stay live, a held read
  * neither blocks pushes nor sees them, a push becomes visible all at
  * once, each request's Spark jobs carry their own job group,
  * overlapping admin requests lose no tombstones, and the pool's
  * threads end with the server. */
class PromHttpConcurrencySpec extends SparkSpec {
  import PromHttpConcurrencySpec._
  import spark.implicits._

  private val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(5)).build()

  private def get(port: Int, path: String, params: (String, String)*)
      : (Int, String) = {
    val q = params.map { case (k, v) =>
      s"$k=${java.net.URLEncoder.encode(v, UTF_8)}" }.mkString("&")
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path?$q"))
        .timeout(Duration.ofSeconds(60)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(port: Int, path: String, body: Array[Byte]): Int =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .timeout(Duration.ofSeconds(60))
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.discarding()).statusCode()

  private val T0 = 1700000000000L
  private val StepMs = 15000L
  private val Steps = 240 // one hour
  private def sec(ms: Long): String = (ms / 1000).toString
  private val endMs = T0 + (Steps - 1) * StepMs

  /** A small dashboard store: request counters, latency buckets and a
    * gauge per (job, instance), one sample every 15 s for an hour. */
  private lazy val store: DataFrame = {
    val rows = for {
      job <- Seq("api", "web"); inst <- Seq("i0", "i1")
      k <- 0 until Steps
    } yield {
      val t = T0 + k * StepMs
      val s = (if (job == "api") 1 else 2) * (if (inst == "i0") 1 else 3)
      Seq("200", "500").map(code => (t, (s * k * (if (code == "200") 5 else 1)).toDouble,
          "http_requests_total", job, inst, Some(code), None)) ++
        Seq("0.1", "0.5", "1", "+Inf").zipWithIndex.map { case (le, i) =>
          (t, (s * k * (i + 1)).toDouble, "http_request_duration_seconds_bucket",
            job, inst, None, Some(le)) } :+
        ((t, (s * 10 + k % 7).toDouble, "go_goroutines", job, inst,
          Option.empty[String], Option.empty[String]))
    }
    rows.flatten.toDF("time", "value", "labels.__name__", "labels.job",
      "labels.instance", "labels.code", "labels.le")
  }

  /** The six panel shapes of a Grafana dashboard. */
  private lazy val panels: Seq[(String, Seq[(String, String)])] = {
    val rng = Seq("start" -> sec(endMs - 3600000L), "end" -> sec(endMs), "step" -> "60")
    Seq(
      "/api/v1/query_range" -> (("query" -> "sum by (job) (rate(http_requests_total[5m]))") +: rng),
      "/api/v1/query_range" -> (("query" -> ("histogram_quantile(0.9, sum without (instance) " +
        "(rate(http_request_duration_seconds_bucket[5m])))")) +: rng),
      "/api/v1/query" -> Seq("query" ->
        """topk(5, sum by (instance) (rate(http_requests_total{code="500"}[5m])))""",
        "time" -> sec(endMs)),
      "/api/v1/query_range" -> (("query" -> """avg_over_time(go_goroutines{job="api"}[10m])""") +: rng),
      "/api/v1/query" -> Seq("query" -> """http_requests_total{job="api",instance="i0"}""",
        "time" -> sec(endMs)),
      "/api/v1/series" -> Seq("match[]" -> """http_requests_total{job="web"}""",
        "start" -> sec(endMs - 3600000L), "end" -> sec(endMs)))
  }

  private def withServer[A](srv: PromHttpServer)(f: Int => A): A = {
    val port = srv.start()
    try f(port) finally srv.stop()
  }

  private def inParallel[A](n: Int)(f: Int => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence((0 until n).map(i => Future(f(i)))), 5.minutes)
    finally pool.shutdownNow(): Unit
  }

  private def graftHttpThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-http-")).toSet

  test("a stalled client cannot block the server") {
    withServer(new PromHttpServer(spark, store)) { port =>
      // a remote-write body that announces 100 bytes and sends 10: its
      // handler waits in the body read for the other 90
      val stalled = new Socket("127.0.0.1", port)
      try {
        val out = stalled.getOutputStream
        out.write(("POST /api/v1/write HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
          "Content-Type: application/x-protobuf\r\nContent-Length: 100\r\n\r\n")
          .getBytes(UTF_8))
        out.write(new Array[Byte](10))
        out.flush()
        Thread.sleep(300)
        val r = client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/-/healthy"))
            .timeout(Duration.ofSeconds(5)).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 200, r.body())
      } finally stalled.close()
    }
  }

  test("concurrent answers are byte-identical to the serial answers") {
    withServer(new PromHttpServer(spark, store)) { port =>
      val serial = panels.map { case (p, ps) => get(port, p, ps: _*) }
      serial.foreach { case (c, b) => assert(c == 200, b) }
      // every panel answers with data, so the comparison is not vacuous
      serial.foreach { case (_, b) => assert(!b.contains(""""result":[]""") &&
        b != """{"status":"success","data":[]}""", b) }
      val mismatches = inParallel(8) { t =>
        val order = (0 until 3).flatMap(_ => panels.indices)
        new scala.util.Random(t).shuffle(order).flatMap { i =>
          val (p, ps) = panels(i)
          val got = get(port, p, ps: _*)
          if (got == serial(i)) None else Some(s"panel $i: $got vs ${serial(i)}")
        }
      }.flatten
      assert(mismatches.isEmpty, mismatches.take(2).mkString("\n"))
    }
  }

  test("concurrent writers lose no acknowledged sample") {
    val srv = new PromHttpServer(spark, store)
    withServer(srv) { port =>
      val (baseRows, baseSum) = {
        val r = store.agg(sum("value")).collect().head
        (store.count(), r.getDouble(0))
      }
      val writers = 8
      val writesEach = 8
      val acked = new ConcurrentLinkedQueue[Seq[Double]]()
      val liveQueries = new ConcurrentLinkedQueue[Int]()
      val writersDone = new CountDownLatch(writers)
      inParallel(writers + 2) { i =>
        if (i < writers) try {
          (0 until writesEach).foreach { w =>
            val values = (0 until 3).map(j => (i * 1000 + w * 10 + j).toDouble)
            val payload = RemoteWrite.encodeRequest(Seq(RemoteWrite.encodeSeries(
              Seq("__name__" -> "pushed_total", "writer" -> i.toString, "w" -> w.toString),
              values.zipWithIndex.map { case (v, j) => (endMs + 1000L * (j + 1), v) })))
            if (post(port, "/api/v1/write", payload) == 204) acked.add(values)
          }
        } finally writersDone.countDown()
        else while (writersDone.getCount > 0) liveQueries.add(get(port, "/api/v1/query",
          "query" -> "sum by (job) (rate(http_requests_total[5m]))",
          "time" -> sec(endMs))._1)
      }
      assert(acked.size == writers * writesEach)
      assert(liveQueries.asScala.nonEmpty && liveQueries.asScala.forall(_ == 200))
      val pushed = acked.asScala.toSeq.flatten
      val head = srv.table
      assert(head.count() == baseRows + pushed.size)
      assert(math.abs(head.agg(sum("value")).collect().head.getDouble(0) -
        (baseSum + pushed.sum)) < 1e-6)
    }
  }

  test("a held read neither blocks pushes nor sees them") {
    val q = Seq("query" -> """sum({job="api"})""", "time" -> sec(endMs))
    val before = withServer(new PromHttpServer(spark, store))(get(_, "/api/v1/query", q: _*))
    assert(before._1 == 200 && !before._2.contains(""""result":[]"""), before)
    // the store's values pass through a UDF that, inside a query
    // request's Spark job, holds its task until released
    Gate.arm()
    val gated = store.coalesce(1).withColumn("value", holdInQueries(col("value")))
    withServer(new PromHttpServer(spark, gated)) { port =>
      val pushes = 5
      val whileHeld = new ConcurrentLinkedQueue[(Seq[Int], Boolean)]()
      val answers = inParallel(2) { i =>
        if (i == 0) get(port, "/api/v1/query", q: _*)
        else {
          // the last field: the read was still held after every push
          try if (Gate.entered.await(120, TimeUnit.SECONDS))
            whileHeld.add(((0 until pushes).map(w => post(port, "/api/v1/write",
              RemoteWrite.encodeRequest(Seq(RemoteWrite.encodeSeries(
                Seq("__name__" -> "late_total", "job" -> "api", "w" -> w.toString),
                Seq((endMs, 1.0))))))), Gate.release.getCount == 1))
          finally Gate.release.countDown()
          (0, "")
        }
      }
      assert(Gate.entered.getCount == 0, "the read never ran its job")
      assert(whileHeld.asScala.toSeq == Seq((Seq.fill(pushes)(204), true)),
        s"pushes during the held read: ${whileHeld.asScala}")
      // the held read answers from the snapshot it started with
      assert(answers.head == before)
      val (c, b) = get(port, "/api/v1/query",
        "query" -> """count({job="api"})""", "time" -> sec(endMs))
      assert(c == 200 && b.contains(s""","${14 + pushes}.0"]"""), b)
    }
  }

  test("a concurrent poller never sees part of a push") {
    val srv = new PromHttpServer(spark, store)
    withServer(srv) { port =>
      // one TimeSeries message per push: labels, the float sample and
      // its exemplar, then the histogram field (protobuf fields of one
      // message concatenate)
      def push(k: Int): Array[Byte] = {
        val t = endMs + 1000L * (k + 1)
        RemoteWrite.encodeRequest(Seq(
          RemoteWrite.encodeSeriesWithExemplars(
            Seq("__name__" -> "held_seconds", "job" -> "api"), Seq((t, k.toDouble)),
            Seq((Seq("trace_id" -> s"trace-$k"), k.toDouble, t))) ++
          RemoteWrite.encodeSeriesWithHistograms(Nil, Seq(RemoteWrite.SparseHist(
            t, Map.empty, k.toDouble, k.toDouble, 0, 0.0, 0.0, Seq((1, k.toDouble)), Nil)))))
      }
      val pushes = 30
      type Snapshot = (DataFrame, Option[DataFrame], Option[DataFrame])
      def same(a: Snapshot, b: Snapshot): Boolean = (a._1 eq b._1) &&
        (a._2.orNull eq b._2.orNull) && (a._3.orNull eq b._3.orNull)
      // the poller keeps every distinct snapshot it reads while the
      // pushes go on; each is counted afterwards
      val seen = new ConcurrentLinkedQueue[Snapshot]()
      val pushing = new CountDownLatch(1)
      val codes = inParallel(2) { i =>
        if (i == 0) try (0 until pushes).map(k => post(port, "/api/v1/write", push(k)))
        finally pushing.countDown()
        else {
          var last: Snapshot = null
          while (pushing.getCount > 0) {
            val s = srv.snapshotTables
            if (last == null || !same(s, last)) { seen.add(s); last = s }
          }
          Nil
        }
      }
      assert(codes.head == Seq.fill(pushes)(204))
      val held = col("`labels.__name__`") === "held_seconds"
      val counts = seen.asScala.toSeq.map { case (f, h, e) =>
        (f.where(held).count(), h.fold(0L)(_.where(held).count()),
          e.fold(0L)(_.where(held).count()))
      }
      assert(counts.size > 1, "the poller saw no push land")
      counts.foreach { case (f, h, e) =>
        assert(f == h && h == e, s"a snapshot holds part of a push: $counts")
      }
      val (f, h, e) = srv.snapshotTables
      assert((f.where(held).count(), h.get.count(), e.get.count()) ==
        ((pushes.toLong, pushes.toLong, pushes.toLong)))
    }
  }

  test("each request's Spark jobs run under their own job group") {
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("graft-http-"))
          .foreach(g => jobs.add((e.properties.getProperty("spark.job.description"), g)))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (rangePath, rangeParams) = panels.head
      val (instantPath, instantParams) = panels(2)
      // two overlapping requests: each one's scan task waits until both
      // requests have one running
      Overlap.arm()
      val overlapping = store.coalesce(1).withColumn("value", meetInQueries(col("value")))
      val both = withServer(new PromHttpServer(spark, overlapping)) { port =>
        inParallel(2)(_ => get(port, rangePath, rangeParams: _*)._1)
      }
      assert(both == Seq(200, 200))
      assert(Overlap.met.getCount == 0, "the two requests did not overlap")
      // one more request in turn than the pool has threads: the last
      // runs on a thread an earlier request used
      val serial = PromHttpServer.MaxConcurrency + 1
      withServer(new PromHttpServer(spark, store)) { port =>
        (0 until serial).foreach(_ =>
          assert(get(port, instantPath, instantParams: _*)._1 == 200))
      }
      // the listener bus is asynchronous: wait until it goes quiet
      var seen = -1
      while (seen != jobs.size) { seen = jobs.size; Thread.sleep(500) }
      val groups = jobs.asScala.toSeq.groupMap(_._1)(_._2).map { case (d, gs) => d -> gs.toSet }
      assert(groups.keySet == Set(rangePath, instantPath), groups)
      // the overlapping requests ran under two distinct groups
      assert(groups(rangePath).size == 2, groups)
      // every serial request, the reused thread's included, ran under a
      // fresh group of its own
      assert(groups(instantPath).size == serial, groups)
      assert((groups(instantPath) ++ groups(rangePath)).size == serial + 2, groups)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("overlapping delete_series requests keep every request's stones") {
    import graft.sources.tsdbblock.{BlockMeta, Tombstones, TsdbBlockWriter,
      TsdbDb, TsdbWalWriter}
    // one block and one WAL, each holding one series per job
    val jobs = (0 until 16).map(j => s"j$j")
    val db = tmpDir("graft_admin_overlap_")
    TsdbBlockWriter.write(jobs.map(j => (1000L, 1.0, Map("__name__" -> "up", "job" -> j)))
      .toDF("time", "value", "labels"), db)
    TsdbWalWriter.write(jobs.map(j => (3000L, 2.0, Map("__name__" -> "up", "job" -> j)))
      .toDF("time", "value", "labels"), s"$db/wal", partitions = 1)
    assert(TsdbDb.read(spark, db).count() == 2 * jobs.size)
    withServer(new PromHttpServer(spark, store, dataDir = Some(db), adminApi = true)) { port =>
      // every request deletes its own job, all at once
      val codes = inParallel(jobs.size) { i =>
        val sel = java.net.URLEncoder.encode(s"""{job="${jobs(i)}"}""", UTF_8)
        client.send(
          HttpRequest.newBuilder(URI.create(
            s"http://127.0.0.1:$port/api/v1/admin/tsdb/delete_series?match[]=$sel"))
            .timeout(Duration.ofSeconds(60))
            .POST(HttpRequest.BodyPublishers.noBody()).build(),
          HttpResponse.BodyHandlers.discarding()).statusCode()
      }
      assert(codes.forall(_ == 204), codes)
    }
    // the block holds one stone per job, and neither the block's nor
    // the WAL's samples survive
    val blocks = BlockMeta.list(db)
    assert(blocks.size == 1)
    assert(Tombstones.read(s"${blocks.head.dir}/tombstones").size == jobs.size)
    val left = TsdbDb.read(spark, db).collect()
      .map(r => r.getAs[Map[String, String]]("labels")("job")).toSeq
    assert(left.isEmpty, left.sorted)
  }

  test("the handler pool is daemon, ends with stop(), and restarts fresh") {
    val before = graftHttpThreads
    val srv = new PromHttpServer(spark, store)
    val port = srv.start()
    inParallel(3)(_ => get(port, "/-/healthy"))
    val mine = graftHttpThreads -- before
    assert(mine.nonEmpty && mine.forall(_.isDaemon), mine.map(_.getName))
    srv.stop()
    val deadline = System.currentTimeMillis() + 2000
    while (mine.exists(_.isAlive) && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(!mine.exists(_.isAlive), mine.filter(_.isAlive).map(_.getName))
    // start → stop → start serves again, on a fresh pool
    val port2 = srv.start()
    try assert(get(port2, "/-/healthy") == ((200, "OK")))
    finally srv.stop()
  }
}

object PromHttpConcurrencySpec {
  /** Holds a query request's store-reading task until released. */
  object Gate {
    @volatile var entered = new CountDownLatch(1)
    @volatile var release = new CountDownLatch(1)
    def arm(): Unit = { entered = new CountDownLatch(1); release = new CountDownLatch(1) }
  }

  /** Lets a query request's scan task pass once two such tasks run. */
  object Overlap {
    @volatile var met = new CountDownLatch(2)
    def arm(): Unit = met = new CountDownLatch(2)
  }

  private def description: String =
    Option(TaskContext.get()).flatMap(tc =>
      Option(tc.getLocalProperty("spark.job.description"))).getOrElse("")

  val holdInQueries = udf { (v: Double) =>
    if (description == "/api/v1/query" && Gate.release.getCount > 0) {
      Gate.entered.countDown()
      // released by the test, or on timeout (nothing answered while held)
      Gate.release.await(30, TimeUnit.SECONDS)
      Gate.release.countDown()
    }
    v
  }

  val meetInQueries = udf { (v: Double) =>
    if (description.startsWith("/api/v1/query") && Overlap.met.getCount > 0) {
      Overlap.met.countDown()
      Overlap.met.await(20, TimeUnit.SECONDS)
    }
    v
  }
}
