package perfbench

import java.io.File

import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Union

import graft.tsdb.{PromHttpServer, PromQL, RemoteWrite, TsdbIngest, TsdbMeta, TsdbTable}

import Corpus._
import Dashboard._

/** `dashboard`: two closed-loop clients, each sending a seeded sequence
  * of six Grafana panel shapes to `PromHttpServer` over the Parquet
  * store of the whole corpus. The timed runs are read-only. The traced
  * run also pushes remote-write requests after its query replay, to
  * measure the receiver and the served head. */
final class Dashboard(spark: SparkSession, args: Main.Args) extends Workload {
  private val corpus = new Corpus(args.seed)
  private val checks = new Checks(corpus)
  private val fail = new FailureLog
  private val Clients = 2
  private val LookbackMs = 300000L
  private val Samples = corpus.series.size.toLong * Steps
  /** The receiver consolidates its head every 32 appends. */
  private val ConsolidateEvery = 32
  private val WarmupQueries = 3 * DashboardShapes.size

  final class Env(val dir: File, val server: PromHttpServer, val http: Http) {
    val (storeBytes, storeFiles) = Stats.parquetSize(new File(dir, "store"))
    def close(): Unit = { server.stop(); Stats.deleteRecursively(dir) }
  }

  /** Write the corpus as the Parquet store, read it back and serve it. */
  private def serveStore(rep: Int, trace: Option[Trace]): Env = {
    val dir = new File(args.workDir, s"dashboard-$rep")
    val store = new File(dir, "store").getPath
    val wide = TsdbIngest.toWide(corpus.longForm(spark, 0, Steps))
    trace.fold(TsdbIngest.write(wide, store))(_.span("store", "write")(TsdbIngest.write(wide, store)))
    val server = new PromHttpServer(spark, TsdbIngest.read(spark, store))
    new Env(dir, server, new Http(server.start()))
  }

  private def sec(ms: Long): String = (ms / 1000).toString

  private def range(q: String, endMs: Long, check: JsonNode => Option[String]): Query =
    Query("/api/v1/query_range", Seq("query" -> q, "start" -> sec(endMs - 3600000L),
      "end" -> sec(endMs), "step" -> "60"), check)

  private def instant(q: String, atMs: Long, check: JsonNode => Option[String]): Query =
    Query("/api/v1/query", Seq("query" -> q, "time" -> sec(atMs)), check)

  private def query(r: Request): Query = {
    val at = corpus.timeOf(r.k)
    val inst = corpus.instanceOf(r.job, r.instance)
    r.shape match {
      case "rate_sum" => range("sum by (job) (rate(http_requests_total[5m]))", at,
        checks.rateSumByJob)
      // Grafana's form of this panel is `sum by (job, le)`, which the
      // engine rejects (perfbench/NOTES.md); `sum without (instance)`
      // groups by the same labels
      case "hist_quantile" => range("histogram_quantile(0.9, sum without (instance) " +
        "(rate(http_request_duration_seconds_bucket[5m])))", at, checks.bucketQuantile)
      case "topk" => instant(
        """topk(5, sum by (instance) (rate(http_requests_total{code="500"}[5m])))""",
        at, checks.topk)
      case "avg_over_time" => range(s"""avg_over_time(go_goroutines{job="${r.job}"}[10m])""",
        at, checks.avgOverTime(_, r.job, r.k))
      case "selector" => instant(s"""http_requests_total{job="${r.job}",instance="$inst"}""",
        at, checks.selector(_, r.job, inst, r.k))
      case "series" => Query("/api/v1/series", Seq(
        "match[]" -> s"""http_requests_total{job="${r.job}"}""",
        "start" -> sec(at - 3600000L), "end" -> sec(at)), checks.series(_, r.job))
    }
  }

  /** Send a query and check its output; the latency covers the HTTP
    * exchange only. */
  private def send(http: Http, kind: String, q: Query): Op = {
    val (res, ms) = Stats.time(Try(http.get(q.path, q.params)))
    val err = res match {
      case Failure(e) => Some(e.toString)
      case Success((status, body)) =>
        Try(checks.data(status, body).fold(Some(_), q.check)) match {
          case Success(r) => r.map(why => s"$why; ${q.params} -> ${body.take(300)}")
          case Failure(e) => Some(s"unreadable response: $e")
        }
    }
    err.foreach(fail(kind, _))
    Op(kind, ms, err.isEmpty)
  }

  /** Three rounds of every shape before anything is timed (with fewer,
    * the JIT is still compiling the query path during the timed phase
    * and the median moves by 20% from run to run); then the Grafana
    * form of the bucket-quantile panel, reported on standard error only. */
  private def warmUp(env: Env): Unit = {
    corpus.requests(Clients, WarmupQueries).foreach(r => send(env.http, r.shape, query(r)))
    val (status, _) = env.http.get("/api/v1/query", Seq("query" ->
      "histogram_quantile(0.9, sum by (job, le) (rate(http_request_duration_seconds_bucket[5m])))",
      "time" -> sec(corpus.timeOf(Steps - 1))))
    System.err.println(s"known-defect probe: sum by (job, le) panel -> HTTP $status")
  }

  private def loop(env: Env, seconds: Double, offset: Int): Seq[Op] = {
    val seqs = (0 until Clients).map(c => corpus.requests(c, 20000))
    ClosedLoop.run(seconds, seqs.map { reqs => (i: Int) =>
      val r = reqs((i + offset) % reqs.size)
      send(env.http, r.shape, query(r))
    })
  }

  def timed(): Result = {
    val (env, setupMs) = Setup.repeated[Env](serveStore(_, None), _.close())
    Stats.phase("set-up")
    warmUp(env)
    Stats.phase("warm-up")
    val start = Stats.nowMs
    val ops = loop(env, args.seconds, 0)
    val ok = ops.filter(_.ok)
    ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      System.err.println(f"perfbench: $k%-14s ${os.size}%3d queries, median ${Stats.median(os.map(_.latencyMs))}%.0f ms")
    }
    val metrics = Seq(
      Metric("setup_s", Stats.median(setupMs) / 1000, "s"),
      // the mean, not the median: with two clients on one dispatcher a
      // query's latency mixes its own service time with the other's,
      // and over a run's ~25 queries the median's spread across seeds
      // was 0.17 where the mean's was 0.05
      Metric("latency_ms", Stats.mean(ok.map(_.latencyMs)), "ms"),
      Metric("throughput_per_s", ok.size / ((ops.map(_.endMs).max - start) / 1000), "1/s"),
      Metric("parquet_bytes_per_sample", env.storeBytes.toDouble / Samples, "B"),
      Metric("live_heap_mb", Stats.liveHeapMb(), "MiB"))
    env.close()
    Result(ops.size, ops.count(!_.ok), metrics)
  }

  def traced(): Result = {
    val trace = new Trace(spark)
    // the first set-up runs cold; trace the store write of a warm one
    serveStore(0, None).close()
    trace.start()
    val env = serveStore(1, Some(trace))
    trace.stop()
    warmUp(env)
    // untraced and traced closed-loop phases take turns, twice each,
    // so warming up does not bias the tracing overhead
    val sixth = args.seconds / 6
    val phases = (0 until 4).map { i =>
      if (i % 2 == 1) trace.start()
      val ops = loop(env, sixth, 1000 * i)
      if (i % 2 == 1) trace.stop()
      ops
    }
    val plain = phases(0) ++ phases(2)
    val traced = phases(1) ++ phases(3)
    trace.start()
    val reqs = corpus.requests(Clients + 1, 20000)
    val end = Stats.nowMs + args.seconds / 3 * 1000
    val replayed = reqs.iterator.zipWithIndex.takeWhile(_ => Stats.nowMs < end)
      .map { case (r, i) => replay(trace, env, i, r.shape, query(r)) }.toVector
    val (pushes, headOk) = pushUntilConsolidated(trace, env)
    trace.stop()
    env.close()
    val all = plain ++ traced ++ replayed.map(_.http) ++ pushes.map(_.op) :+ headOk
    Result(all.size, all.count(!_.ok), Layers.complete(
      queryLayerMetrics(trace, replayed) ++ writeLayerMetrics(trace, pushes) ++
        storeLayerMetrics(trace, env) ++
        Layers.overhead(plain, traced)))
  }

  /** Replay the i-th request. In-process and HTTP take turns going
    * first, so neither gains from the other's warm caches on average. */
  private def replay(trace: Trace, env: Env, i: Int, kind: String, q: Query): Replayed = {
    def local() = {
      val points = trace.span("request", kind)(inProcess(q, env.server, trace))
      (trace.spans.filter(_.layer == "request").last, points)
    }
    if (i % 2 == 0) {
      val (span, points) = local()
      Replayed(span, send(env.http, kind, q), points)
    } else {
      val http = send(env.http, kind, q)
      val (span, points) = local()
      Replayed(span, http, points)
    }
  }

  /** The same query evaluated in-process through the engine's public
    * PromQL functions on the served table; returns the points. */
  private def inProcess(q: Query, server: PromHttpServer, trace: Trace): Long = {
    val p = q.params.toMap
    val df = q.path match {
      case "/api/v1/series" =>
        val ms = trace.span("promql", "parse")(PromQL.parseMatchers(p("match[]")))
        trace.span("promql", "construct")(TsdbMeta.seriesAny(TsdbTable(server.table),
          p("start").toLong * 1000 - 1, p("end").toLong * 1000 + 1, Seq(ms)))
      case path =>
        val ast = trace.span("promql", "parse")(PromQL.parse(p("query")))
        trace.span("promql", "construct") {
          if (path == "/api/v1/query_range")
            PromQL.evalRange(ast, server.table, p("start").toLong * 1000,
              p("end").toLong * 1000, p("step").toLong * 1000, LookbackMs)
          else {
            val at = p("time").toLong * 1000
            PromQL.evalStrict(ast, server.table, at, LookbackMs, at, at)
          }
        }
    }
    trace.span("exec", "collect")(df.collect().length.toLong)
  }

  private def queryLayerMetrics(trace: Trace, rs: Seq[Replayed]): Seq[Metric] = {
    def inner(r: Replayed, name: String) = trace.spans.find(s => s.layer == "promql" &&
      s.name == name && s.start >= r.span.start && s.end <= r.span.end).get
    val works = rs.map(r => trace.workWithin(r.span))
    val construct = rs.map(inner(_, "construct"))
    val cat = rs.map(r => trace.catalyst(r.span))
    Seq(
      Metric("http.request_ms", Stats.median(rs.map(_.http.latencyMs)), "ms"),
      Metric("http.overhead_ms", Stats.median(rs.map(r => r.http.latencyMs - r.span.ms)), "ms"),
      Metric("promql.parse_ms", Stats.median(rs.map(inner(_, "parse").ms)), "ms"),
      Metric("promql.construct_ms", Stats.median(construct.map(_.ms)), "ms"),
      Metric("promql.eager_jobs", Stats.mean(construct.map(trace.workWithin(_).jobs.toDouble)), "count"),
      Metric("catalyst.analysis_ms", Stats.median(cat.map(_._1)), "ms"),
      Metric("catalyst.optimization_ms", Stats.median(cat.map(_._2)), "ms"),
      Metric("catalyst.planning_ms", Stats.median(cat.map(_._3)), "ms")) ++
      LayerMetrics.exec(works) ++ Seq(
      Metric("scan.records_read", Stats.mean(works.map(_.recordsRead.toDouble)), "count"),
      Metric("scan.bytes_read", Stats.mean(works.map(_.bytesRead.toDouble)), "B"),
      Metric("scan.rows_per_result",
        works.map(_.recordsRead).sum.toDouble / math.max(1L, rs.map(_.points).sum), "ratio"))
  }

  /** Push the hour after the corpus (float samples and native
    * histograms, one scrape-minute per request) one request at a time
    * until the head has consolidated once, then check that the head
    * holds the store plus every acknowledged sample. */
  private def pushUntilConsolidated(trace: Trace, env: Env): (Seq[Push], Op) = {
    val payloads = corpus.remoteWritePayloads(Steps, Steps + ConsolidateEvery * ScrapesPerRequest)
    val pushes = payloads.zipWithIndex.map { case (p, i) =>
      val unions = env.server.table.queryExecution.logical
        .collect { case u: Union => u.children.size }.sum
      val (res, _) = trace.span("http", "write")(Stats.time(Try(env.http.post("/api/v1/write", p.bytes))))
      val span = trace.spans.last
      val ok = res.toOption.exists(_._1 == 204)
      if (!ok) fail("write", res.fold(_.toString, r => s"HTTP ${r._1}: ${r._2.take(200)}"))
      Push(Op(if (i + 1 == ConsolidateEvery) "consolidate" else "write", span.ms, ok),
        span, unions, p)
    }
    val acked = pushes.filter(_.op.ok).map(_.payload)
    val want = (Samples + acked.map(_.floatSamples.toLong).sum, acked.map(_.histSamples.toLong).sum)
    val (got, ms) = Stats.time(Try((env.server.table.count(),
      env.server.histTable.fold(0L)(_.count()))))
    val ok = got.toOption.contains(want)
    if (!ok) fail("head count", s"$got, want $want")
    (pushes, Op("head_check", ms, ok))
  }

  private def storeLayerMetrics(trace: Trace, env: Env): Seq[Metric] = {
    val w = trace.spans.filter(_.layer == "store").toSeq
    Seq(
      Metric("store.write_ms", Stats.median(w.map(_.ms)), "ms"),
      Metric("store.cpu_s", Stats.mean(w.map(trace.workWithin(_).cpuS)), "s"),
      Metric("store.bytes_written", env.storeBytes.toDouble, "B"),
      Metric("store.files", env.storeFiles.toDouble, "count"))
  }

  private def writeLayerMetrics(trace: Trace, ps: Seq[Push]): Seq[Metric] = Seq(
    Metric("http.write_ms", Stats.median(ps.filter(_.op.kind == "write").map(_.op.latencyMs)), "ms"),
    Metric("remote_write.decode_ms", Stats.median(ps.map(p =>
      Stats.time(RemoteWrite.decodeRequest(p.payload.bytes))._2)), "ms"),
    Metric("head.union_inputs", Stats.mean(ps.map(_.unionInputs.toDouble)), "count"),
    Metric("head.jobs_per_write", Stats.mean(ps.map(p => trace.workWithin(p.span).jobs.toDouble)), "count"),
    Metric("head.consolidate_ms", Stats.median(ps.filter(_.op.kind == "consolidate")
      .map(_.op.latencyMs)), "ms"))
}

object Dashboard {
  /** A query over HTTP: path, parameters, and its output check. */
  final case class Query(path: String, params: Seq[(String, String)],
                         check: JsonNode => Option[String])

  /** One replayed query: evaluated in-process under a `request` span,
    * and sent over HTTP. */
  final case class Replayed(span: Trace.Span, http: Op, points: Long)

  /** One remote-write request of the traced run, with the inputs of
    * the Union in the served head's plan just before it was sent. */
  final case class Push(op: Op, span: Trace.Span, unionInputs: Int, payload: Payload)
}
