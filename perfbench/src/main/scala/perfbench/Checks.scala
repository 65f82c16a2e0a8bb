package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Output checks for the HTTP responses, against the generator's closed
  * form. Each check returns `None` when the response is right, or the
  * reason it is not. */
final class Checks(corpus: Corpus) {
  import Corpus._

  private val mapper = new ObjectMapper()
  /** The engine rounds rates to 6 decimals, so sums of rates carry
    * errors of a few 1e-6. */
  private val RelTol = 1e-4

  private def near(got: Double, want: Double): Boolean =
    math.abs(got - want) <= RelTol * math.max(1.0, math.abs(want))

  private def seriesOf(metric: String) =
    corpus.series.filter(_.metric == metric)

  /** Sum of the counter rates of `http_requests_total` per job. */
  private val requestRateByJob: Map[String, Double] =
    seriesOf("http_requests_total").groupBy(_.labels("job"))
      .map { case (j, ss) => j -> ss.map(corpus.rate).sum }

  /** Per-instance rate of `http_requests_total{code="500"}`. */
  private val errorRateByInstance: Map[String, Double] =
    seriesOf("http_requests_total").filter(_.labels("code") == "500")
      .groupBy(_.labels("instance"))
      .map { case (i, ss) => i -> ss.map(corpus.rate).sum }

  /** The top 5 instances by error rate, and their rates. */
  val topErrorInstances: Seq[(String, Double)] =
    errorRateByInstance.toSeq.sortBy(x => (-x._2, x._1)).take(5)

  /** `histogram_quantile(0.9, …)` of each job's summed bucket rates,
    * by Prometheus's linear interpolation within the bucket. */
  val bucketQuantileByJob: Map[String, Double] =
    seriesOf("http_request_duration_seconds_bucket").groupBy(_.labels("job"))
      .map { case (job, ss) =>
        val cum = Les.map(le => ss.filter(_.labels("le") == le)
          .map(corpus.rate).sum)
        val rank = 0.9 * cum.last
        val j = cum.indexWhere(_ >= rank)
        val q =
          if (j == Les.size - 1) Les(Les.size - 2).toDouble
          else {
            val lower = if (j == 0) 0.0 else Les(j - 1).toDouble
            val below = if (j == 0) 0.0 else cum(j - 1)
            lower + (Les(j).toDouble - lower) * (rank - below) / (cum(j) - below)
          }
        job -> q
      }

  /** Parse a response, require `"status":"success"`, and return `data`. */
  def data(status: Int, body: String): Either[String, JsonNode] =
    if (status != 200) Left(s"HTTP $status: ${body.take(200)}")
    else {
      val root = mapper.readTree(body)
      if (root.path("status").asText() != "success")
        Left(s"status ${root.path("status").asText()}")
      else Right(root.path("data"))
    }

  private def results(d: JsonNode): Seq[JsonNode] =
    d.path("result").elements().asScala.toSeq

  private def label(r: JsonNode, n: String): String = r.path("metric").path(n).asText()

  private def num(v: JsonNode): Double = v.get(1).asText().toDouble

  /** Points in a 1 h range at 60 s steps. */
  private val RangePoints = 61

  /** Every point of every series in a 1 h range must equal `want(series)`. */
  private def constantMatrix(d: JsonNode, key: String,
                             want: Map[String, Double]): Option[String] = {
    val rs = results(d)
    if (rs.size != want.size) return Some(s"${rs.size} series, want ${want.size}")
    rs.collectFirst(Function.unlift { r =>
      val k = label(r, key)
      val pts = r.path("values").elements().asScala.toSeq
      want.get(k) match {
        case None => Some(s"unexpected series $k")
        case Some(_) if pts.size != RangePoints => Some(s"$k: ${pts.size} points, want $RangePoints")
        case Some(w) => pts.find(p => !near(num(p), w))
          .map(p => s"$k: ${num(p)} at ${p.get(0).asText()}, want $w")
      }
    })
  }

  /** `sum by (job) (rate(http_requests_total[5m]))` over a 1 h range. */
  def rateSumByJob(d: JsonNode): Option[String] =
    constantMatrix(d, "job", requestRateByJob)

  /** The bucket-quantile panel over a 1 h range. */
  def bucketQuantile(d: JsonNode): Option[String] =
    constantMatrix(d, "job", bucketQuantileByJob)

  /** `topk(5, sum by (instance) (rate(…{code="500"}[5m])))`. */
  def topk(d: JsonNode): Option[String] = {
    val rs = results(d)
    val got = rs.map(r => label(r, "instance") -> num(r.path("value"))).toMap
    if (rs.size != 5) Some(s"${rs.size} series, want 5")
    else topErrorInstances.collectFirst {
      case (i, w) if !got.get(i).exists(near(_, w)) => s"$i: ${got.get(i)}, want $w"
    }
  }

  /** `http_requests_total{job=…,instance=…}` at scrape k. */
  def selector(d: JsonNode, job: String, instance: String, k: Int): Option[String] = {
    val want = seriesOf("http_requests_total")
      .filter(s => s.labels("job") == job && s.labels("instance") == instance)
      .map(s => (s.labels("method"), s.labels("code")) -> corpus.value(s, k)).toMap
    val rs = results(d)
    if (rs.size != want.size) Some(s"${rs.size} series, want ${want.size}")
    else rs.collectFirst(Function.unlift { r =>
      val key = (label(r, "method"), label(r, "code"))
      val v = num(r.path("value"))
      if (want.get(key).exists(near(v, _))) None
      else Some(s"$key: $v, want ${want.get(key)}")
    })
  }

  /** `avg_over_time(go_goroutines{job=…}[10m])` over a 1 h range ending
    * at scrape k, 60 s steps. */
  def avgOverTime(d: JsonNode, job: String, k: Int): Option[String] = {
    val gauges = seriesOf("go_goroutines").filter(_.labels("job") == job)
      .map(s => s.labels("instance") -> s).toMap
    val rs = results(d)
    if (rs.size != gauges.size) return Some(s"${rs.size} series, want ${gauges.size}")
    rs.collectFirst(Function.unlift { r =>
      gauges.get(label(r, "instance")) match {
        case None => Some(s"unexpected series ${r.path("metric")}")
        case Some(s) =>
          val pts = r.path("values").elements().asScala.toSeq
          if (pts.size != RangePoints) Some(s"${pts.size} points, want $RangePoints")
          else pts.zipWithIndex.collectFirst(Function.unlift { case (p, i) =>
            val ks = k - 240 + 4 * i
            val want = (ks - 39 to ks).map(corpus.value(s, _)).sum / 40
            if (near(num(p), want)) None
            else Some(s"${label(r, "instance")}@$ks: ${num(p)}, want $want")
          })
      }
    })
  }

  /** `/api/v1/series?match[]=http_requests_total{job=…}`. */
  def series(d: JsonNode, job: String): Option[String] = {
    val rs = d.elements().asScala.toSeq
    val want = InstancesPerJob * 4
    if (rs.size != want) Some(s"${rs.size} series, want $want")
    else rs.find(r => r.path("__name__").asText() != "http_requests_total" ||
        r.path("job").asText() != job).map(r => s"unexpected series $r")
  }
}
