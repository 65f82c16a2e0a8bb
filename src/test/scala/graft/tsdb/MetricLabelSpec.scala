package graft.tsdb

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import graft.model.Matcher
import org.apache.spark.sql.DataFrame

/** One metric-name label per served table ([[TsdbSchema.metricLabel]]):
  * a converted store names its metrics in `labels.__name__`, a driver
  * table in `labels.name`, and every surface — queries, pushes, the
  * label and series APIs, federation and remote read — addresses the
  * table's own one. */
class MetricLabelSpec extends SparkSpec {
  import spark.implicits._

  private val client = HttpClient.newHttpClient()

  /** A `labels.name` table (the driver spelling). */
  private def nameStore: DataFrame =
    Seq((1000L, 1.0, "m", "a")).toDF("time", "value", "labels.name",
      "labels.user")

  /** A converted store: `labels.__name__` (the [[TsdbIngest]] spelling). */
  private def convertedStore(rows: (Long, Double, Map[String, String])*)
      : DataFrame =
    TsdbIngest.toWide(rows.toDF("time", "value", "labels"))

  private def withServer[T](df: DataFrame)(f: Int => T): T = {
    val srv = new PromHttpServer(spark, df)
    val port = srv.start()
    try f(port) finally srv.stop()
  }

  private def get(port: Int, pathQ: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathQ"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def query(port: Int, q: String, time: Int): (Int, String) =
    get(port, "/api/v1/query?query=" + URLEncoder.encode(q, UTF_8) +
      s"&time=$time")

  private def post(port: Int, body: Array[Byte],
                   contentType: Option[String] = None): (Int, String) = {
    val b = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port/api/v1/write"))
    contentType.foreach(b.header("Content-Type", _))
    val r = client.send(b.POST(HttpRequest.BodyPublishers.ofByteArray(body))
      .build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def push(port: Int, labels: (String, String)*): (Int, String) =
    post(port, RemoteWrite.encodeRequest(Seq(
      RemoteWrite.encodeSeries(labels, Seq(1500L -> 7.0)))))

  /** The label sets of a query or series response's `data` entries. */
  private def labelSets(body: String): Set[Map[String, String]] = {
    import scala.jdk.CollectionConverters._
    val data = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(body).get("data")
    val entries = Option(data.get("result")).getOrElse(data)
    entries.elements().asScala.map { e =>
      val m = Option(e.get("metric")).getOrElse(e)
      m.fields().asScala.map(f => f.getKey -> f.getValue.asText()).toMap
    }.toSet
  }

  /** `m`'s stored series (user a) and a pushed one (user z) answer
    * every spelling of the metric matcher. */
  private def selectsStoredAndPushed(port: Int,
                                     queries: Seq[String]): Unit = {
    assert(push(port, "__name__" -> "m", "user" -> "z")._1 == 204)
    queries.foreach { q =>
      val (c, b) = query(port, q, 2)
      assert(c == 200, s"$q: $b")
      assert(labelSets(b) == Set(Map("__name__" -> "m", "user" -> "a"),
        Map("__name__" -> "m", "user" -> "z")), s"$q: $b")
    }
  }

  test("metric label: on a labels.name table, m, {__name__=\"m\"} and " +
      "{name=\"m\"} select the stored and the pushed series") {
    withServer(nameStore) { port =>
      selectsStoredAndPushed(port,
        Seq("m", """{__name__="m"}""", """{name="m"}"""))
    }
  }

  test("metric label: on a labels.__name__ table, m and " +
      "{__name__=\"m\"} select the stored and the pushed series, and " +
      "/api/v1/labels lists the metric label once") {
    withServer(convertedStore(
        (1000L, 1.0, Map("__name__" -> "m", "user" -> "a")))) { port =>
      selectsStoredAndPushed(port, Seq("m", """{__name__="m"}"""))
      val (c, b) = get(port, "/api/v1/labels")
      assert(c == 200 && b.contains(""""data":["__name__","user"]"""), b)
    }
    withServer(nameStore) { port =>
      assert(push(port, "__name__" -> "p", "user" -> "z")._1 == 204)
      val (c, b) = get(port, "/api/v1/labels")
      assert(c == 200 && b.contains(""""data":["name","user"]"""), b)
    }
  }

  test("metric label: /api/v1/label/__name__/values lists the metric " +
      "names on both store spellings") {
    for (store <- Seq(nameStore, convertedStore(
        (1000L, 1.0, Map("__name__" -> "m", "user" -> "a"))))) {
      withServer(store) { port =>
        assert(push(port, "__name__" -> "p", "user" -> "z")._1 == 204)
        val (c, b) = get(port, "/api/v1/label/__name__/values")
        assert(c == 200 && b.contains(""""data":["m","p"]"""), b)
      }
    }
  }

  test("metric label: a converted store's real `name` label is an " +
      "ordinary label on query, series and federate") {
    // cAdvisor-style: the container name rides in `name`
    withServer(convertedStore((1000L, 3.0,
        Map("__name__" -> "cpu", "name" -> "web", "job" -> "x")))) { port =>
      assert(push(port, "__name__" -> "cpu", "name" -> "db",
        "job" -> "x")._1 == 204)
      val web = Map("__name__" -> "cpu", "job" -> "x", "name" -> "web")
      val db = web.updated("name", "db")
      val (c, b) = query(port, "cpu", 2)
      assert(c == 200 && labelSets(b) == Set(web, db), b)
      val (c2, b2) = query(port, """{name="web"}""", 2)
      assert(c2 == 200 && labelSets(b2) == Set(web), b2)
      val (c3, b3) = get(port, "/api/v1/series?match[]=cpu")
      assert(c3 == 200 && labelSets(b3) == Set(web, db), b3)
      // one `__name__` key per series object
      assert("\"__name__\"".r.findAllMatchIn(b3).size == 2, b3)
      val (c4, b4) = get(port, "/federate?match[]=cpu&time=2")
      assert(c4 == 200, b4)
      assert(b4.linesIterator.filter(_.nonEmpty)
        .map(_.takeWhile(_ != ' ')).toSet ==
        Set("""cpu{job="x",name="web"}""", """cpu{job="x",name="db"}"""), b4)
    }
  }

  test("metric label: remote read over a labels.__name__ table answers " +
      "a __name__ matcher") {
    import RemoteRead._
    val t = TsdbTable(convertedStore(
      (1000L, 1.0, Map("__name__" -> "up", "job" -> "a", "name" -> "web")),
      (1000L, 2.0, Map("__name__" -> "down", "job" -> "a"))))
    val req = encodeReadRequest(ReadRequest(Seq(ReadQuery(
      Long.MinValue, Long.MaxValue, Seq(Matcher.Eq("__name__", "up"))))))
    assert(decodeReadResponse(serve(t, req)).toSet == Set(
      (0, 1000L, 1.0,
        Map("__name__" -> "up", "job" -> "a", "name" -> "web"))))
  }

  test("metric label: on a labels.__name__ store the hist tier keeps a " +
      "real `name` label through sum without") {
    withServer(convertedStore(
        (1000L, 1.0, Map("__name__" -> "m", "job" -> "x")))) { port =>
      val h = RemoteWrite.SparseHist(
        time = 1700L, labels = Map.empty, count = 4.0, sum = 10.0,
        schema = 0, zeroThreshold = 0.0, zeroCount = 0.0,
        positive = Seq((1, 2.0), (2, 2.0)), negative = Nil)
      val req = RemoteWrite2.encodeRequest(Seq(RemoteWrite2.Rw2Series(
        labels = Seq("__name__" -> "lat", "name" -> "web", "job" -> "x"),
        histograms = Seq(h))))
      assert(post(port, req, Some(
        "application/x-protobuf;proto=io.prometheus.write.v2.Request"))._1
        == 204)
      val (c, b) = query(port, "sum without (job) (lat)", 2)
      assert(c == 200 && labelSets(b) == Set(Map("name" -> "web")), b)
      assert(b.contains(""""histogram":"""), b)
    }
  }

  test("metric label: a labels.name table refuses a push whose series " +
      "carries both __name__ and name, before anything appends") {
    withServer(nameStore) { port =>
      val (c, b) = post(port, RemoteWrite.encodeRequest(Seq(
        RemoteWrite.encodeSeries(Seq("__name__" -> "ok", "user" -> "b"),
          Seq(1500L -> 1.0)),
        RemoteWrite.encodeSeries(Seq("__name__" -> "x", "name" -> "y"),
          Seq(1500L -> 1.0)))))
      assert(c == 400, b)
      assert(b.contains(""""errorType":"bad_data"""") &&
        b.contains("`name` label"), b)
      val (c2, b2) = query(port, """{name=~"ok|x|y"}""", 2)
      assert(c2 == 200 && labelSets(b2).isEmpty, b2)
    }
  }
}
