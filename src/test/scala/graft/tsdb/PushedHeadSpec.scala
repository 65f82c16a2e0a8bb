package graft.tsdb

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The remote-write receiver keeps its pushes beside the served store:
  * a push runs no Spark job, the served plan holds one `Union` however
  * many pushes arrive, and the store is still read through its Parquet
  * scan with its filters pushed down. */
class PushedHeadSpec extends SparkSpec {
  import spark.implicits._

  test("float pushes run no job and leave the store's Parquet scan") {
    val dir = tmpDir("graft_pushed_head_")
    val stored = for (job <- Seq("a", "b"); k <- 0 until 200)
      yield (1000L * k, k.toDouble, Map("__name__" -> "stored_total", "job" -> job))
    TsdbIngest.write(TsdbIngest.toWide(stored.toDF("time", "value", "labels")), dir,
      timePartitions = 2)
    val srv = new PromHttpServer(spark, TsdbIngest.read(spark, dir))
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("graft-http-")).foreach(groups.add)
    }
    spark.sparkContext.addSparkListener(listener)
    val port = srv.start()
    val pushes = 40
    try {
      val client = HttpClient.newHttpClient()
      (0 until pushes).foreach { i =>
        val payload = RemoteWrite.encodeRequest(Seq(RemoteWrite.encodeSeries(
          Seq("__name__" -> "pushed_total", "w" -> s"w$i"),
          Seq((1000L * i, i.toDouble), (1000L * i + 500L, i + 0.5)))))
        val code = client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/write"))
            .POST(HttpRequest.BodyPublishers.ofByteArray(payload)).build(),
          HttpResponse.BodyHandlers.discarding()).statusCode()
        assert(code == 204)
      }
      // the listener bus is asynchronous: let it drain
      Thread.sleep(1000)
      assert(groups.isEmpty, s"pushes ran Spark jobs: ${groups.asScala.toSeq.distinct}")
    } finally {
      srv.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
    val head = srv.headTable
    val unions = head.queryExecution.analyzed.collect { case u: Union => u }
    assert(unions.size <= 1, s"${unions.size} unions after $pushes pushes")
    val scans = head.where(col("`labels.__name__`") === "stored_total")
      .queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, head.queryExecution.sparkPlan)
    val pushedFilters = scans.head.metadata("PushedFilters")
    assert(pushedFilters.contains("EqualTo") && pushedFilters.contains("stored_total"),
      pushedFilters)
    assert(head.count() == stored.size + 2 * pushes)
  }
}
