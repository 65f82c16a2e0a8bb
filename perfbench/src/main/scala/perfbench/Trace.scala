package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. It lives entirely in the benchmark: a
  * `SparkListener` for jobs, stages and task metrics, a
  * `QueryExecutionListener` for the Catalyst phase times, and spans
  * the benchmark records around its own calls into the engine.
  *
  * The traced replay runs one operation at a time on one thread, so a
  * Spark job belongs to the spans whose interval holds the job's start
  * time. Spans and events stay in memory until the end. */
final class Trace(spark: SparkSession) {
  import Trace._

  val spans = ArrayBuffer.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val queries = new ConcurrentLinkedQueue[QueryRec]()
  private val sentinelJobs = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var sentinelJobEnded = false
  @volatile private var sentinelQuerySeen = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(
          _.getProperty("spark.jobGroup.id") == SentinelCol))
        sentinelJobs.add(e.jobId)
      else jobs.put(e.jobId, JobRec(e.time, e.stageInfos.map(_.stageId)))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (sentinelJobs.contains(e.jobId)) sentinelJobEnded = true
      else Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(i.taskMetrics).foreach { m =>
        stages.put(i.stageId, StageRec(
          tasks = i.numTasks,
          cpuNs = m.executorCpuTime,
          shuffleRead = m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
          spill = m.memoryBytesSpilled + m.diskBytesSpilled,
          recordsRead = m.inputMetrics.recordsRead,
          bytesRead = m.inputMetrics.bytesRead))
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      if (qe.analyzed.output.exists(_.name == SentinelCol)) sentinelQuerySeen = true
      else {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        val at = ph.get("planning").map(_.endTimeMs)
          .getOrElse(System.currentTimeMillis())
        queries.add(QueryRec(at, ms("analysis"), ms("optimization"), ms("planning")))
      }
    }
  }

  def start(): Unit = {
    sentinelJobEnded = false
    sentinelQuerySeen = false
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Wait until the listeners have seen every event posted so far (a
    * sentinel action marks the end of the queue), then detach them. */
  def stop(): Unit = {
    spark.sparkContext.setJobGroup(SentinelCol, SentinelCol)
    try spark.range(1).toDF(SentinelCol).collect()
    finally spark.sparkContext.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    while ((!sentinelJobEnded || !sentinelQuerySeen) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Run `body` inside a span. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val s = Span(layer, name, System.currentTimeMillis(), 0L)
    spans += s
    val t0 = System.nanoTime()
    try body finally {
      s.ms = (System.nanoTime() - t0) / 1e6
      s.end = System.currentTimeMillis()
    }
  }

  /** Spark work of every job that started within span `s`. Intervals
    * are half-open, [start, end), so a job on the millisecond where one
    * span ends and the next begins counts once. */
  def workWithin(s: Span): Work =
    sumJobs(jobs.asScala.values.filter(j => j.start >= s.start && j.start < s.end))

  private def sumJobs(js: Iterable[JobRec]): Work = {
    val st = js.flatMap(_.stageIds).flatMap(id => Option(stages.get(id)))
    Work(js.size, st.size, st.map(_.tasks.toLong).sum,
      js.map(j => math.max(0L, j.end - j.start)).sum.toDouble,
      st.map(_.cpuNs).sum / 1e9, st.map(_.shuffleRead).sum,
      st.map(_.shuffleWrite).sum, st.map(_.spill).sum,
      st.map(_.recordsRead).sum, st.map(_.bytesRead).sum)
  }

  /** Catalyst phase times of the actions planned within `s`. */
  def catalyst(s: Span): (Double, Double, Double) = {
    val qs = queries.asScala.filter(q => q.at >= s.start && q.at <= s.end)
    (qs.map(_.analysisMs).sum, qs.map(_.optimizationMs).sum,
      qs.map(_.planningMs).sum)
  }

}

object Trace {
  private val SentinelCol = "perfbench_trace_sentinel"

  /** A span: wall-clock `start` and `end` in epoch ms (to place Spark
    * events, which carry epoch-ms times) and its duration `ms`, timed
    * with the monotonic clock. */
  final case class Span(layer: String, name: String, start: Long,
                        var end: Long) {
    var ms: Double = (end - start).toDouble
  }

  final case class JobRec(start: Long, stageIds: Seq[Int]) {
    @volatile var end: Long = 0L
  }

  final case class StageRec(tasks: Int, cpuNs: Long, shuffleRead: Long,
                            shuffleWrite: Long, spill: Long,
                            recordsRead: Long, bytesRead: Long)

  final case class QueryRec(at: Long, analysisMs: Double,
                            optimizationMs: Double, planningMs: Double)

  final case class Work(jobs: Int, stages: Int, tasks: Long, jobMs: Double,
                        cpuS: Double, shuffleRead: Long, shuffleWrite: Long,
                        spill: Long, recordsRead: Long, bytesRead: Long)
}
