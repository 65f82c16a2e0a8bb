package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What Spark ran for one piece of driver code, seen by a
  * `SparkListener`: its jobs, and the tasks among them that read
  * shuffle records (the tasks a shuffle placed data in). */
final case class JobProbe(jobs: Int, shuffleReadingTasks: Int)

object JobProbe {
  /** Run `body` under a job group of its own and count what it ran.
    * The listener bus is asynchronous, so a marker job in a second
    * group runs after `body`; the bus delivers events in order, so once
    * the marker's start arrives every event of `body` has too. */
  def apply[T](spark: SparkSession)(body: => T): (T, JobProbe) = {
    val sc = spark.sparkContext
    val group = s"job-probe-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val readers = new AtomicInteger
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .foreach {
            case `group` =>
              jobs.incrementAndGet()
              e.stageIds.foreach(stages.add)
            case g if g == s"$group-marker" => markerSeen.countDown()
            case _ =>
          }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null &&
            e.taskMetrics.shuffleReadMetrics.recordsRead > 0)
          readers.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job probe")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "job probe marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS),
        "the listener never saw the marker job")
      (out, JobProbe(jobs.get, readers.get))
    } finally sc.removeSparkListener(listener)
  }
}
