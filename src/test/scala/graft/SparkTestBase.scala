package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test run. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // PlanQualitySpec greps PushedFilters out of plan strings — the
      // default 100-char metadata truncation would hide trailing filters
      .config("spark.sql.maxMetadataStringLength", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** The reference's own Prometheus self-scrape database (FIXTURES.md §A):
  * block 01GW1T7K3E9F9R361GDPVH8NZF plus its WAL. It is not in the
  * repository; specs that check its content run only where it exists. */
object ReferenceFixture {
  val Db = "/root/reference"
  val Block = s"$Db/01GW1T7K3E9F9R361GDPVH8NZF"
  val Wal = s"$Db/wal"

  def present(path: String): Boolean = new java.io.File(path).exists()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  lazy val Sf0001 = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Cancels the running spec unless the reference fixture `path`
    * (under [[ReferenceFixture.Db]]) exists. */
  def assumeFixture(path: String): Unit =
    assume(ReferenceFixture.present(path),
      s"reference fixture $path is absent")
}
