package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{array_sort, bit_xor, col, count, countDistinct, map_entries, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

/** The generator: the same seed gives byte-identical inputs; another
  * seed gives other values at the same sizes. */
class CorpusSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  /** (rows, distinct series, order-independent digest) of the long form. */
  private def digest(c: Corpus): (Long, Long, Long) = {
    val labels = array_sort(map_entries(col("labels")))
    val r = c.longForm(spark, 0, Corpus.Steps)
      .agg(count("*"), countDistinct(labels),
        bit_xor(xxhash64(col("time"), col("value"), labels))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def payloads(c: Corpus) = c.remoteWritePayloads(Corpus.Steps, Corpus.Steps + 8)

  test("the same seed gives byte-identical inputs") {
    val (a, b) = (new Corpus(7), new Corpus(7))
    assert(digest(a) == digest(b))
    assert(a.requests(0, 500) == b.requests(0, 500))
    assert(payloads(a).map(_.bytes.toSeq) == payloads(b).map(_.bytes.toSeq))
  }

  test("another seed gives other values at the same sizes") {
    val (a, b) = (new Corpus(7), new Corpus(8))
    val (da, db) = (digest(a), digest(b))
    assert(da._1 == 921600 && db._1 == 921600)
    assert(da._2 == 640 && db._2 == 640)
    assert(da._3 != db._3)
    assert(a.requests(0, 500) != b.requests(0, 500))
    assert(a.requests(0, 500).map(_.shape).groupBy(identity).values.map(_.size).toSet ==
      Set(500 / Corpus.DashboardShapes.size, 500 / Corpus.DashboardShapes.size + 1))
    val (pa, pb) = (payloads(a), payloads(b))
    assert(pa.map(p => (p.floatSamples, p.histSamples)) ==
      pb.map(p => (p.floatSamples, p.histSamples)))
    assert(pa.map(_.bytes.toSeq) != pb.map(_.bytes.toSeq))
    assert(a.hists.size == 40 && b.hists.size == 40)
  }

  test("the long form carries the closed-form values") {
    val c = new Corpus(3)
    val s = c.series(17)
    val rows = c.longForm(spark, 100, 104, IndexedSeq(s)).collect()
    assert(rows.map(_.getDouble(1)).toSeq == (100 until 104).map(c.value(s, _)))
    assert(rows.map(_.getLong(0)).toSeq == (100 until 104).map(c.timeOf))
  }
}
