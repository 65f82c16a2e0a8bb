package graft.sources

import graft.{ReferenceFixture, SparkSpec}
import graft.sources.tsdbblock.{IndexReader, TsdbDb, WalOffset, WalReader}

/** Corrupt-input behavior: readers must fail loudly or stop cleanly —
  * never mis-parse (the failure mode the advisor flagged for the r1
  * readers; WAL cases live in TsdbWalSpec).
  */
class ReaderRobustnessSpec extends SparkSpec {
  private val index = s"${ReferenceFixture.Block}/index"

  test("a non-index file is rejected by magic check") {
    val dir = tmpDir("idx_bad")
    val p = java.nio.file.Paths.get(s"$dir/index")
    java.nio.file.Files.write(p, Array.fill[Byte](64)(0x42))
    intercept[IllegalArgumentException] { IndexReader.read(p.toString) }
  }

  test("a truncated index fails loudly instead of mis-parsing") {
    assumeFixture(index)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(index))
    val dir = tmpDir("idx_trunc")
    val p = java.nio.file.Paths.get(s"$dir/index")
    // cut mid-series-section: the TOC (last 52 bytes) is gone, so the
    // reader must reject rather than read garbage offsets
    java.nio.file.Files.write(p, bytes.take(bytes.length / 2))
    intercept[Exception] { IndexReader.read(p.toString) }
  }

  test("a missing WAL or DB directory fails with an error naming it") {
    // File.listFiles answers null for a missing path; the readers must
    // not turn that into a NullPointerException or an empty answer
    val missing = s"${tmpDir("no_db")}/absent"
    def names(t: Throwable): Boolean = t != null &&
      (String.valueOf(t.getMessage).contains(missing) || names(t.getCause))
    val errors = Seq(
      intercept[Exception] { WalReader.segments(missing) },
      intercept[Exception] {
        spark.read.format("tsdb-wal").load(missing).count()
      },
      intercept[Exception] { TsdbDb.read(spark, missing) },
      intercept[Exception] { TsdbDb.readHistograms(spark, missing) })
    errors.foreach(e => assert(names(e), e))
    // a plain file is no WAL directory either
    val file = java.nio.file.Files.createTempFile("not_a_wal", "").toString
    val e = intercept[Exception] { WalReader.segments(file) }
    assert(String.valueOf(e.getMessage).contains(file), e)
    // an existing DB directory with neither blocks nor a WAL is empty
    assert(TsdbDb.read(spark, tmpDir("empty_db")).count() == 0)
  }

  test("WalOffset json round-trips") {
    val o = WalOffset(Map("00000000" -> 123L, "00000017" -> 0L))
    assert(WalOffset.parse(o.json()) == o)
    assert(WalOffset.parse(WalOffset(Map.empty).json()) == WalOffset(Map.empty))
  }
}
