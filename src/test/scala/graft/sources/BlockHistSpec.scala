package graft.sources

import graft.SparkSpec
import graft.sources.tsdbblock._
import org.apache.spark.sql.functions._

/** Native histograms through the BLOCK tier: writeBlock encodes
  * histogram chunks (encodings 2/3), the float scan skips them, the
  * histogram scan round-trips them, and the lifecycle paths (head
  * compaction, snapshot, block compaction) carry histogram samples
  * end-to-end instead of dropping them. */
class BlockHistSpec extends SparkSpec {

  private def mkHist(time: Long, cnt: Double, sum: Double,
                     pos: Seq[(Int, Double)], schema: Int = 0,
                     zc: Double = 0.0, hint: Int = 0,
                     float: Boolean = false): WalReader.WalHistogram =
    WalReader.WalHistogram(0L, time, hint, schema, 0.0, zc, cnt, sum,
      pos, Nil, Nil, float)

  private def sparse(h: WalReader.WalHistogram) =
    (h.time, h.schema, h.zeroThreshold, h.zeroCount, h.count, h.sum,
      h.positive.filter(_._2 != 0.0), h.negative.filter(_._2 != 0.0),
      h.customValues, h.isFloat)

  test("writeBlock + block scans: mixed float/histogram series round-trip") {
    val dir = tmpDir("graft_blockhist_")
    val hists = (0 until 130).map(i => // >120 forces a chunk split
      mkHist(1000L + i * 15000L, cnt = 5.0 + 2 * i, sum = 0.5 * i,
        pos = Seq((0, 3.0 + i), (2, 2.0 + i)), zc = i.toDouble, hint = 2))
    val floatHist = (0 until 3).map(i =>
      mkHist(2000L + i * 15000L, cnt = 1.25 * i + 1, sum = math.Pi * i,
        pos = Seq((1, 0.5 * i + 1)), float = true))
    val series = Seq(
      TsdbBlockWriter.SeriesData(Seq("__name__" -> "lat", "job" -> "api"),
        Array.emptyLongArray, Array.emptyDoubleArray, hists),
      TsdbBlockWriter.SeriesData(Seq("__name__" -> "lat", "job" -> "db"),
        Array.emptyLongArray, Array.emptyDoubleArray, floatHist),
      TsdbBlockWriter.SeriesData(Seq("__name__" -> "up", "job" -> "api"),
        Array(500L, 1500L), Array(1.0, 0.0)))
    val (nSeries, nChunks, nSamples) = TsdbBlockWriter.writeBlock(dir, series)
    assert((nSeries, nChunks, nSamples) === ((3L, 4L, 135L)))

    // float scan: only the XOR chunk's samples, hist chunks skipped
    val floats = spark.read.format("tsdb-block").load(dir)
      .select("time", "value").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(floats.sorted.toSeq === Seq((500L, 1.0), (1500L, 0.0)))

    // histogram scan: both series, full fidelity
    val back = TsdbBlockRecords.readHistograms(spark, dir).collect()
      .groupBy(_._1("job")).view.mapValues(_.map(_._2).sortBy(_.time)).toMap
    assert(back("api").map(sparse).toSeq === hists.map(sparse))
    assert(back("api").forall(_.counterResetHint == 2))
    assert(back("db").map(sparse).toSeq === floatHist.map(sparse))
  }

  test("NHCB (schema -53) histograms round-trip through a block with layout cuts") {
    val dir = tmpDir("graft_blockhist_nhcb_")
    def nhcb(time: Long, cnt: Double, custom: Seq[Double]) =
      WalReader.WalHistogram(0L, time, 0, -53, 0.0, 0.0, cnt, cnt / 2,
        Seq((0, 1.0), (1, cnt - 1.0)), Nil, custom, isFloat = false)
    // a custom-bounds change mid-series must cut a NEW chunk (one chunk
    // = one layout), exactly as the Prometheus appender refuses
    // non-appendable histograms
    val hists = Seq(
      nhcb(1000L, 3.0, Seq(0.1, 2.5)), nhcb(2000L, 5.0, Seq(0.1, 2.5)),
      nhcb(3000L, 7.0, Seq(0.25, 1.0, 4.0)))
    val series = Seq(TsdbBlockWriter.SeriesData(
      Seq("__name__" -> "nhcb"), Array.emptyLongArray,
      Array.emptyDoubleArray, hists))
    val (_, nChunks, nSamples) = TsdbBlockWriter.writeBlock(dir, series)
    assert((nChunks, nSamples) === ((2L, 3L)))
    val back = TsdbBlockRecords.readHistograms(spark, dir).collect()
      .map(_._2).sortBy(_.time)
    assert(back.map(h => (h.time, h.schema, h.customValues,
      h.positive.filter(_._2 != 0.0))).toSeq ===
      hists.map(h => (h.time, h.schema, h.customValues, h.positive)))
  }

  test("interleaved float/histogram samples in one series fail loudly") {
    val dir = tmpDir("graft_blockhist_mix_")
    val s = TsdbBlockWriter.SeriesData(Seq("__name__" -> "x"),
      Array(1000L, 3000L), Array(1.0, 2.0),
      Seq(mkHist(2000L, 1.0, 1.0, Seq((0, 1.0)))))
    val e = intercept[IllegalArgumentException] {
      TsdbBlockWriter.writeBlock(dir, Seq(s))
    }
    assert(e.getMessage.contains("interleave"))
    // the chunks written before the rejected series are gone with the
    // block directory: no partial block for a reader to pick up
    assert(!new java.io.File(dir).exists(), dir)
  }

  private def writeHistWal(walDir: String,
                           series: Seq[(Map[String, String],
                             Seq[WalReader.WalHistogram])]): Unit = {
    val withRefs = series.zipWithIndex.map { case ((lbls, hs), i) =>
      val ref = (1L << 32) | (i + 1).toLong
      (ref, lbls, hs.map(_.copy(ref = ref)))
    }
    val recs = Iterator(
      TsdbWalWriter.seriesRecord(withRefs.map(s => (s._1, s._2.toSeq.sorted)))) ++
      withRefs.iterator.flatMap { case (_, _, hs) =>
        hs.groupBy(_.isFloat).map { case (f, g) =>
          TsdbWalWriter.histogramRecord(g.sortBy(_.time), f)
        }
      }
    TsdbWalWriter.writeSegment(f"$walDir/${1}%08d", recs)
  }

  test("head compaction (compactWal) and snapshot carry WAL histograms") {
    val db = tmpDir("graft_histdb_")
    val walDir = s"$db/wal"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(walDir))
    val hs = (0 until 5).map(i =>
      mkHist(1000L + i * 60000L, cnt = 3.0 + i, sum = 1.5 * i,
        pos = Seq((0, 1.0 + i), (3, 2.0)), schema = 2, hint = 2))
    writeHistWal(walDir, Seq(Map("__name__" -> "rpc", "job" -> "api") -> hs))

    // head compaction: WAL → block, histograms included
    val dest = tmpDir("graft_histflush_")
    val names = TsdbBlockWriter.compactWal(spark, walDir, dest)
    assert(names.size === 1)
    val flushed = TsdbBlockRecords.readHistograms(spark, s"$dest/${names.head}")
      .collect().map(_._2).sortBy(_.time)
    assert(flushed.map(sparse).toSeq === hs.map(sparse))

    // snapshot: the copy reads back identically to the live DB
    val snap = tmpDir("graft_histsnap_")
    graft.tsdb.Backfill.snapshot(spark, db, snap)
    val live = TsdbDb.readHistograms(spark, db).collect()
      .map(_._2).sortBy(_.time).map(sparse).toSeq
    val snapped = TsdbDb.readHistograms(spark, snap).collect()
      .map(_._2).sortBy(_.time).map(sparse).toSeq
    assert(live === hs.map(sparse))
    assert(snapped === live)
  }

  test("block compaction levels histogram chunks without loss") {
    val db = tmpDir("graft_histcompact_")
    // 12 hourly samples = six 2h blocks; the first 10h window's five
    // blocks are selectable (the sixth is newer than the window, so the
    // "don't compact prematurely" rule is satisfied)
    val hs = (0 until 12).map(i =>
      mkHist(1000L + i * 3600000L, cnt = 2.0 + i, sum = 0.25 * i,
        pos = Seq((1, 1.0 + i))))
    import spark.implicits._
    val histDs = spark.createDataset(
      hs.map(h => (Map("__name__" -> "rpc"), h)))
    val floatDf = spark.range(0).select(
      lit(0L).as("time"), lit(0.0).as("value"),
      map(lit("k"), lit("v")).as("labels"))
    val parents = TsdbBlockWriter.write(floatDf, db, hists = Some(histDs))
    assert(parents.size === 6)
    val produced = graft.tsdb.Compactor.compactDb(spark, db,
      ranges = Seq(2L * 3600 * 1000, 10L * 3600 * 1000))
    assert(produced.nonEmpty)
    val back = TsdbDb.readHistograms(spark, db).collect()
      .map(_._2).sortBy(_.time).map(sparse).toSeq
    assert(back === hs.map(sparse))
  }
}
