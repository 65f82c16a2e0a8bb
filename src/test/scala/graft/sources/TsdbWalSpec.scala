package graft.sources

import graft.{ReferenceFixture, SparkSpec}
import graft.sources.tsdbblock.{TsdbDb, WalReader}
import org.apache.spark.sql.functions._

/** WAL decode + whole-DB merge over the reference's bundled WAL
  * (/root/reference/wal — 2 segments, snappy-compressed records).
  * Ground truth is structural: the WAL defines the same 767-series
  * universe as the block, starts at the block's exact minTime, and
  * extends past its maxTime (the uncompacted head).
  */
class TsdbWalSpec extends SparkSpec {
  private val db = ReferenceFixture.Db
  private val BlockMin = 1679382479083L
  private val BlockMax = 1679385600000L
  private val WalSamples = 657681L
  private val NumSeries = 767L

  test("WAL decode: all sample refs resolve; head extends past the block") {
    assumeFixture(s"$db/wal")
    val dict = WalReader.seriesDict(s"$db/wal")
    assert(dict.size == NumSeries)
    val df = spark.read.format("tsdb-wal").load(s"$db/wal")
    assert(df.count() == WalSamples)
    val r = df.agg(min("time"), max("time")).head()
    assert(r.getLong(0) == BlockMin)
    assert(r.getLong(1) > BlockMax) // head continues after the block
  }

  test("golden content digest pins every decoded WAL sample bit-exactly") {
    assumeFixture(s"$db/wal")
    // same order-independent digest as the block spec (ContentDigest):
    // exact-value coverage for the snappy-framed record decode + series
    // dictionary resolution, where no SQL oracle can reach
    val df = spark.read.format("tsdb-wal").load(s"$db/wal")
    assert(ContentDigest.of(df) === 8282046805160407214L)
    assert(ContentDigest.of(df.where(
      element_at(col("labels"), "__name__") === "up" &&
        element_at(col("labels"), "instance") === "localhost:9090" &&
        element_at(col("labels"), "job") === "prometheus"))
      === 6120864956709336334L)
  }

  test("a corrupted record CRC stops decode instead of yielding garbage") {
    assumeFixture(s"$db/wal/00000000")
    val orig = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$db/wal/00000000"))
    assert(WalReader.records(s"$db/wal/00000000").nonEmpty)
    // flip one CRC byte of the very first record → iterator must stop at
    // the damaged tail (here: immediately), never decode the payload
    val bad = orig.clone(); bad(3) = (bad(3) ^ 0xff).toByte
    val dir = java.nio.file.Files.createTempDirectory("walcrc")
    val p = dir.resolve("00000000")
    java.nio.file.Files.write(p, bad)
    assert(WalReader.records(p.toString).isEmpty)
  }

  test("a torn tail (truncated segment) terminates cleanly") {
    assumeFixture(s"$db/wal/00000001")
    val orig = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$db/wal/00000001"))
    val full = WalReader.samples(s"$db/wal/00000001").size
    val dir = java.nio.file.Files.createTempDirectory("waltorn")
    val p = dir.resolve("00000000")
    java.nio.file.Files.write(p, java.util.Arrays.copyOfRange(orig, 0, orig.length - 51))
    val torn = WalReader.samples(p.toString).size // no exception
    assert(torn <= full)
  }

  test("zstd-compressed WAL records are rejected loudly") {
    val page = new Array[Byte](32 * 1024)
    page(0) = 0x11 // full record + zstd flag
    page(2) = 8    // len
    val dir = java.nio.file.Files.createTempDirectory("walzstd")
    val p = dir.resolve("00000000")
    java.nio.file.Files.write(p, page)
    intercept[IllegalStateException] { WalReader.records(p.toString).hasNext }
  }

  test("whole-DB view: blocks ∪ WAL deduped on (series, time)") {
    assumeFixture(db)
    val all = TsdbDb.read(spark, db)
    val n = all.count()
    // distinct by construction
    val pairs = all.select(array_sort(map_entries(col("labels"))), col("time"))
      .distinct().count()
    assert(n == pairs)
    // the WAL spans the whole fixture; dedup can only add block-only rows
    assert(n >= WalSamples)
    assert(n <= WalSamples + 154529L)
    // the reference's canonical series is intact, sorted, boolean-valued
    val up = all.where(col("labels").getItem("__name__") === "up")
    assert(up.count() > 100)
    assert(up.where(col("value") =!= 0.0 && col("value") =!= 1.0).count() == 0)
  }

  test("streaming WAL tail: incremental delivery ≡ batch source, no dups") {
    assumeFixture(s"$db/wal")
    // simulate a live WAL: torn first segment → completed → new segment
    val dir = java.nio.file.Files.createTempDirectory("wal_tail")
    val seg0 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$db/wal/00000000"))
    val seg1 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$db/wal/00000001"))
    // atomic replace: the stream polls continuously in the background, and
    // a plain truncate-then-write can surface a torn MID-WRITE state to a
    // racing micro-batch (observed as a flake under full-suite load). The
    // .tmp name doesn't match the 8-digit segment pattern, so the source
    // never sees the staging file.
    def put(name: String, bytes: Array[Byte]): Unit = {
      val tmp = dir.resolve(name + ".tmp")
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(tmp, dir.resolve(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    put("00000000", seg0.take(64 * 1024)) // torn mid-segment

    val q = spark.readStream.format("tsdb-wal-stream").load(dir.toString)
      .writeStream.outputMode("append").format("memory")
      .queryName("wal_tail_test").start()
    try {
      q.processAllAvailable()
      val n1 = spark.table("wal_tail_test").count()
      assert(n1 > 0, "torn prefix should still yield complete records")

      put("00000000", seg0) // the tail got completed
      q.processAllAvailable()
      val n2 = spark.table("wal_tail_test").count()
      assert(n2 > n1, "completing the segment must deliver the delta")

      put("00000001", seg1) // a new segment appeared
      q.processAllAvailable()
      val streamed = spark.table("wal_tail_test")

      val batch = spark.read.format("tsdb-wal").load(dir.toString)
      assert(streamed.count() == batch.count())
      // multiset equality on (series, time): no duplicate, no loss
      val key = array_sort(map_entries(col("labels")))
      val a = streamed.groupBy(key.as("k"), col("time")).count()
      val b = batch.groupBy(key.as("k"), col("time")).count()
      assert(a.except(b).isEmpty && b.except(a).isEmpty)
    } finally q.stop()
  }

  test("streaming WAL histogram tail: kind=histograms ≡ batch reader, " +
      "torn-tail safe; bad kind rejected") {
    import graft.tsdb.NativeHistogram
    import graft.sources.tsdbblock.{TsdbWalWriter, TsdbWalRecords}
    import spark.implicits._
    // 2 series × 2 snapshot times on the schema-0 grid
    val rows = Seq(
      ("a", 1000L, 2.0), ("a", 1000L, 3.0),
      ("b", 1000L, 5.0),
      ("a", 2000L, 9.0), ("b", 2000L, 17.0), ("b", 2000L, 33.0))
    val dense = NativeHistogram.buildExp(
      rows.toDF("inst", "time", "v"),
      Seq(col("inst"), col("time")), col("v"),
      schema = 0, minExp = 0, maxExp = 9)
      .select(col("time"),
        map(lit("__name__"), lit("h"), lit("inst"), col("inst")).as("labels"),
        col("hist"))
    val src = java.nio.file.Files.createTempDirectory("walhist_src")
    TsdbWalWriter.writeHistograms(dense, src.toString,
      schemaId = 0, minExp = 0, maxExp = 9, float = false)
    val segs = WalReader.segments(src.toString)
    assert(segs.nonEmpty)
    // live-WAL staging dir: torn first segment, then completed, then
    // the rest (same atomic-replace discipline as the float tail test)
    val dir = java.nio.file.Files.createTempDirectory("walhist_tail")
    def put(name: String, bytes: Array[Byte]): Unit = {
      val tmp = dir.resolve(name + ".tmp")
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(tmp, dir.resolve(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val names = segs.map(s => new java.io.File(s).getName)
    val bytes = segs.map(s =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s)))
    put(names.head, bytes.head.take(bytes.head.length / 2)) // torn
    val q = spark.readStream.format("tsdb-wal-stream")
      .option("kind", "histograms").load(dir.toString)
      .writeStream.outputMode("append").format("memory")
      .queryName("wal_hist_tail_test").start()
    try {
      q.processAllAvailable()
      val n1 = spark.table("wal_hist_tail_test").count() // no exception
      assert(n1 <= 4, "torn prefix must not invent records")
      names.zip(bytes).foreach { case (n, b) => put(n, b) } // complete
      q.processAllAvailable()
      val streamed = spark.table("wal_hist_tail_test")
      assert(streamed.count() == 4) // one record per (series, time)
      // content ≡ the batch histogram reader over the same directory
      val a = streamed.select(
        element_at(col("labels"), "inst").as("inst"),
        col("time"), col("count"), col("sum"))
      val b = TsdbWalRecords.readHistogramsFull(spark, dir.toString)
        .toDF("labels", "h")
        .select(col("labels").getItem("inst").as("inst"),
          col("h.time").as("time"), col("h.count").as("count"),
          col("h.sum").as("sum"))
      assert(a.except(b).isEmpty && b.except(a).isEmpty)
      // the sparse shape round-trips into the dense NHCB tier
      val back = graft.tsdb.RemoteWrite.denseFromSparse(
        streamed.drop("isFloat").as[graft.tsdb.RemoteWrite.SparseHist],
        schemaId = 0, minExp = 0, maxExp = 9)
      assert(back.where(col("time") === 1000L &&
          col("labels").getItem("inst") === "a")
        .select(col("hist.count")).as[Double].head() == 2.0)
    } finally q.stop()
    // an unknown kind is a loud caller error, never a silent default
    val e = intercept[Exception] {
      spark.readStream.format("tsdb-wal-stream").option("kind", "bogus")
        .load(dir.toString)
    }
    def msg(t: Throwable): Boolean = t != null &&
      (String.valueOf(t.getMessage).contains("tsdb-wal-stream kind") ||
        msg(t.getCause))
    assert(msg(e), e)
  }

  test("streaming WAL exemplar/metadata tails ≡ batch readers") {
    // every data-bearing record kind is now tailable — a live view of
    // a head writing exemplars (kind 4) or metadata (kind 6) must not
    // be silently partial either
    import graft.sources.tsdbblock.{TsdbWalWriter, TsdbWalRecords}
    import spark.implicits._
    val long = Seq(
      (1000L, 1.0, Map("__name__" -> "up", "job" -> "a")),
      (2000L, 2.0, Map("__name__" -> "up", "job" -> "b")),
      (3000L, 3.0, Map("__name__" -> "lat", "job" -> "a")))
      .toDF("time", "value", "labels")
    val dir = graft.queries.Tables.scratchDir("graft_walkinds_stream")
    TsdbWalWriter.write(long, s"$dir")
    val ex = Seq(
      (1500L, 9.5, Map("__name__" -> "up", "job" -> "a"),
        Map("trace_id" -> "t1")),
      (2500L, 7.0, Map("__name__" -> "lat", "job" -> "a"),
        Map("trace_id" -> "t2")))
      .toDF("time", "value", "labels", "exemplar")
    assert(TsdbWalWriter.writeExemplars(ex, s"$dir") == 2L)
    assert(TsdbWalWriter.writeMetadata(s"$dir", Map(
      "up" -> ((1, "", "is it up")),
      "lat" -> ((2, "seconds", "latency")))) == 3)
    // exemplars: streamed ≡ batch reader, labels resolved
    val exStream = spark.readStream.format("tsdb-wal-stream")
      .option("kind", "exemplars").load(dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("wal_ex_tail_test").start()
    try {
      exStream.processAllAvailable()
      val streamed = spark.table("wal_ex_tail_test")
        .select(col("time"), col("value"),
          element_at(col("labels"), "__name__").as("n"),
          element_at(col("exemplar"), "trace_id").as("tid"))
      val batch = TsdbWalRecords.readExemplars(spark, dir)
        .select(col("time"), col("value"),
          element_at(col("labels"), "__name__").as("n"),
          element_at(col("exemplar"), "trace_id").as("tid"))
      assert(streamed.count() == 2)
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    } finally exStream.stop()
    // metadata: streamed raw records; distinct ≡ the batch API view
    val mdStream = spark.readStream.format("tsdb-wal-stream")
      .option("kind", "metadata").load(dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("wal_md_tail_test").start()
    try {
      mdStream.processAllAvailable()
      val streamed = spark.table("wal_md_tail_test").distinct()
      val batch = TsdbWalRecords.readMetadata(spark, dir)
      assert(streamed.count() == 2) // (up, counter), (lat, gauge)
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    } finally mdStream.stop()
  }

  test("exemplar/metadata tails: torn final record stays safe; a " +
      "restarted stream resumes from its checkpoint, no dups") {
    // the float tail's torn-record and restart guarantees, proven for
    // the round-16 record kinds: a live head can die mid-write of an
    // exemplar/metadata record, and a restarted consumer must resume
    // from its offsets — not re-deliver, not invent, not drop
    import graft.sources.tsdbblock.{TsdbWalWriter, TsdbWalRecords}
    import spark.implicits._
    val src = graft.queries.Tables.scratchDir("graft_walkinds_torn_src")
    val long = Seq((1000L, 1.0, Map("__name__" -> "up", "job" -> "a")))
      .toDF("time", "value", "labels")
    TsdbWalWriter.write(long, src, partitions = 1)
    val ex1 = Seq((1500L, 9.5, Map("__name__" -> "up", "job" -> "a"),
      Map("trace_id" -> "t1"))).toDF("time", "value", "labels", "exemplar")
    assert(TsdbWalWriter.writeExemplars(ex1, src, partitions = 1) == 1L)
    assert(TsdbWalWriter.writeMetadata(src,
      Map("up" -> ((1, "", "is it up")))) >= 1)
    // stage into a live-WAL dir: every segment whole except the LAST
    // (the metadata one), cut mid-record — the same atomic-replace
    // discipline as the float tail test
    val segNames = new java.io.File(src).listFiles()
      .map(_.getName).filter(_.matches("\\d{8}")).sorted.toSeq
    val dir = java.nio.file.Files.createTempDirectory("walkinds_torn")
    def put(name: String, bytes: Array[Byte]): Unit = {
      val tmp = dir.resolve(name + ".tmp")
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(tmp, dir.resolve(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def bytesOf(n: String): Array[Byte] = java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get(s"$src/$n"))
    segNames.init.foreach(n => put(n, bytesOf(n)))
    val lastName = segNames.last
    val lastBytes = bytesOf(lastName)
    put(lastName, lastBytes.take(math.max(9, lastBytes.length / 2)))
    val md = spark.readStream.format("tsdb-wal-stream")
      .option("kind", "metadata").load(dir.toString)
      .writeStream.outputMode("append").format("memory")
      .queryName("walkinds_md_torn").start()
    try {
      md.processAllAvailable() // torn tail: no exception, no invention
      val n1 = spark.table("walkinds_md_torn").count()
      put(lastName, lastBytes) // the writer completed the record
      md.processAllAvailable()
      val streamed = spark.table("walkinds_md_torn").distinct()
      val batch = TsdbWalRecords.readMetadata(spark, dir.toString)
      assert(n1 <= spark.table("walkinds_md_torn").count(),
        "completing the record must only ADD")
      assert(streamed.except(batch).isEmpty &&
        batch.except(streamed).isEmpty,
        "completed tail must equal the batch reader")
      assert(batch.count() >= 1)
    } finally md.stop()
    // restart-from-offset, exemplar kind: consume, STOP, more
    // exemplars arrive, restart on the SAME checkpoint — the restarted
    // query delivers exactly the delta (a re-delivery of consumed
    // offsets would duplicate t1 in the file sink's output)
    val ckpt = java.nio.file.Files.createTempDirectory("walkinds_ckpt")
    val out = java.nio.file.Files.createTempDirectory("walkinds_out")
    def startEx() = spark.readStream.format("tsdb-wal-stream")
      .option("kind", "exemplars").load(dir.toString)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .start()
    def traceIds(): Seq[String] = spark.read.parquet(out.toString)
      .select(element_at(col("exemplar"), "trace_id"))
      .as[String].collect().toSeq.sorted
    val q1 = startEx()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(traceIds() == Seq("t1"), traceIds())
    val ex2 = Seq((2500L, 7.0, Map("__name__" -> "up", "job" -> "a"),
      Map("trace_id" -> "t2"))).toDF("time", "value", "labels", "exemplar")
    assert(TsdbWalWriter.writeExemplars(ex2, src, partitions = 1) == 1L)
    new java.io.File(src).listFiles().map(_.getName)
      .filter(_.matches("\\d{8}")).filterNot(segNames.contains)
      .foreach(n => put(n, bytesOf(n)))
    val q2 = startEx()
    try {
      q2.processAllAvailable()
      assert(traceIds() == Seq("t1", "t2"),
        s"restart must deliver exactly the delta, got ${traceIds()}")
    } finally q2.stop()
  }

  test("stream_q7_wal_tail digest column ≡ batch source per-name digest") {
    assumeFixture(s"$db/wal")
    // the driver's rows-only check now carries a content commitment:
    // the streaming query's per-name digest must equal the same fold
    // computed through the BATCH wal source — exact decoded content,
    // not just a row count
    import graft.sources.tsdbblock.SampleDigest
    val streamed = graft.SparkEntry.queries("stream_q7_wal_tail")(spark, "")
    val batch = spark.read.format("tsdb-wal").load(s"$db/wal")
      .select(col("labels").getItem("__name__").as("name"),
        SampleDigest.perSample.as("_h"))
      .groupBy(col("name"))
      .agg(count(lit(1)).as("n_samples"),
        SampleDigest.folded(col("_h")).as("digest"))
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("Querier.Select shape: matchers over the whole DB ≡ post-filter") {
    assumeFixture(db)
    import graft.model.Matcher
    val got = TsdbDb.select(spark, db, Seq(
      Matcher.Eq("__name__", "up"),
      Matcher.Eq("instance", "localhost:9090"),
      Matcher.Eq("job", "prometheus")))
    val want = TsdbDb.read(spark, db).where(
      col("labels").getItem("__name__") === "up" &&
        col("labels").getItem("instance") === "localhost:9090" &&
        col("labels").getItem("job") === "prometheus")
    assert(got.count() == want.count() && got.count() > 100)
    assert(got.select(col("time"), col("value")).except(
      want.select(col("time"), col("value"))).count() == 0)

    // negative + regex kinds (residual-only path, WAL rows included)
    val re = TsdbDb.select(spark, db, Seq(
      Matcher.Re("__name__", "go_gc_.*seconds"),
      Matcher.NotEq("quantile", "")))
    val reWant = TsdbDb.read(spark, db).where(
      col("labels").getItem("__name__").rlike("go_gc_.*seconds") &&
        coalesce(col("labels").getItem("quantile"), lit("")) =!= "")
    assert(re.count() == reWant.count() && re.count() > 0)
  }

  test("WalReader.dicts ≡ (seriesDict, stoneDict) — the fused planning pass") {
    assumeFixture(s"$db/wal")
    // round-19: the tsdb-wal scan plans with ONE fused pass over the
    // segment bytes instead of two; pin the equivalence on the
    // reference WAL (series) and a synthetic stone-bearing WAL (stones)
    val wal = s"$db/wal"
    val (dict, stones) = WalReader.dicts(wal)
    assert(dict == WalReader.seriesDict(wal))
    assert(stones == WalReader.stoneDict(wal))
  }

  test("WalDicts blob round-trips the dictionaries through serialization") {
    assumeFixture(s"$db/wal")
    // round-20: the scan broadcasts the dictionaries as ONE compact
    // byte blob (SizeEstimator/JavaSerializer no longer walk the nested
    // Map graph per execution); pin the encode→serialize→decode loop
    import graft.sources.tsdbblock.Tombstones
    val (dict, _) = WalReader.dicts(s"$db/wal")
    val stones = Map(
      1L -> Seq(Tombstones.Interval(5L, 9L)),
      42L -> Seq(Tombstones.Interval(0L, 1L), Tombstones.Interval(3L, 4L)))
    val blob = WalReader.WalDicts(dict, stones)
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(blob); oos.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[WalReader.WalDicts]
    assert(back.series == dict)
    assert(back.stones == stones)
  }

  test("ranged records: stitched split ranges ≡ the whole segment") {
    assumeFixture(s"$db/wal")
    // round-20: intra-segment splits start at the record-boundary
    // offsets walMeta reports; a task consumes exactly the records
    // starting in [from, until) — no overlap, no gap, fragments of a
    // record started inside the range consumed whole
    val meta = WalReader.walMeta(s"$db/wal")
    assert(meta.splitCandidates.values.exists(_.nonEmpty)) // multi-MB segs
    meta.segments.foreach { seg =>
      val full = WalReader.records(seg).map(_.toSeq).toSeq
      val bounds = 0L +: meta.splitCandidates(seg).toSeq :+ Long.MaxValue
      val stitched = bounds.zip(bounds.tail).flatMap { case (f, u) =>
        WalReader.records(seg, f, u).map(_.toSeq)
      }
      assert(stitched == full)
    }
  }

  test("the tsdb-wal scan splits large segments into multiple tasks") {
    assumeFixture(s"$db/wal")
    // round-20: the replay is no longer one task per segment — a
    // 2.7 MB segment on local[4] must split (splitBytes = total/cores
    // clamped to [256 KiB, maxPartitionBytes]) and the split read must
    // agree with the unsplit ground truth (count pinned above)
    val df = spark.read.format("tsdb-wal").load(s"$db/wal")
    val nSegs = WalReader.segments(s"$db/wal").size
    assert(df.rdd.getNumPartitions > nSegs)
    assert(df.count() == WalSamples)
  }

  test("whole-DB dedup tie-break: a real sample beats a staleness marker") {
    // round-19: the (series, time) dedup moved from a row_number window
    // to a partial-aggregable min(value); min ignores NULLs, so a real
    // sample still wins over a marker at the same (series, time), and a
    // series whose only duplicate rows are markers stays ended (NULL).
    import graft.sources.tsdbblock.{TsdbBlockWriter, TsdbWalWriter}
    val dir = java.nio.file.Files.createTempDirectory("dedup_tie").toString
    val marker = java.lang.Double.longBitsToDouble(
      graft.tsdb.TsdbSchema.StaleNaNBits)
    val sp = spark
    import sp.implicits._
    def frame(rows: Seq[(Long, Double, String)]) =
      rows.toDF("time", "value", "m")
        .select(col("time"), col("value"),
          map(lit("__name__"), col("m")).as("labels"))
    // block: real samples for both series
    TsdbBlockWriter.write(
      frame(Seq((1000L, 5.0, "a"), (1000L, 7.0, "b"))), dir,
      blockRangeMs = 7200000L)
    // WAL head: a marker for series a at the SAME (series, time) — a
    // replayed end-of-series marker racing the block's real sample —
    // and a marker-only end for series b at a later instant. The record
    // is hand-framed with RAW float bits: a marker cannot travel through
    // a DataFrame (UnsafeRow + doubleToLongBits canonicalize every NaN
    // payload), which is exactly why only scrape-side writers emit them.
    locally {
      val _ = marker // documents what the raw bits below represent
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$dir/wal"))
      val seriesRec = TsdbWalWriter.seriesRecord(Seq(
        1L -> Seq("__name__" -> "a"), 2L -> Seq("__name__" -> "b")))
      val b = new java.io.ByteArrayOutputStream()
      def be64(v: Long): Unit = {
        var i = 56; while (i >= 0) { b.write(((v >>> i) & 0xff).toInt); i -= 8 }
      }
      def varint(v: Long): Unit = {
        var x = (v << 1) ^ (v >> 63)
        while ((x & ~0x7fL) != 0) { b.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
        b.write(x.toInt)
      }
      b.write(2) // samples record, base (ref=1, time=1000)
      be64(1L); be64(1000L)
      varint(0L); varint(0L); be64(graft.tsdb.TsdbSchema.StaleNaNBits)
      varint(1L); varint(1000L); be64(graft.tsdb.TsdbSchema.StaleNaNBits)
      TsdbWalWriter.writeSegment(s"$dir/wal/00000000",
        Iterator(seriesRec, b.toByteArray))
    }
    val rows = TsdbDb.read(spark, dir)
      .select(col("labels").getItem("__name__").as("m"), col("time"),
        col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)))).toSet
    assert(rows == Set(
      ("a", 1000L, Some(5.0)),      // real beats marker at equal key
      ("b", 1000L, Some(7.0)),
      ("b", 2000L, None)))          // marker-only instant stays ended
  }
}
