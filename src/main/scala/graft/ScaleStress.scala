package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.model.Matcher
import graft.queries.Tables
import graft.tsdb.{RangeVectors, TsdbIngest, TsdbTable}

/** Scale-stress harness: replicate the sf events corpus N-fold (shifted
  * user label + time jitter ⇒ N× rows AND N× distinct series), ingest
  * through the real sorted writer, and time the headline TSDB queries.
  * The check is SHAPE, not absolute speed: ingest and regroup should
  * scale ~linearly in rows, matcher queries should stay bounded by the
  * matched slice (pushdown + row-group pruning), not corpus size.
  *
  * Usage: runMain graft.ScaleStress [sfDir] [factor]
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $name%-32s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val base = Tables.eventsAsTsdb(spark, sfDir)
    val xN = (0 until factor).map { i =>
      base.withColumn("labels.user", concat(col("`labels.user`"), lit("_" + i)))
        .withColumn("time", col("time") + lit(i * 1000L))
    }.reduce(_ unionByName _)
    val dir = Tables.scratchDir("graft_scale")

    time(s"ingest ${factor}x sorted")(TsdbIngest.write(xN, dir, timePartitions = 32))
    val t = TsdbTable(TsdbIngest.read(spark, dir))
    val rows = time("full count")(t.df.count())
    println(s"[scale] rows=$rows seriesFactor=$factor")
    time("q2 range+matchers") {
      t.select(Tables.RangeStart, Tables.RangeEnd,
        Seq(Matcher.Eq("name", "purchase"), Matcher.Eq("user", "12_3"))).count()
    }
    time("regroup all series")(t.regroup(t.select(Nil)).count())
    time("range vectors 1d")(RangeVectors.overTime(t.df, 86400000L).count())
    // sequential-fold smoothing: cost is one groupBy shuffle carrying an
    // array per (series, bucket) — must scale in rows, not series²
    time("holt_winters 1d")(
      RangeVectors.holtWinters(t.df, 86400000L, 0.5, 0.5, 0.3, 0.7).count())
    // PromQL text tier at Nx series: sliding-window rate (pair fan-out,
    // cost = matched rows × window/step overlap) and a subquery fold —
    // one evalRange pass + one per-series aggregation; a re-scan-per-step
    // implementation would blow up HERE, at 10× series × 15 steps
    time(s"promql sliding rate ${factor}x")(
      graft.tsdb.PromQL.evalRange(
        graft.tsdb.PromQL.parse("""rate({name="purchase"}[7d])"""),
        t.df, start = Tables.RangeStart, end = Tables.RangeEnd,
        stepMs = 86400000L, lookbackMs = 86400000L).count())
    time(s"promql subquery fold ${factor}x")(
      graft.tsdb.PromQL.eval(
        graft.tsdb.PromQL.parse(
          """max_over_time(rate({name="purchase"}[7d])[7d:1d])"""),
        t.df, at = Tables.RangeEnd, lookbackMs = 86400000L,
        start = Tables.RangeStart, end = Tables.RangeEnd).count())
    // range-mode subquery with the PAIR fan-out: inner per-user daily
    // sums evaluate once (23 grid points), consecutive pairs fan to the
    // 16 outer steps containing both endpoints — cost = inner points ×
    // overlap, invariant to outer step count; a grid-of-grids design
    // would pay 16 inner evaluations here
    time(s"promql range subquery ${factor}x")(
      graft.tsdb.PromQL.evalRange(
        graft.tsdb.PromQL.parse(
          """increase(sum by (user) ({name="purchase"})[7d:1d])"""),
        t.df, start = Tables.RangeStart, end = Tables.RangeEnd,
        stepMs = 86400000L, lookbackMs = 86400000L).count())
    // grouped rank at Nx series: one partitioned window, parallelism =
    // number of (name) groups × partitions — never a global sort
    time(s"promql grouped topk ${factor}x")(
      graft.tsdb.PromQL.eval(
        graft.tsdb.PromQL.parse("""topk by (name) (3, {name=~".+"})"""),
        t.df, at = Tables.RangeEnd, lookbackMs = 86400000L,
        start = Tables.RangeStart, end = Tables.RangeEnd).count())
    // Prometheus-exact extrapolated rate, sliding: pair fan-out + one
    // (series, t) aggregation carrying five scalar aggregates
    time(s"promql sliding xrate ${factor}x")(
      graft.tsdb.PromQL.evalRange(
        graft.tsdb.PromQL.parse("""xrate({name="purchase"}[7d])"""),
        t.df, start = Tables.RangeStart, end = Tables.RangeEnd,
        stepMs = 86400000L, lookbackMs = 86400000L).count())
    // native-histogram tier at Nx: build is ONE partial-agg groupBy whose
    // shuffle carries |series| structs (~8 doubles each), never samples;
    // merge exchanges merged structs; the rate composition adds one lag
    // window over (series, day) rows — all invariant to sample count
    // beyond the scan itself
    val nhBounds = (1 to 8).map(_ * 50.0)
    time(s"native hist build ${factor}x")(
      graft.tsdb.NativeHistogram.build(
        t.select(Tables.RangeStart, Tables.RangeEnd, Nil).toDF(),
        Seq(col("`labels.name`").as("name"), col("`labels.user`").as("user")),
        col("value"), nhBounds).count())
    time(s"native hist merge ${factor}x") {
      val per = graft.tsdb.NativeHistogram.build(
        t.select(Tables.RangeStart, Tables.RangeEnd, Nil).toDF(),
        Seq(col("`labels.name`").as("name"), col("`labels.user`").as("user")),
        col("value"), nhBounds)
      graft.tsdb.NativeHistogram.merge(per, Seq(col("name")), nhBounds.size)
        .select(col("hist.counts")).count()
    }
    time(s"native hist rate ${factor}x") {
      import graft.tsdb.NativeHistogram._
      val daily = build(
        t.select(Tables.RangeStart, Tables.RangeEnd, Nil).toDF()
          .withColumn("day", floor(col("time") / lit(86400000.0)).cast("long")),
        Seq(col("`labels.name`").as("name"), col("`labels.user`").as("user"),
          col("day")),
        col("value"), nhBounds)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("name"), col("user")).orderBy(col("day"))
      daily.withColumn("prev", lag(col("hist"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(element_at(
          histAdd(col("hist"), col("prev")).getField("counts"), 1)).count()
    }
    // metadata API at Nx series (the label universe grows with factor):
    // each endpoint is a pruned scan + an aggregation bounded by the
    // label universe, never by sample count
    time(s"metadata labels+values+series ${factor}x") {
      graft.tsdb.TsdbMeta.labelNames(t, Tables.RangeStart, Tables.RangeEnd,
        Seq(Matcher.Re("user", "1.*"))).count()
      graft.tsdb.TsdbMeta.labelValues(t, "user", Tables.RangeStart,
        Tables.RangeEnd, Seq(Matcher.Eq("name", "click"))).count()
      graft.tsdb.TsdbMeta.series(t, Tables.RangeStart, Tables.RangeEnd,
        Seq(Matcher.Re("name", "p.*"))).count()
    }
    // rules engine at Nx series: the expression is ONE evalRange pass
    // (cost = the promql rows above), the state machine adds two window
    // passes partitioned per alert label set — parallelism grows WITH
    // the series count, never a global sort
    time(s"alert rule eval ${factor}x")(
      graft.tsdb.AlertRules.evaluate(
        graft.tsdb.AlertRules.AlertRule("hot_purchases",
          """sum by (user) (count_over_time({name="purchase"}[1d])) > 0""",
          forMs = 86400000L),
        t.df, start = Tables.RangeStart, end = Tables.RangeEnd,
        stepMs = 86400000L, lookbackMs = 86400000L).count())
    // rule group at Nx: recording output union is metadata-only; the
    // later alert's selector prunes to the recorded series it names
    time(s"rule group eval ${factor}x") {
      import graft.tsdb.AlertRules._
      val (_, alerts) = evaluateGroup(Seq(
        RecordingRule("user_daily_purchases",
          """sum by (user) (count_over_time({name="purchase"}[1d]))"""),
        AlertRule("hot_recorded",
          """{name="user_daily_purchases"} > 0""", forMs = 86400000L)),
        t.df, start = Tables.RangeStart, end = Tables.RangeEnd,
        stepMs = 86400000L, lookbackMs = 86400000L)
      alerts.get.count()
    }
    // exemplars at Nx samples: derivation is a map-side filter (no
    // shuffle), query a pruned scan, grouping one partial-agg groupBy
    // bounded by exemplar volume (sparse by construction)
    time(s"exemplar derive+query+group ${factor}x") {
      val ex = graft.tsdb.Exemplars.fromSamples(t.df, threshold = 150.0)
      graft.tsdb.Exemplars.grouped(
        graft.tsdb.Exemplars.query(ex,
          Seq(Matcher.Eq("name", "purchase"), Matcher.Re("user", "1.*")),
          Tables.RangeStart, Tables.RangeEnd)).count()
    }
    // cardinality stats at Nx series (the universe itself grows 10×):
    // one persisted sample-sized distinct, then series×labels-bounded
    // aggs + per-stat windowed top-k — must scale in the distinct, not
    // in families × samples
    time(s"status/tsdb cardinality stats ${factor}x")(
      graft.tsdb.TsdbStats.headStats(t, Tables.RangeStart, Tables.RangeEnd)
        .count())

    // keep_firing_for at Nx series: the sequential per-element walk
    // shuffles ONCE by label set (the window machine's movement) and
    // parallelizes across elements — grid length is the only per-group
    // cost, invariant to the series count
    time(s"alert rule keep_firing_for ${factor}x")(
      graft.tsdb.AlertRules.evaluate(
        graft.tsdb.AlertRules.AlertRule("hot_keep",
          """sum by (user) (count_over_time({name="purchase"}[1d])) > 1""",
          forMs = 86400000L, keepFiringForMs = 172800000L),
        t.df, start = Tables.RangeStart, end = Tables.RangeEnd,
        stepMs = 86400000L, lookbackMs = 86400000L).count())

    // binary OTLP codec at Nx samples: encode and decode are both
    // map-side byte work (one request per row, flatMap back) — scan
    // speed, no shuffle anywhere
    time(s"otlp proto encode+decode ${factor}x") {
      val long = t.df.select(col("time"), col("value"),
        map(lit("__name__"), col("`labels.name`"),
          lit("user"), col("`labels.user`")).as("labels"))
      graft.tsdb.OtlpProto.decodeRequests(
        graft.tsdb.OtlpProto.encodeRequests(long)).count()
    }

    // federate at Nx series: one OR-combined pruned scan + the instant
    // kernel + map-side text render — bounded by matched series
    time(s"federate ${factor}x") {
      graft.tsdb.Federate.federate(t,
        Seq(Seq(Matcher.Eq("name", "purchase"), Matcher.Re("user", "1.*")),
          Seq(Matcher.Eq("name", "error"))),
        at = Tables.RangeEnd, lookbackMs = 86400000L).count()
    }
    // remote-write wire codec at Nx samples: decode is a map-side
    // flatMap over payloads (zero shuffle); encode's only shuffle is
    // the series groupBy — the same exchange wide ingest needs — so
    // the full round trip must scale linearly in sample count
    time(s"remote-write encode+decode ${factor}x") {
      val ev = Tables.load(spark, sfDir, "events")
      val evN = ev
        .withColumn("_r", explode(sequence(lit(0), lit(factor - 1))))
        .withColumn("user_id", col("user_id") + col("_r") * lit(10000000L))
        .drop("_r")
      val long = evN.select(unix_millis(col("ts")).as("time"), col("value"),
        map(lit("__name__"), col("event_type"),
          lit("user"), col("user_id").cast("string")).as("labels"))
      graft.tsdb.RemoteWrite.decode(graft.tsdb.RemoteWrite.encode(long))
        .count()
    }
    // Remote-write 2.0 at Nx: same plan shapes as 1.0 (one-shuffle
    // encode, map-side decode) with per-request symbol interning — the
    // interning is in-task string work, so cost stays linear in samples
    time(s"remote-write v2 encode+decode ${factor}x") {
      val ev = Tables.load(spark, sfDir, "events")
      val evN = ev
        .withColumn("_r", explode(sequence(lit(0), lit(factor - 1))))
        .withColumn("user_id", col("user_id") + col("_r") * lit(10000000L))
        .drop("_r")
      val long = evN.select(unix_millis(col("ts")).as("time"), col("value"),
        map(lit("__name__"), col("event_type"),
          lit("user"), col("user_id").cast("string")).as("labels"))
      graft.tsdb.RemoteWrite2.decode(graft.tsdb.RemoteWrite2.encode(long))
        .count()
    }
    // TSDB block write-out at Nx samples: one shuffle groups samples
    // into (slice, series); each 2h slice assembles its block directory
    // in one task (Gorilla encode + index build) — the compactor
    // sharding model, so Nx data means more/larger blocks, never
    // cross-task coordination
    val blockRoot = Tables.scratchDir("graft_scale_blocks")
    val blockNames = time(s"tsdb block write-out ${factor}x") {
      val ev = Tables.load(spark, sfDir, "events")
      val evN = ev
        .withColumn("_r", explode(sequence(lit(0), lit(factor - 1))))
        .withColumn("user_id", col("user_id") + col("_r") * lit(10000000L))
        .drop("_r")
      val long = evN.select(unix_millis(col("ts")).as("time"), col("value"),
        map(lit("__name__"), col("event_type"),
          lit("user"), col("user_id").cast("string")).as("labels"))
      val names = graft.sources.tsdbblock.TsdbBlockWriter.write(
        long, blockRoot, blockRangeMs = 86400000L)
      println(s"[scale] blocks written=${names.size}")
      names
    }
    // WAL write-out at Nx samples: same one-shuffle series grouping,
    // one self-contained wlog segment per task — page framing and
    // snappy are per-record, so cost is linear in samples
    val scaleWal = Tables.scratchDir("graft_scale_wal")
    time(s"tsdb wal write-out ${factor}x") {
      val ev = Tables.load(spark, sfDir, "events")
      val evN = ev
        .withColumn("_r", explode(sequence(lit(0), lit(factor - 1))))
        .withColumn("user_id", col("user_id") + col("_r") * lit(10000000L))
        .drop("_r")
      val long = evN.select(unix_millis(col("ts")).as("time"), col("value"),
        map(lit("__name__"), col("event_type"),
          lit("user"), col("user_id").cast("string")).as("labels"))
      val n = graft.sources.tsdbblock.TsdbWalWriter.write(
        long, scaleWal, partitions = 32)
      println(s"[scale] wal segments written=$n")
    }
    // DELETE SERIES at Nx: tombstone writes are O(index) driver passes
    // per block — cost scales in series count, NEVER touches samples
    time(s"delete series (tombstones) ${blockNames.size} blocks") {
      blockNames.foreach { n =>
        graft.tsdb.TsdbAdmin.deleteSeries(s"$blockRoot/$n",
          Seq(Matcher.Eq("__name__", "error")))
        graft.tsdb.TsdbAdmin.deleteSeries(s"$blockRoot/$n",
          Seq(Matcher.Eq("__name__", "click")),
          Tables.RangeStart, Tables.RangeEnd)
      }
    }
    // masked read: fully-stoned series prune at PLANNING (chunks never
    // fetched), partial stones mask per-sample in the reader
    time(s"masked block read after delete ${factor}x") {
      val n = blockNames.map(n =>
        spark.read.format("tsdb-block").load(s"$blockRoot/$n"))
        .reduce(_ unionByName _).count()
      println(s"[scale] surviving samples=$n")
    }
    // CLEAN TOMBSTONES: the physical rewrite — ALL blocks' masked scans
    // union into ONE one-shuffle block write (per-block sequential jobs
    // pay ~30 shuffle setups and ran 80 s on this data; the single-job
    // shape is the compactor model)
    time(s"clean tombstones ${blockNames.size} blocks, one job") {
      val cleanRoot = Tables.scratchDir("graft_scale_clean")
      val cleaned = graft.tsdb.TsdbAdmin.cleanTombstones(spark,
        blockNames.map(n => s"$blockRoot/$n"), cleanRoot,
        blockRangeMs = 86400000L)
      println(s"[scale] clean blocks=${cleaned.size}")
    }
    // COMPACTION PLANNER + LEVEL-UP at Nx: the [1d, 5d, 25d] ladder
    // over the 30 daily blocks — planning is O(#blocks) meta reads
    // (zero data I/O); each executed step is ONE one-shuffle Spark job
    // over just the chosen parents, deletions going physical en route.
    // Cost ≈ one re-write of the data, independent of block count.
    time(s"compactDb ladder [1d,5d,25d] ${blockNames.size} blocks") {
      val produced = graft.tsdb.Compactor.compactDb(spark, blockRoot,
        ranges = graft.tsdb.Compactor.exponentialRanges(86400000L, 3, 5))
      val after = graft.sources.tsdbblock.BlockMeta.list(blockRoot)
      println(s"[scale] compaction steps output=${produced.size} " +
        s"blocks after=${after.size} maxLevel=${after.map(_.level).max}")
    }
    // STREAMED REMOTE READ at Nx: pruned scan → one-shuffle series
    // grouping → map-side XOR encode + frame; decode is map-side. The
    // response never materializes anywhere — frames stream end to end.
    time(s"remote read streamed ${factor}x") {
      val req = graft.tsdb.RemoteRead.encodeReadRequest(
        graft.tsdb.RemoteRead.ReadRequest(
          Seq(graft.tsdb.RemoteRead.ReadQuery(
            Tables.RangeStart, Tables.RangeEnd,
            Seq(Matcher.Eq("__name__", "click")))),
          acceptedResponseTypes =
            Seq(graft.tsdb.RemoteRead.ResponseStreamedXorChunks)))
      val frames = graft.tsdb.RemoteRead.serveChunked(t, req)
      val n = graft.tsdb.RemoteRead.decodeChunkedFrames(frames).count()
      println(s"[scale] remote-read samples round-tripped=$n")
    }
    // RETENTION at Nx: both flavors are pure meta walks + whole-dir
    // deletes — cost is #blocks, NEVER samples
    time("retention time+size sweep") {
      val t = graft.tsdb.Compactor.retainTime(blockRoot,
        retentionMs = Tables.RangeEnd - Tables.RangeStart,
        nowMs = Tables.RangeEnd)
      val sz = graft.tsdb.Compactor.retainSize(blockRoot, maxBytes = 1L)
      println(s"[scale] blocks dropped: time=${t.size} size=${sz.size} " +
        s"remaining=${graft.sources.tsdbblock.BlockMeta.list(blockRoot).size}")
    }
    // WAL CHECKPOINT at Nx: one task per folded segment (filter +
    // re-frame), zero coordination; then replay through the checkpoint
    time(s"wal checkpoint+truncate ${factor}x") {
      val folded = graft.sources.tsdbblock.TsdbWalWriter.checkpoint(
        spark, scaleWal, keepTime = Tables.RangeStart)
      println(s"[scale] segments folded=$folded")
    }
    time(s"wal replay after checkpoint ${factor}x") {
      val n = spark.read.format("tsdb-wal").load(scaleWal).count()
      println(s"[scale] checkpointed replay samples=$n")
    }
    // WAL EXEMPLARS at Nx: sparse by construction (value threshold);
    // ref resolution is a broadcast dict probe, writes shard per task
    time(s"wal exemplars write+read ${factor}x") {
      val ev = Tables.load(spark, sfDir, "events")
      val evN = ev
        .withColumn("_r", explode(sequence(lit(0), lit(factor - 1))))
        .withColumn("user_id", col("user_id") + col("_r") * lit(10000000L))
        .drop("_r")
      val long = evN.select(unix_millis(col("ts")).as("time"), col("value"),
        map(lit("__name__"), col("event_type"),
          lit("user"), col("user_id").cast("string")).as("labels"))
      val exWal = Tables.scratchDir("graft_scale_exwal")
      graft.sources.tsdbblock.TsdbWalWriter.write(long, exWal, partitions = 32)
      val ex = long.where(col("value") > 150.0)
        .withColumn("exemplar", map(lit("trace_id"),
          concat_ws("-", element_at(col("labels"), "user"),
            col("time").cast("string"))))
      val n = graft.sources.tsdbblock.TsdbWalWriter.writeExemplars(
        ex, exWal, partitions = 32)
      val back = graft.sources.tsdbblock.TsdbWalRecords
        .readExemplars(spark, exWal).count()
      println(s"[scale] exemplars written=$n read=$back")
    }
    // WAL NATIVE HISTOGRAMS at Nx series: dense grid → sparse spans per
    // (series, day) snapshot; record volume is series × days, not
    // samples
    time(s"wal native-histogram write+read ${factor}x") {
      val ev = Tables.load(spark, sfDir, "events")
      val evN = ev
        .withColumn("_r", explode(sequence(lit(0), lit(factor - 1))))
        .withColumn("user_id", col("user_id") + col("_r") * lit(10000000L))
        .drop("_r")
      val dense = graft.tsdb.NativeHistogram.buildExp(
        evN.select(unix_millis(col("ts")).as("time"), col("value"),
          col("event_type").as("labels.name"),
          col("user_id").cast("string").as("labels.user")),
        Seq(col("`labels.name`").as("name"), col("`labels.user`").as("user"),
          floor(col("time") / lit(86400000L)).as("day")),
        col("value"), schema = 0, minExp = 0, maxExp = 9)
        .select((col("day") * 86400000L).as("time"),
          map(lit("name"), col("name"), lit("user"), col("user")).as("labels"),
          col("hist"))
      val hWal = Tables.scratchDir("graft_scale_histwal")
      graft.sources.tsdbblock.TsdbWalWriter.writeHistograms(dense, hWal,
        schemaId = 0, minExp = 0, maxExp = 9, float = false, partitions = 32)
      val back = graft.sources.tsdbblock.TsdbWalRecords
        .readHistograms(spark, hWal).count()
      println(s"[scale] histogram samples read=$back")
    }
    // BLOCK NATIVE-HISTOGRAM chunks at Nx series: head compaction
    // flushes the WAL's kind-7 records into encoding-2 chunks (the
    // histogram samples ride the SAME single grouping shuffle as the
    // float write path; one block per slice), then the chunked scan
    // decodes them back. Chunk count is series × layout-runs; float
    // chunks in mixed blocks are skipped from the 8-byte header alone.
    time(s"block native-histogram flush+scan ${factor}x") {
      val ev = Tables.load(spark, sfDir, "events")
      val evN = ev
        .withColumn("_r", explode(sequence(lit(0), lit(factor - 1))))
        .withColumn("user_id", col("user_id") + col("_r") * lit(10000000L))
        .drop("_r")
      val dense = graft.tsdb.NativeHistogram.buildExp(
        evN.select(unix_millis(col("ts")).as("time"), col("value"),
          col("event_type").as("labels.name"),
          col("user_id").cast("string").as("labels.user")),
        Seq(col("`labels.name`").as("name"), col("`labels.user`").as("user"),
          floor(col("time") / lit(86400000L)).as("day")),
        col("value"), schema = 0, minExp = 0, maxExp = 9)
        .select((col("day") * 86400000L).as("time"),
          map(lit("name"), col("name"), lit("user"), col("user")).as("labels"),
          col("hist"))
      val hWal = Tables.scratchDir("graft_scale_histwal_blk")
      graft.sources.tsdbblock.TsdbWalWriter.writeHistograms(dense, hWal,
        schemaId = 0, minExp = 0, maxExp = 9, float = false, partitions = 32)
      val dest = Tables.scratchDir("graft_scale_histblocks")
      val names = graft.sources.tsdbblock.TsdbBlockWriter.compactWal(
        spark, hWal, dest, blockRangeMs = 4L * 86400000L)
      val back = names.map(n => graft.sources.tsdbblock.TsdbBlockRecords
          .readHistograms(spark, s"$dest/$n"))
        .reduce(_ union _).count()
      println(s"[scale] hist blocks=${names.size} chunk samples read=$back")
    }
    // STREAMING alert rule at Nx events through the real incremental
    // engine (file source → watermark → flatMapGroupsWithState): state
    // per key is open-window counts + two longs, so Nx events with Nx
    // keys must scale linearly — a state design holding raw rows would
    // blow up here, at 10x keys × windows-in-flight
    time(s"streaming alert rule ${factor}x") {
      val ev = Tables.load(spark, sfDir, "events")
      val evN = ev
        .withColumn("_r", explode(sequence(lit(0), lit(factor - 1))))
        .withColumn("user_id", col("user_id") + col("_r") * lit(10000000L))
        .drop("_r")
      val streamDir = Tables.scratchDir("graft_scale_stream")
      evN.write.mode("overwrite").parquet(streamDir)
      val schema = spark.read.parquet(streamDir).schema
      val alerts = graft.streaming.EventStreams.alertingRule(
        Tables.normalizeTs(spark.readStream.schema(schema).parquet(streamDir)),
        threshold = 1L)
      val n = graft.streaming.EventStreams.runToMemory(
        alerts.toDF(), "scale_stream_alerts", mode = "append").count()
      println(s"[scale] streaming alerts emitted=$n")
    }
    // PromQL HISTOGRAM tier at Nx series (the text front end over the
    // same kernels): rate = one lag window + one statically-unrolled
    // partial-agg groupBy; merge+quantile = one aggregation + a per-row
    // fold — shapes identical to the direct-kernel rows above, so the
    // text tier must cost the same, not re-plan per series
    time(s"promql hist rate ${factor}x") {
      val daily = graft.tsdb.NativeHistogram.build(
        t.select(Tables.RangeStart, Tables.RangeEnd, Nil).toDF()
          .withColumn("day", floor(col("time") / lit(86400000.0)).cast("long")),
        Seq(col("`labels.name`"), col("`labels.user`"), col("day")),
        col("value"), nhBounds)
        .withColumn("time", col("day") * 86400000L).drop("day")
      val cum = graft.tsdb.NativeHistogram.cumulate(daily,
        Seq(col("`labels.name`"), col("`labels.user`")), col("time"),
        nhBounds.size + 1)
      graft.tsdb.PromQLHist.eval(
        graft.tsdb.PromQL.parse(
          """histogram_count(rate({name="purchase"}[2d]))"""),
        cum, at = Tables.RangeEnd, lookbackMs = 3L * 86400000L,
        start = Tables.RangeStart, end = Tables.RangeEnd,
        nLes = nhBounds.size + 1).count()
    }
    time(s"promql hist merge+quantile ${factor}x") {
      val daily = graft.tsdb.NativeHistogram.build(
        t.select(Tables.RangeStart, Tables.RangeEnd, Nil).toDF()
          .withColumn("day", floor(col("time") / lit(86400000.0)).cast("long")),
        Seq(col("`labels.name`"), col("`labels.user`"), col("day")),
        col("value"), nhBounds)
        .withColumn("time", col("day") * 86400000L).drop("day")
      graft.tsdb.PromQLHist.eval(
        graft.tsdb.PromQL.parse(
          """histogram_quantile(0.5, sum by (name) ({user=~"1.*"}))"""),
        daily, at = Tables.RangeEnd, lookbackMs = 3L * 86400000L,
        start = Tables.RangeStart, end = Tables.RangeEnd,
        nLes = nhBounds.size + 1).count()
    }
    // multimodal codec kernels at Nx docs: encode+decode are map-side
    // mapPartitions (payloads never shuffle; only fixed-width stats
    // leave the task) — cost must scale linearly in rows with zero
    // exchange growth
    val docsBase = Tables.load(spark, sfDir, "documents")
    val docsN = docsBase
      .withColumn("_r", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("doc_id", col("doc_id") + col("_r") * lit(10000000L))
      .drop("_r")
    time(s"audio decode ${factor}x docs")(
      graft.operators.Multimodal.audioFeatures(
        graft.operators.Multimodal.withAudioPayloads(
          graft.operators.Multimodal.synthesize(docsN, "doc_id", "text")))
        .count())
    time(s"video decode ${factor}x docs")(
      graft.operators.Multimodal.videoFeatures(
        graft.operators.Multimodal.withVideoPayloads(
          graft.operators.Multimodal.synthesize(docsN, "doc_id", "text")))
        .count())
    // ANN at (10·N)x corpus: IVF nProbe=2 must stay cell-keyed — cost
    // is Σ probes × |probed cells|, never |corpus| × probes. Replicate
    // via ONE explode, not an N-way union: the per-row cell-argmax
    // expression tree is large, and N union branches would make the
    // DRIVER's plan O(N × tree) (it OOMed at 100 branches)
    val embAnn = Tables.load(spark, sfDir, "embeddings")
    val embAnnN = embAnn
      .withColumn("_r", explode(sequence(lit(0), lit(factor * 10 - 1))))
      .withColumn("vec_id", col("vec_id") + col("_r") * lit(1000000L))
      .drop("_r")
    time(s"ivf knn nprobe=2 ${factor * 10}x corpus")(
      graft.operators.Similarity.ivfKnn(embAnnN,
        embAnn.where(col("vec_id") < 50), "vec_id", "embedding",
        dim = 64, k = 10, nCells = 16, nProbe = 2).count())
    // PQ/ADC at the same (10·N)x corpus: training collects stay
    // codebook-sized, encoding + table-lookup scoring are map passes —
    // the compressed-vector path must scale like a scan, not like FLOPs
    time(s"pq knn ${factor * 10}x corpus")(
      graft.operators.Similarity.pqKnn(embAnnN,
        embAnn.where(col("vec_id") < 50), "vec_id", "embedding",
        dim = 64, m = 2, kCodes = 4, iters = 1, topK = 10).count())
    // residual IVFADC at the same corpus: the centroid subtraction is a
    // literal-array zip_with on the map side, candidates still one
    // cell-keyed broadcast join, training sample-bounded — must price
    // like ivf+pq, not like a second training regime
    time(s"residual ivfadc ${factor * 10}x corpus")(
      graft.operators.Similarity.ivfPqResidualKnn(embAnnN,
        embAnn.where(col("vec_id") < 50), "vec_id", "embedding",
        dim = 64, nCells = 16, nProbe = 2, m = 2, kCodes = 4, iters = 1,
        topK = 10, trainSample = 2000).count())

    // lifecycle tier at Nx: compaction must scale in bytes (one range
    // shuffle), retention in TOUCHED bytes only — the footer triage must
    // drop whole files below the horizon without reading them
    // target sized so the compacted table keeps ~8 time slices (at real
    // scale the knob is 128-512 MB; the POINT is slices stay prunable)
    time(s"compact ${factor}x table") {
      val st = graft.tsdb.TsdbCompact.compact(spark, dir, targetFileBytes = 1L << 20)
      println(s"[scale] compaction: $st")
    }
    // pre-swap DataFrames hold the old file listing — readers re-resolve
    // after a compaction swap (at real scale: a catalog pointer flip)
    val tc = TsdbTable(TsdbIngest.read(spark, dir))
    time("q2 range+matchers after compaction") {
      tc.select(Tables.RangeStart, Tables.RangeEnd,
        Seq(Matcher.Eq("name", "purchase"), Matcher.Eq("user", "12_3"))).count()
    }
    time(s"retention expire below ${Tables.RangeEnd}") {
      // Jan 20 horizon ⇒ ~60% of the time-sliced files sit wholly below
      // it and must drop without being read
      val st = graft.tsdb.TsdbRetention.expire(spark, dir, Tables.RangeEnd)
      assert(st.filesDropped > 0,
        s"expire must drop whole files from footer bounds alone: $st")
      println(s"[scale] retention: $st")
    }

    // pipeline path: replicate documents N-fold (new doc_ids, SAME text ⇒
    // every doc gains N-1 exact/near duplicates — the adversarial dedup
    // load). Exact dedup and LSH must scale in corpus size, never in
    // pairs (the bucket join meets only same-bucket docs).
    val docs = Tables.load(spark, sfDir, "documents")
    val nDocs = docs.count()
    val docsXN = (0 until factor).map(i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
    docsXN.cache().count()
    time(s"exact dedup ${factor}x") {
      val d = graft.operators.Dedup.exact(docsXN, "doc_id", "text")
      // replication adds copies, never new distinct texts
      val distinctTexts = d.count()
      assert(distinctTexts <= nDocs, s"$distinctTexts distinct > $nDocs docs")
    }
    time(s"minhash signatures ${factor}x")(
      graft.operators.Dedup.minhashSignature(docsXN, "doc_id", "text",
        k = 8, shingleK = 3).count())
    time(s"lsh near-dup pairs ${factor}x")(
      graft.operators.Dedup.minhashLshPairs(docsXN, "doc_id", "text",
        k = 8, bands = 4, shingleK = 3, threshold = 0.5).count())
    time(s"lsh keeper dedup ${factor}x")(
      graft.operators.Dedup.lshDedupKeepers(docsXN, "doc_id", "text",
        k = 8, bands = 4, shingleK = 3).where(col("kept")).count())
    // incremental dedup at Nx: the 10× replicated batch arrives against
    // the 1× stored corpus — every replica is an exact copy of a stored
    // text, so the exact gate must drop ~everything via the anti-join,
    // and cost scales in batch size (new×stored band join), never
    // corpus²
    time(s"incremental dedup ${factor}x batch vs 1x corpus") {
      val kept = graft.operators.Dedup.incrementalDedup(
        docsXN, docs, "doc_id", "text",
        k = 8, bands = 4, shingleK = 3, threshold = 0.5).count()
      assert(kept == 0, s"all replicas duplicate stored texts, kept=$kept")
    }
    // connected-components dedup at Nx: every text's replicas share all
    // LSH buckets, so each text forms ONE N-node component — min-label
    // propagation must converge in O(log diameter) rounds with
    // per-round localCheckpoint, state bounded by docs + buckets,
    // never doc×doc
    time(s"cc dedup ${factor}x") {
      val comps = graft.operators.Dedup.lshConnectedComponents(
          docsXN, "doc_id", "text", k = 8, bands = 4, shingleK = 3)
        .select("component").distinct().count()
      assert(comps <= nDocs, s"$comps components > $nDocs distinct texts")
    }
    // domain-mix resampling at Nx: one count aggregate + a map-side
    // hash-band filter — no corpus shuffle at any scale
    time(s"domain mix ${factor}x")(
      graft.operators.TextPipeline.resampleToMix(docsXN, "doc_id",
        "source", Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .count())
    // decontamination at Nx: the benchmark side stays broadcast-sized, so
    // cost scales in the TRAIN corpus scan, never in the doc×doc product
    time(s"contamination ${factor}x train vs 1x bench")(
      graft.operators.TextPipeline.contamination(
        docsXN.where(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text", k = 3).count())
    // packing at Nx: per-shard running sums — N× rows, same shard count,
    // each shard an independent sort/cumsum task (no global ordering)
    time(s"sequence packing ${factor}x")(
      graft.operators.TextPipeline.packSequences(
        docsXN, "doc_id", "text", capacity = 256, shards = 32).count())
    // chunk dedup under adversarial replication: EVERY chunk now has
    // factor duplicates; the (chunk → first occurrence) aggregation must
    // stay bounded by distinct chunk text, never pairs
    time(s"chunk dedup ${factor}x") {
      val d = graft.operators.TextPipeline.chunkDedup(
        docsXN, "doc_id", "text", chunkWords = 8)
      val keptChunks = d.agg(sum(col("n_kept"))).head.getLong(0)
      // replicas contribute zero new distinct chunks
      println(s"[scale] chunk dedup: kept=$keptChunks of ${factor}x corpus")
    }
    // duplicate-SPAN detection under adversarial replication: every
    // shingle now appears in `factor` documents, so the mark-back join
    // returns the ENTIRE corpus-token-sized shingle frame (the worst
    // case by construction — the frame is corpus-token-sized by
    // necessity, a suffix array pays the same) and the per-doc span
    // merge window sees every position. Cost must stay one count-agg +
    // one hash equi-join + ONE window exchange — nothing doc×doc.
    time(s"duplicate spans ${factor}x") {
      val spans = graft.operators.TextPipeline.duplicateSpans(
        docsXN, "doc_id", "text", k = 8, minSpanTokens = 16)
      println(s"[scale] duplicate span rows=${spans.count()}")
    }
    // span scrub at Nx: duplicateSpans' shuffles + a left join of docs
    // to their collected span lists + a map-side indexed filter
    time(s"span scrub ${factor}x") {
      val cleaned = graft.operators.TextPipeline.removeDuplicateSpans(
        docsXN, "doc_id", "text", k = 8, minSpanTokens = 16)
      val removed = cleaned.agg(sum(col("removed_tokens"))).head.getLong(0)
      println(s"[scale] span scrub removed_tokens=$removed")
    }
    // count-min heavy hitters at Nx: the sketch is depth×width counters
    // regardless of rows, and support pruning keeps the candidate flow
    // heavy-hitter-sized as the distinct-domain tail grows with the corpus
    time(s"count-min heavy hitters ${factor}x") {
      val dirty = concat(col("text"),
        lit(" see https://site"), pmod(col("doc_id"), lit(20)).cast("string"),
        lit(".example.org/p/"), col("doc_id").cast("string"),
        lit(" and http://cdn"), pmod(col("doc_id"), lit(5)).cast("string"),
        lit(".example.net/x"))
      graft.functions.Sketches.countMinTopK(
        docsXN.select(explode(regexp_extract_all(dirty,
          lit("https?://([A-Za-z0-9.-]+)"), lit(1))).as("domain")),
        col("domain"), k = 10, minSupport = 0.02).count()
    }
    // unigram LM-proxy at Nx: the vocab aggregate is bounded by distinct
    // tokens (unchanged under replication), the scoring pass is a
    // vocab-keyed join + per-doc fold — linear in rows
    time(s"unigram logprob ${factor}x")(
      graft.operators.TextPipeline.unigramLogProb(
        docsXN, "doc_id", "text").count())
    docsXN.unpersist()

    // k-means at Nx vectors: assignment is a broadcast-centroid map pass
    // (linear in rows); the update shuffle carries k·dim partial sums per
    // partition regardless of corpus size
    val emb = Tables.load(spark, sfDir, "embeddings")
    val embXN = (0 until factor).map(i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _).cache()
    embXN.count()
    time(s"kmeans 2 iters ${factor}x")(
      graft.operators.Clustering.kmeansAssign(
        embXN, "vec_id", "embedding", k = 8, iters = 2).count())
    // TRAIN-ONLY at Nx with a binding sample: the Lloyd aggregation
    // passes see at most `trainSample` rows whatever the corpus size —
    // the one linear cost is the single bottom-k selection scan, so
    // this row stays FLAT 10x→100x while the corpus grows 10x
    time(s"kmeans train-only sample=2k ${factor}x") {
      val pre = embXN.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
      graft.operators.Clustering.trainCentroids(pre, k = 8, iters = 2,
        trainSample = 2000).size
    }
    time(s"pq train-only sample=2k ${factor}x") {
      val pre = embXN.select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("v")).persist()
      pre.count()
      val r = graft.operators.Similarity.trainCodebooks(pre, dim = 64,
        m = 2, kCodes = 4, iters = 2, trainSample = 2000).size
      pre.unpersist(); r
    }
    embXN.unpersist()

    // extreme-skew join: ONE hot part key owns `factor`/11 of the fact
    // table. The salted join must spread the hot key across tasks and
    // match the plain join's result; with AQE off (to isolate the
    // mechanism) the plain join serializes the hot key into one task.
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"))
    val hot = (0 until factor).map(_ =>
      li.limit(100000).withColumn("l_partkey", lit(1L)))
      .reduce(_ unionByName _)
    val skewed = li.unionByName(hot).cache()
    val parts = Tables.load(spark, sfDir, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    skewed.count()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    time(s"plain join, hot key ${factor}x100k") {
      skewed.hint("merge").join(parts, Seq("l_partkey"))
        .groupBy(col("p_brand")).count().count()
    }
    val nSalted = time(s"salted join, hot key ${factor}x100k") {
      graft.operators.SkewJoin.saltedJoin(skewed, parts,
        Seq("l_partkey"), salts = 16)
        .groupBy(col("p_brand")).count().count()
    }
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    println(s"[scale] salted-join groups=$nSalted")
    skewed.unpersist()

    // ROUND-19 stretch: the migration-stitch kernel at a LARGE
    // migrated-series universe. EVERY series in the factor×-widened
    // corpus "migrates" at the range midpoint, so the since table —
    // one row per migrated series, the broadcast build side — is the
    // FULL series universe: the worst case the 100 TB claim rests on
    // (bounded by migrated-series count, never samples; dropShadowed
    // FORCES the broadcast, so the shape holds past
    // autoBroadcastJoinThreshold). The carve is ONE broadcast join
    // over the sample-sized probe side; the mixed-agg composition
    // joins two group-count-sized share aggregates.
    // (xN, not t.df: the compaction swap + retention sweep above
    // deleted the ingested table's old file listing — the widened
    // in-memory frame over the immutable testdata is the stable view)
    val mid = (Tables.RangeStart + Tables.RangeEnd) / 2
    val histW = xN.where(col("time") >= mid)
      .withColumn("hist", col("value"))
    val since = time(s"seriesSince ${factor}x universe")(
      graft.tsdb.Shadowing.seriesSince(histW, 86400000L)
        .localCheckpoint(true))
    println(s"[scale] migrated series=${since.count()}")
    time(s"shadow carve ${factor}x") {
      graft.tsdb.Shadowing.dropShadowed(xN,
        graft.tsdb.Shadowing.skeyOfWide(xN), col("time"),
        Some(since)).count()
    }
    time(s"mixed-agg shares ${factor}x") {
      val h = xN.where(col("time") >= mid)
        .groupBy(col("`labels.user`"))
        .agg(count(lit(1)).cast("double").as("hist"))
      val f = xN.where(col("time") < mid)
        .groupBy(col("`labels.user`"))
        .agg(sum(col("value")).as("value"))
      graft.tsdb.PromQLHist.exclusiveAggShares(h, f)._1.count()
    }
    // ROUND-19: the over-time share kernels at the widened series
    // universe — range-function outputs are series×steps-sized by
    // construction, so both composers join/aggregate series-count
    // frames (the dup guard's window partitions by the same keys);
    // one metric keeps the post-name-drop keys collision-free
    val clicks = xN.where(col("`labels.name`") === "click")
    val hShare = clicks.where(col("time") >= mid)
      .groupBy(col("`labels.user`"))
      .agg(count(lit(1)).cast("double").as("value"))
    val fShare = clicks.where(col("time") < mid)
      .groupBy(col("`labels.user`"))
      .agg(count(lit(1)).cast("double").as("value"))
    time(s"over-time combine ${factor}x")(
      graft.tsdb.PromQLHist.combineSeriesShares(hShare, fShare,
        how = "sum", graft.tsdb.TsdbSchema.metricLabel(xN)).count())
    time(s"over-time exclusive ${factor}x")(
      graft.tsdb.PromQLHist.exclusiveSeriesShares(hShare, fShare,
        graft.tsdb.TsdbSchema.metricLabel(xN))._1.count())
    // ROUND-19 (optimization): the block writer's SINGLE payload
    // shuffle at Nx — the rewrite replaced the groupBy(slice, labels)
    // exchange + full-payload repartition(slice) with ONE pinned-width
    // hash(slice) exchange. Write the widened corpus as real 7d blocks:
    // cost must scale ~linearly in rows (the payload crosses the
    // network once), and the plan shape is spec-pinned
    // (PlanQualitySpec "ONE keyed exchange").
    time(s"block write ${factor}x (1 payload shuffle)") {
      val long = xN.select(col("time"), col("value"),
        map(lit("__name__"), coalesce(col("`labels.name`"), lit("")),
          lit("user"), coalesce(col("`labels.user`"), lit("")),
          lit("k"), coalesce(col("`labels.k`"), lit(""))).as("labels"))
      graft.sources.tsdbblock.TsdbBlockWriter.write(
        long, Tables.scratchDir("graft_scale_blocks"),
        blockRangeMs = 7L * 86400000L)
    }
    spark.stop()
  }
}
