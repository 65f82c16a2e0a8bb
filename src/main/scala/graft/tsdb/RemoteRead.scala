package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.xerial.snappy.Snappy
import graft.model.Matcher
import graft.sources.tsdbblock.XorChunk
import graft.sources.tsdbblock.Binary.{ByteReader, ByteWriter, crc32c}
import RemoteWrite.{ProtoReader, ProtoWriter}

/** The Prometheus REMOTE READ protocol — the read twin of the
  * [[RemoteWrite]]/[[RemoteWrite2]] codecs (public spec:
  * `prompb/remote.proto`): a snappy `ReadRequest` of label-matcher
  * queries in, either a snappy `ReadResponse` of raw samples or the
  * STREAMED_XOR_CHUNKS frame sequence out. This is the protocol
  * Prometheus itself speaks to long-term storage — serving it makes
  * the engine usable as a `remote_read` backend for a live Prometheus
  * (reference adjacency: hello.go's commented server main at
  * `hello.go:159-274` is exactly this remote-storage shape).
  *
  * Scale design: matcher selection is the pushdown-pruned
  * [[TsdbTable.select]] scan; per-series sample grouping and protobuf
  * encode run distributed (one shuffle, the same (series → sorted
  * samples) shape the block writer uses). The SAMPLED response must
  * be one HTTP body, so [[serve]] collects — and ENFORCES a sample
  * limit inside the plan before collecting (the guard rail Prometheus
  * ships as `remote_read_sample_limit`: an over-limit request fails
  * loudly, pointing clients at the streamed response type). The
  * scale path is [[serveChunked]]: one self-framed
  * `ChunkedReadResponse` per series, Gorilla-XOR encoded with the
  * block writer's own chunk encoder, returned as a Dataset that
  * streams straight out — nothing response-sized ever materializes on
  * the driver, matching Prometheus's streamed remote read.
  */
object RemoteRead {

  /** `prompb.ReadHints` — the query-shape hints a Prometheus frontend
    * attaches (step/func/grouping); carried faithfully, unused by the
    * scan (selection is exact, not hint-dependent). */
  final case class ReadHints(stepMs: Long = 0L, func: String = "",
                             startMs: Long = 0L, endMs: Long = 0L,
                             grouping: Seq[String] = Nil, by: Boolean = false,
                             rangeMs: Long = 0L)

  /** One `prompb.Query`: INCLUSIVE [startMs, endMs] + matchers. */
  final case class ReadQuery(startMs: Long, endMs: Long,
                             matchers: Seq[Matcher],
                             hints: Option[ReadHints] = None)

  final case class ReadRequest(queries: Seq[ReadQuery],
                               acceptedResponseTypes: Seq[Int] = Seq(0))

  /** `ResponseType` enum values (remote.proto). */
  val ResponseSamples = 0
  val ResponseStreamedXorChunks = 1

  // ---- request codec ------------------------------------------------

  private def matcherTypeAndNv(m: Matcher): (Int, String, String) = m match {
    case Matcher.Eq(n, v)    => (0, n, v)
    case Matcher.NotEq(n, v) => (1, n, v)
    case Matcher.Re(n, p)    => (2, n, p)
    case Matcher.NotRe(n, p) => (3, n, p)
  }

  private def matcherOf(tpe: Int, n: String, v: String): Matcher = tpe match {
    case 0 => Matcher.Eq(n, v)
    case 1 => Matcher.NotEq(n, v)
    case 2 => Matcher.Re(n, v)
    case 3 => Matcher.NotRe(n, v)
    case t => throw new IllegalArgumentException(s"unknown matcher type $t")
  }

  /** Snappy-compressed `ReadRequest` bytes (what a Prometheus
    * `remote_read` client POSTs). */
  def encodeReadRequest(req: ReadRequest): Array[Byte] = {
    val w = new ProtoWriter
    req.queries.foreach { q =>
      val qw = new ProtoWriter
      qw.int64(1, q.startMs)
      qw.int64(2, q.endMs)
      q.matchers.foreach { m =>
        val (tpe, n, v) = matcherTypeAndNv(m)
        val mw = new ProtoWriter
        if (tpe != 0) mw.int64(1, tpe.toLong)
        mw.string(2, n); mw.string(3, v)
        qw.bytes(3, mw.toBytes)
      }
      q.hints.foreach { h =>
        val hw = new ProtoWriter
        if (h.stepMs != 0) hw.int64(1, h.stepMs)
        if (h.func.nonEmpty) hw.string(2, h.func)
        if (h.startMs != 0) hw.int64(3, h.startMs)
        if (h.endMs != 0) hw.int64(4, h.endMs)
        h.grouping.foreach(hw.string(5, _))
        if (h.by) hw.int64(6, 1L)
        if (h.rangeMs != 0) hw.int64(7, h.rangeMs)
        qw.bytes(4, hw.toBytes)
      }
      w.bytes(1, qw.toBytes)
    }
    // accepted_response_types is packed (repeated enum)
    if (req.acceptedResponseTypes.nonEmpty) {
      val pw = new ProtoWriter
      req.acceptedResponseTypes.foreach(t => pw.varint(t.toLong))
      w.bytes(2, pw.toBytes)
    }
    Snappy.compress(w.toBytes)
  }

  def decodeReadRequest(payload: Array[Byte]): ReadRequest = {
    val raw = Snappy.uncompress(payload)
    val r = new ProtoReader(raw, 0, raw.length)
    val queries = Seq.newBuilder[ReadQuery]
    val accepted = Seq.newBuilder[Int]
    while (r.hasMore) r.key() match {
      case (1, 2) =>
        val (qs, qe) = r.delimited()
        queries += decodeQuery(raw, qs, qe)
      case (2, 2) => // packed enums
        val (ps, pe) = r.delimited()
        val pr = new ProtoReader(raw, ps, pe)
        while (pr.hasMore) accepted += pr.varint().toInt
      case (2, 0) => accepted += r.varint().toInt // unpacked tolerance
      case (_, w) => r.skip(w)
    }
    val acc = accepted.result()
    ReadRequest(queries.result(),
      if (acc.nonEmpty) acc else Seq(ResponseSamples))
  }

  private def decodeQuery(b: Array[Byte], from: Int, until: Int): ReadQuery = {
    val r = new ProtoReader(b, from, until)
    var start = 0L; var end = 0L
    val ms = Seq.newBuilder[Matcher]
    var hints: Option[ReadHints] = None
    while (r.hasMore) r.key() match {
      case (1, 0) => start = r.varint()
      case (2, 0) => end = r.varint()
      case (3, 2) =>
        val (s, e) = r.delimited()
        val mr = new ProtoReader(b, s, e)
        var tpe = 0; var n = ""; var v = ""
        while (mr.hasMore) mr.key() match {
          case (1, 0) => tpe = mr.varint().toInt
          case (2, 2) => n = mr.string()
          case (3, 2) => v = mr.string()
          case (_, w) => mr.skip(w)
        }
        ms += matcherOf(tpe, n, v)
      case (4, 2) =>
        val (s, e) = r.delimited()
        val hr = new ProtoReader(b, s, e)
        var h = ReadHints()
        while (hr.hasMore) hr.key() match {
          case (1, 0) => h = h.copy(stepMs = hr.varint())
          case (2, 2) => h = h.copy(func = hr.string())
          case (3, 0) => h = h.copy(startMs = hr.varint())
          case (4, 0) => h = h.copy(endMs = hr.varint())
          case (5, 2) => h = h.copy(grouping = h.grouping :+ hr.string())
          case (6, 0) => h = h.copy(by = hr.varint() != 0)
          case (7, 0) => h = h.copy(rangeMs = hr.varint())
          case (_, w) => hr.skip(w)
        }
        hints = Some(h)
      case (_, w) => r.skip(w)
    }
    ReadQuery(start, end, ms.result(), hints)
  }

  // ---- selection ----------------------------------------------------

  /** One query's matched slice in the long `(time, value, labels)`
    * form, the table's [[TsdbSchema.metricLabel]] as the wire
    * `__name__` both ways. [[TsdbTable.select]]'s range is EXCLUSIVE
    * both ends (the reference's contract); remote read is INCLUSIVE, so
    * the bounds widen by 1 (saturating). */
  private def slice(t: TsdbTable, q: ReadQuery): DataFrame = {
    val lo = if (q.startMs == Long.MinValue) Long.MinValue else q.startMs - 1
    val hi = if (q.endMs == Long.MaxValue) Long.MaxValue else q.endMs + 1
    // wire matchers carry Prometheus regex semantics: fully ANCHORED
    // (PromQL.anchorMatchers), unlike the engine's raw-pattern API
    val ms = PromQL.anchorMatchers(PromQL.renameMetric(q.matchers, t.df))
    Federate.longForm(t.select(lo, hi, ms), TsdbSchema.metricLabel(t.df))
  }

  /** NUL-escaped label-set sort key: lexicographic comparison of the
    * UTF-8 bytes of `esc(name)\0\0esc(value)\0\0…` orders exactly as
    * Prometheus's `labels.Compare` (pairwise name, then value; fewer
    * labels first). A bare single-NUL join would not be INJECTIVE —
    * NUL is a legal byte inside label values, so `{a="b\0c\0d"}` and
    * `{a="b", c="d"}` would collide (and merge into one frame in
    * [[serveChunked]]'s contiguity grouping). Escaping each embedded
    * NUL to `\0\1` and separating fields with `\0\0` is unambiguous
    * (decode: `\0\0` = boundary, `\0\1` = literal NUL) and still
    * order-preserving bytewise: at the first divergence either both
    * originals differ (their escaped first bytes differ the same way)
    * or one field ends (its `\0\0` terminator sorts below both any
    * non-NUL byte and the `\0\1` escape — prefix sorts first, as in
    * Go string compare). */
  private[graft] def labelSortKey(entries: Seq[(String, String)]): String =
    entries.iterator
      .flatMap(e => Iterator(e._1, e._2))
      .map(_.replace("\u0000", "\u0000\u0001"))
      .mkString("\u0000\u0000")

  /** Unsigned UTF-8 byte order of [[labelSortKey]]s — what Spark's
    * `UTF8String` range sort in [[serveChunked]] and Go's string
    * compare in `labels.Compare` both use. Java `String` order
    * (UTF-16 code units) DIFFERS above the BMP: U+10000+ encode as
    * surrogates 0xD800–0xDFFF, sorting below U+E000–U+FFFF in UTF-16
    * but above them in UTF-8. */
  private[graft] val utf8ByteOrder: Ordering[String] =
    (a: String, b: String) =>
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Prometheus's staleness marker, materialized INSIDE an encode
    * kernel (never before — the engine stores staleness as NULL
    * `value` because NaN payloads cannot survive a shuffle,
    * [[TsdbSchema.StaleNaNBits]]): the wire form a served stale sample
    * must carry, exactly as Prometheus serves it over remote read. */
  private val StaleNaN =
    java.lang.Double.longBitsToDouble(graft.tsdb.TsdbSchema.StaleNaNBits)

  /** Distributed per-series grouping: (sorted label entries, sorted
    * samples) — the block writer's shape, one shuffle. `value` is an
    * Option: the served table's NULL-value rows ARE staleness markers
    * (block/WAL decode and the push receivers store them that way) and
    * must reach the encode kernel, not NPE the deserializer. */
  private def grouped(sl: DataFrame)
      : Dataset[(Seq[(String, String)], Seq[(Long, Option[Double])])] = {
    val s = sl.sparkSession
    import s.implicits._
    sl.select(
        array_sort(map_entries(col("labels"))).as("entries"),
        col("time"), col("value"))
      .groupBy(col("entries"))
      .agg(array_sort(collect_list(struct(col("time").as("_1"),
        col("value").as("_2")))).as("samples"))
      .as[(Seq[(String, String)], Seq[(Long, Option[Double])])]
  }

  // ---- SAMPLED response (ResponseType 0) ----------------------------

  /** The SAMPLED response is one HTTP body collected on the driver, so
    * it needs the guard rail Prometheus enforces as
    * `remote_read_sample_limit` — in ONE pass: per-series sample
    * counts ride the encode projection, the driver drains result
    * partitions incrementally (`toLocalIterator` — one partition
    * resident at a time, shuffle computed once) and fails LOUDLY the
    * moment the running count exceeds the limit, before the over-limit
    * remainder materializes. (The previous `limit(n+1)` pre-probe read
    * the matched slice a SECOND time ahead of the serving scan, and
    * silently became a no-op for limits >= Int.MaxValue; Long limits
    * now enforce exactly.) `0` = unlimited (Prometheus's convention).
    * The streamed path needs no limit — it never materializes the
    * response. */
  private def collectLimited(
      series: Dataset[(String, Long, Array[Byte])],
      sampleLimit: Option[Long], what: String,
      alreadyConsumed: Long = 0L)
      : Array[(String, Long, Array[Byte])] =
    sampleLimit match {
      case None => series.collect()
      case Some(lim) =>
        val buf = scala.collection.mutable
          .ArrayBuffer.empty[(String, Long, Array[Byte])]
        var n = 0L
        val it = series.toLocalIterator()
        while (it.hasNext) {
          val row = it.next()
          n += row._2
          if (n > lim)
            // report the CONFIGURED limit, not a routed query's
            // residual: "exceeded sample limit (0)" when the
            // histogram share consumed the shared budget exactly is
            // operator-misleading (round-18 advisor find)
            throw new IllegalArgumentException(
              s"exceeded sample limit (${lim + alreadyConsumed}" +
                (if (alreadyConsumed > 0)
                   s", $alreadyConsumed already consumed by histogram series"
                 else "") +
                s") for the SAMPLED " +
                s"remote-read response ($what); narrow the query's matchers/" +
                "time range or negotiate STREAMED_XOR_CHUNKS " +
                "(accepted_response_types), which streams without a limit")
          buf += row
        }
        buf.toArray
    }

  /** Serve a `ReadRequest` as a snappy `ReadResponse` (SAMPLES type):
    * one `QueryResult` per query, in order; series sorted by label
    * set, samples by time — Prometheus's response invariants. The
    * per-series encode runs distributed; only encoded bytes reach the
    * driver — capped by `sampleLimit` (see [[enforceSampleLimit]]). */
  def serve(t: TsdbTable, requestBytes: Array[Byte],
            sampleLimit: Long = 0L): Array[Byte] = {
    val req = decodeReadRequest(requestBytes)
    val lim = Some(sampleLimit).filter(_ > 0)
    val w = new ProtoWriter
    req.queries.foreach { q =>
      val series = floatQuerySeries(t, q, lim)
      val qw = new ProtoWriter
      series.sortBy(_._1)(utf8ByteOrder).foreach(s => qw.bytes(1, s._3))
      w.bytes(1, qw.toBytes)
    }
    Snappy.compress(w.toBytes)
  }

  /** TIME-AWARE, PER-SERIES native shadowing on the FLOAT side of a
    * routed response: from each native SERIES' first native sample on
    * (`nativeSince`: the [[Shadowing.seriesSince]] frame — one
    * `(__skey, __since)` row per migrated label set), the native store
    * owns that series — float rows at/after that instant are the
    * migration shadow and drop (one label set, one series per
    * overlapping window; a downstream sum() must not double-count).
    * Float history BEFORE the migration point stays readable — the
    * backfill window remote read exists to serve. Keyed by the FULL
    * label set, not the metric name: a partial fleet migration (some
    * instances still pushing float under a migrated name) keeps its
    * unmigrated series serving. One broadcast join against the
    * series-universe-sized since table — no sample-sized shuffle. */
  private def dropShadowed(sl: DataFrame,
                           nativeSince: Option[DataFrame]): DataFrame =
    Shadowing.dropShadowed(sl,
      Shadowing.skeyOfLabelMap(col("labels")), col("time"), nativeSince)

  /** One query's FLOAT series for the SAMPLED response:
    * (labels.Compare sort key, sample count, encoded prompb
    * `TimeSeries`) — [[serve]]'s per-query body, shared with
    * [[serveRouted]]. */
  private def floatQuerySeries(t: TsdbTable, q: ReadQuery,
      sampleLimit: Option[Long],
      nativeSince: Option[DataFrame] = None,
      alreadyConsumed: Long = 0L)
      : Array[(String, Long, Array[Byte])] = {
    val sp = t.df.sparkSession
    import sp.implicits._
    collectLimited(
      grouped(dropShadowed(slice(t, q), nativeSince)).mapPartitions(_.map {
        case (entries, samples) =>
          // NULL value → StaleNaN on the wire (Prometheus serves
          // staleness markers over remote read; the bits are exact
          // here — no shuffle between this assignment and the encode)
          (labelSortKey(entries), samples.size.toLong,
            RemoteWrite.encodeSeries(entries,
              samples.map { case (ts, v) => (ts, v.getOrElse(StaleNaN)) }))
      }), sampleLimit, "float samples", alreadyConsumed)
  }

  /** Per-QUERY routed SAMPLED responder for a server with SPLIT
    * stores: each query reads exactly the store(s) its matchers
    * resolve to — native histograms, float samples, or BOTH (a
    * nameless query, or a regex spanning the stores), merged in
    * labels.Compare order inside one `QueryResult`. Closes the
    * mixed-request silent partiality: previously ANY non-native query
    * flipped the WHOLE request to the float store (native queries in
    * it answered empty) and nameless queries never saw native series.
    * The caller supplies the driver-side routing gates (`wantsHist` /
    * `wantsFloat` — name-universe checks, no Spark job); a skipped
    * store costs nothing. `sampleLimit` is ONE budget across both
    * stores (the hist side draws first, the float side gets the
    * remainder — a both-stores query can never exceed the limit).
    * A label set present in BOTH stores (pre-migration float history
    * + native samples) merges into ONE `TimeSeries` carrying both the
    * `samples` and `histograms` fields — Prometheus's own encoding;
    * two entries with identical labels would break clients that
    * assume strictly-sorted unique series. */
  def serveRouted(t: TsdbTable,
      hs: Option[Dataset[(Map[String, String],
        graft.sources.tsdbblock.WalReader.WalHistogram)]],
      requestBytes: Array[Byte], sampleLimit: Long,
      wantsHist: ReadQuery => Boolean,
      wantsFloat: ReadQuery => Boolean,
      nativeSince: Option[DataFrame] = None): Array[Byte] = {
    val req = decodeReadRequest(requestBytes)
    val lim = Some(sampleLimit).filter(_ > 0)
    val w = new ProtoWriter
    req.queries.foreach { q =>
      val hist =
        if (hs.nonEmpty && wantsHist(q))
          histQuerySeries(hs.get, q, lim)
        else Array.empty[(String, Long, Array[Byte])]
      // ONE shared budget: the float side may spend only what the
      // hist side left (never negative — the hist side enforced ≤ lim)
      val histConsumed = hist.map(_._2).sum
      val residual = lim.map(_ - histConsumed)
      val flt =
        if (wantsFloat(q))
          floatQuerySeries(t, q, residual, nativeSince = nativeSince,
            alreadyConsumed = histConsumed)
        else Array.empty[(String, Long, Array[Byte])]
      val histKeys = hist.map(_._1).toSet
      val fltByKey = flt.map(s => s._1 -> s._3).toMap
      val merged: Seq[(String, Array[Byte])] =
        hist.map { case (k, _, hb) =>
          fltByKey.get(k) match {
            // dual-store label set: one TimeSeries, labels + samples
            // from the float encoding, histogram fields spliced in
            // (field order is wire-irrelevant in protobuf)
            case Some(fb) => k -> (fb ++ nonLabelFields(hb))
            case None => k -> hb
          }
        }.toSeq ++
          flt.collect { case (k, _, fb) if !histKeys.contains(k) => (k, fb) }
      val qw = new ProtoWriter
      merged.sortBy(_._1)(utf8ByteOrder).foreach(s => qw.bytes(1, s._2))
      w.bytes(1, qw.toBytes)
    }
    Snappy.compress(w.toBytes)
  }

  /** Every field of an encoded `TimeSeries` EXCEPT the label entries
    * (field 1) — what [[serveRouted]] splices into a float encoding of
    * the same label set to form the single merged series message. */
  private def nonLabelFields(ts: Array[Byte]): Array[Byte] = {
    val r = new ProtoReader(ts, 0, ts.length)
    val w = new ProtoWriter
    while (r.hasMore) r.key() match {
      case (1, 2) => r.delimited(); ()
      case (f, 2) =>
        val (s, e) = r.delimited()
        w.bytes(f, java.util.Arrays.copyOfRange(ts, s, e))
      case (_, wt) => r.skip(wt)
    }
    w.toBytes
  }

  /** Decode a snappy `ReadResponse` to `(query_index, time, value,
    * labels)` rows — the client side (and the oracle's replay path). */
  def decodeReadResponse(payload: Array[Byte])
      : Seq[(Int, Long, Double, Map[String, String])] = {
    val raw = Snappy.uncompress(payload)
    val r = new ProtoReader(raw, 0, raw.length)
    val out = Seq.newBuilder[(Int, Long, Double, Map[String, String])]
    var qidx = 0
    while (r.hasMore) r.key() match {
      case (1, 2) =>
        val (qs, qe) = r.delimited()
        val qr = new ProtoReader(raw, qs, qe)
        while (qr.hasMore) qr.key() match {
          case (1, 2) =>
            val (ss, se) = qr.delimited()
            decodeTimeSeries(raw, ss, se).foreach { case (tms, v, ls) =>
              out += ((qidx, tms, v, ls))
            }
          case (_, w) => qr.skip(w)
        }
        qidx += 1
      case (_, w) => r.skip(w)
    }
    out.result()
  }

  private def decodeTimeSeries(b: Array[Byte], from: Int, until: Int)
      : Seq[(Long, Double, Map[String, String])] = {
    val r = new ProtoReader(b, from, until)
    val labels = Map.newBuilder[String, String]
    val samples = Seq.newBuilder[(Long, Double)]
    while (r.hasMore) r.key() match {
      case (1, 2) =>
        val (s, e) = r.delimited()
        val lr = new ProtoReader(b, s, e)
        var n = ""; var v = ""
        while (lr.hasMore) lr.key() match {
          case (1, 2) => n = lr.string()
          case (2, 2) => v = lr.string()
          case (_, w) => lr.skip(w)
        }
        labels += (n -> v)
      case (2, 2) =>
        val (s, e) = r.delimited()
        val sr = new ProtoReader(b, s, e)
        var value = 0.0; var ts = 0L
        while (sr.hasMore) sr.key() match {
          case (1, 1) => value = java.lang.Double.longBitsToDouble(sr.fixed64())
          case (2, 0) => ts = sr.varint()
          case (_, w) => sr.skip(w)
        }
        samples += ((ts, value))
      case (_, w) => r.skip(w)
    }
    val ls = labels.result()
    samples.result().map { case (ts, v) => (ts, v, ls) }
  }

  /** One query's matched slice of a FULL-fidelity histogram frame
    * (`(labels, WalHistogram)` — the WAL/block scans' shape): label
    * keys matched verbatim (this frame was never renamed on ingest),
    * wire matchers ANCHORED, absent label ≡ "", range inclusive. The
    * shared selection of [[serveHists]] and [[serveChunkedHists]]. */
  private def histSlice(
      hs: Dataset[(Map[String, String],
        graft.sources.tsdbblock.WalReader.WalHistogram)],
      q: ReadQuery): DataFrame =
    hs.toDF().where(histPred(q))

  /** [[histSlice]]'s selection as a bare predicate over the
    * `(_1 labels, _2 hist)` frame — reused by the fused multi-query
    * path, which tags each row with every query it matches instead of
    * re-scanning the frame per query. */
  private def histPred(q: ReadQuery): Column = {
    val lo = if (q.startMs == Long.MinValue) Long.MinValue else q.startMs - 1
    val hi = if (q.endMs == Long.MaxValue) Long.MaxValue else q.endMs + 1
    def lcol(n: String) =
      coalesce(element_at(col("_1"), n), lit(""))
    val residual = PromQL.anchorMatchers(q.matchers).map {
      case Matcher.Eq(n, v)    => lcol(n) === v
      case Matcher.NotEq(n, v) => lcol(n) =!= v
      case Matcher.Re(n, p)    => lcol(n).rlike(p)
      case Matcher.NotRe(n, p) => !lcol(n).rlike(p)
    }.foldLeft(lit(true))(_ && _)
    residual && col("_2.time") > lo && col("_2.time") < hi
  }

  /** SAMPLED responses for NATIVE-HISTOGRAM series: the snappy
    * `ReadResponse` whose `TimeSeries.histograms` (prompb field 4)
    * carries the pushed histograms — what a client that does NOT
    * negotiate STREAMED_XOR_CHUNKS reads; filling only `samples` would
    * silently show such a client float-less series. Histograms ride in
    * the float prompb form (every field is carried exactly; Prometheus
    * itself serves float-form conversions of integer histograms). Same
    * input frame and matcher semantics as [[serveChunkedHists]];
    * per-series encode runs distributed, series sorted labels.Compare
    * on the driver (one HTTP body — the SAMPLED protocol's own
    * constraint, bounded by the query's selectivity). */
  def serveHists(
      hs: Dataset[(Map[String, String],
        graft.sources.tsdbblock.WalReader.WalHistogram)],
      requestBytes: Array[Byte], sampleLimit: Long = 0L): Array[Byte] = {
    val req = decodeReadRequest(requestBytes)
    val lim = Some(sampleLimit).filter(_ > 0)
    val w = new ProtoWriter
    if (lim.isEmpty && req.queries.lengthCompare(1) > 0) {
      // unlimited multi-query request: ONE job answers every query —
      // each row is tagged with the indices of the queries it matches,
      // grouped by (query, series) and encoded distributed, then
      // collected once. The per-query loop below re-scans the input
      // frame (a WAL decode or block read) and re-shuffles per query;
      // the limited path keeps it because the sample limit is enforced
      // incrementally per query (collectLimited drains partitions until
      // the budget trips).
      val byQuery = histQueriesSeries(hs, req.queries)
      req.queries.indices.foreach { qi =>
        val qw = new ProtoWriter
        byQuery.getOrElse(qi, Array.empty)
          .sortBy(_._1)(utf8ByteOrder).foreach(s => qw.bytes(1, s._2))
        w.bytes(1, qw.toBytes)
      }
    } else req.queries.foreach { q =>
      val series = histQuerySeries(hs, q, lim)
      val qw = new ProtoWriter
      series.sortBy(_._1)(utf8ByteOrder).foreach(s => qw.bytes(1, s._3))
      w.bytes(1, qw.toBytes)
    }
    Snappy.compress(w.toBytes)
  }

  /** One series' prompb `TimeSeries` bytes for the SAMPLED histogram
    * response — the shared encode of the per-query and fused paths. */
  private def encodeHistSeries(entries: Seq[(String, String)],
      hists: Seq[graft.sources.tsdbblock.WalReader.WalHistogram])
      : Array[Byte] = {
    val sw = new ProtoWriter
    entries.foreach { case (n, v) =>
      val lw = new ProtoWriter
      lw.string(1, n); lw.string(2, v)
      sw.bytes(1, lw.toBytes)
    }
    hists.map { h =>
      // customValues/resetHint ride along: an NHCB (schema -53)
      // histogram served from a WAL frame keeps its bucket
      // BOUNDS in the sampled form, exactly as the chunked
      // path's HistChunk payload does
      (h.time, RemoteWrite.encodeHistogram(RemoteWrite.SparseHist(
        h.time, Map.empty, h.count, h.sum, h.schema,
        h.zeroThreshold, h.zeroCount, h.positive, h.negative,
        h.customValues, h.counterResetHint)))
    }
    // same-timestamp samples tie-break on their encoded bytes: the
    // input order is whatever the shuffle delivered
    .sortWith { case ((t1, b1), (t2, b2)) =>
      t1 < t2 || (t1 == t2 && java.util.Arrays.compareUnsigned(b1, b2) < 0)
    }
    .foreach(e => sw.bytes(4, e._2))
    sw.toBytes
  }

  /** One query's HISTOGRAM series for the SAMPLED response —
    * [[serveHists]]'s per-query body, shared with [[serveRouted]]. */
  private def histQuerySeries(
      hs: Dataset[(Map[String, String],
        graft.sources.tsdbblock.WalReader.WalHistogram)],
      q: ReadQuery, sampleLimit: Option[Long])
      : Array[(String, Long, Array[Byte])] = {
    import graft.sources.tsdbblock.WalReader
    val sp = hs.sparkSession
    import sp.implicits._
    collectLimited(
      histSlice(hs, q)
        .select(array_sort(map_entries(col("_1"))).as("entries"),
          col("_2").as("hist"))
        .groupBy(col("entries"))
        .agg(collect_list(col("hist")).as("hists"))
        .as[(Seq[(String, String)], Seq[WalReader.WalHistogram])]
        .mapPartitions(_.map { case (entries, hists) =>
          (labelSortKey(entries), hists.size.toLong,
            encodeHistSeries(entries, hists))
        }), sampleLimit, "histogram samples")
  }

  /** EVERY query's histogram series in ONE distributed pass: rows
    * explode over the (usually one) query indices whose slice they fall
    * in, group by (query, series), encode per group. Same per-query
    * result set as [[histQuerySeries]] — the tag-then-group is just the
    * per-query filter applied once per row instead of once per scan. */
  private def histQueriesSeries(
      hs: Dataset[(Map[String, String],
        graft.sources.tsdbblock.WalReader.WalHistogram)],
      queries: Seq[ReadQuery])
      : Map[Int, Array[(String, Array[Byte])]] = {
    import graft.sources.tsdbblock.WalReader
    val sp = hs.sparkSession
    import sp.implicits._
    val qidxs = filter(
      array(queries.zipWithIndex.map { case (q, i) =>
        when(histPred(q), lit(i)).otherwise(lit(null).cast("int"))
      }: _*),
      x => x.isNotNull)
    hs.toDF()
      .select(explode(qidxs).as("qidx"),
        array_sort(map_entries(col("_1"))).as("entries"),
        col("_2").as("hist"))
      .groupBy(col("qidx"), col("entries"))
      .agg(collect_list(col("hist")).as("hists"))
      .as[(Int, Seq[(String, String)], Seq[WalReader.WalHistogram])]
      .mapPartitions(_.map { case (qi, entries, hists) =>
        (qi, labelSortKey(entries), encodeHistSeries(entries, hists))
      })
      .collect()
      .groupBy(_._1)
      .view.mapValues(_.map(s => (s._2, s._3))).toMap
  }

  /** Decode a snappy `ReadResponse`'s HISTOGRAM series — one
    * `(query_index, SparseHist)` per histogram, labels attached — the
    * client side of [[serveHists]] (and the oracle's replay path). */
  def decodeReadResponseHists(payload: Array[Byte])
      : Seq[(Int, RemoteWrite.SparseHist)] = {
    val raw = Snappy.uncompress(payload)
    val r = new ProtoReader(raw, 0, raw.length)
    val out = Seq.newBuilder[(Int, RemoteWrite.SparseHist)]
    var qidx = 0
    while (r.hasMore) r.key() match {
      case (1, 2) =>
        val (qs, qe) = r.delimited()
        val qr = new ProtoReader(raw, qs, qe)
        while (qr.hasMore) qr.key() match {
          case (1, 2) =>
            val (ss, se) = qr.delimited()
            val sr = new ProtoReader(raw, ss, se)
            val labels = Map.newBuilder[String, String]
            val spans = Seq.newBuilder[(Int, Int)]
            while (sr.hasMore) sr.key() match {
              case (1, 2) =>
                val (ls, le) = sr.delimited()
                val lr = new ProtoReader(raw, ls, le)
                var n = ""; var v = ""
                while (lr.hasMore) lr.key() match {
                  case (1, 2) => n = lr.string()
                  case (2, 2) => v = lr.string()
                  case (_, w) => lr.skip(w)
                }
                labels += (n -> v)
              case (4, 2) =>
                val (hs, he) = sr.delimited()
                spans += ((hs, he))
              case (_, w) => sr.skip(w)
            }
            // labels may wire-legally follow histograms: decode after
            val ls = labels.result()
            spans.result().foreach { case (hs, he) =>
              out += ((qidx, RemoteWrite.decodeHistogram(raw, hs, he, ls)))
            }
          case (_, w) => qr.skip(w)
        }
        qidx += 1
      case (_, w) => r.skip(w)
    }
    out.result()
  }

  // ---- STREAMED_XOR_CHUNKS response (ResponseType 1) ----------------

  /** Attach the NUL-escaped labels.Compare sort key (the in-plan twin
    * of [[labelSortKey]] — same injective encoding) to a frame
    * carrying sorted `entries`: THE one copy of the ordering
    * invariant every chunked responder's range exchange shares. */
  private def withSortKey(df: DataFrame): DataFrame =
    df.withColumn("skey", Shadowing.escapedKey(col("entries")))


  /** Samples per XOR chunk — Prometheus's chunk fill target, the same
    * split the block writer uses. */
  private val SamplesPerChunk = 120

  /** Serve a request as the STREAMED_XOR_CHUNKS frame sequence: one
    * self-framed `ChunkedReadResponse` per series (uvarint length +
    * big-endian CRC32-Castagnoli + message — Prometheus's
    * `ChunkedWriter` framing), chunks Gorilla-encoded by the block
    * writer's encoder. Fully distributed: the returned Dataset streams
    * frame-by-frame; the driver never holds the response.
    *
    * Frame ORDER is part of the protocol: Prometheus's server selects
    * with `sortSeries=true` and its streaming client/merge queriers
    * assume series sorted by label set — they cannot re-sort a stream.
    * So the per-series shuffle here is a RANGE exchange on
    * (query, label-set key): one exchange both co-locates each series
    * and globally orders the stream; grouping is then by contiguity
    * within the sorted partitions (no second shuffle), and the output
    * Dataset's partition order IS `labels.Compare` order. */
  def serveChunked(t: TsdbTable, requestBytes: Array[Byte]): Dataset[Array[Byte]] = {
    val sp = t.df.sparkSession
    import sp.implicits._
    val req = decodeReadRequest(requestBytes)
    // a wire-legal ReadRequest may carry zero queries: empty stream out
    if (req.queries.isEmpty) return sp.emptyDataset[Array[Byte]]
    val keyed = req.queries.zipWithIndex.map { case (q, qi) =>
      slice(t, q).select(
        lit(qi).as("qi"),
        array_sort(map_entries(col("labels"))).as("entries"),
        col("time"), col("value"))
    }.reduce(_ unionByName _)
    withSortKey(keyed)
      .repartitionByRange(col("qi"), col("skey"))
      .sortWithinPartitions(col("qi"), col("skey"), col("time"))
      .select(col("qi"), col("skey"), col("entries"),
        col("time"), col("value"))
      .as[(Int, String, Seq[(String, String)], Long, Option[Double])]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[Array[Byte]] {
          def hasNext: Boolean = buf.hasNext
          def next(): Array[Byte] = {
            val (qi, skey, entries, _, _) = buf.head
            val samples = Seq.newBuilder[(Long, Double)]
            while (buf.hasNext && buf.head._1 == qi && buf.head._2 == skey) {
              // NULL value → StaleNaN in the XOR chunk bytes (exact
              // bits — Gorilla XOR encodes the raw pattern, and no
              // shuffle sits between here and the chunk encoder)
              val r = buf.next()
              samples += ((r._4, r._5.getOrElse(StaleNaN)))
            }
            frame(encodeChunkedSeries(qi, entries, samples.result()))
          }
        }
      }
  }

  /** STREAMED frames for NATIVE-HISTOGRAM series — the histogram twin
    * of [[serveChunked]]: the same framed `ChunkedReadResponse`
    * sequence, chunks carrying prompb `Encoding.HISTOGRAM` (2) /
    * `FLOAT_HISTOGRAM` (3) whose payload IS the block tier's histogram
    * chunk format ([[graft.sources.tsdbblock.HistChunk]]) — exactly how
    * Prometheus streams its own chunk bytes unre-encoded. Input is the
    * full-fidelity `(labels, sample)` frame the WAL/block histogram
    * scans produce; its label KEYS are matched verbatim (this frame
    * was never renamed on ingest, unlike the stored wide tables
    * [[serveChunked]] maps `__name__` onto). Wire matchers are
    * ANCHORED, absent label ≡ "". Same range exchange as the float
    * path: one shuffle co-locates each series and globally orders the
    * stream in `labels.Compare` order; chunks cut per layout change /
    * 120 samples. */
  def serveChunkedHists(
      hs: Dataset[(Map[String, String],
        graft.sources.tsdbblock.WalReader.WalHistogram)],
      requestBytes: Array[Byte]): Dataset[Array[Byte]] = {
    import graft.sources.tsdbblock.WalReader
    val sp = hs.sparkSession
    import sp.implicits._
    val req = decodeReadRequest(requestBytes)
    if (req.queries.isEmpty) return sp.emptyDataset[Array[Byte]]
    val keyed = req.queries.zipWithIndex.map { case (q, qi) =>
      histSlice(hs, q)
        .select(lit(qi).as("qi"),
          array_sort(map_entries(col("_1"))).as("entries"),
          col("_2").as("hist"))
    }.reduce(_ unionByName _)
    withSortKey(keyed)
      .repartitionByRange(col("qi"), col("skey"))
      .sortWithinPartitions(col("qi"), col("skey"), col("hist.time"))
      .select(col("qi"), col("skey"), col("entries"), col("hist"))
      .as[(Int, String, Seq[(String, String)], WalReader.WalHistogram)]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[Array[Byte]] {
          def hasNext: Boolean = buf.hasNext
          def next(): Array[Byte] = {
            val (qi, skey, entries, _) = buf.head
            val hists = Seq.newBuilder[WalReader.WalHistogram]
            while (buf.hasNext && buf.head._1 == qi && buf.head._2 == skey) {
              hists += buf.next()._4
            }
            frame(encodeChunkedHistSeries(qi, entries, hists.result()))
          }
        }
      }
  }

  /** Encode one HISTOGRAM `ChunkedSeries` message (unframed) —
    * [[serveChunkedHists]]'s per-series body, shared with
    * [[serveChunkedRouted]]. */
  private def encodeChunkedHistSeries(qi: Int,
      entries: Seq[(String, String)],
      hists: Seq[graft.sources.tsdbblock.WalReader.WalHistogram])
      : Array[Byte] = {
    import graft.sources.tsdbblock.HistChunk
    val sw = new ProtoWriter
    entries.foreach { case (n, v) =>
      val lw = new ProtoWriter
      lw.string(1, n); lw.string(2, v)
      sw.bytes(1, lw.toBytes)
    }
    HistChunk.chunkBatches(hists,
        maxPerChunk = SamplesPerChunk).foreach { batch =>
      val cw = new ProtoWriter
      cw.int64(1, batch.head.time)
      cw.int64(2, batch.last.time)
      cw.int64(3,
        (if (batch.head.isFloat) HistChunk.EncFloatHistogram
         else HistChunk.EncHistogram).toLong)
      cw.bytes(4, HistChunk.encode(batch, batch.head.isFloat))
      sw.bytes(2, cw.toBytes)
    }
    val w = new ProtoWriter
    w.bytes(1, sw.toBytes)
    w.int64(2, qi.toLong)
    w.toBytes
  }

  /** Per-QUERY routed STREAMED responder — [[serveRouted]]'s chunked
    * twin: float-eligible queries' sample slices and native-eligible
    * queries' histogram slices union into ONE keyed frame, a single
    * range exchange on (query, label-set key) globally orders the
    * stream (Prometheus's sorted-series contract holds across BOTH
    * kinds), and each series group emits its XOR or HISTOGRAM chunk
    * frame — one of each when the same label set exists in both
    * stores. A query eligible for neither store contributes no rows
    * (its frames are simply absent, like an unmatched query). */
  def serveChunkedRouted(t: TsdbTable,
      hs: Option[Dataset[(Map[String, String],
        graft.sources.tsdbblock.WalReader.WalHistogram)]],
      requestBytes: Array[Byte],
      wantsHist: ReadQuery => Boolean,
      wantsFloat: ReadQuery => Boolean,
      nativeSince: Option[DataFrame] = None): Dataset[Array[Byte]] = {
    import graft.sources.tsdbblock.WalReader
    val sp = t.df.sparkSession
    import sp.implicits._
    val req = decodeReadRequest(requestBytes)
    val histType = hs.map(_.toDF().schema("_2").dataType)
      .getOrElse(org.apache.spark.sql.types.NullType)
    val floatSlices = req.queries.zipWithIndex.collect {
      case (q, qi) if wantsFloat(q) =>
        dropShadowed(slice(t, q), nativeSince).select(
          lit(qi).as("qi"),
          array_sort(map_entries(col("labels"))).as("entries"),
          lit(0).as("kind"),
          col("time").as("ts"),
          col("time"), col("value"),
          lit(null).cast(histType).as("hist"))
    }
    val histSlices = hs.toSeq.flatMap { h =>
      req.queries.zipWithIndex.collect {
        case (q, qi) if wantsHist(q) =>
          histSlice(h, q).select(
            lit(qi).as("qi"),
            array_sort(map_entries(col("_1"))).as("entries"),
            lit(1).as("kind"),
            col("_2.time").as("ts"),
            lit(null).cast("long").as("time"),
            lit(null).cast("double").as("value"),
            col("_2").as("hist"))
      }
    }
    val keyed = (floatSlices ++ histSlices).reduceOption(_ unionByName _)
      .getOrElse(return sp.emptyDataset[Array[Byte]])
    withSortKey(keyed)
      .repartitionByRange(col("qi"), col("skey"))
      .sortWithinPartitions(col("qi"), col("skey"), col("kind"), col("ts"))
      .select(col("qi"), col("skey"), col("entries"), col("kind"),
        col("time"), col("value"), col("hist"))
      .as[(Int, String, Seq[(String, String)], Int, Option[Long],
        Option[Double], Option[WalReader.WalHistogram])]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[Array[Byte]] {
          private var pending: List[Array[Byte]] = Nil
          def hasNext: Boolean = pending.nonEmpty || buf.hasNext
          def next(): Array[Byte] = pending match {
            case h :: t => pending = t; h
            case Nil =>
              val (qi, skey, entries, _, _, _, _) = buf.head
              val samples = Seq.newBuilder[(Long, Double)]
              val hists = Seq.newBuilder[WalReader.WalHistogram]
              while (buf.hasNext && buf.head._1 == qi &&
                  buf.head._2 == skey) {
                val r = buf.next()
                if (r._4 == 0)
                  samples += ((r._5.get, r._6.getOrElse(StaleNaN)))
                else hists += r._7.get
              }
              val frames =
                (if (samples.result().nonEmpty)
                   List(frame(encodeChunkedSeries(qi, entries,
                     samples.result())))
                 else Nil) ++
                (if (hists.result().nonEmpty)
                   List(frame(encodeChunkedHistSeries(qi, entries,
                     hists.result())))
                 else Nil)
              pending = frames.tail
              frames.head
          }
        }
      }
  }

  /** Client-side decode of streamed HISTOGRAM frames → one row per
    * `(query_index, labels, sample)`, CRC-verified, chunks decoded with
    * the block reader's histogram codec. Map-side only. */
  def decodeChunkedHistFrames(frames: Dataset[Array[Byte]])
      : Dataset[(Int, Map[String, String],
          graft.sources.tsdbblock.WalReader.WalHistogram)] = {
    import graft.sources.tsdbblock.{HistChunk, WalReader}
    val s = frames.sparkSession
    import s.implicits._
    frames.flatMap { f =>
      val (from, until) = unframe(f)
      val r = new ProtoReader(f, from, until)
      var qidx = 0
      val series = Seq.newBuilder[(Map[String, String],
        Seq[WalReader.WalHistogram])]
      while (r.hasMore) r.key() match {
        case (1, 2) =>
          val (ss, se) = r.delimited()
          val sr = new ProtoReader(f, ss, se)
          val labels = Map.newBuilder[String, String]
          val hists = Seq.newBuilder[WalReader.WalHistogram]
          while (sr.hasMore) sr.key() match {
            case (1, 2) =>
              val (ls, le) = sr.delimited()
              val lr = new ProtoReader(f, ls, le)
              var n = ""; var v = ""
              while (lr.hasMore) lr.key() match {
                case (1, 2) => n = lr.string()
                case (2, 2) => v = lr.string()
                case (_, w) => lr.skip(w)
              }
              labels += (n -> v)
            case (2, 2) =>
              val (cs, ce) = sr.delimited()
              val cr = new ProtoReader(f, cs, ce)
              var enc = 0L; var data: Array[Byte] = Array.empty
              while (cr.hasMore) cr.key() match {
                case (1, 0) => cr.varint(): Unit
                case (2, 0) => cr.varint(): Unit
                case (3, 0) => enc = cr.varint()
                case (4, 2) =>
                  val (ds, de) = cr.delimited()
                  data = java.util.Arrays.copyOfRange(f, ds, de)
                case (_, w) => cr.skip(w)
              }
              require(enc == HistChunk.EncHistogram.toLong ||
                  enc == HistChunk.EncFloatHistogram.toLong,
                s"unsupported histogram chunk encoding $enc")
              hists ++= HistChunk.decode(data,
                enc == HistChunk.EncFloatHistogram.toLong)
            case (_, w) => sr.skip(w)
          }
          series += ((labels.result(), hists.result()))
        case (2, 0) => qidx = r.varint().toInt
        case (_, w) => r.skip(w)
      }
      series.result().flatMap { case (ls, hsRows) =>
        hsRows.map(h => (qidx, ls, h))
      }
    }
  }

  /** Split a streamed HTTP response body — the CONCATENATION of frames
    * a chunked `/api/v1/read` writes — back into individual frames (the
    * client-side transport inverse; each frame then decodes via
    * [[decodeChunkedFrames]]/[[decodeChunkedHistFrames]]). */
  def splitFrames(body: Array[Byte]): Seq[Array[Byte]] = {
    val out = Seq.newBuilder[Array[Byte]]
    var pos = 0
    while (pos < body.length) {
      val r = new ByteReader(body, pos)
      val len = r.uvarint()
      val end = r.pos + 4 + len.toInt
      require(end <= body.length, "truncated frame stream")
      out += java.util.Arrays.copyOfRange(body, pos, end)
      pos = end
    }
    out.result()
  }

  /** Verify a streamed frame (uvarint len ++ BE crc32c ++ data) and
    * return the data range. */
  private def unframe(f: Array[Byte]): (Int, Int) = {
    val r = new ByteReader(f, 0)
    val len = r.uvarint().toInt
    require(r.pos + 4 + len == f.length, "bad frame length")
    val want = r.be32()
    require(crc32c(f, r.pos, len) == want, "frame crc32c mismatch")
    (r.pos, r.pos + len)
  }

  private def encodeChunkedSeries(queryIndex: Int,
                                  entries: Seq[(String, String)],
                                  samples: Seq[(Long, Double)]): Array[Byte] = {
    val sw = new ProtoWriter
    entries.foreach { case (n, v) =>
      val lw = new ProtoWriter
      lw.string(1, n); lw.string(2, v)
      sw.bytes(1, lw.toBytes)
    }
    samples.grouped(SamplesPerChunk).foreach { chunk =>
      val ts = chunk.map(_._1).toArray
      val vs = chunk.map(_._2).toArray
      val cw = new ProtoWriter
      cw.int64(1, ts.head)
      cw.int64(2, ts.last)
      cw.int64(3, 1L) // Encoding.XOR
      cw.bytes(4, XorChunk.encode(ts, vs))
      sw.bytes(2, cw.toBytes)
    }
    val w = new ProtoWriter
    w.bytes(1, sw.toBytes)
    w.int64(2, queryIndex.toLong)
    w.toBytes
  }

  /** Prometheus chunked-transport framing: uvarint(len) ++ BE
    * crc32c(data) ++ data. */
  private[tsdb] def frame(data: Array[Byte]): Array[Byte] = {
    val w = new ByteWriter
    w.uvarint(data.length.toLong)
    w.be32(crc32c(data, 0, data.length))
    w.bytes(data)
    w.toByteArray
  }

  /** Client-side decode of streamed frames → `(query_index, time,
    * value, labels)` rows, CRC-verified, XOR chunks decoded with the
    * block reader's decoder. Map-side only — no shuffle. */
  def decodeChunkedFrames(frames: Dataset[Array[Byte]])
      : DataFrame = {
    val s = frames.sparkSession
    import s.implicits._
    frames.flatMap { f =>
      val (from, until) = unframe(f)
      decodeChunkedResponse(f, from, until)
    }.toDF("qidx", "time", "value", "labels")
  }

  private def decodeChunkedResponse(b: Array[Byte], from: Int, until: Int)
      : Seq[(Int, Long, Double, Map[String, String])] = {
    val r = new ProtoReader(b, from, until)
    var qidx = 0
    val series = Seq.newBuilder[(Map[String, String], Seq[(Long, Double)])]
    while (r.hasMore) r.key() match {
      case (1, 2) =>
        val (ss, se) = r.delimited()
        val sr = new ProtoReader(b, ss, se)
        val labels = Map.newBuilder[String, String]
        val samples = Seq.newBuilder[(Long, Double)]
        while (sr.hasMore) sr.key() match {
          case (1, 2) =>
            val (ls, le) = sr.delimited()
            val lr = new ProtoReader(b, ls, le)
            var n = ""; var v = ""
            while (lr.hasMore) lr.key() match {
              case (1, 2) => n = lr.string()
              case (2, 2) => v = lr.string()
              case (_, w) => lr.skip(w)
            }
            labels += (n -> v)
          case (2, 2) =>
            val (cs, ce) = sr.delimited()
            val cr = new ProtoReader(b, cs, ce)
            var enc = 0L; var data: Array[Byte] = Array.empty
            while (cr.hasMore) cr.key() match {
              case (1, 0) => cr.varint(): Unit
              case (2, 0) => cr.varint(): Unit
              case (3, 0) => enc = cr.varint()
              case (4, 2) =>
                val (ds, de) = cr.delimited()
                data = java.util.Arrays.copyOfRange(b, ds, de)
              case (_, w) => cr.skip(w)
            }
            require(enc == 1L, s"unsupported chunk encoding $enc")
            val (ts, vs) = XorChunk.decode(data)
            samples ++= ts.zip(vs)
          case (_, w) => sr.skip(w)
        }
        series += ((labels.result(), samples.result()))
      case (2, 0) => qidx = r.varint().toInt
      case (_, w) => r.skip(w)
    }
    series.result().flatMap { case (ls, ss) =>
      ss.map { case (t, v) => (qidx, t, v, ls) }
    }
  }
}
