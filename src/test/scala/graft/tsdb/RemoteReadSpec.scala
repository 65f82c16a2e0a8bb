package graft.tsdb

import graft.SparkSpec
import graft.model.Matcher
import org.apache.spark.sql.functions._
import org.xerial.snappy.Snappy

/** The remote-read protocol: request codec round trips (incl. hints
  * and packed response types), serving SAMPLED and STREAMED_XOR_CHUNKS
  * responses off the pushdown-pruned table scan, frame CRC integrity,
  * and matcher/inclusive-bounds semantics agreeing with the query
  * tier. */
class RemoteReadSpec extends SparkSpec {
  import RemoteRead._

  // storage-form labels ("name" is the metric-name column; the
  // protocol surface renames it __name__ via Federate.longForm)
  private val fixture = Seq(
    (1000L, 1.5, Map("name" -> "http_requests", "job" -> "api", "code" -> "200")),
    (2000L, 2.5, Map("name" -> "http_requests", "job" -> "api", "code" -> "200")),
    (3000L, 3.5, Map("name" -> "http_requests", "job" -> "api", "code" -> "200")),
    (1000L, -0.25, Map("name" -> "http_requests", "job" -> "db", "code" -> "500")),
    (1500L, 0.0, Map("name" -> "up", "job" -> "api")),
    (2500L, 1.0, Map("name" -> "up", "job" -> "db")))

  private def wire(ls: Map[String, String]): Map[String, String] =
    ls.map { case ("name", v) => "__name__" -> v; case kv => kv }

  private def table(): TsdbTable = {
    val s = spark; import s.implicits._
    TsdbTable(TsdbIngest.toWide(fixture.toDF("time", "value", "labels")))
  }

  test("ReadRequest codec round-trips queries, matchers, hints, types") {
    val req = ReadRequest(
      Seq(
        ReadQuery(1000L, 5000L, Seq(
          Matcher.Eq("__name__", "http_requests"),
          Matcher.NotEq("code", "500"),
          Matcher.Re("job", "a.*"),
          Matcher.NotRe("job", "d.*")),
          hints = Some(ReadHints(stepMs = 15000L, func = "rate",
            grouping = Seq("job", "code"), by = true, rangeMs = 300000L))),
        ReadQuery(0L, 9999L, Nil)),
      acceptedResponseTypes = Seq(ResponseStreamedXorChunks, ResponseSamples))
    assert(decodeReadRequest(encodeReadRequest(req)) === req)
  }

  test("serve: sampled response ≡ the table's own matcher selection") {
    val t = table()
    val req = encodeReadRequest(ReadRequest(Seq(
      ReadQuery(1000L, 2000L, Seq(Matcher.Eq("__name__", "http_requests"))),
      ReadQuery(Long.MinValue, Long.MaxValue, Seq(Matcher.Eq("job", "db"))))))
    val got = decodeReadResponse(serve(t, req)).toSet
    val want = Set(
      // q0: INCLUSIVE [1000, 2000] — the 3000 sample is out
      (0, 1000L, 1.5, Map("__name__" -> "http_requests", "job" -> "api", "code" -> "200")),
      (0, 2000L, 2.5, Map("__name__" -> "http_requests", "job" -> "api", "code" -> "200")),
      (0, 1000L, -0.25, Map("__name__" -> "http_requests", "job" -> "db", "code" -> "500")),
      // q1: full range, job=db
      (1, 1000L, -0.25, Map("__name__" -> "http_requests", "job" -> "db", "code" -> "500")),
      (1, 2500L, 1.0, Map("__name__" -> "up", "job" -> "db")))
    assert(got === want)
  }

  test("serve: series sorted by label set, samples by time") {
    val t = table()
    val req = encodeReadRequest(ReadRequest(Seq(
      ReadQuery(Long.MinValue, Long.MaxValue, Nil))))
    val raw = Snappy.uncompress(serve(t, req))
    // walk the QueryResult: series label-key strings must be sorted
    val r = new RemoteWrite.ProtoReader(raw, 0, raw.length)
    val (qs, qe) = { r.key(); r.delimited() }
    val qr = new RemoteWrite.ProtoReader(raw, qs, qe)
    val keys = Seq.newBuilder[String]
    while (qr.hasMore) {
      qr.key()
      val (ss, se) = qr.delimited()
      val sr = new RemoteWrite.ProtoReader(raw, ss, se)
      val labels = Seq.newBuilder[(String, String)]
      var lastT = Long.MinValue
      while (sr.hasMore) sr.key() match {
        case (1, 2) =>
          val (ls, le) = sr.delimited()
          val lr = new RemoteWrite.ProtoReader(raw, ls, le)
          var n = ""; var v = ""
          while (lr.hasMore) lr.key() match {
            case (1, 2) => n = lr.string()
            case (2, 2) => v = lr.string()
            case (_, w) => lr.skip(w)
          }
          labels += ((n, v))
        case (2, 2) =>
          val (ps, pe) = sr.delimited()
          val pr = new RemoteWrite.ProtoReader(raw, ps, pe)
          var t0 = 0L
          while (pr.hasMore) pr.key() match {
            case (2, 0) => t0 = pr.varint()
            case (_, w) => pr.skip(w)
          }
          assert(t0 >= lastT, "samples must be time-sorted"); lastT = t0
        case (_, w) => sr.skip(w)
      }
      val ls = labels.result()
      assert(ls === ls.sortBy(_._1), "labels sorted within series")
      keys += ls.map(p => p._1 + " " + p._2).mkString(" ")
    }
    val ks = keys.result()
    assert(ks.size === 4)
    assert(ks === ks.sorted, "series sorted by label set")
  }

  test("streamed XOR chunks round-trip, CRC-framed; corrupt frame refuses") {
    val t = table()
    val req = encodeReadRequest(ReadRequest(
      Seq(ReadQuery(Long.MinValue, Long.MaxValue,
        Seq(Matcher.Eq("__name__", "http_requests")))),
      acceptedResponseTypes = Seq(ResponseStreamedXorChunks)))
    val frames = serveChunked(t, req)
    assert(frames.count() === 2) // one frame per matched series
    val got = decodeChunkedFrames(frames)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getMap[String, String](3).toMap)).toSet
    val want = fixture.filter(_._3("name") == "http_requests")
      .map { case (tm, v, ls) => (0, tm, v, wire(ls)) }.toSet
    assert(got === want)

    // flip one payload byte → CRC must refuse
    val s = spark; import s.implicits._
    val bad = frames.collect().map { f =>
      val g = f.clone(); g(g.length - 1) = (g(g.length - 1) ^ 0x01).toByte; g
    }
    intercept[org.apache.spark.SparkException] {
      decodeChunkedFrames(s.createDataset(bad.toSeq)).collect()
    }
  }

  test("long series split into 120-sample XOR chunks") {
    val s = spark; import s.implicits._
    val long = (0 until 300).map(i =>
      (i.toLong * 1000L, i.toDouble, Map("name" -> "m")))
      .toDF("time", "value", "labels")
    val t = TsdbTable(TsdbIngest.toWide(long))
    val req = encodeReadRequest(ReadRequest(
      Seq(ReadQuery(Long.MinValue, Long.MaxValue, Nil)),
      acceptedResponseTypes = Seq(ResponseStreamedXorChunks)))
    val frames = serveChunked(t, req).collect()
    assert(frames.length === 1)
    val back = decodeChunkedFrames(s.createDataset(frames.toSeq))
      .select(col("time"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(back === (0 until 300).map(i => (i.toLong * 1000L, i.toDouble)).toSet)
  }

  test("series order is labels.Compare, not space-joined-key order") {
    // {x="a"} must sort BEFORE {x="a b"} (pairwise value compare:
    // "a" < "a b"); a space-joined key would compare "... x a y b"
    // against "... x a b" and invert them. Prometheus's streaming
    // client cannot re-sort, so wire order IS the contract.
    val s = spark; import s.implicits._
    val rows = Seq(
      (1000L, 1.0, Map("name" -> "m", "x" -> "a b")),
      (1000L, 2.0, Map("name" -> "m", "x" -> "a", "y" -> "b")))
    val t = TsdbTable(TsdbIngest.toWide(rows.toDF("time", "value", "labels")))
    val wantOrder = Seq(
      Map("__name__" -> "m", "x" -> "a", "y" -> "b"), // first
      Map("__name__" -> "m", "x" -> "a b"))           // second

    // SAMPLED response: rows come back in wire order
    val sampled = decodeReadResponse(serve(t, encodeReadRequest(ReadRequest(
      Seq(ReadQuery(Long.MinValue, Long.MaxValue, Nil))))))
    assert(sampled.map(_._4) === wantOrder)

    // STREAMED_XOR_CHUNKS: frame order (collect preserves the range-
    // partitioned order) must be the same
    val frames = serveChunked(t, encodeReadRequest(ReadRequest(
      Seq(ReadQuery(Long.MinValue, Long.MaxValue, Nil)),
      acceptedResponseTypes = Seq(ResponseStreamedXorChunks)))).collect()
    assert(frames.length === 2)
    val frameLabels = frames.toSeq.map { f =>
      decodeChunkedFrames(s.createDataset(Seq(f)))
        .select(col("labels")).head().getMap[String, String](0).toMap
    }
    assert(frameLabels === wantOrder)
  }

  test("label sort key is injective: embedded NULs cannot merge series") {
    // {a="b\0c\0d"} and {a="b", c="d"} collide under a bare single-NUL
    // join (NUL is a legal label-value byte); the escaped key must keep
    // them apart — two frames, not one merged under the first labels
    val s = spark; import s.implicits._
    val rows = Seq(
      (1000L, 1.0, Map("name" -> "m", "a" -> "b\u0000c\u0000d")),
      (1000L, 2.0, Map("name" -> "m", "a" -> "b", "c" -> "d")))
    val t = TsdbTable(TsdbIngest.toWide(rows.toDF("time", "value", "labels")))
    val frames = serveChunked(t, encodeReadRequest(ReadRequest(
      Seq(ReadQuery(Long.MinValue, Long.MaxValue, Nil)),
      acceptedResponseTypes = Seq(ResponseStreamedXorChunks)))).collect()
    assert(frames.length === 2)
    val got = frames.toSeq.map { f =>
      val r = decodeChunkedFrames(s.createDataset(Seq(f)))
        .select(col("labels"), col("value")).head()
      (r.getMap[String, String](0).toMap, r.getDouble(1))
    }
    // and order is labels.Compare: value "b" is a prefix of
    // "b\0c\0d", so {a="b",c="d"} sorts FIRST
    assert(got === Seq(
      (Map("__name__" -> "m", "a" -> "b", "c" -> "d"), 2.0),
      (Map("__name__" -> "m", "a" -> "b\u0000c\u0000d"), 1.0)))
    // the SAMPLED (driver-sorted) path agrees
    val sampled = decodeReadResponse(serve(t, encodeReadRequest(ReadRequest(
      Seq(ReadQuery(Long.MinValue, Long.MaxValue, Nil))))))
    assert(sampled.map(_._4) === got.map(_._1))
  }

  test("driver series sort is UTF-8 byte order, matching labels.Compare") {
    // U+E000 encodes as UTF-8 EE 80 80; U+10000 as F0 90 80 80 — so
    // U+E000 < U+10000 bytewise. In UTF-16 U+10000 is the surrogate
    // pair D800 DC00, which sorts BELOW E000 — Java String order
    // would invert the pair vs labels.Compare and the chunked path.
    val e000 = "\ue000"; val u10000 = "\ud800\udc00"
    assert(utf8ByteOrder.compare(e000, u10000) < 0)
    assert(Ordering.String.compare(e000, u10000) > 0) // the trap
    val s = spark; import s.implicits._
    val rows = Seq(
      (1000L, 1.0, Map("name" -> "m", "x" -> u10000)),
      (1000L, 2.0, Map("name" -> "m", "x" -> e000)))
    val t = TsdbTable(TsdbIngest.toWide(rows.toDF("time", "value", "labels")))
    val sampled = decodeReadResponse(serve(t, encodeReadRequest(ReadRequest(
      Seq(ReadQuery(Long.MinValue, Long.MaxValue, Nil))))))
    assert(sampled.map(_._4("x")) === Seq(e000, u10000))
    // and the Spark range-sorted chunked stream has the same order
    val frames = serveChunked(t, encodeReadRequest(ReadRequest(
      Seq(ReadQuery(Long.MinValue, Long.MaxValue, Nil)),
      acceptedResponseTypes = Seq(ResponseStreamedXorChunks)))).collect()
    val order = frames.toSeq.map(f =>
      decodeChunkedFrames(s.createDataset(Seq(f)))
        .select(col("labels")).head().getMap[String, String](0)("x"))
    assert(order === Seq(e000, u10000))
    // the HISTOGRAM stream shares the skey machinery and sorts the
    // same way. (A round-14 advisory claimed Spark's string sort is
    // UTF-16 code-unit order and would invert this pair; Spark's
    // default UTF8_BINARY collation compares UTF-8 BYTES, so the
    // stream is labels.Compare-ordered as documented — this case pins
    // the adjudication empirically rather than softening the claim.)
    import graft.sources.tsdbblock.WalReader.WalHistogram
    def wh(cnt: Double) = WalHistogram(0L, 1000L, 2, 0, 0.0, 0.0,
      cnt, cnt / 2, Seq((0, cnt)), Nil, Nil, false)
    val hs = s.createDataset(Seq(
      (Map("name" -> "m", "x" -> u10000), wh(1.0)),
      (Map("name" -> "m", "x" -> e000), wh(2.0))))
    val horder = serveChunkedHists(hs, encodeReadRequest(ReadRequest(
        Seq(ReadQuery(Long.MinValue, Long.MaxValue, Nil)),
        acceptedResponseTypes = Seq(ResponseStreamedXorChunks))))
      .collect().toSeq.map(f =>
        decodeChunkedHistFrames(s.createDataset(Seq(f)))
          .collect().head._2("x"))
    assert(horder === Seq(e000, u10000))
    // and the SAMPLED histogram response sorts the same way
    val hsamp = decodeReadResponseHists(serveHists(hs, encodeReadRequest(
      ReadRequest(Seq(ReadQuery(Long.MinValue, Long.MaxValue, Nil))))))
    assert(hsamp.map(_._2.labels("x")) === Seq(e000, u10000))
  }

  test("zero-query ReadRequest: empty stream and empty response, no crash") {
    val t = table()
    val frames = serveChunked(t, encodeReadRequest(ReadRequest(Nil,
      acceptedResponseTypes = Seq(ResponseStreamedXorChunks))))
    assert(frames.count() === 0)
    val resp = decodeReadResponse(serve(t, encodeReadRequest(ReadRequest(Nil))))
    assert(resp.isEmpty)
  }

  test("SAMPLED histogram responses carry prompb TimeSeries.histograms") {
    import graft.sources.tsdbblock.WalReader.WalHistogram
    val s = spark; import s.implicits._
    def mk(time: Long, cnt: Double, pos: Seq[(Int, Double)]) =
      WalHistogram(0L, time, 0, 0, 0.0, 0.0, cnt, cnt / 2, pos, Nil,
        Nil, isFloat = false)
    val apiHs = (0 until 5).map(i =>
      mk(1000L + i * 1000L, 3.0 + i, Seq((0, 1.0 + i), (2, 2.0))))
    val dbHs = (0 until 3).map(i =>
      mk(1500L + i * 1000L, 2.0 + i, Seq((1, 1.5 + i))))
    val hs = s.createDataset(
      apiHs.map(h => (Map("name" -> "rpc", "job" -> "api"), h)) ++
        dbHs.map(h => (Map("name" -> "rpc", "job" -> "db"), h)))
    // two queries: per-query grouping, matcher select, inclusive range
    val back = decodeReadResponseHists(serveHists(hs,
      encodeReadRequest(ReadRequest(Seq(
        ReadQuery(0L, Long.MaxValue - 1, Seq(Matcher.Eq("name", "rpc"))),
        ReadQuery(1500L, 2500L, Seq(Matcher.Eq("job", "db"))))))))
    val q0 = back.filter(_._1 == 0).map(_._2)
    assert(q0.size === 8)
    // series sorted by label set, samples by time within each
    assert(q0.map(_.labels("job")) ===
      Seq.fill(5)("api") ++ Seq.fill(3)("db"))
    assert(q0.filter(_.labels("job") == "api").map(_.time) ===
      apiHs.map(_.time))
    // full fidelity: counts/sums/buckets survive the prompb float form
    assert(q0.filter(_.labels("job") == "api")
        .map(h => (h.count, h.sum, h.positive)) ===
      apiHs.map(h => (h.count, h.sum, h.positive)))
    val q1 = back.filter(_._1 == 1).map(_._2)
    assert(q1.map(_.time) === Seq(1500L, 2500L))
    assert(q1.forall(_.labels("job") == "db"))
  }

  test("fused multi-query histogram serve ≡ the per-query path, byte-exact") {
    // round-20: an unlimited multi-query request is answered by ONE
    // job (rows tagged with the query indices they match, one shuffle,
    // one collect) instead of one scan+shuffle+collect per query; a
    // huge-but-set sample limit forces the old per-query path, so the
    // two responses must be identical bytes — including a query whose
    // slice is empty, rows matched by BOTH queries, and two samples of
    // one series at the SAME timestamp (their order is fixed by their
    // bytes, not by whichever the shuffle delivers first)
    import graft.sources.tsdbblock.WalReader.WalHistogram
    val s = spark; import s.implicits._
    def mk(time: Long, cnt: Double) =
      WalHistogram(0L, time, 0, 0, 0.0, 0.0, cnt, cnt / 2,
        Seq((0, cnt)), Nil, Nil, isFloat = false)
    val hs = s.createDataset(
      (Map("name" -> "rpc", "job" -> "j0"), mk(1000L, 9.0)) +:
      (0 until 6).map(i => (Map("name" -> "rpc", "job" -> s"j${i % 3}"),
        mk(1000L + i * 500L, 1.0 + i))))
    val req = encodeReadRequest(ReadRequest(Seq(
      ReadQuery(0L, Long.MaxValue - 1, Seq(Matcher.Eq("name", "rpc"))),
      ReadQuery(1000L, 2000L, Seq(Matcher.Re("job", "j[01]"))),
      ReadQuery(0L, 10L, Seq(Matcher.Eq("name", "rpc"))))))
    val fused = serveHists(hs, req)
    val perQuery = serveHists(hs, req, sampleLimit = Long.MaxValue - 1)
    assert(java.util.Arrays.equals(fused, perQuery))
  }

  test("sampled responses enforce the sample limit; streamed path exempt") {
    // Prometheus's remote_read_sample_limit: the SAMPLED response
    // collects on the driver, so an over-limit request must fail
    // loudly (pointing at STREAMED_XOR_CHUNKS) instead of OOM-ing the
    // driver; an under-limit request and the streamed path are
    // unaffected. The check is a ONE-pass incremental drain: per-series
    // counts ride the encode, the driver stops at the first over-limit
    // partition — the matched slice is read exactly once.
    val t = table()
    val req = encodeReadRequest(ReadRequest(Seq(
      ReadQuery(0L, Long.MaxValue - 1,
        Seq(Matcher.Eq("__name__", "http_requests")))))) // 4 samples match
    val e = intercept[IllegalArgumentException](serve(t, req, sampleLimit = 3))
    assert(e.getMessage.contains("exceeded sample limit (3)"), e.getMessage)
    assert(e.getMessage.contains("STREAMED_XOR_CHUNKS"), e.getMessage)
    // at the limit exactly: allowed
    assert(decodeReadResponse(serve(t, req, sampleLimit = 4)).size === 4)
    // 0 = unlimited (Prometheus's convention)
    assert(decodeReadResponse(serve(t, req, sampleLimit = 0)).size === 4)
    // limits beyond Int.MaxValue enforce as real Long limits now
    // (previously a silent no-op — the probe needed an Int cast)
    assert(decodeReadResponse(
      serve(t, req, sampleLimit = Int.MaxValue.toLong + 10)).size === 4)
    // the streamed path has no limit — it never materializes
    val chunkedReq = encodeReadRequest(ReadRequest(Seq(
      ReadQuery(0L, Long.MaxValue - 1,
        Seq(Matcher.Eq("__name__", "http_requests")))),
      acceptedResponseTypes = Seq(ResponseStreamedXorChunks)))
    assert(serveChunked(t, chunkedReq).collect().nonEmpty)
    // the histogram twin enforces the same limit
    import graft.sources.tsdbblock.WalReader.WalHistogram
    val s = spark; import s.implicits._
    val hs = s.createDataset((0 until 4).map(i =>
      (Map("name" -> "hrl"), WalHistogram(0L, 1000L + i, 0, 0, 0.0, 0.0,
        1.0, 0.5, Seq((0, 1.0)), Nil, Nil, isFloat = false))))
    val hreq = encodeReadRequest(ReadRequest(Seq(
      ReadQuery(0L, Long.MaxValue - 1, Seq(Matcher.Eq("name", "hrl"))))))
    val eh = intercept[IllegalArgumentException](
      serveHists(hs, hreq, sampleLimit = 3))
    assert(eh.getMessage.contains("exceeded sample limit"), eh.getMessage)
    assert(decodeReadResponseHists(
      serveHists(hs, hreq, sampleLimit = 4)).size === 4)
  }

  test("stale (NULL-value) rows serve as StaleNaN samples on the wire") {
    // the engine stores staleness as NULL `value` (NaN payloads cannot
    // survive a shuffle); Prometheus serves staleness markers over
    // remote read as StaleNaN samples — so the encode kernels must map
    // NULL back to the exact marker bits, not NPE the deserializer
    val s = spark; import s.implicits._
    val t = TsdbTable(TsdbIngest.toWide(Seq(
      (1000L, Some(1.5), Map("name" -> "st", "job" -> "a")),
      (2000L, None: Option[Double], Map("name" -> "st", "job" -> "a")))
      .toDF("time", "value", "labels")))
    val req = encodeReadRequest(ReadRequest(Seq(
      ReadQuery(0L, 10000L, Seq(Matcher.Eq("__name__", "st"))))))
    val got = decodeReadResponse(serve(t, req)).sortBy(_._2)
    assert(got.size === 2)
    assert(got.head._3 === 1.5)
    assert(graft.tsdb.TsdbSchema.isStaleMarker(got(1)._3),
      f"expected exact StaleNaN bits, got 0x${
        java.lang.Double.doubleToRawLongBits(got(1)._3)}%016x")
    // chunked form: the marker rides inside the XOR chunk bytes (the
    // DataFrame-shaped client decode canonicalizes NaN payloads, so
    // assert NaN-ness + timestamp there; the wire bytes carry the
    // exact bits by the same no-shuffle argument as the sampled path)
    val chunkedReq = encodeReadRequest(ReadRequest(Seq(
      ReadQuery(0L, 10000L, Seq(Matcher.Eq("__name__", "st")))),
      acceptedResponseTypes = Seq(ResponseStreamedXorChunks)))
    val back = decodeChunkedFrames(serveChunked(t, chunkedReq))
      .collect().sortBy(_.getLong(1))
    assert(back.length === 2)
    assert(back(0).getDouble(2) === 1.5)
    assert(back(1).getLong(1) === 2000L &&
      back(1).getDouble(2).isNaN)
  }

  test("NHCB custom bounds and reset hints survive the SAMPLED form") {
    // an NHCB (schema -53) histogram's positive indices are
    // meaningless without custom_values; the sampled responder must
    // carry them (and the reset hint) exactly as the chunked path does
    import graft.sources.tsdbblock.WalReader.WalHistogram
    val s = spark; import s.implicits._
    val h = WalHistogram(0L, 1000L, 2, -53, 0.0, 0.0, 6.0, 9.5,
      Seq((1, 4.0), (2, 2.0)), Nil, customValues = Seq(0.1, 0.5, 2.5),
      isFloat = false)
    val hs = s.createDataset(Seq((Map("name" -> "nhcb"), h)))
    val back = decodeReadResponseHists(serveHists(hs,
      encodeReadRequest(ReadRequest(Seq(
        ReadQuery(0L, Long.MaxValue - 1, Seq(Matcher.Eq("name", "nhcb"))))))))
    assert(back.size === 1)
    val got = back.head._2
    assert(got.customValues === Seq(0.1, 0.5, 2.5))
    assert(got.resetHint === 2)
    assert(got.schema === -53 && got.positive === h.positive)
  }

  test("streamed HISTOGRAM frames round-trip both encodings with matchers") {
    import graft.sources.tsdbblock.WalReader.WalHistogram
    val s = spark; import s.implicits._
    def mk(time: Long, cnt: Double, pos: Seq[(Int, Double)],
           float: Boolean = false): WalHistogram =
      WalHistogram(0L, time, 2, 0, 0.0, 0.0, cnt, cnt / 2,
        pos, Nil, Nil, float)
    val apiHs = (0 until 130).map(i => // > 120 ⇒ two chunks in one frame
      mk(1000L + i * 1000L, 3.0 + i, Seq((0, 1.0 + i), (2, 2.0))))
    val dbHs = (0 until 3).map(i =>
      mk(1500L + i * 1000L, 1.25 * i + 1, Seq((1, 0.5 + i)), float = true))
    val hs = s.createDataset(
      apiHs.map(h => (Map("name" -> "rpc", "job" -> "api"), h)) ++
        dbHs.map(h => (Map("name" -> "rpc", "job" -> "db"), h)))

    val req = encodeReadRequest(ReadRequest(
      Seq(ReadQuery(0L, Long.MaxValue - 1, Seq(Matcher.Eq("name", "rpc")))),
      acceptedResponseTypes = Seq(ResponseStreamedXorChunks)))
    val frames = serveChunkedHists(hs, req).collect()
    assert(frames.length === 2) // one frame per series, labels.Compare order
    val back = decodeChunkedHistFrames(s.createDataset(frames.toSeq))
      .collect().toSeq
    def key(h: WalHistogram) =
      (h.time, h.count, h.sum, h.positive.filter(_._2 != 0.0), h.isFloat,
        h.counterResetHint)
    val byJob = back.groupBy(_._2("job"))
      .view.mapValues(_.map(t => key(t._3)).sortBy(_._1)).toMap
    assert(byJob("api") === apiHs.map(key))
    assert(byJob("db") === dbHs.map(key))

    // matchers select series; the time range slices samples (inclusive)
    val req2 = encodeReadRequest(ReadRequest(
      Seq(ReadQuery(1500L, 2500L, Seq(Matcher.Eq("job", "db")))),
      acceptedResponseTypes = Seq(ResponseStreamedXorChunks)))
    val back2 = decodeChunkedHistFrames(serveChunkedHists(hs, req2))
      .collect().toSeq
    assert(back2.map(_._3.time).sorted === Seq(1500L, 2500L))
    assert(back2.forall(_._2("job") == "db"))
  }
}
