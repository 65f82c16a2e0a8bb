package graft.sources.tsdbblock

import Binary.{BitReader, BitWriter}
import WalReader.WalHistogram

/** Codec for Prometheus NATIVE-HISTOGRAM chunks — encodings 2 (integer
  * histogram) and 3 (float histogram) of the chunks-segment format,
  * the sibling of [[XorChunk]] (encoding 1). The reference itself
  * consumes only float chunks (`chunkenc.ValFloat`, hello.go:490);
  * this codec is what lets the
  * engine's OWN lifecycle paths (head flush, snapshot, compaction —
  * the q108–q139 family) carry the histogram samples its WAL, wire and
  * query tiers already handle, instead of silently dropping them.
  *
  * Format per the public prometheus/tsdb/chunkenc sources
  * (histogram.go, float_histogram.go, varbit.go, histogram_meta.go):
  *
  *   - bytes 0–1: uint16 BE sample count;
  *   - byte 2: counter-reset header in the top two bits
  *     (00 unknown, 10 counter reset, 01 not reset, 11 gauge type);
  *   - bit stream:
  *     - FIRST sample: zigzag-varint t; the chunk LAYOUT — zero
  *       threshold (1 byte `0` for 0, `exp+243` for thresholds of the
  *       form 0.5·2^exp with exp ∈ [-242, 10], else `255` + raw 64
  *       float bits), varbit-int schema, positive then negative span
  *       lists (varbit-uint count; per span varbit-uint length,
  *       varbit-int offset), custom values when schema = −53 (NHCB:
  *       varbit-uint count, then each bound in histogram_meta.go's
  *       compact form — 25-bit `bound·2` for 0.5-multiples in
  *       [0, 2^25−2], the all-ones sentinel + raw float64 otherwise);
  *       then count and
  *       zeroCount (varbit-uint for integer chunks, raw 64 float bits
  *       for float chunks), sum as raw 64 float bits, and the bucket
  *       values on the span layout — integer chunks store the
  *       WITHIN-SAMPLE delta list (first absolute, then diffs, varbit
  *       int), float chunks store absolute values (raw 64 bits each);
  *     - SECOND sample: varbit-uint tDelta; integer chunks then
  *       varbit-int deltas of count/zeroCount and of each within-sample
  *       bucket delta; float chunks XOR-encode every float field
  *       against its own per-field leading/trailing state (the Gorilla
  *       value scheme of [[XorChunk]]); sum is XOR-encoded in both;
  *     - THIRD sample on: varbit-int DELTA-OF-DELTAS for t and (in
  *       integer chunks) for count/zeroCount/buckets; float fields stay
  *       XOR-encoded.
  *
  * One chunk = ONE layout: every sample must share (schema,
  * zeroThreshold, customValues) and is re-expressed on the chunk's
  * bucket-index UNION — the writer's batch-level analogue of
  * Prometheus's recode-on-append (a bucket a sample lacks encodes as
  * count 0, costing ~1 bit under the delta scheme). The writers cut a
  * new chunk when the layout keys change, exactly as the Prometheus
  * appender refuses non-appendable histograms and opens a new chunk.
  *
  * Round-trip exactness (encode ∘ decode = id on the union layout,
  * both encodings, random inputs) is pinned by `HistChunkSpec`.
  */
object HistChunk {

  /** Chunk encoding bytes in the chunks-segment framing. */
  val EncHistogram = 2
  val EncFloatHistogram = 3

  // counter-reset header (top 2 bits of byte 2, histogram.go) ↔ the
  // wire/WAL hint enum (0 unknown, 1 reset, 2 not reset, 3 gauge)
  private def headerOfHint(hint: Int): Int = hint match {
    case 1 => 0x80
    case 2 => 0x40
    case 3 => 0xc0
    case _ => 0x00
  }
  private def hintOfHeader(b: Int): Int = (b & 0xc0) match {
    case 0x80 => 1
    case 0x40 => 2
    case 0xc0 => 3
    case _ => 0
  }

  // ---- zero-threshold 1-or-9-byte encoding (histogram_meta.go) ------

  private def putZeroThreshold(w: BitWriter, th: Double): Unit = {
    if (th == 0.0) { w.writeByte(0); return }
    // th = 0.5 · 2^exp ⇔ exactly one mantissa bit set (the implicit one)
    val exp = Math.getExponent(th) + 1
    if (exp >= -242 && exp <= 10 && th == Math.scalb(0.5, exp))
      w.writeByte(exp + 243)
    else {
      w.writeByte(255)
      w.writeBits(java.lang.Double.doubleToLongBits(th), 64)
    }
  }

  private def readZeroThreshold(r: BitReader): Double =
    r.readByte() match {
      case 0 => 0.0
      case 255 => java.lang.Double.longBitsToDouble(r.readBits(64))
      case b => Math.scalb(0.5, b - 243)
    }

  // ---- NHCB custom-bound compact encoding (histogram_meta.go) -------

  /** `putCustomBound`: real-world NHCB bounds are overwhelmingly small
    * multiples of 0.5 (classic `le` values), so a bound `b` with `b·2`
    * integral in [0, 2^25−2] is stored as the 25-bit value `b·2`;
    * anything else (negative, too large, not a 0.5-multiple, NaN)
    * escapes as the all-ones 25-bit sentinel (2^25−1 = 33554431)
    * followed by the raw float64 bits. */
  private def putCustomBound(w: BitWriter, b: Double): Unit = {
    val tf = b * 2
    if (tf < 0 || tf > 33554430.0 || tf != Math.floor(tf))
      { w.writeBits(33554431L, 25); w.writeBits(
        java.lang.Double.doubleToLongBits(b), 64) }
    else w.writeBits(tf.toLong, 25)
  }

  private def readCustomBound(r: BitReader): Double = {
    val v = r.readBits(25)
    if (v == 33554431L) java.lang.Double.longBitsToDouble(r.readBits(64))
    else v / 2.0
  }

  // ---- span lists ----------------------------------------------------

  private def putSpans(w: BitWriter, spans: Seq[(Int, Int)]): Unit = {
    w.varbitUint(spans.size.toLong)
    spans.foreach { case (off, len) =>
      w.varbitUint(len.toLong)
      w.varbitInt(off.toLong)
    }
  }

  private def readSpans(r: BitReader): Seq[(Int, Int)] = {
    val n = r.varbitUint().toInt
    (0 until n).map { _ =>
      val len = r.varbitUint().toInt
      val off = r.varbitInt().toInt
      (off, len)
    }
  }

  // ---- per-field Gorilla XOR state (float chunks + every sum) -------

  private final class XorEnc(firstBits: Long) {
    private var prev = firstBits
    private var leading = -1
    private var trailing = 0
    def write(w: BitWriter, v: Double): Unit = {
      val bits = java.lang.Double.doubleToLongBits(v)
      val xor = prev ^ bits
      prev = bits
      if (xor == 0) { w.writeBit(0); return }
      w.writeBit(1)
      var lead = java.lang.Long.numberOfLeadingZeros(xor)
      val trail = java.lang.Long.numberOfTrailingZeros(xor)
      if (lead > 31) lead = 31 // 5-bit field
      if (leading != -1 && lead >= leading && trail >= trailing) {
        w.writeBit(0)
        w.writeBits(xor >>> trailing, 64 - leading - trailing)
      } else {
        leading = lead; trailing = trail
        val sig = 64 - leading - trailing
        w.writeBit(1)
        w.writeBits(leading.toLong, 5)
        w.writeBits(if (sig == 64) 0L else sig.toLong, 6)
        w.writeBits(xor >>> trailing, sig)
      }
    }
  }

  private final class XorDec(firstBits: Long) {
    private var bits = firstBits
    private var leading = 0
    private var trailing = 0
    def read(r: BitReader): Double = {
      if (r.readBit() == 1) {
        if (r.readBit() == 1) {
          leading = r.readBits(5).toInt
          var sig = r.readBits(6).toInt
          if (sig == 0) sig = 64
          trailing = 64 - leading - sig
        }
        val sig = 64 - leading - trailing
        bits ^= r.readBits(sig) << trailing
      }
      java.lang.Double.longBitsToDouble(bits)
    }
  }

  // ---- encode --------------------------------------------------------

  private def integral(v: Double, what: String): Long = {
    require(v == math.rint(v) && !v.isInfinite,
      s"integer histogram chunk needs integral $what, got $v")
    v.toLong
  }

  /** Encode one chunk's samples (time-sorted; ≤ 65535, callers cap at
    * 120). All samples must share (schema, zeroThreshold, customValues)
    * — [[chunkBatches]] groups arbitrary sample runs accordingly.
    * Integer chunks (`float = false`) REQUIRE integral counts. The
    * counter-reset hint is CHUNK-level (byte 2 describes the first
    * sample) — the head sample's hint is stored, and [[decode]]
    * reports it on every sample of the chunk; [[chunkBatches]] cuts on
    * hint changes and counter regressions, so one chunk = one hint and
    * a mid-run reset marker survives compaction re-encode. */
  def encode(points: Seq[WalHistogram], float: Boolean): Array[Byte] = {
    require(points.nonEmpty && points.size <= 0xffff,
      s"bad chunk size ${points.size}")
    val head = points.head
    require(points.forall(p => p.schema == head.schema &&
        p.zeroThreshold == head.zeroThreshold &&
        p.customValues == head.customValues),
      "one histogram chunk = one layout (schema/zeroThreshold/custom)")

    // the chunk's bucket layout: the UNION of all samples' indices
    val posIdx = points.flatMap(_.positive.map(_._1)).distinct.sorted
    val negIdx = points.flatMap(_.negative.map(_._1)).distinct.sorted
    val (posSpans, _) =
      graft.tsdb.RemoteWrite.toSpans(posIdx.map(_ -> 0.0))
    val (negSpans, _) =
      graft.tsdb.RemoteWrite.toSpans(negIdx.map(_ -> 0.0))
    def onLayout(idx: Seq[Int], m: Map[Int, Double]): Array[Double] =
      idx.map(i => m.getOrElse(i, 0.0)).toArray

    val w = new BitWriter
    val num = points.size
    w.writeByte((num >> 8) & 0xff); w.writeByte(num & 0xff)
    w.writeByte(headerOfHint(head.counterResetHint))

    // first sample + layout
    w.varint(head.time)
    putZeroThreshold(w, head.zeroThreshold)
    w.varbitInt(head.schema.toLong)
    putSpans(w, posSpans)
    putSpans(w, negSpans)
    if (head.schema == -53) {
      w.varbitUint(head.customValues.size.toLong)
      head.customValues.foreach(c => putCustomBound(w, c))
    }

    val nPos = posIdx.size; val nNeg = negIdx.size
    // integer state: within-sample delta lists + their time deltas
    var prevT = head.time
    var tDelta = 0L
    if (!float) {
      var cnt = integral(head.count, "count")
      var zCnt = integral(head.zeroCount, "zero count")
      var cntDelta = 0L; var zCntDelta = 0L
      val bkt = new Array[Long](nPos + nNeg) // within-sample deltas
      val bktDelta = new Array[Long](nPos + nNeg)
      def sampleDeltas(p: WalHistogram): Array[Long] = {
        val pos = onLayout(posIdx, p.positive.toMap)
        val neg = onLayout(negIdx, p.negative.toMap)
        val out = new Array[Long](nPos + nNeg)
        var prev = 0L
        var i = 0
        while (i < nPos) {
          val a = integral(pos(i), "bucket count")
          out(i) = a - prev; prev = a; i += 1
        }
        prev = 0L
        var j = 0
        while (j < nNeg) {
          val a = integral(neg(j), "bucket count")
          out(nPos + j) = a - prev; prev = a; j += 1
        }
        out
      }
      w.varbitUint(cnt)
      w.varbitUint(zCnt)
      w.writeBits(java.lang.Double.doubleToLongBits(head.sum), 64)
      val d0 = sampleDeltas(head)
      var i = 0
      while (i < d0.length) { w.varbitInt(d0(i)); bkt(i) = d0(i); i += 1 }
      val sumEnc = new XorEnc(java.lang.Double.doubleToLongBits(head.sum))
      points.zipWithIndex.drop(1).foreach { case (p, si) =>
        val td = p.time - prevT
        require(td >= 0, "chunk timestamps must be sorted")
        val c = integral(p.count, "count")
        val z = integral(p.zeroCount, "zero count")
        val d = sampleDeltas(p)
        if (si == 1) {
          w.varbitUint(td)
          w.varbitInt(c - cnt)
          w.varbitInt(z - zCnt)
          sumEnc.write(w, p.sum)
          var k = 0
          while (k < d.length) {
            w.varbitInt(d(k) - bkt(k))
            bktDelta(k) = d(k) - bkt(k); bkt(k) = d(k); k += 1
          }
          cntDelta = c - cnt; zCntDelta = z - zCnt
        } else {
          w.varbitInt(td - tDelta)
          w.varbitInt((c - cnt) - cntDelta)
          w.varbitInt((z - zCnt) - zCntDelta)
          sumEnc.write(w, p.sum)
          var k = 0
          while (k < d.length) {
            val delta = d(k) - bkt(k)
            w.varbitInt(delta - bktDelta(k))
            bktDelta(k) = delta; bkt(k) = d(k); k += 1
          }
          cntDelta = c - cnt; zCntDelta = z - zCnt
        }
        tDelta = td; prevT = p.time
        cnt = c; zCnt = z
      }
    } else {
      def fbits(v: Double): Long = java.lang.Double.doubleToLongBits(v)
      w.writeBits(fbits(head.count), 64)
      w.writeBits(fbits(head.zeroCount), 64)
      w.writeBits(fbits(head.sum), 64)
      val b0 = onLayout(posIdx, head.positive.toMap) ++
        onLayout(negIdx, head.negative.toMap)
      b0.foreach(v => w.writeBits(fbits(v), 64))
      val cntEnc = new XorEnc(fbits(head.count))
      val zCntEnc = new XorEnc(fbits(head.zeroCount))
      val sumEnc = new XorEnc(fbits(head.sum))
      val bktEnc = b0.map(v => new XorEnc(fbits(v)))
      points.zipWithIndex.drop(1).foreach { case (p, si) =>
        val td = p.time - prevT
        require(td >= 0, "chunk timestamps must be sorted")
        if (si == 1) w.varbitUint(td) else w.varbitInt(td - tDelta)
        tDelta = td; prevT = p.time
        cntEnc.write(w, p.count)
        zCntEnc.write(w, p.zeroCount)
        sumEnc.write(w, p.sum)
        val b = onLayout(posIdx, p.positive.toMap) ++
          onLayout(negIdx, p.negative.toMap)
        var k = 0
        while (k < b.length) { bktEnc(k).write(w, b(k)); k += 1 }
      }
    }
    w.toBytes
  }

  // ---- decode --------------------------------------------------------

  /** Decode one chunk's data payload (after the framing's encoding
    * byte). Returns samples on the chunk's layout — zero-count buckets
    * INCLUDED (the dense grid downstream zero-fills anyway; callers
    * that need sparse form filter). `ref` is 0 (a chunk has no series
    * ref; the block reader attaches labels from the index). */
  def decode(data: Array[Byte], float: Boolean): Seq[WalHistogram] = {
    val num = ((data(0) & 0xff) << 8) | (data(1) & 0xff)
    if (num == 0) return Nil
    val hint = hintOfHeader(data(2) & 0xff)
    val r = new BitReader(data, 3)

    var t = r.varint()
    val zeroThreshold = readZeroThreshold(r)
    val schema = r.varbitInt().toInt
    val posSpans = readSpans(r)
    val negSpans = readSpans(r)
    val custom =
      if (schema == -53) {
        val n = r.varbitUint().toInt
        (0 until n).map(_ => readCustomBound(r))
      } else Nil
    val posIdx = graft.tsdb.RemoteWrite
      .resolveSpans(posSpans, Seq.fill(countOf(posSpans))(0.0)).map(_._1)
    val negIdx = graft.tsdb.RemoteWrite
      .resolveSpans(negSpans, Seq.fill(countOf(negSpans))(0.0)).map(_._1)
    val nPos = posIdx.size; val nNeg = negIdx.size

    val out = Seq.newBuilder[WalHistogram]
    def emit(time: Long, cnt: Double, zCnt: Double, sum: Double,
             buckets: Array[Double]): Unit =
      out += WalHistogram(0L, time, hint, schema, zeroThreshold,
        zCnt, cnt, sum,
        posIdx.zip(buckets.take(nPos)),
        negIdx.zip(buckets.drop(nPos)),
        custom, float)

    var tDelta = 0L
    if (!float) {
      var cnt = r.varbitUint()
      var zCnt = r.varbitUint()
      val sumBits0 = r.readBits(64)
      val sumDec = new XorDec(sumBits0)
      var sum = java.lang.Double.longBitsToDouble(sumBits0)
      val bkt = new Array[Long](nPos + nNeg) // within-sample deltas
      val bktDelta = new Array[Long](nPos + nNeg)
      var cntDelta = 0L; var zCntDelta = 0L
      var i = 0
      while (i < bkt.length) { bkt(i) = r.varbitInt(); i += 1 }
      def absolutes(): Array[Double] = {
        val a = new Array[Double](nPos + nNeg)
        var acc = 0L; var k = 0
        while (k < nPos) { acc += bkt(k); a(k) = acc.toDouble; k += 1 }
        acc = 0L
        var j = 0
        while (j < nNeg) { acc += bkt(nPos + j); a(nPos + j) = acc.toDouble; j += 1 }
        a
      }
      emit(t, cnt.toDouble, zCnt.toDouble, sum, absolutes())
      var si = 1
      while (si < num) {
        if (si == 1) {
          tDelta = r.varbitUint()
          cntDelta = r.varbitInt()
          zCntDelta = r.varbitInt()
          t += tDelta; cnt += cntDelta; zCnt += zCntDelta
          sum = sumDec.read(r)
          var k = 0
          while (k < bkt.length) {
            bktDelta(k) = r.varbitInt(); bkt(k) += bktDelta(k); k += 1
          }
        } else {
          tDelta += r.varbitInt()
          cntDelta += r.varbitInt()
          zCntDelta += r.varbitInt()
          t += tDelta; cnt += cntDelta; zCnt += zCntDelta
          sum = sumDec.read(r)
          var k = 0
          while (k < bkt.length) {
            bktDelta(k) += r.varbitInt(); bkt(k) += bktDelta(k); k += 1
          }
        }
        emit(t, cnt.toDouble, zCnt.toDouble, sum, absolutes())
        si += 1
      }
    } else {
      val cnt0 = r.readBits(64); val zCnt0 = r.readBits(64)
      val sum0 = r.readBits(64)
      val b0 = new Array[Double](nPos + nNeg)
      var i = 0
      while (i < b0.length) {
        b0(i) = java.lang.Double.longBitsToDouble(r.readBits(64)); i += 1
      }
      val cntDec = new XorDec(cnt0)
      val zCntDec = new XorDec(zCnt0)
      val sumDec = new XorDec(sum0)
      val bktDec = b0.map(v =>
        new XorDec(java.lang.Double.doubleToLongBits(v)))
      emit(t, java.lang.Double.longBitsToDouble(cnt0),
        java.lang.Double.longBitsToDouble(zCnt0),
        java.lang.Double.longBitsToDouble(sum0), b0)
      var si = 1
      while (si < num) {
        if (si == 1) tDelta = r.varbitUint() else tDelta += r.varbitInt()
        t += tDelta
        val cnt = cntDec.read(r)
        val zCnt = zCntDec.read(r)
        val sum = sumDec.read(r)
        val b = new Array[Double](nPos + nNeg)
        var k = 0
        while (k < b.length) { b(k) = bktDec(k).read(r); k += 1 }
        emit(t, cnt, zCnt, sum, b)
        si += 1
      }
    }
    out.result()
  }

  private def countOf(spans: Seq[(Int, Int)]): Int = spans.map(_._2).sum

  /** Split a time-sorted sample run into chunk batches: a new chunk
    * starts on a layout-key change (schema, zeroThreshold,
    * customValues, float-ness), at 120 samples (the Prometheus head
    * chunk cap [[TsdbBlockWriter]] also applies to XOR chunks), on a
    * counter-reset-hint change (the header is CHUNK-level — byte 2
    * describes the first sample, so one chunk = one hint and the hint
    * round-trips losslessly through compaction), or on an ACTUAL
    * counter regression (count / zeroCount / any bucket decreasing on
    * a non-gauge histogram — Prometheus's non-appendable rule: the
    * appender refuses such a histogram and opens a new chunk). */
  def chunkBatches(points: Seq[WalHistogram],
                   maxPerChunk: Int = 120): Seq[Seq[WalHistogram]] = {
    val out = Seq.newBuilder[Seq[WalHistogram]]
    var batch = List.empty[WalHistogram]
    var headHint = 0
    def flush(): Unit = if (batch.nonEmpty) { out += batch.reverse; batch = Nil }
    // counter regression: count/zeroCount down, or any bucket's count
    // down (a vanished bucket with a previously-positive count counts)
    def regressed(prev: WalHistogram, p: WalHistogram): Boolean = {
      def bucketDown(was: Seq[(Int, Double)], is: Seq[(Int, Double)]) = {
        val now = is.toMap
        was.exists { case (i, c) => now.getOrElse(i, 0.0) < c }
      }
      p.count < prev.count || p.zeroCount < prev.zeroCount ||
        bucketDown(prev.positive, p.positive) ||
        bucketDown(prev.negative, p.negative)
    }
    points.foreach { p =>
      batch.headOption.foreach { prev =>
        if (prev.schema != p.schema || prev.zeroThreshold != p.zeroThreshold ||
            prev.customValues != p.customValues || prev.isFloat != p.isFloat ||
            batch.size >= maxPerChunk ||
            p.counterResetHint != headHint ||
            p.counterResetHint == 1 || // an explicit reset heads its chunk
            (p.counterResetHint != 3 && regressed(prev, p))) flush()
      }
      if (batch.isEmpty) headHint = p.counterResetHint
      batch ::= p
    }
    flush()
    out.result()
  }
}
