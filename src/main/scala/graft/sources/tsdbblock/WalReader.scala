package graft.sources.tsdbblock

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import Binary.ByteReader

/** Reader for the Prometheus write-ahead log (wlog) — the uncompacted
  * head the reference ALSO queries (`DBReadOnly.Querier` replays the WAL
  * into a head block; SURVEY.md §2.1 S1, hello.go:429-447).
  *
  * Format (prometheus/tsdb/docs/format/wal.md): numbered segment files
  * of 32 KiB pages; each page holds records framed as
  * `type(1) len(2 BE) crc32c(4) data`, where type's low 3 bits are the
  * fragment kind (0 page-pad, 1 full, 2 first, 3 middle, 4 last) and
  * bit 3 marks snappy compression of the reassembled record. Record
  * payloads we decode: Series (=1): repeated (ref BE64, uvarint #labels,
  * uvarint-len name/value strings); Samples (=2): base (ref BE64,
  * time BE64) then repeated (ref delta varint, time delta varint,
  * value BE64 float bits); Tombstones (=3): (ref BE64, mint/maxt
  * varint) triples; Exemplars (=4): samples framing + per-exemplar
  * label set; Metadata (=6): (ref uvarint, type byte, field strings).
  * Native-histogram kinds (7/8) are skipped.
  */
object WalReader {

  final case class WalSeries(ref: Long, labels: Map[String, String])
  final case class WalSample(ref: Long, time: Long, value: Double)
  /** Exemplar (kind 4): a sample annotated with its own label set
    * (conventionally `trace_id`), owned by series `ref`. */
  final case class WalExemplar(ref: Long, time: Long, value: Double,
                               labels: Map[String, String])
  /** Tombstone (kind 3): delete series `ref` in INCLUSIVE [mint, maxt]. */
  final case class WalStone(ref: Long, mint: Long, maxt: Long)
  /** Metric metadata (kind 6): type byte + fields (unit/help). */
  final case class WalMetadata(ref: Long, metricType: Int,
                               fields: Map[String, String])
  /** One native-histogram sample (kinds 7/8), buckets resolved to
    * ABSOLUTE `(sparse index, count)` pairs (integer records arrive
    * delta-encoded on the wire; the prefix sum is applied here). */
  final case class WalHistogram(ref: Long, time: Long,
      counterResetHint: Int, schema: Int, zeroThreshold: Double,
      zeroCount: Double, count: Double, sum: Double,
      positive: Seq[(Int, Double)], negative: Seq[(Int, Double)],
      customValues: Seq[Double], isFloat: Boolean)

  private val PageSize = 32 * 1024
  private val SnappyFlag = 0x08
  private val ZstdFlag = 0x10 // Prometheus ≥2.50; we don't ship zstd — reject loudly

  /** Segment file paths of a WAL directory, in replay order — the
    * Prometheus WAL replay contract: the LATEST `checkpoint.NNNNNNNN`
    * directory first (it replaces every segment with index ≤ N; older
    * checkpoint dirs are deletion leftovers and are ignored), then the
    * live segments with index > N. A missing WAL directory is an
    * error naming it, never an empty WAL. */
  def segments(walDir: String): Seq[String] = {
    val files = listDir(walDir, "WAL")
    val cp = files
      .filter(f => f.isDirectory && f.getName.startsWith("checkpoint."))
      .flatMap(f => f.getName.stripPrefix("checkpoint.").toIntOption
        .map(_ -> f))
      .sortBy(_._1).lastOption
    val cpSegments = cp.toSeq.flatMap { case (_, d) =>
      listDir(d.getPath, "WAL checkpoint")
        .filter(f => f.isFile && f.getName.forall(_.isDigit))
        .sortBy(_.getName.toInt).map(_.getPath).toSeq
    }
    val after = cp.map(_._1).getOrElse(-1)
    cpSegments ++ files
      .filter(f => f.isFile && f.getName.forall(_.isDigit) &&
        f.getName.toInt > after)
      .sortBy(_.getName.toInt)
      .map(_.getPath).toSeq
  }

  /** The entries of directory `path`; a missing path or a plain file
    * fails with an error that names it (`File.listFiles` answers null
    * for both). `what` says which directory the caller expected. */
  private[tsdbblock] def listDir(path: String, what: String)
      : Array[java.io.File] =
    Option(new java.io.File(path).listFiles()).getOrElse(
      throw new java.io.FileNotFoundException(
        s"$what directory $path does not exist or is not a directory"))

  /** Reassembled, decompressed records of one segment. */
  def records(segmentPath: String): Iterator[Array[Byte]] =
    records(segmentPath, 0L, Long.MaxValue)

  /** Reassembled records whose START offset (the file position of the
    * record's first frame) lies in `[from, until)` — the intra-segment
    * SPLIT unit: record starts are frame boundaries, so a task can
    * begin decoding mid-segment at any offset reported by
    * [[dictsWithOffsets]] and stop at the next task's offset without
    * overlap (a record that starts before `until` is consumed whole,
    * even when its trailing fragments spill past). `from` MUST be a
    * record-start offset (or 0). */
  def records(segmentPath: String, from: Long, until: Long)
      : Iterator[Array[Byte]] =
    recordsWithPos(Files.readAllBytes(Paths.get(segmentPath)),
      segmentPath, from, until).map(_._2)

  private[tsdbblock] def recordsWithPos(buf: Array[Byte], what: String,
      from: Long, until: Long): Iterator[(Long, Array[Byte])] = {
    new Iterator[(Long, Array[Byte])] {
      private var pos = math.min(from, buf.length.toLong).toInt
      private var nextRec: Array[Byte] = _
      private var nextPos = 0L
      private val frag = mutable.ArrayBuilder.make[Byte]
      private var fragSnappy = false
      private var fragStart = 0L

      private def pageRemaining: Int = PageSize - (pos % PageSize)

      @annotation.tailrec
      private def advance(): Unit = {
        if (pos + 7 > buf.length) { nextRec = null; return }
        if (pageRemaining < 7) { pos += pageRemaining; advance() }
        else {
          val typ = buf(pos) & 0xff
          if ((typ & 0x07) == 0) { pos += pageRemaining; advance() } // pad
          else if ((typ & ZstdFlag) != 0) {
            throw new IllegalStateException(
              s"zstd-compressed WAL record at $what:$pos not supported")
          } else {
            val kind = typ & 0x07
            // a record STARTING at/after the split end belongs to the
            // next split's task; fragments of a record started inside
            // the split (kind 3/4) are still consumed
            if ((kind == 1 || kind == 2) && pos >= until) {
              nextRec = null; return
            }
            val len = ((buf(pos + 1) & 0xff) << 8) | (buf(pos + 2) & 0xff)
            if (pos + 7 + len > buf.length) { nextRec = null; return } // torn tail
            // checksum mismatch ⇒ torn/corrupt write; stop at the last
            // valid record, which is how Prometheus treats a damaged tail
            if (Binary.crc32c(buf, pos + 7, len) !=
                new Binary.ByteReader(buf, pos + 3).be32()) { nextRec = null; return }
            val data = java.util.Arrays.copyOfRange(buf, pos + 7, pos + 7 + len)
            val recStart = pos.toLong
            pos += 7 + len
            if ((typ & SnappyFlag) != 0) fragSnappy = true
            kind match {
              case 1 => // full
                nextPos = recStart
                nextRec = finishRecord(data, (typ & SnappyFlag) != 0)
              case 2 => frag.clear(); fragSnappy = (typ & SnappyFlag) != 0
                fragStart = recStart
                frag ++= data; advance() // first
              case 3 => frag ++= data; advance() // middle
              case 4 => // last
                frag ++= data
                nextPos = fragStart
                nextRec = finishRecord(frag.result(), fragSnappy)
                frag.clear()
              case _ => advance()
            }
          }
        }
      }

      private def finishRecord(data: Array[Byte], snappy: Boolean): Array[Byte] =
        if (snappy) org.xerial.snappy.Snappy.uncompress(data) else data

      override def hasNext: Boolean = {
        if (nextRec == null) advance()
        nextRec != null
      }
      override def next(): (Long, Array[Byte]) = {
        if (!hasNext) throw new NoSuchElementException
        val r = nextRec; nextRec = null; (nextPos, r)
      }
    }
  }

  /** All series definitions in a WAL (driver-side pass — series records
    * are a tiny fraction of WAL bytes; the ref→labels dictionary must be
    * global because samples may reference series defined in an earlier
    * segment). */
  def seriesDict(walDir: String): Map[Long, Map[String, String]] = {
    val out = mutable.Map.empty[Long, Map[String, String]]
    segments(walDir).foreach { seg =>
      records(seg).foreach { rec =>
        if (rec.nonEmpty && rec(0) == 1) {
          val r = new ByteReader(rec, 1)
          while (r.pos < rec.length) {
            val ref = r.be64()
            val n = r.uvarint().toInt
            val labels = (0 until n).map { _ =>
              val k = new String(r.bytes(r.uvarint().toInt), "UTF-8")
              val v = new String(r.bytes(r.uvarint().toInt), "UTF-8")
              k -> v
            }.toMap
            out(ref) = labels
          }
        }
      }
    }
    out.toMap
  }

  /** [[seriesDict]] and [[stoneDict]] in ONE driver pass over the
    * segment bytes — planning reads every record anyway to find the
    * series/stone kinds, so fusing the two passes halves the driver's
    * pre-scan I/O + CRC work. */
  def dicts(walDir: String): (Map[Long, Map[String, String]],
                              Map[Long, Seq[Tombstones.Interval]]) = {
    val m = walMeta(walDir)
    (m.series, m.stones)
  }

  /** Everything the scan planner learns from one fused driver pass:
    * the global dictionaries plus, per segment, the byte length and a
    * ~[[CandidateStrideBytes]]-spaced ladder of record-START offsets —
    * the valid intra-segment split boundaries (see
    * [[records(segmentPath:String,from:Long,until:Long)*]]). The
    * offsets ride along for free: the dict pass already CRCs and
    * reassembles every record. */
  final case class WalMeta(
      series: Map[Long, Map[String, String]],
      stones: Map[Long, Seq[Tombstones.Interval]],
      segments: Seq[String],
      segmentBytes: Map[String, Long],
      splitCandidates: Map[String, Array[Long]],
      facts: Option[SourceFacts],
      names: Option[EmittedNames])

  private[tsdbblock] val CandidateStrideBytes: Long = 256L * 1024

  /** With `withFacts` the pass also walks every float sample (kind 2)
    * for the whole-DB merge decision ([[TsdbDb.select]]), the only
    * caller that reads them: per ref, the time range, the last
    * timestamp in replay order and whether every timestamp strictly
    * increased. `facts` then covers only refs the dictionary defines
    * (the scan drops orphans): their overall time range, and
    * duplicate-free when each of them strictly increases and no two of
    * them that hold samples share a label set; and `names` gives the
    * label names of the refs the scan emits a row for, judged from
    * each ref's first and last timestamp against its WAL tombstones
    * ([[EmittedNames.run]]). Without it the sample records are skipped
    * and `facts` and `names` are None. */
  def walMeta(walDir: String, withFacts: Boolean = false): WalMeta = {
    val series = mutable.Map.empty[Long, Map[String, String]]
    val stones = mutable.ArrayBuffer.empty[WalStone]
    // ref → (min, max, last) time; refs whose times ever fail to rise
    val times = mutable.LongMap.empty[Array[Long]]
    val unordered = mutable.Set.empty[Long]
    val segs = segments(walDir)
    val segBytes = mutable.Map.empty[String, Long]
    val cands = mutable.Map.empty[String, Array[Long]]
    segs.foreach { seg =>
      val buf = Files.readAllBytes(Paths.get(seg))
      segBytes(seg) = buf.length.toLong
      val offs = mutable.ArrayBuilder.make[Long]
      var lastMark = 0L
      recordsWithPos(buf, seg, 0L, Long.MaxValue).foreach { case (pos, rec) =>
        if (pos - lastMark >= CandidateStrideBytes) {
          offs += pos; lastMark = pos
        }
        if (rec.nonEmpty) rec(0) match {
          case 1 =>
            val r = new ByteReader(rec, 1)
            while (r.pos < rec.length) {
              val ref = r.be64()
              series(ref) = readLabels(r)
            }
          case 2 if withFacts => foreachSample(rec) { (ref, t, _) =>
            times.get(ref) match {
              case None => times(ref) = Array(t, t, t)
              case Some(m) =>
                if (t <= m(2)) unordered += ref
                m(0) = math.min(m(0), t); m(1) = math.max(m(1), t); m(2) = t
            }
          }
          case 3 => stones ++= stonesOfRecord(rec)
          case _ =>
        }
      }
      cands(seg) = offs.result()
    }
    val stoneMap = stones.toSeq.groupBy(_.ref)
      .view.mapValues(ss =>
        Tombstones.merge(ss.map(s => Tombstones.Interval(s.mint, s.maxt))))
      .toMap
    val facts = Option.when(withFacts) {
      val live = times.filter { case (ref, _) => series.contains(ref) }
      SourceFacts(
        live.valuesIterator.map(m => (m(0), m(1))).reduceOption((a, b) =>
          (math.min(a._1, b._1), math.max(a._2, b._2))),
        !live.keysIterator.exists(unordered) &&
          live.keysIterator.map(series).toSet.size == live.size)
    }
    val names = Option.when(withFacts)(
      EmittedNames.of(times.iterator.filter(r => series.contains(r._1)))(
          r => series(r._1).keys) { case (ref, m) =>
        EmittedNames.run(stoneMap.getOrElse(ref, Nil), m(0), m(1))
      })
    WalMeta(series.toMap, stoneMap, segs, segBytes.toMap, cands.toMap,
      facts, names)
  }

  /** The global WAL dictionaries as ONE compact byte blob, decoded
    * lazily (once per JVM that touches the broadcast — Spark caches the
    * deserialized broadcast object per executor, so the lazy vals run
    * once there). Broadcasting the nested `Map[Long, Map[String,
    * String]]` directly costs seconds per scan execution at ~100k
    * series: `SizeEstimator` walks the whole object graph to pick a
    * storage level and the JavaSerializer then walks it again, while a
    * primitive byte array is sized in O(1) and copied, not traversed. */
  final class WalDicts private (val bytes: Array[Byte]) extends Serializable {
    @transient private lazy val decoded
        : (Map[Long, Map[String, String]],
           Map[Long, Seq[Tombstones.Interval]]) = WalDicts.decode(bytes)
    def series: Map[Long, Map[String, String]] = decoded._1
    def stones: Map[Long, Seq[Tombstones.Interval]] = decoded._2
  }

  object WalDicts {
    def apply(series: Map[Long, Map[String, String]],
              stones: Map[Long, Seq[Tombstones.Interval]]): WalDicts = {
      val bos = new java.io.ByteArrayOutputStream(1 << 16)
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(bos, 1 << 16))
      out.writeInt(series.size)
      series.foreach { case (ref, labels) =>
        out.writeLong(ref)
        out.writeInt(labels.size)
        labels.foreach { case (k, v) => out.writeUTF(k); out.writeUTF(v) }
      }
      out.writeInt(stones.size)
      stones.foreach { case (ref, ivs) =>
        out.writeLong(ref)
        out.writeInt(ivs.size)
        ivs.foreach { iv => out.writeLong(iv.mint); out.writeLong(iv.maxt) }
      }
      out.flush()
      new WalDicts(bos.toByteArray)
    }

    private def decode(bytes: Array[Byte])
        : (Map[Long, Map[String, String]],
           Map[Long, Seq[Tombstones.Interval]]) = {
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val nSeries = in.readInt()
      val series = Map.newBuilder[Long, Map[String, String]]
      series.sizeHint(nSeries)
      var i = 0
      while (i < nSeries) {
        val ref = in.readLong()
        val n = in.readInt()
        val labels = Map.newBuilder[String, String]
        labels.sizeHint(n)
        var j = 0
        while (j < n) { labels += in.readUTF() -> in.readUTF(); j += 1 }
        series += ref -> labels.result()
        i += 1
      }
      val nStones = in.readInt()
      val stones = Map.newBuilder[Long, Seq[Tombstones.Interval]]
      stones.sizeHint(nStones)
      i = 0
      while (i < nStones) {
        val ref = in.readLong()
        val n = in.readInt()
        val ivs = Seq.newBuilder[Tombstones.Interval]
        var j = 0
        while (j < n) {
          ivs += Tombstones.Interval(in.readLong(), in.readLong()); j += 1
        }
        stones += ref -> ivs.result()
        i += 1
      }
      (series.result(), stones.result())
    }
  }

  /** Decode every float sample of one segment. */
  def samples(segmentPath: String): Iterator[WalSample] =
    records(segmentPath).flatMap(samplesOfRecord(_).iterator)

  /** Float samples of the records starting in `[from, until)` — the
    * intra-segment split unit (see the ranged [[records]] overload). */
  def samples(segmentPath: String, from: Long, until: Long)
      : Iterator[WalSample] =
    records(segmentPath, from, until).flatMap(samplesOfRecord(_).iterator)

  private def readLabels(r: ByteReader): Map[String, String] = {
    val n = r.uvarint().toInt
    (0 until n).map { _ =>
      val k = new String(r.bytes(r.uvarint().toInt), "UTF-8")
      val v = new String(r.bytes(r.uvarint().toInt), "UTF-8")
      k -> v
    }.toMap
  }

  /** Exemplar records (kind 4) of one segment — framed like samples
    * (base ref/time BE64, zigzag deltas) with a trailing label set per
    * exemplar. */
  def exemplars(segmentPath: String): Iterator[WalExemplar] =
    records(segmentPath).flatMap(exemplarsOfRecord(_).iterator)

  /** The exemplars of ONE reassembled record (empty for other kinds). */
  def exemplarsOfRecord(rec: Array[Byte]): Seq[WalExemplar] = {
    if (rec.isEmpty || rec(0) != 4) return Nil
    val r = new ByteReader(rec, 1)
    if (r.pos >= rec.length) return Nil
    val baseRef = r.be64()
    val baseTime = r.be64()
    val out = mutable.ArrayBuffer.empty[WalExemplar]
    while (r.pos < rec.length) {
      val dref = r.varint()
      val dtime = r.varint()
      val vbits = r.be64()
      out += WalExemplar(baseRef + dref, baseTime + dtime,
        java.lang.Double.longBitsToDouble(vbits), readLabels(r))
    }
    out.toSeq
  }

  /** Tombstone records (kind 3) of one segment: flat
    * (ref BE64, mint varint, maxt varint) triples. */
  def stones(segmentPath: String): Iterator[WalStone] =
    records(segmentPath).flatMap(stonesOfRecord(_).iterator)

  /** The stones of ONE reassembled record (empty for other kinds). */
  def stonesOfRecord(rec: Array[Byte]): Seq[WalStone] = {
    if (rec.isEmpty || rec(0) != 3) return Nil
    val r = new ByteReader(rec, 1)
    val out = mutable.ArrayBuffer.empty[WalStone]
    while (r.pos < rec.length)
      out += WalStone(r.be64(), r.varint(), r.varint())
    out.toSeq
  }

  /** All tombstones of a WAL, merged per series ref (driver-side pass,
    * like [[seriesDict]] — stones are metadata-sized). */
  def stoneDict(walDir: String): Map[Long, Seq[Tombstones.Interval]] =
    segments(walDir).iterator.flatMap(stones)
      .toSeq.groupBy(_.ref)
      .view.mapValues(ss =>
        Tombstones.merge(ss.map(s => Tombstones.Interval(s.mint, s.maxt))))
      .toMap

  /** Metadata records (kind 6) of one segment: repeated
    * (ref uvarint, metric-type byte, field count, k/v strings). */
  def metadata(segmentPath: String): Iterator[WalMetadata] =
    records(segmentPath).flatMap { rec =>
      if (rec.isEmpty || rec(0) != 6) Iterator.empty
      else {
        val r = new ByteReader(rec, 1)
        val out = mutable.ArrayBuffer.empty[WalMetadata]
        while (r.pos < rec.length) {
          val ref = r.uvarint()
          val typ = r.u8()
          out += WalMetadata(ref, typ, readLabels(r))
        }
        out.iterator
      }
    }

  /** Native-histogram records (kind 7 integer / kind 8 float) of one
    * segment — samples framing (base ref/time BE64, zigzag deltas)
    * then one encoded histogram per sample: counter-reset-hint byte,
    * schema varint, zero-threshold float bits, zero-count and count
    * (uvarint for 7, float bits for 8), sum float bits,
    * positive/negative span lists (offset varint, length uvarint) and
    * bucket lists (varint DELTAS for 7, float bits ABSOLUTE for 8),
    * plus custom values (float bits) when schema = −53 (NHCB). */
  def histograms(segmentPath: String): Iterator[WalHistogram] =
    records(segmentPath).flatMap(histogramsOfRecord(_).iterator)

  /** The histogram samples of ONE reassembled record. */
  def histogramsOfRecord(rec: Array[Byte]): Seq[WalHistogram] = {
    if (rec.isEmpty || (rec(0) != 7 && rec(0) != 8)) return Nil
    val isFloat = rec(0) == 8
    val r = new ByteReader(rec, 1)
    if (r.pos >= rec.length) return Nil
    val baseRef = r.be64()
    val baseTime = r.be64()
    def float(): Double = java.lang.Double.longBitsToDouble(r.be64())
    def spans(): Seq[(Int, Int)] = {
      val n = r.uvarint().toInt
      (0 until n).map(_ => (r.varint().toInt, r.uvarint().toInt))
    }
    def buckets(): Seq[Double] = {
      val n = r.uvarint().toInt
      if (isFloat) (0 until n).map(_ => float())
      else { // delta-encoded integer counts → absolute
        var acc = 0L
        (0 until n).map { _ => acc += r.varint(); acc.toDouble }
      }
    }
    val out = mutable.ArrayBuffer.empty[WalHistogram]
    while (r.pos < rec.length) {
      val dref = r.varint()
      val dtime = r.varint()
      val hint = r.u8()
      val schema = r.varint().toInt
      val zeroThreshold = float()
      val zeroCount = if (isFloat) float() else r.uvarint().toDouble
      val count = if (isFloat) float() else r.uvarint().toDouble
      val sum = float()
      val posSpans = spans()
      val negSpans = spans()
      val posBuckets = buckets()
      val negBuckets = buckets()
      val custom =
        if (schema == -53) {
          val n = r.uvarint().toInt
          (0 until n).map(_ => float())
        } else Nil
      out += WalHistogram(baseRef + dref, baseTime + dtime, hint, schema,
        zeroThreshold, zeroCount, count, sum,
        graft.tsdb.RemoteWrite.resolveSpans(posSpans, posBuckets),
        graft.tsdb.RemoteWrite.resolveSpans(negSpans, negBuckets),
        custom, isFloat)
    }
    out.toSeq
  }

  /** The float samples of ONE reassembled record (empty for other
    * record kinds). */
  def samplesOfRecord(rec: Array[Byte]): Seq[WalSample] = {
    val out = mutable.ArrayBuffer.empty[WalSample]
    foreachSample(rec) { (ref, time, vbits) =>
      out += WalSample(ref, time, java.lang.Double.longBitsToDouble(vbits))
    }
    out.toSeq
  }

  /** `f(ref, time, value bits)` for each float sample of ONE reassembled
    * record, without allocating a sample (nothing for other kinds). */
  private def foreachSample(rec: Array[Byte])(f: (Long, Long, Long) => Unit)
      : Unit = {
    if (rec.isEmpty || rec(0) != 2) return
    val r = new ByteReader(rec, 1)
    if (r.pos >= rec.length) return
    val baseRef = r.be64()
    val baseTime = r.be64() // int64 BE
    while (r.pos < rec.length) {
      val dref = r.varint()
      val dtime = r.varint()
      f(baseRef + dref, baseTime + dtime, r.be64())
    }
  }
}
