package graft.sources.tsdbblock

import java.nio.file.{Files, Paths}
import scala.util.Using
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import Binary.ByteWriter

/** Writer for the Prometheus write-ahead log (wlog) — the write twin of
  * [[TsdbWalSource]]/[[WalReader]], completing the data-directory story
  * in BOTH directions: with [[TsdbBlockWriter]] the engine can emit a
  * whole `<data>/wal` + block layout the reference's `DBReadOnly`
  * opens directly (format per prometheus/tsdb/docs/format/wal.md, the
  * same public doc the reader was built from).
  *
  * Format recap: numbered segment files of 32 KiB pages; records are
  * framed as `type(1) len(2 BE) crc32c(4) data`, fragmented across
  * pages (first/middle/last) when they don't fit the page remainder,
  * with bit 3 of `type` marking snappy compression of the reassembled
  * record. Series records (kind 1) map refs → label sets; samples
  * records (kind 2) carry (dref, dtime) varint deltas against a base
  * (ref, time) plus raw float bits.
  *
  * Scale model: a WAL segment is self-contained here — each Spark task
  * streams its own segment (each series' record, then that series'
  * samples), with refs made globally unique by folding the segment
  * index into the high bits. Replay (the reader's global dict pass) is
  * unaffected: refs are arbitrary identifiers, uniqueness is the only
  * contract. So WAL write-out distributes one-segment-per-task with zero
  * coordination, the same shape as block write-out: one placed
  * exchange, a sort inside each task, a stream to disk. */
object TsdbWalWriter {

  private val PageSize = 32 * 1024
  private val SnappyFlag = 0x08

  // ---- record payloads ----------------------------------------------

  /** Series record (kind 1): repeated (ref BE64, #labels, k/v strings). */
  def seriesRecord(series: Seq[(Long, Seq[(String, String)])]): Array[Byte] = {
    val w = new ByteWriter
    w.u8(1)
    series.foreach { case (ref, labels) =>
      w.be64(ref)
      labelSet(w, labels)
    }
    w.toByteArray
  }

  /** A label set: uvarint count, then each name and value. */
  private def labelSet(w: ByteWriter, labels: Seq[(String, String)]): Unit = {
    w.uvarint(labels.size.toLong)
    labels.foreach { case (k, v) => w.str(k); w.str(v) }
  }

  /** Samples record (kind 2): base (ref, time) BE64 then per sample
    * (dref varint, dtime varint, value raw float bits BE64) — deltas
    * against the base, as the reader decodes them. */
  def samplesRecord(samples: Seq[(Long, Long, Double)]): Array[Byte] = {
    require(samples.nonEmpty, "empty samples record")
    val w = new ByteWriter
    w.u8(2)
    val (baseRef, baseTime, _) = samples.head
    w.be64(baseRef); w.be64(baseTime)
    samples.foreach { case (ref, t, v) =>
      w.varint(ref - baseRef)
      w.varint(t - baseTime)
      w.be64(java.lang.Double.doubleToRawLongBits(v))
    }
    w.toByteArray
  }

  /** Tombstones record (kind 3): flat (ref BE64, mint/maxt varint)
    * triples — inclusive intervals, the WAL twin of the tombstones
    * file. */
  def tombstonesRecord(stones: Seq[(Long, Long, Long)]): Array[Byte] = {
    val w = new ByteWriter
    w.u8(3)
    stones.foreach { case (ref, mint, maxt) =>
      w.be64(ref); w.varint(mint); w.varint(maxt)
    }
    w.toByteArray
  }

  /** Exemplars record (kind 4): the samples framing (base ref/time
    * BE64, zigzag deltas, raw float bits) plus each exemplar's own
    * label set (uvarint count, uvarint-len strings). */
  def exemplarRecord(
      exemplars: Seq[(Long, Long, Double, Seq[(String, String)])]): Array[Byte] = {
    require(exemplars.nonEmpty, "empty exemplar record")
    val w = new ByteWriter
    w.u8(4)
    val (baseRef, baseTime, _, _) = exemplars.head
    w.be64(baseRef); w.be64(baseTime)
    exemplars.foreach { case (ref, t, v, labels) =>
      w.varint(ref - baseRef)
      w.varint(t - baseTime)
      w.be64(java.lang.Double.doubleToRawLongBits(v))
      labelSet(w, labels)
    }
    w.toByteArray
  }

  /** Metadata record (kind 6): repeated (series ref uvarint,
    * metric-type byte, field count, k/v strings — conventionally
    * `unit` and `help`). */
  def metadataRecord(
      entries: Seq[(Long, Int, Seq[(String, String)])]): Array[Byte] = {
    val w = new ByteWriter
    w.u8(6)
    entries.foreach { case (ref, typ, fields) =>
      w.uvarint(ref); w.u8(typ)
      labelSet(w, fields)
    }
    w.toByteArray
  }

  /** Native-histogram record (kind 7 integer / kind 8 float) — the
    * write twin of [[WalReader.histogramsOfRecord]]. Buckets come in as
    * ABSOLUTE `(sparse index, count)` pairs; integer records re-derive
    * the wire's delta encoding and REQUIRE integral counts. */
  def histogramRecord(hists: Seq[WalReader.WalHistogram],
                      float: Boolean): Array[Byte] = {
    require(hists.nonEmpty, "empty histogram record")
    val w = new ByteWriter
    def fbits(v: Double): Unit = w.be64(java.lang.Double.doubleToRawLongBits(v))
    def integral(v: Double, what: String): Long = {
      require(v == math.rint(v) && !v.isInfinite,
        s"integer histogram record needs integral $what, got $v")
      v.toLong
    }
    def writeSpans(spans: Seq[(Int, Int)]): Unit = {
      w.uvarint(spans.size.toLong)
      spans.foreach { case (off, len) =>
        w.varint(off.toLong); w.uvarint(len.toLong)
      }
    }
    def writeValues(values: Seq[Double]): Unit = {
      w.uvarint(values.size.toLong)
      if (float) values.foreach(fbits)
      else { // absolute → delta
        var prev = 0L
        values.foreach { v =>
          val c = integral(v, "bucket count")
          w.varint(c - prev); prev = c
        }
      }
    }
    w.u8(if (float) 8 else 7)
    w.be64(hists.head.ref); w.be64(hists.head.time)
    hists.foreach { h =>
      w.varint(h.ref - hists.head.ref)
      w.varint(h.time - hists.head.time)
      w.u8(h.counterResetHint)
      w.varint(h.schema.toLong)
      fbits(h.zeroThreshold)
      if (float) { fbits(h.zeroCount); fbits(h.count) }
      else {
        w.uvarint(integral(h.zeroCount, "zero count"))
        w.uvarint(integral(h.count, "count"))
      }
      fbits(h.sum)
      // Prometheus field order: both span lists, then both bucket lists
      val (posSpans, posValues) = graft.tsdb.RemoteWrite.toSpans(h.positive)
      val (negSpans, negValues) = graft.tsdb.RemoteWrite.toSpans(h.negative)
      writeSpans(posSpans)
      writeSpans(negSpans)
      writeValues(posValues)
      writeValues(negValues)
      if (h.schema == -53) {
        w.uvarint(h.customValues.size.toLong)
        h.customValues.foreach(fbits)
      }
    }
    w.toByteArray
  }

  // ---- page/fragment framing ----------------------------------------

  /** Frame whole records into 32 KiB pages: fragments sized to the page
    * remainder, 7-byte headers, zero padding when < 7 bytes remain.
    * Records ≥ `compressFrom` bytes are snappy-compressed (flag bit 3),
    * matching the reader's per-record decompression. When `records`
    * throws, the stream closes and the partial file is removed before
    * the error goes on. */
  def writeSegment(path: String, records: Iterator[Array[Byte]],
                   compressFrom: Int = 128): Unit = {
    val file = Paths.get(path)
    try Using.resource(new java.io.BufferedOutputStream(
        Files.newOutputStream(file), 1 << 16)) { out =>
      val header = new ByteWriter
      var pagePos = 0
      def pad(): Unit = {
        while (pagePos % PageSize != 0) { out.write(0); pagePos += 1 }
      }
      records.foreach { rec =>
        val (data, snappy) =
          if (rec.length >= compressFrom)
            (org.xerial.snappy.Snappy.compress(rec), true)
          else (rec, false)
        var off = 0
        var first = true
        while (off < data.length || first) {
          if (PageSize - (pagePos % PageSize) < 7 + 1) pad() // room for header+1
          val room = PageSize - (pagePos % PageSize) - 7
          val n = math.min(room, data.length - off)
          val last = off + n == data.length
          val kind =
            if (first && last) 1
            else if (first) 2
            else if (last) 4
            else 3
          header.reset()
          header.u8(kind | (if (snappy) SnappyFlag else 0))
          header.be16(n)
          header.be32(Binary.crc32c(data, off, n))
          header.writeTo(out)
          out.write(data, off, n)
          pagePos += 7 + n
          off += n
          first = false
        }
      }
    } catch { case t: Throwable => Files.deleteIfExists(file); throw t }
  }

  // ---- Spark orchestration ------------------------------------------

  private val SamplesPerRecord = 500

  /** The next free segment index of a WAL dir: past both the live
    * segments and the latest checkpoint (a fresh segment must never
    * reuse an index a checkpoint already covers). */
  private def nextSegmentIndex(walDir: String): Int = {
    val files = Option(new java.io.File(walDir).listFiles())
      .getOrElse(Array.empty)
    val live = files.filter(f => f.isFile && f.getName.forall(_.isDigit))
      .map(_.getName.toInt)
    val cp = files.filter(f => f.isDirectory && f.getName.startsWith("checkpoint."))
      .flatMap(_.getName.stripPrefix("checkpoint.").toIntOption)
    ((live ++ cp) :+ -1).max + 1
  }

  /** The WAL write's PLACED, SERIES-ORDERED rows, factored out so its
    * plan shape is testable (the write runs over the plan's rows, so the
    * plan never appears in a returned DataFrame): one row per sample,
    * `(entries, time, payload…)`, where `entries` is the sorted
    * `(key, value)` label list.
    *
    * ONE exchange places the rows: `repartitionById` sends a series to
    * task `pmod(hash(entries), partitions)`, the task that writes its
    * segment, at a width AQE cannot coalesce (REPARTITION_BY_NUM). Inside
    * a task the rows sort by (entries, time, payload…), so each series'
    * samples arrive together and time-ascending. PlanQualitySpec pins
    * the one exchange. */
  private[graft] def placedForWal(df: DataFrame, partitions: Int,
                                  payload: Column*): DataFrame = {
    val rows = df.select(sort_array(map_entries(col("labels"))).as("entries") +:
      col("time") +: payload: _*)
    rows.repartitionById(partitions,
        pmod(hash(col("entries")), lit(partitions)))
      .sortWithinPartitions(rows.columns.toSeq.map(c => col(s"`$c`")): _*)
  }

  /** Stream [[placedForWal]]'s rows as one segment per task, numbered
    * from `base`. Each task walks its rows once: where `entries` changes
    * a series starts, with the ref `(segment << 32) | i` (i counting from
    * 1 within the segment), its series record, then the records
    * `samples` makes of its rows, which it must consume. Per-task heap
    * is O(one record): no row passes through an encoder and no aggregate
    * collects a series. A task with no rows writes an empty segment, and
    * so does the driver for a task Spark never ran (a plan it proved
    * empty), so the numbering has no gaps: Prometheus refuses a WAL
    * whose segments are not sequential. Returns the segment count. */
  private def writePlaced(placed: DataFrame, walDir: String, base: Int,
      partitions: Int, what: String)(
      samples: (Long, Iterator[InternalRow]) => Iterator[Array[Byte]]): Int = {
    Files.createDirectories(Paths.get(walDir))
    val qe = placed.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(what)) {
      qe.toRdd.foreachPartition { it =>
        val seg = base + TaskContext.getPartitionId()
        // rows may be reused by the iterator: each is read before the
        // next one is fetched
        val rows = it.buffered
        var i = 0L
        val records = new Iterator[Iterator[Array[Byte]]] {
          override def hasNext: Boolean = rows.hasNext
          override def next(): Iterator[Array[Byte]] = {
            val entries = rows.head.getArray(0).copy()
            val labels = TsdbBlockSource.labelPairs(entries)
            i += 1
            val ref = (seg.toLong << 32) | i
            val series = new Iterator[InternalRow] {
              override def hasNext: Boolean =
                rows.hasNext && rows.head.getArray(0) == entries
              override def next(): InternalRow = rows.next()
            }
            Iterator.single(seriesRecord(Seq(ref -> labels))) ++
              samples(ref, series)
          }
        }.flatten
        writeSegment(f"$walDir/$seg%08d", records)
      }
    }
    fillSegments(walDir, base, partitions)
    partitions
  }

  /** Write the segments `base until base + n` that no task wrote (Spark
    * runs no task over a plan it proved empty) as empty ones. */
  private def fillSegments(walDir: String, base: Int, n: Int): Unit =
    (base until base + n).map(s => f"$walDir/$s%08d")
      .filterNot(p => new java.io.File(p).exists())
      .foreach(writeSegment(_, Iterator.empty))

  /** Write the long-form frame `(time LONG ms, value DOUBLE,
    * labels MAP)` as `partitions` WAL segments: [[placedForWal]] places
    * each series in one task and orders its samples, and
    * [[writePlaced]] streams every task's series into its segment
    * (series record, then time-ordered samples records). Segment names
    * continue the dir's numbering (append semantics — a second batch
    * lands after existing segments and checkpoints); refs fold the
    * segment index into the high bits for global uniqueness. A NULL
    * value (the engine's staleness marker) is written as the marker
    * ([[graft.tsdb.TsdbSchema.StaleNaNBits]]). Returns the segment
    * count written by this call, which is `partitions`.
    *
    * `baseSegment` pins the first segment index instead of continuing
    * the numbering — the IDEMPOTENCE hook for streaming sinks: a
    * replayed micro-batch re-writes the SAME segment files (a segment
    * is written whole by one task), so at-least-once replay never
    * duplicates samples.
    *
    * `partitions` sets the segment count; a task streams its segment
    * and holds one record at a time, so it is not a memory knob. Size it
    * with [[partitionsForBytes]] to keep segments near Prometheus's own
    * 128 MB target. */
  def write(df: DataFrame, walDir: String, partitions: Int = 4,
            baseSegment: Option[Int] = None): Int = {
    val base = baseSegment.getOrElse(nextSegmentIndex(walDir))
    writePlaced(placedForWal(df, partitions, col("value")), walDir, base,
        partitions, "TsdbWalWriter.write") { (ref, series) =>
      // made here, not captured: Java serialization of a closure's
      // double canonicalizes NaN payloads, and the marker is one
      val stale = java.lang.Double.longBitsToDouble(
        graft.tsdb.TsdbSchema.StaleNaNBits)
      series.map(r => (ref, r.getLong(1), if (r.isNullAt(2)) stale else r.getDouble(2)))
        .grouped(SamplesPerRecord).map(samplesRecord)
    }
  }

  /** The segment count that keeps each of [[write]]'s segments near
    * `targetSegmentBytes` (default 128 MB — Prometheus's own `wlog`
    * segment size). `estimatedBytes` is the caller's estimate of the
    * encoded payload (long-form input bytes are a safe upper bound: WAL
    * records varint- and delta-compress below raw size). */
  def partitionsForBytes(estimatedBytes: Long,
                         targetSegmentBytes: Long = 128L << 20): Int =
    math.max(1, math.ceil(
      estimatedBytes.toDouble / targetSegmentBytes.toDouble).toInt)

  /** Write a frame of DENSE engine histograms
    * `(time LONG, labels MAP, hist STRUCT{count,sum,les,counts})` in
    * the [[graft.tsdb.NativeHistogram.buildExp]] layout as a WAL of
    * kind-7 (integer) or kind-8 (float) records — the on-disk form a
    * scraping Prometheus writes for native-histogram series. The
    * dense→sparse mapping is [[graft.tsdb.RemoteWrite.encodeHistRequests]]'s:
    * counts(0) (the `(-Inf,0]` bucket) → zero count, dense position
    * p ≥ 1 → sparse index `minExp + p − 1`, overflow rides as
    * `maxExp + 1`. Same placed stream as [[write]]: one segment per
    * task. Returns the segment count. */
  def writeHistograms(df: DataFrame, walDir: String, schemaId: Int,
                      minExp: Int, maxExp: Int, float: Boolean,
                      partitions: Int = 2): Int = {
    val rows = placedForWal(df, partitions, col("hist.count"),
      col("hist.sum"), element_at(col("hist.counts"), 1).as("zero"),
      slice(col("hist.counts"), 2, maxExp - minExp + 2).as("buckets"))
    writePlaced(rows, walDir, nextSegmentIndex(walDir), partitions,
        "TsdbWalWriter.writeHistograms") { (ref, series) =>
      series.map { r =>
        val buckets = r.getArray(5).toDoubleArray()
        val sparse = buckets.indices.collect {
          case i if buckets(i) != 0.0 => (minExp + i, buckets(i))
        }
        WalReader.WalHistogram(ref, r.getLong(1), counterResetHint = 0,
          schema = schemaId, zeroThreshold = 0.0, zeroCount = r.getDouble(4),
          count = r.getDouble(2), sum = r.getDouble(3), positive = sparse,
          negative = Nil, customValues = Nil, isFloat = float)
      }.grouped(100).map(histogramRecord(_, float))
    }
  }

  /** Append EXEMPLARS to an existing WAL: each exemplar row
    * `(time LONG, value DOUBLE, labels MAP, exemplar MAP)` is resolved
    * to the ref of the series its `labels` name (from the WAL's own
    * series records — driver-side dict, series-universe-sized, then
    * broadcast) and encoded as kind-4 records in fresh segments, one
    * per task. Exemplars whose series is absent from the WAL are
    * dropped (an exemplar annotates an existing series by contract).
    * Returns the number of exemplars written. */
  def writeExemplars(df: DataFrame, walDir: String, partitions: Int = 2): Long = {
    val spark = df.sparkSession
    import spark.implicits._
    val inv: Map[Seq[(String, String)], Long] =
      WalReader.seriesDict(walDir).map { case (ref, labels) =>
        labels.toSeq.sorted -> ref
      }
    val invB = spark.sparkContext.broadcast(inv)
    val base = nextSegmentIndex(walDir)
    val rows = df.select(
      col("time"), col("value"),
      array_sort(transform(map_entries(col("labels")),
        e => struct(e.getField("key").as("_1"), e.getField("value").as("_2"))))
        .as("labels"),
      array_sort(transform(map_entries(col("exemplar")),
        e => struct(e.getField("key").as("_1"), e.getField("value").as("_2"))))
        .as("exemplar"))
      .as[(Long, Double, Seq[(String, String)], Seq[(String, String)])]
      .repartition(partitions)
    val counts = rows.mapPartitions { it =>
      val seg = base + TaskContext.getPartitionId()
      val dict = invB.value
      val resolved = it.flatMap { case (t, v, labels, ex) =>
        dict.get(labels).map(ref => (ref, t, v, ex))
      }.toSeq.sortBy(e => (e._1, e._2))
      // written even when empty: segment numbers stay sequential
      writeSegment(f"$walDir/$seg%08d",
        resolved.grouped(SamplesPerRecord).map(exemplarRecord))
      Iterator.single(resolved.size.toLong)
    }.collect()
    fillSegments(walDir, base, partitions)
    counts.sum
  }

  /** Append metric METADATA (kind 6) to an existing WAL: one record
    * attaching (type, unit, help) to every series ref of each metric
    * name. Driver-side — metadata is label-universe-sized, the same
    * class as the index walk. Returns the number of (ref, metadata)
    * entries written. */
  def writeMetadata(walDir: String,
                    byMetric: Map[String, (Int, String, String)]): Int = {
    val dict = WalReader.seriesDict(walDir)
    val entries = dict.toSeq.sortBy(_._1).flatMap { case (ref, labels) =>
      byMetric.get(labels.getOrElse("__name__", "")).map {
        case (typ, unit, help) =>
          (ref, typ, Seq("unit" -> unit, "help" -> help))
      }
    }
    if (entries.isEmpty) return 0
    val seg = nextSegmentIndex(walDir)
    writeSegment(f"$walDir/$seg%08d",
      entries.grouped(1000).map(metadataRecord))
    entries.size
  }

  /** Append TOMBSTONES (kind 3) to an existing WAL — the head's delete
    * path: stones reference series refs and mask replay immediately
    * (the WAL source applies them), without touching sample records.
    * Driver-side, metadata-sized. */
  def writeStones(walDir: String, stones: Seq[(Long, Long, Long)]): Unit = {
    if (stones.isEmpty) return
    val seg = nextSegmentIndex(walDir)
    writeSegment(f"$walDir/$seg%08d",
      stones.grouped(1000).map(tombstonesRecord))
  }

  // ---- checkpointing --------------------------------------------------

  /** Prometheus WAL CHECKPOINTING (`tsdb/wlog.Checkpoint`): fold the
    * segments with index ≤ `through` into a `checkpoint.<through>`
    * directory, dropping samples older than `keepTime` and keeping every
    * series record (Prometheus additionally drops series no longer live
    * in the head — an optimization, not a correctness requirement; a
    * read-path engine has no liveness oracle, and extra series records
    * are invisible to replay). The folded segments are then deleted,
    * exactly the truncation Prometheus performs after a successful
    * checkpoint.
    *
    * Scale model: segments are independent — one Spark task filters one
    * segment into one same-named file inside the checkpoint dir (replay
    * order is preserved by the file numbering), so checkpointing a
    * 100 TB WAL distributes with zero coordination. The dir is assembled
    * under a `.tmp` name and renamed only when complete, Prometheus's
    * own crash-safety protocol.
    *
    * Returns the number of segments folded (0 ⇒ nothing to do). */
  def checkpoint(spark: org.apache.spark.sql.SparkSession, walDir: String,
                 keepTime: Long, through: Int = Int.MaxValue): Int = {
    val folded = WalReader.segments(walDir).filter { p =>
      val f = new java.io.File(p)
      // fold live segments ≤ through; a previous checkpoint's contents
      // fold unconditionally (they are by definition older than any
      // live segment being folded)
      f.getParentFile.getName.startsWith("checkpoint.") ||
        f.getName.toInt <= through
    }
    val live = folded.filterNot(p =>
      new java.io.File(p).getParentFile.getName.startsWith("checkpoint."))
    if (live.isEmpty) return 0 // nothing new to fold
    val cpIndex = live.map(p => new java.io.File(p).getName.toInt).max
    val tmpStr = Paths.get(walDir, f"checkpoint.$cpIndex%08d.tmp").toString
    Files.createDirectories(Paths.get(tmpStr))
    // one task per segment: decode records, keep series records whole,
    // re-encode samples records without the pre-keepTime samples.
    // Checkpoint-internal files keep their names but can collide with a
    // live segment's (both start at 0) — prefix-disambiguate by source
    // order, which is exactly replay order.
    val indexed = folded.zipWithIndex
    spark.sparkContext.parallelize(indexed, indexed.size).foreach {
      case (seg, i) =>
        val kept = WalReader.records(seg).flatMap { rec =>
          if (rec.isEmpty) None
          else rec(0) match {
            case 2 =>
              val samples = WalReader.samplesOfRecord(rec)
                .filter(_.time >= keepTime)
              if (samples.isEmpty) None
              else Some(samplesRecord(samples.map(s => (s.ref, s.time, s.value))))
            case 4 =>
              val kept = WalReader.exemplarsOfRecord(rec)
                .filter(_.time >= keepTime)
              if (kept.isEmpty) None
              else Some(exemplarRecord(kept.map(e =>
                (e.ref, e.time, e.value, e.labels.toSeq.sorted))))
            case 3 =>
              // a stone wholly before the horizon masks nothing anymore
              val kept = WalReader.stonesOfRecord(rec)
                .filter(_.maxt >= keepTime)
              if (kept.isEmpty) None
              else Some(tombstonesRecord(kept.map(s => (s.ref, s.mint, s.maxt))))
            case 7 | 8 =>
              val kept = WalReader.histogramsOfRecord(rec)
                .filter(_.time >= keepTime)
              if (kept.isEmpty) None
              else Some(histogramRecord(kept, float = rec(0) == 8))
            case _ => Some(rec) // series, metadata, unknown: pass through
          }
        }
        writeSegment(f"$tmpStr/$i%08d", kept)
    }
    val tmp = Paths.get(tmpStr)
    val finalDir = Paths.get(walDir, f"checkpoint.$cpIndex%08d")
    Files.move(tmp, finalDir,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // truncate: drop the folded segments (and any superseded checkpoint)
    folded.foreach(p => Files.deleteIfExists(Paths.get(p)))
    Option(new java.io.File(walDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("checkpoint.") &&
        f.getName.stripPrefix("checkpoint.").toIntOption.exists(_ < cpIndex))
      .foreach { d =>
        d.listFiles().foreach(_.delete()); d.delete()
      }
    live.size
  }
}
