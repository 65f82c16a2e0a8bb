package graft.sources.tsdbblock

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import graft.tsdb.RemoteRead.utf8ByteOrder
import Binary.ByteWriter

/** Writer for raw Prometheus TSDB block directories — the write twin of
  * [[TsdbBlockSource]], making block compatibility bidirectional: the
  * engine can hand its data BACK to the reference's storage layer in
  * the exact on-disk format it reads (index format v2 per
  * prometheus/tsdb/docs/format/index.md, Gorilla XOR chunks per
  * chunkenc/xor.go — the same public format docs the reader was built
  * from; the reference opens such blocks at hello.go:50-74).
  *
  * A block directory is written per TIME RANGE — the Prometheus
  * compactor's own sharding model — so at 100 TB the work distributes
  * one-block-per-task with no cross-task coordination: each task owns a
  * disjoint `[k·range, (k+1)·range)` slice, encodes its series to XOR
  * chunks, and assembles index + chunks + meta.json locally. Nothing
  * about a block refers to any other block.
  *
  * Format notes (all from the public docs):
  *   - chunks: one segment, `chunks/000001` ([[ChunkFile]]).
  *   - index: magic 0xBAAAD700 version 2; symbol table (sorted, unique
  *     strings); series section (16-byte-aligned entries, label refs
  *     into symbols, delta-encoded chunk metas, per-entry CRC32-C);
  *     label offset table, postings (incl. the special all-postings
  *     under the empty label pair), postings offset table, TOC.
  *   - series entries MUST be ordered by label set; label pairs within
  *     an entry sorted by name (both enforced here).
  *   - XOR chunks cap at 120 samples (the Prometheus head default), so
  *     a pathological series becomes many chunk metas, never one huge
  *     chunk.
  */
object TsdbBlockWriter {

  // ---- block assembly -----------------------------------------------

  /** One series to be written: sorted label pairs + time-sorted float
    * samples, plus any NATIVE-HISTOGRAM samples (encoded as histogram
    * chunks, encodings 2/3 — [[HistChunk]]). A series may carry both
    * kinds, but their chunks must not interleave in time (the index
    * format delta-encodes chunk metas as non-overlapping, exactly the
    * invariant Prometheus's head keeps by cutting a chunk on every
    * sample-type change) — violated input fails loudly, never silently
    * drops. */
  final case class SeriesData(labels: Seq[(String, String)],
                              ts: Array[Long], vs: Array[Double],
                              hists: Seq[WalReader.WalHistogram] = Nil)

  private val MaxSamplesPerChunk = 120

  private final case class ChunkMeta(minT: Long, maxT: Long, ref: Long)

  /** A parent block in meta.json's compaction section (Prometheus
    * BlockDesc). */
  final case class ParentDesc(ulid: String, minTime: Long, maxTime: Long)
  /** meta.json's compaction lineage: level-1 blocks carry themselves as
    * the only source; compacted blocks carry the max parent level + 1,
    * the UNION of the parents' original sources, and the direct parent
    * descriptors — exactly the Prometheus compactor's bookkeeping. */
  final case class CompactionMeta(level: Int = 1,
                                  sources: Seq[String] = Nil,
                                  parents: Seq[ParentDesc] = Nil)

  /** Assemble one complete block directory from in-memory series (the
    * per-task unit — series of ONE time slice). Series are sorted by
    * label set and labels within a series by name, as the index format
    * requires, regardless of input order. Returns (numSeries,
    * numChunks, numSamples).
    *
    * meta.json's maxTime is EXCLUSIVE (the Prometheus convention — the
    * reference block's meta ends on a round 2h boundary): `maxTimeCeil`
    * when given (the slice window end, what head compaction stamps),
    * else max sample + 1. */
  def writeBlock(dir: String, seriesIn: Seq[SeriesData],
                 compaction: CompactionMeta = CompactionMeta(),
                 maxTimeCeil: Option[Long] = None): (Long, Long, Long) = {
    // series order = Prometheus labels.Compare (pairwise name/value in
    // UTF-8 BYTE order, fewer labels first): the injective NUL-escaped
    // key under unsigned-byte ordering — a bare-NUL join is ambiguous
    // for NUL-bearing values, and Java String order (UTF-16 units)
    // diverges from Go's byte order above the BMP. Names sort in that
    // byte order too, as `sort_array(map_entries(labels))` does in
    // [[write]].
    import graft.tsdb.RemoteRead.labelSortKey
    val series = seriesIn.toIndexedSeq
      .map(s => s.copy(labels = s.labels.sortBy(_._1)(utf8ByteOrder)))
      .sortBy(s => labelSortKey(s.labels))(utf8ByteOrder)
    writeBlockPresorted(dir, series.iterator, compaction, maxTimeCeil)
  }

  /** [[writeBlock]]'s streaming core: `seriesIt` must arrive already in
    * index order ([[graft.tsdb.RemoteRead.labelSortKey]] under
    * [[graft.tsdb.RemoteRead.utf8ByteOrder]], each series' labels
    * name-sorted in that byte order). Chunk bytes stream to
    * `chunks/000001` AS EACH SERIES IS CONSUMED; only the per-series
    * skeleton (labels + chunk metas — a few dozen bytes) is retained
    * for the index sections. Per-task heap is therefore O(series
    * metadata), NOT O(samples): the sample payload exists only one
    * series at a time. */
  private[tsdbblock] def writeBlockPresorted(dir: String,
      seriesIt: Iterator[SeriesData],
      compaction: CompactionMeta = CompactionMeta(),
      maxTimeCeil: Option[Long] = None): (Long, Long, Long) =
    try assembleBlock(dir, seriesIt, compaction, maxTimeCeil)
    catch {
      // a block that failed mid-stream (a rejected series, a chunk ref
      // past 4 GiB) must not stay behind for a reader to pick up
      case t: Throwable => removePartialBlock(dir); throw t
    }

  /** Delete what [[assembleBlock]] writes, then the directory if that
    * leaves it empty — a pre-existing directory's other files stay. */
  private def removePartialBlock(dir: String): Unit =
    Seq(Paths.get(ChunkFile.path(dir, 0)), Paths.get(dir, "chunks"),
        Paths.get(dir, "index"), Paths.get(dir, "tombstones"),
        Paths.get(dir, "meta.json"), Paths.get(dir)).foreach { p =>
      try Files.deleteIfExists(p)
      catch { case _: java.nio.file.DirectoryNotEmptyException => () }
    }

  private def assembleBlock(dir: String, seriesIt: Iterator[SeriesData],
      compaction: CompactionMeta,
      maxTimeCeil: Option[Long]): (Long, Long, Long) = {
    // ---- chunks segment 000001, streamed ----
    val chunks = new ChunkFile.Writer(dir)
    // the skeletons: INDEXED — random-accessed by position below
    // (`chunkMetas(si)`); a List-backed Seq here turned that into
    // O(series²) list hops (~100 s of pure List.drop at 67k series)
    val labelsBuf =
      scala.collection.mutable.ArrayBuffer.empty[Seq[(String, String)]]
    val metasBuf =
      scala.collection.mutable.ArrayBuffer.empty[Seq[ChunkMeta]]
    var numSamples = 0L
    try seriesIt.foreach { s =>
      val metas = Seq.newBuilder[ChunkMeta]
      var off = 0
      while (off < s.ts.length) {
        val n = math.min(MaxSamplesPerChunk, s.ts.length - off)
        val cts = java.util.Arrays.copyOfRange(s.ts, off, off + n)
        val cvs = java.util.Arrays.copyOfRange(s.vs, off, off + n)
        val ref = chunks.put(XorChunk.EncXor, XorChunk.encode(cts, cvs))
        metas += ChunkMeta(cts(0), cts(n - 1), ref)
        off += n
      }
      // native-histogram chunks (encodings 2/3), cut per layout change
      HistChunk.chunkBatches(s.hists.sortBy(_.time),
          maxPerChunk = MaxSamplesPerChunk).foreach { batch =>
        val enc = if (batch.head.isFloat) HistChunk.EncFloatHistogram
                  else HistChunk.EncHistogram
        val ref = chunks.put(enc, HistChunk.encode(batch, batch.head.isFloat))
        metas += ChunkMeta(batch.head.time, batch.last.time, ref)
      }
      // the index delta-encodes chunk metas as a non-overlapping,
      // time-ascending sequence — enforce it across the float/histogram
      // mix rather than write an unreadable entry
      val sorted = metas.result().sortBy(m => (m.minT, m.maxT))
      sorted.iterator.zip(sorted.iterator.drop(1)).foreach { case (a, b) =>
        require(b.minT >= a.maxT,
          s"series ${s.labels}: float and histogram samples interleave in " +
            s"time (chunk [${a.minT},${a.maxT}] overlaps [${b.minT},${b.maxT}])" +
            " — Prometheus series change sample type only across chunks")
      }
      labelsBuf += s.labels
      metasBuf += sorted
      numSamples += s.ts.length.toLong + s.hists.size
    } finally chunks.close()
    val series = labelsBuf // skeleton view: labels by series position
    val chunkMetas = metasBuf

    // ---- index ----
    val iw = new ByteWriter
    iw.be32(0xbaaad700L); iw.u8(2)
    // a section or entry: `len | body | crc32c(body)`, len BE32 except
    // on series entries (uvarint)
    val body = new ByteWriter
    def section(uvarintLen: Boolean = false)(fill: ByteWriter => Unit): Unit = {
      body.reset(); fill(body)
      if (uvarintLen) iw.uvarint(body.size.toLong) else iw.be32(body.size.toLong)
      body.writeTo(iw); iw.be32(body.crc32c())
    }

    // symbol table: unique strings in Prometheus's (UTF-8) byte order
    val symbols = series.flatMap(_.flatMap(p => Seq(p._1, p._2)))
      .distinct.sorted(utf8ByteOrder)
    val symIdx = symbols.zipWithIndex.toMap
    val symbolsStart = iw.size
    section() { b => b.be32(symbols.size.toLong); symbols.foreach(b.str) }

    // series section: entries 16-byte aligned from file start;
    // series ref (used by postings) = offset / 16
    def pad16(): Unit = while (iw.size % 16 != 0) iw.u8(0)
    pad16()
    val seriesStart = iw.size
    val seriesRefs = new Array[Long](series.size)
    series.zipWithIndex.foreach { case (s, si) =>
      pad16()
      seriesRefs(si) = iw.size.toLong / 16
      section(uvarintLen = true) { e =>
        e.uvarint(s.size.toLong)
        s.foreach { case (k, v) =>
          e.uvarint(symIdx(k).toLong); e.uvarint(symIdx(v).toLong)
        }
        val metas = chunkMetas(si)
        e.uvarint(metas.size.toLong)
        if (metas.nonEmpty) {
          val h = metas.head
          e.varint(h.minT)
          e.uvarint(h.maxT - h.minT)
          e.uvarint(h.ref)
          var prevMaxT = h.maxT
          var prevRef = h.ref
          metas.tail.foreach { m =>
            e.uvarint(m.minT - prevMaxT)
            e.uvarint(m.maxT - m.minT)
            e.varint(m.ref - prevRef)
            prevMaxT = m.maxT; prevRef = m.ref
          }
        }
      }
    }

    // ONE pass over series builds both inverted structures — per-name
    // value sets and per-(name,value) posting lists. (A per-pair rescan
    // of all series is O(pairs × series) and took minutes at 10k series
    // × 10k values; this is O(Σ labels).)
    val valueSets =
      scala.collection.mutable.Map[String, scala.collection.mutable.Set[String]]()
    val postingsByPair = scala.collection.mutable.Map[(String, String),
      scala.collection.mutable.ArrayBuffer[Long]]()
    series.zipWithIndex.foreach { case (s, si) =>
      s.foreach { kv =>
        valueSets.getOrElseUpdate(kv._1,
          scala.collection.mutable.Set[String]()) += kv._2
        postingsByPair.getOrElseUpdate(kv,
          scala.collection.mutable.ArrayBuffer[Long]()) += seriesRefs(si)
      }
    }
    val labelNames = valueSets.keys.toSeq.sorted(utf8ByteOrder)
    val valuesByName =
      labelNames.map(n => n -> valueSets(n).toSeq.sorted(utf8ByteOrder))
    pad16()
    val labelIndicesStart = iw.size
    val labelIndexOff = scala.collection.mutable.Map[String, Long]()
    valuesByName.foreach { case (name, values) =>
      labelIndexOff(name) = iw.size.toLong
      section() { b =>
        b.be32(1L) // #names in this composite index
        b.be32(values.size.toLong)
        values.foreach(v => b.be32(symIdx(v).toLong))
      }
    }

    // postings: one list per (name, value) pair + the all-postings list
    // under the empty pair — each a sorted array of series refs
    pad16()
    val postingsStart = iw.size
    val postingOff = Seq.newBuilder[((String, String), Long)]
    def writePostings(key: (String, String), refs: Seq[Long]): Unit = {
      postingOff += key -> iw.size.toLong
      section() { b => b.be32(refs.size.toLong); refs.foreach(b.be32) }
    }
    writePostings(("", ""), seriesRefs.toSeq) // all-postings first
    valuesByName.foreach { case (name, values) =>
      values.foreach { v =>
        // refs are already ascending: series iterate in sorted order
        writePostings((name, v), postingsByPair((name, v)).toSeq)
      }
    }

    // label offset table: name → its label index entry
    pad16()
    val labelOffsetTableStart = iw.size
    section() { b =>
      b.be32(labelNames.size.toLong)
      labelNames.foreach { n =>
        b.uvarint(1L) // #parts
        b.str(n); b.uvarint(labelIndexOff(n))
      }
    }

    // postings offset table: (name, value) → postings list
    pad16()
    val postingsOffsetTableStart = iw.size
    section() { b =>
      val entries = postingOff.result()
      b.be32(entries.size.toLong)
      entries.foreach { case ((n, v), off) =>
        b.uvarint(2L) // #parts
        b.str(n); b.str(v); b.uvarint(off)
      }
    }

    // TOC: 6 section refs + crc of the refs
    val tocStart = iw.size
    Seq(symbolsStart, seriesStart, labelIndicesStart, labelOffsetTableStart,
      postingsStart, postingsOffsetTableStart).foreach(o => iw.be64(o.toLong))
    iw.be32(iw.crc32c(tocStart))
    Files.write(Paths.get(dir, "index"), iw.toByteArray)

    // ---- tombstones (empty: the reference block's own 9 bytes) ----
    Tombstones.write(s"$dir/tombstones", Map.empty)

    val numChunks = chunkMetas.map(_.size.toLong).sum
    // min/max over the CHUNK metas — covers float and histogram samples
    val allMetas = chunkMetas.flatten
    val minT = if (allMetas.isEmpty) 0L else allMetas.map(_.minT).min
    val maxT = if (allMetas.isEmpty) 0L else allMetas.map(_.maxT).max
    // Prometheus invariant: a block directory is NAMED by its ULID. If
    // the caller already placed us in a ULID-named dir (the Spark write
    // path), adopt it so meta.json matches the dir; otherwise derive one
    // deterministically from the path (bare writeBlock to a tmp dir).
    val base = Paths.get(dir).getFileName.toString
    val ulid =
      if (base.length == 26 && base.forall(c =>
        "0123456789ABCDEFGHJKMNPQRSTVWXYZ".indexOf(c) >= 0)) base
      else deterministicUlid(dir)
    val sources =
      (if (compaction.sources.nonEmpty) compaction.sources else Seq(ulid))
        .map(s => s""""$s"""").mkString(", ")
    val parentsJson =
      if (compaction.parents.isEmpty) ""
      else compaction.parents.map(p =>
          s"""{"ulid": "${p.ulid}", "minTime": ${p.minTime}, "maxTime": ${p.maxTime}}""")
        .mkString(",\n\t\t\"parents\": [\n\t\t\t", ",\n\t\t\t", "\n\t\t]")
    val meta =
      s"""{
         |\t"ulid": "$ulid",
         |\t"minTime": $minT,
         |\t"maxTime": ${maxTimeCeil.filter(_ > maxT).getOrElse(maxT + 1)},
         |\t"stats": {
         |\t\t"numSamples": $numSamples,
         |\t\t"numSeries": ${series.size},
         |\t\t"numChunks": $numChunks
         |\t},
         |\t"compaction": {
         |\t\t"level": ${compaction.level},
         |\t\t"sources": [$sources]$parentsJson
         |\t},
         |\t"version": 1
         |}
         |""".stripMargin
    Files.write(Paths.get(dir, "meta.json"), meta.getBytes(UTF_8))
    (series.size.toLong, numChunks, numSamples)
  }

  /** A valid 26-char Crockford-base32 ULID, derived deterministically
    * from the directory name (no wall clock — block identity must be
    * reproducible for the driver's repeated runs).
    *
    * The FIRST character is constrained to '0'-'7': 26 base32 chars
    * encode 130 bits but a ULID is 128 bits, so the top char carries
    * only 3 bits. oklog/ulid.Parse (what Prometheus's blockDirs uses)
    * returns ErrOverflow for first chars above '7' and the directory is
    * then silently skipped — an unconstrained first char would make
    * ~75% of written blocks invisible to tsdb.OpenDBReadOnly
    * (reference hello.go:51). */
  private[sources] def deterministicUlid(seed: String): String = {
    val alphabet = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"
    val md = java.security.MessageDigest.getInstance("SHA-256")
      .digest(seed.getBytes(UTF_8))
    val head = alphabet((md(0) & 0x7f) % 8)
    val tail = (1 until 26)
      .map(i => alphabet((md(i % md.length) & 0x7f) % 32)).mkString
    s"$head$tail"
  }

  // ---- Spark orchestration ------------------------------------------

  /** Prometheus HEAD COMPACTION: replay a WAL directory into block
    * directories — the operation Prometheus runs when the head exceeds
    * its window, here as WAL reader ∘ block writer. Duplicate
    * (series, time) pairs (possible across overlapping WAL segments)
    * are written as they are: adjacent equal timestamps inside one
    * chunk, which the block reader collapses by the whole-DB merge's
    * rule, or a chunk boundary at one timestamp, which the index shows
    * and [[TsdbDb.read]] then merges. A staleness marker (a NULL value
    * in the WAL scan) is written as the marker and reads back NULL. */
  def compactWal(spark: SparkSession, walDir: String, destRoot: String,
                 blockRangeMs: Long = 2L * 3600 * 1000): Seq[String] =
    write(spark.read.format("tsdb-wal").load(walDir), destRoot, blockRangeMs,
      // histogram records (kinds 7/8) flush into histogram chunks —
      // head compaction must carry every sample kind the WAL holds
      hists = Some(TsdbWalRecords.readHistogramsFull(spark, walDir)))

  /** BLOCK COMPACTION — the Prometheus compactor's level-up step: read
    * the parent blocks (tombstones APPLIED — deletions become physical
    * here), re-slice into `blockRangeMs` windows, and record the
    * lineage in meta.json: level = max parent level + 1, sources = the
    * union of the parents' original level-1 sources, parents = the
    * direct parent descriptors. One Spark job for any number of
    * parents (the union scan feeds the one-shuffle writer).
    * `deleteParents` then removes the source directories — the
    * truncation Prometheus performs once the compacted block lands. */
  def compactBlocks(spark: SparkSession, blockDirs: Seq[String],
                    destRoot: String, blockRangeMs: Long,
                    deleteParents: Boolean = false): Seq[String] = {
    val metas = blockDirs.map(BlockMeta.read)
    val lineage = CompactionMeta(
      level = metas.map(_.level).max + 1,
      sources = metas.flatMap(m =>
        if (m.sources.nonEmpty) m.sources else Seq(m.ulid)).distinct.sorted,
      parents = metas.map(_.parentDesc))
    val union = blockDirs
      .map(d => spark.read.format("tsdb-block").load(d))
      .reduce(_ unionByName _)
    // histogram chunks level up alongside the float chunks (tombstones
    // applied inside the reader, same as the float scan)
    val histUnion = blockDirs
      .map(d => TsdbBlockRecords.readHistograms(spark, d))
      .reduce(_ union _)
    val names = write(union, destRoot, blockRangeMs, lineage,
      hists = Some(histUnion))
    if (deleteParents) blockDirs.foreach { d =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(d))
    }
    names
  }

  /** The write's PLACED, INDEX-ORDERED rows, factored out so its plan
    * shape is testable (the write itself runs over the plan's rows, so
    * the plan never appears in a returned DataFrame): one row per float
    * or histogram sample, `(slice, entries, time, value, hist)`, where
    * `entries` is the sorted `(key, value)` label list and exactly one
    * of a marker-or-float `value` and a `hist` struct is set per kind.
    *
    * ONE exchange places the rows: `repartitionById` sends slice k to
    * task k mod n (n = the session's shuffle width, pinned so AQE
    * cannot coalesce the CPU-heavy encode), so consecutive slices —
    * the blocks of one write — land in distinct tasks; a hash of the
    * slice put neighbouring slices in one task. Inside a task the rows
    * sort by (slice, entries, time, value, hist). Spark orders an array
    * of (name, value) structs pairwise in UTF-8 byte order, shorter
    * first — the order [[graft.tsdb.RemoteRead.labelSortKey]] gives
    * under [[graft.tsdb.RemoteRead.utf8ByteOrder]] — so each slice's
    * rows arrive as its block's series in index order, each series'
    * samples time-ascending. PlanQualitySpec pins the one exchange. */
  private[graft] def sortedForWrite(df: DataFrame, blockRangeMs: Long,
      hists: Option[Dataset[(Map[String, String],
        WalReader.WalHistogram)]] = None): DataFrame = {
    val width = df.sparkSession.sessionState.conf.numShufflePartitions
    def sliceOf(time: Column): Column =
      floor(time / lit(blockRangeMs.toDouble)).cast("long")
    val floats = df.select(
      sliceOf(col("time")).as("slice"),
      sort_array(map_entries(col("labels"))).as("entries"),
      col("time"), col("value"),
      lit(null).cast(HistEncoder.schema).as("hist"))
    val all = hists.fold(floats) { h =>
      floats.unionByName(h.toDF("labels", "hist").select(
        sliceOf(col("hist.time")).as("slice"),
        sort_array(map_entries(col("labels"))).as("entries"),
        col("hist.time").as("time"), lit(null).cast("double").as("value"),
        col("hist")))
    }
    all.repartitionById(width, pmod(col("slice"), lit(width.toLong)).cast("int"))
      .sortWithinPartitions(col("slice"), col("entries"), col("time"),
        col("value"), col("hist"))
  }

  private val HistEncoder =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[WalReader.WalHistogram]()

  /** Write the long-form frame `(time LONG ms, value DOUBLE,
    * labels MAP)` — plus, given `hists`, native-histogram samples — as
    * one TSDB block directory per `blockRangeMs` slice under `root`
    * (Prometheus's 2h default). Returns the block dir names written.
    *
    * One sort, then a stream: [[sortedForWrite]] places each slice in
    * its own task and orders its rows as the block's index; each task
    * then walks its rows once, cutting a series where the (slice,
    * labels) pair changes and a block where the slice does, into
    * [[writeBlockPresorted]]. No aggregate collects a series' samples
    * into an array, no row passes through an encoder (float samples
    * are read straight off the sorted binary rows), and per-task heap
    * stays O(one series + the block's skeleton) — Spark's external
    * sort spills. The blocks are byte-identical to [[writeBlock]]'s
    * over the same series (pinned by spec). A NULL value (the
    * engine's staleness marker) is written as the marker
    * ([[graft.tsdb.TsdbSchema.StaleNaNBits]]); equal timestamps in a
    * series are written as they come, markers first and NaN last (the
    * block reader collapses them by the whole-DB merge's rule). */
  def write(df: DataFrame, root: String,
            blockRangeMs: Long = 2L * 3600 * 1000,
            compaction: CompactionMeta = CompactionMeta(),
            hists: Option[Dataset[(Map[String, String],
              WalReader.WalHistogram)]] = None): Seq[String] = {
    val rows = sortedForWrite(df, blockRangeMs, hists)
    val qe = rows.queryExecution
    val histEncoder = HistEncoder.resolveAndBind()
    val histFields = HistEncoder.schema.length
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
        Some("TsdbBlockWriter.write")) {
      qe.toRdd.mapPartitions { it =>
        val toHist = histEncoder.createDeserializer()
        // made here, not captured: Java serialization of a closure's
        // double canonicalizes NaN payloads, and the marker is one
        val stale = java.lang.Double.longBitsToDouble(
          graft.tsdb.TsdbSchema.StaleNaNBits)
        // rows may be reused by the iterator: everything a row holds is
        // read (or copied) before the next one is fetched
        val rows = it.buffered
        def inSeries(slice: Long, entries: ArrayData): Boolean =
          rows.hasNext && rows.head.getLong(0) == slice &&
            rows.head.getArray(1) == entries
        new Iterator[String] {
          override def hasNext: Boolean = rows.hasNext
          override def next(): String = {
            val sliceId = rows.head.getLong(0)
            // name = ULID from (root, slice); if that dir already exists
            // (same-root recompaction — e.g. leveling 5×2h blocks into the
            // 10h block whose slice index collides with parent slice 0),
            // salt deterministically until fresh so an existing block is
            // never overwritten in place
            var name = deterministicUlid(s"$root/$sliceId")
            var salt = 0
            while (new java.io.File(root, name).exists()) {
              salt += 1
              name = deterministicUlid(s"$root/$sliceId#$salt")
            }
            val series: Iterator[SeriesData] = new Iterator[SeriesData] {
              override def hasNext: Boolean =
                rows.hasNext && rows.head.getLong(0) == sliceId
              override def next(): SeriesData = {
                val entries = rows.head.getArray(1).copy()
                val labels = TsdbBlockSource.labelPairs(entries)
                val ts = Array.newBuilder[Long]
                val vs = Array.newBuilder[Double]
                val hs = Seq.newBuilder[WalReader.WalHistogram]
                while (inSeries(sliceId, entries)) {
                  val r = rows.next()
                  if (r.isNullAt(4)) {
                    ts += r.getLong(2)
                    vs += (if (r.isNullAt(3)) stale else r.getDouble(3))
                  } else hs += toHist(r.getStruct(4, histFields))
                }
                SeriesData(labels, ts.result(), vs.result(), hs.result())
              }
            }
            // maxTime ceiling = the slice window end, as Prometheus's head
            // compaction stamps it — range-aligned so the planner's
            // full-window test works on our own blocks
            writeBlockPresorted(s"$root/$name", series, compaction,
              maxTimeCeil = Some((sliceId + 1) * blockRangeMs))
            name
          }
        }
      }.collect().toSeq
    }
  }
}
