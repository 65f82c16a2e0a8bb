package graft.sources.tsdbblock

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.tsdb.TsdbSchema

/** DataSource V2 for raw Prometheus TSDB block directories — the
  * reference's actual input format (SURVEY.md §2.1 S1/S2, §7.5 stretch
  * goal; hello.go:429-509 reads the same block via the prometheus
  * library and row-inserts into FrostDB).
  *
  *   spark.read.format("tsdb-block").load(blockDir)
  *     → (time LONG ms, value DOUBLE, labels MAP<STRING,STRING>)
  *
  * i.e. the engine's long/ingest form, feeding [[graft.tsdb.TsdbIngest]]
  * directly. Distribution model: the driver reads only the index
  * (~0.02% of block bytes) to plan; series are split across partitions,
  * and each task seeks exactly its own chunks — on an object store this
  * is the ranged-GET pattern, no full-file reads on the driver.
  *
  * Time-range predicates (`time >/>= x`, `time </<= y`) are pushed into
  * the scan as CHUNK pruning against the index's per-chunk
  * (minTime, maxTime) — the TSDB analogue of parquet row-group pruning.
  * Filters are also left in the plan (returned as residual), so
  * semantics never depend on the pruning.
  *
  * Within a series the reader emits one row per timestamp: equal
  * timestamps inside a chunk (a WAL's duplicates compacted into a
  * block) collapse by the whole-DB merge's rule, and a timestamp that
  * goes backwards fails the scan naming the block. Planning uses the
  * session active where the table loads (see [[TsdbWalSource]]).
  */
class TsdbBlockSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "tsdb-block"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TsdbBlockSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new TsdbBlockTable(properties.get("path"), SparkSession.active)
}

object TsdbBlockSource {
  val schema: StructType = StructType(Seq(
    StructField("time", LongType, nullable = false),
    // nullable: staleness markers decode to NULL (TsdbSchema.isStaleMarker)
    StructField("value", DoubleType, nullable = true),
    StructField("labels", MapType(StringType, StringType), nullable = false)))
}

/** One parse of a block's index per `(path, length, mtime)`, shared by
  * every planning of every scan over the block and by the whole-DB
  * merge decision — the block twin of [[WalDictCache]]. Blocks are
  * immutable once written (compaction writes new directories), so the
  * signature only changes when the index does.
  *
  * An LRU bounded by the heap its parsed series hold, at most
  * `budgetBytes`: each entry is charged [[BlockIndexCache.bytesOf]],
  * least recently used entries go first, and an entry over the budget
  * on its own is returned but not kept. */
private[tsdbblock] class BlockIndexCache(budgetBytes: Long) {
  import BlockIndexCache.Entry

  private val cache =
    scala.collection.mutable.LinkedHashMap.empty[String, Entry]
  private var held = 0L

  def get(blockDir: String): Entry = synchronized {
    val f = new java.io.File(blockDir, "index")
    val sig = (f.length(), f.lastModified())
    val hit = cache.remove(f.getPath) // re-insert on hit: LRU order
    hit.foreach(old => held -= old.bytes)
    val e = hit.filter(_.sig == sig)
      .getOrElse(Entry(sig, IndexReader.read(f.getPath)))
    cache(f.getPath) = e
    held += e.bytes
    while (held > budgetBytes) {
      val (k, old) = cache.head
      cache.remove(k)
      held -= old.bytes
    }
    e
  }

  private[tsdbblock] def cachedPaths: Seq[String] =
    synchronized(cache.keys.toSeq)
}

/** The driver's cache, bounded at a thirty-second of the maximum heap. */
private[tsdbblock] object BlockIndexCache
    extends BlockIndexCache(Runtime.getRuntime.maxMemory / 32) {
  final case class Entry(sig: (Long, Long),
                         series: Seq[IndexReader.SeriesEntry]) {
    val bytes: Long = bytesOf(series)

    /** The range is the index's chunk bounds, not meta.json's (whose
      * maxTime is the slice ceiling). Duplicate-free when label sets
      * are unique and each series' chunks are strictly ordered and
      * disjoint; equal timestamps inside one chunk collapse in the
      * reader. */
    lazy val facts: SourceFacts = {
      val chunks = series.flatMap(_.chunks)
      SourceFacts(
        if (chunks.isEmpty) None
        else Some((chunks.map(_.minTime).min, chunks.map(_.maxTime).max)),
        series.map(_.labels).distinct.size == series.size &&
          series.forall(s => s.chunks.iterator.zip(s.chunks.iterator.drop(1))
            .forall { case (a, b) => a.maxTime < b.minTime }))
    }
  }

  /** The heap parsed series hold, from their shape: label strings are
    * shared through the index's symbol table, so a series costs its
    * entry, map and chunk list plus a map entry per label and a
    * [[IndexReader.ChunkRef]] per chunk. The constants round up
    * `SizeEstimator` measurements of parsed indexes (160 to 20,000
    * series, 1 to 50 chunks and 4 to 12 labels each), which came to
    * about 200 + 70 per label + 56 per chunk bytes. */
  def bytesOf(series: Seq[IndexReader.SeriesEntry]): Long =
    series.iterator.map(s => 256L + 80L * s.labels.size + 64L * s.chunks.size)
      .sum
}

final class TsdbBlockTable(path: String, spark: SparkSession)
    extends Table with SupportsRead {
  require(path != null, "tsdb-block requires a block directory path")
  override def name(): String = s"tsdb-block($path)"
  override def schema(): StructType = TsdbBlockSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // Series selection at PLANNING time: `matcher.<label>=<value>`
    // (equality) / `matcher_re.<label>=<pattern>` (unanchored regex, the
    // reference's regex semantics). Labels are per-series constants, so
    // this is EXACT filtering against the index — the planner never
    // schedules a non-matching series, which at object-store scale means
    // its chunks are never fetched at all. Absent label ≡ "" (Prometheus
    // decode rule, hello.go:339-349). Label-name case is preserved via
    // the case-sensitive view of the options map.
    import scala.jdk.CollectionConverters._
    val matchers = options.asCaseSensitiveMap().asScala.toSeq.collect {
      case (k, v) if k.toLowerCase.startsWith("matcher.") =>
        val lbl = k.substring("matcher.".length)
        (s: IndexReader.SeriesEntry) => s.labels.getOrElse(lbl, "") == v
      case (k, v) if k.toLowerCase.startsWith("matcher_re.") =>
        val lbl = k.substring("matcher_re.".length)
        val p = java.util.regex.Pattern.compile(v)
        (s: IndexReader.SeriesEntry) =>
          p.matcher(s.labels.getOrElse(lbl, "")).find()
    }
    // explicit `partitions` pins the split count; otherwise it is
    // derived at planning time from the pruned chunk count and core
    // count (scale-adaptive: a small block reads as a handful of tasks,
    // a 100 TB-era block saturates the cluster without a config edit)
    val partitions = Option(options.get("partitions")).map(_.toInt)
    new TsdbBlockScanBuilder(path, partitions, spark, matchers)
  }
}

final class TsdbBlockScanBuilder(
    path: String, partitions: Option[Int], spark: SparkSession,
    matchers: Seq[IndexReader.SeriesEntry => Boolean] = Nil)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  private var timeLo = Long.MinValue // exclusive lower bound semantics via +1 handled at use
  private var timeHi = Long.MaxValue
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = TsdbBlockSource.schema

  // column pruning: a (time, value)-only projection never materializes
  // label maps; a labels-only projection still decodes chunks (samples
  // ARE the rows) but skips nothing else — the map is per-series anyway
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      // inclusive bounds widen by 1 to reuse the exclusive pruning test;
      // saturate at the extremes (v±1 would wrap and prune EVERYTHING,
      // which the residual filter could never resurrect)
      case GreaterThan("time", v: Long) => timeLo = math.max(timeLo, v); true
      case GreaterThanOrEqual("time", v: Long) =>
        timeLo = math.max(timeLo, if (v == Long.MinValue) v else v - 1); true
      case LessThan("time", v: Long) => timeHi = math.min(timeHi, v); true
      case LessThanOrEqual("time", v: Long) =>
        timeHi = math.min(timeHi, if (v == Long.MaxValue) v else v + 1); true
      case _ => false
    }
    filters // all residual: pruning is chunk-granular, Spark re-filters rows
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new TsdbBlockScan(path, partitions, spark, timeLo, timeHi, required,
      matchers)
}

final case class TsdbSeriesPartition(
    series: Seq[IndexReader.SeriesEntry]) extends InputPartition

final class TsdbBlockScan(path: String, partitions: Option[Int],
                          spark: SparkSession, timeLo: Long, timeHi: Long,
                          required: StructType,
                          matchers: Seq[IndexReader.SeriesEntry => Boolean] = Nil)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"tsdb-block $path, chunk pruning time ∈ ($timeLo, $timeHi), " +
      s"${matchers.size} series matchers, " +
      s"columns [${required.fieldNames.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    // driver-side: index only. Select series by matcher options (exact —
    // labels are series constants), prune chunks against the pushed time
    // range, drop emptied series, then round-robin series into
    // partitions to balance sample counts.
    // Tombstones (deletion markers awaiting compaction) attach here: a
    // chunk fully inside a deleted interval is never scheduled — the
    // same plan-time pruning as the pushed time range — and partial
    // overlaps mask per-sample in the reader.
    val stones = Tombstones.read(s"$path/tombstones")
    val all = BlockIndexCache.get(path).series
      .filter(s => matchers.forall(_(s)))
      .map(s => stones.get(s.ref).fold(s)(ivs => s.copy(deleted = ivs)))
    val prunedSeries = all.flatMap { s =>
      val keep = s.chunks.filter(c => c.maxTime > timeLo && c.minTime < timeHi)
        .filterNot(c => s.deleted.exists(iv =>
          iv.mint <= c.minTime && c.maxTime <= iv.maxt))
      if (keep.isEmpty) None else Some(s.copy(chunks = keep))
    }
    // split-count derivation (when no explicit `partitions` option):
    // one task per ~ChunksPerTask pruned chunks (measured ~25 µs per
    // sf0.1 chunk decode, ~100 µs for a full 120-sample chunk ⇒ tasks
    // in the 50-200 ms band), capped at the core count — the old fixed
    // 16 manufactured 16 near-empty tasks per block at small scale and
    // throttled large blocks to 16 tasks at large scale
    val target = partitions.getOrElse {
      val totalChunks = prunedSeries.iterator.map(_.chunks.size.toLong).sum
      val parallelism = math.max(1, spark.sparkContext.defaultParallelism)
      math.min(parallelism.toLong,
        (totalChunks + ChunksPerTask - 1) / ChunksPerTask).toInt
    }
    val n = math.max(1, math.min(target, prunedSeries.size))
    (0 until n).map { p =>
      TsdbSeriesPartition(prunedSeries.zipWithIndex
        .collect { case (s, i) if i % n == p => s }): InputPartition
    }.toArray
  }

  private val ChunksPerTask = 2048L

  override def createReaderFactory(): PartitionReaderFactory =
    new TsdbReaderFactory(path, required.fieldNames)
}

final class TsdbReaderFactory(path: String, fields: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TsdbPartitionReader(path, partition.asInstanceOf[TsdbSeriesPartition], fields)
}

/** Streams (time, value, labels) rows for a slice of series. Chunk
  * segment files are read lazily, one ranged read per chunk (seek +
  * exact length) — never whole-file on small partitions. */
final class TsdbPartitionReader(path: String, part: TsdbSeriesPartition,
                                fields: Array[String])
    extends PartitionReader[InternalRow] {
  import Binary.ByteReader

  private val wantLabels = fields.contains("labels")

  private val segments =
    scala.collection.mutable.Map.empty[Int, java.io.RandomAccessFile]
  private val seriesIt = part.series.iterator
  private var chunkIt: Iterator[IndexReader.ChunkRef] = Iterator.empty
  private var labelsMap: ArrayBasedMapData = _
  private var deleted: Seq[Tombstones.Interval] = Nil
  private var seriesLabels: Map[String, String] = Map.empty
  private var lastTime = Long.MinValue
  private var ts: Array[Long] = Array.emptyLongArray
  private var vs: Array[Double] = Array.emptyDoubleArray
  private var i = 0

  private def segment(n: Int): java.io.RandomAccessFile =
    segments.getOrElseUpdate(n, new java.io.RandomAccessFile(
      f"$path/chunks/${n + 1}%06d", "r"))

  private def loadChunk(c: IndexReader.ChunkRef): Unit = {
    val f = segment(c.segment)
    f.seek(c.offset)
    // uvarint len (≤ 5 bytes for 32-bit sizes) + enc byte: read a small
    // header window first, then exactly the payload
    val head = new Array[Byte](8)
    f.readFully(head)
    val hr = new ByteReader(head, 0)
    val len = hr.uvarint().toInt
    val enc = hr.u8()
    // histogram chunks (encodings 2/3) carry a different value type —
    // the float scan skips them without reading the payload, exactly as
    // the WAL sample scan ignores kinds 7/8 (TsdbBlockRecords reads
    // them); anything else is corruption and fails loudly
    if (enc == HistChunk.EncHistogram || enc == HistChunk.EncFloatHistogram) {
      ts = Array.emptyLongArray; vs = Array.emptyDoubleArray; i = 0
      return
    }
    require(enc == 1, s"unsupported chunk encoding $enc (only XOR=1)")
    val data = new Array[Byte](len)
    val fromHead = math.min(len, head.length - hr.pos)
    System.arraycopy(head, hr.pos, data, 0, fromHead)
    if (fromHead < len) {
      f.seek(c.offset + hr.pos + fromHead)
      f.readFully(data, fromHead, len - fromHead)
    }
    val decoded = XorChunk.decode(data)
    collapse(decoded._1, decoded._2)
  }

  /** Install a decoded chunk as the current run, one sample per
    * timestamp: equal timestamps keep the least non-marker value (a
    * marker only when every copy is one) — the rule of the whole-DB
    * merge's `min(value)` — and a timestamp below the series' previous
    * one fails, naming the block. Equal timestamps across a chunk
    * boundary stay: the index shows them, and the merge takes them. */
  private def collapse(cts: Array[Long], cvs: Array[Double]): Unit = {
    var n = 0
    var k = 0
    while (k < cts.length) {
      val t = cts(k)
      if (n > 0 && t == cts(n - 1)) {
        val a = cvs(n - 1)
        val b = cvs(k)
        if (TsdbSchema.isStaleMarker(a) ||
            (!TsdbSchema.isStaleMarker(b) && b != a &&
              java.lang.Double.compare(b, a) < 0))
          cvs(n - 1) = b
      } else {
        if (t < lastTime)
          throw new IllegalStateException(
            s"block $path: series $seriesLabels goes back in time " +
              s"($t after $lastTime)")
        cts(n) = t; cvs(n) = cvs(k); lastTime = t; n += 1
      }
      k += 1
    }
    ts = if (n == cts.length) cts else java.util.Arrays.copyOf(cts, n)
    vs = if (n == cvs.length) cvs else java.util.Arrays.copyOf(cvs, n)
    i = 0
  }

  private def nextSeries(): Boolean = {
    if (!seriesIt.hasNext) return false
    val s = seriesIt.next()
    if (wantLabels) { // pruned away ⇒ never materialize the map
      val keys = s.labels.keys.toArray.sorted
      labelsMap = new ArrayBasedMapData(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          keys.map(UTF8String.fromString)),
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          keys.map(k => UTF8String.fromString(s.labels(k)))))
    }
    chunkIt = s.chunks.iterator
    deleted = s.deleted
    seriesLabels = s.labels
    lastTime = Long.MinValue
    true
  }

  override def next(): Boolean = {
    while (true) {
      while (i >= ts.length) {
        if (chunkIt.hasNext) loadChunk(chunkIt.next())
        else if (!nextSeries()) return false
      }
      // tombstone masking: skip samples inside a deleted interval of a
      // chunk that only PARTIALLY overlaps it (fully-covered chunks were
      // already pruned at planning)
      if (deleted.isEmpty || !Tombstones.deleted(deleted, ts(i))) return true
      i += 1
    }
    false
  }

  override def get(): InternalRow = {
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(fields.length)
    var f = 0
    while (f < fields.length) {
      fields(f) match {
        case "time" => row.update(f, ts(i))
        // staleness markers → NULL here, while the raw bits still exist
        // (UnsafeRow canonicalizes NaN payloads downstream)
        case "value" =>
          row.update(f,
            if (TsdbSchema.isStaleMarker(vs(i))) null else vs(i))
        case "labels" => row.update(f, labelsMap)
      }
      f += 1
    }
    i += 1
    row
  }

  override def close(): Unit = segments.values.foreach(_.close())
}
