package graft.sources.tsdbblock

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 over a Prometheus WAL directory — the head samples the
  * reference's `DBReadOnly.Querier` merges with block data
  * (hello.go:429-447). Same long-form schema as `tsdb-block`.
  *
  * Planning runs one fused pass over the segments (cached per WAL
  * signature, see [[WalDictCache]]) that yields the global ref→labels
  * dictionary (samples may reference series defined in an earlier
  * segment), the tombstone map and the record-boundary split ladder;
  * tasks then decode size-balanced record ranges — a segment splits
  * into multiple tasks when it is large relative to the core count,
  * and WAL segments are bounded (128 MiB) so no split is ever huge.
  * Planning uses the session active where the table loads, on the
  * caller's thread — not `SparkSession.active` at planning time,
  * which on another thread (an HTTP handler's) may be the default.
  */
class TsdbWalSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "tsdb-wal"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TsdbBlockSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new TsdbWalTable(properties.get("path"), SparkSession.active)
}

final class TsdbWalTable(path: String, spark: SparkSession)
    extends Table with SupportsRead {
  require(path != null, "tsdb-wal requires a WAL directory path")
  override def name(): String = s"tsdb-wal($path)"
  override def schema(): StructType = TsdbBlockSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TsdbWalScanBuilder(path, spark)
}

final class TsdbWalScanBuilder(path: String, spark: SparkSession)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = TsdbBlockSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new TsdbWalScan(path, required, spark)
}

/** One replay split: the records of `segment` whose start offset lies
  * in `[from, until)` — segments split at record boundaries so the
  * post-checkpoint tail (one big live segment) is not a single task. */
final case class TsdbWalPartition(segment: String, from: Long, until: Long)
    extends InputPartition

/** Per-WAL planning cache: ONE fused driver pass builds the global
  * ref→labels dictionary, the head-tombstone map and the intra-segment
  * split ladder (plus, only when the whole-DB merge asks, the sample
  * facts it decides on, [[SourceFacts]]), and ONE broadcast ships the
  * dictionaries as a compact byte blob ([[WalReader.WalDicts]]). Keyed
  * by the segment signature
  * (name, length, mtime) — the WAL writer only ever creates NEW segment
  * or checkpoint files, so any mutation changes the signature. Without
  * this cache every execution of every scan over the same WAL re-read
  * the segments on the driver and re-broadcast the dictionaries
  * (measured ~3 s per execution at sf0.1, nearly all of it
  * SizeEstimator + JavaSerializer walking the nested-Map object graph);
  * superseded broadcasts were never unpersisted. */
private[tsdbblock] object WalDictCache {
  import org.apache.spark.broadcast.Broadcast

  final case class Entry(
      sig: Seq[(String, Long, Long)],
      dictsB: Broadcast[WalReader.WalDicts],
      segments: Seq[String],
      segmentBytes: Map[String, Long],
      splitCandidates: Map[String, Array[Long]],
      facts: Option[SourceFacts],
      names: Option[EmittedNames])

  private val MaxEntries = 8
  private val cache =
    scala.collection.mutable.LinkedHashMap.empty[String, Entry]

  private def signature(walDir: String): Seq[(String, Long, Long)] =
    WalReader.segments(walDir).map { p =>
      val f = new java.io.File(p)
      (p, f.length(), f.lastModified())
    }

  /** `withFacts` walks the sample records too; a cached entry without
    * the facts is then rebuilt. Only [[TsdbDb.select]] asks for them,
    * and it does before planning any scan of the WAL. */
  def get(spark: SparkSession, walDir: String,
          withFacts: Boolean = false): Entry = synchronized {
    val sig = signature(walDir)
    cache.remove(walDir) match { // re-insert on hit: LRU order
      case Some(e) if e.sig == sig && (e.facts.isDefined || !withFacts) =>
        cache(walDir) = e; e
      case stale =>
        stale.foreach(_.dictsB.unpersist(false))
        val meta = WalReader.walMeta(walDir, withFacts)
        val dictsB = spark.sparkContext.broadcast(
          WalReader.WalDicts(meta.series, meta.stones))
        val e = Entry(sig, dictsB, meta.segments, meta.segmentBytes,
          meta.splitCandidates, meta.facts, meta.names)
        cache(walDir) = e
        if (cache.size > MaxEntries) {
          val (k, evicted) = cache.head
          cache.remove(k)
          evicted.dictsB.unpersist(false)
        }
        e
    }
  }
}

final class TsdbWalScan(path: String, required: StructType,
                        spark: SparkSession) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"tsdb-wal $path, columns [${required.fieldNames.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val e = WalDictCache.get(spark, path)
    val totalBytes = math.max(1L, e.segmentBytes.values.sum)
    val parallelism = math.max(1, spark.sparkContext.defaultParallelism)
    // FilePartition-style sizing, derived from input size and core
    // count rather than a constant: ceil(total/cores) clamped to
    // [candidate stride, maxPartitionBytes].
    val splitBytes = math.min(
      spark.sessionState.conf.filesMaxPartitionBytes,
      math.max((totalBytes + parallelism - 1) / parallelism,
        WalReader.CandidateStrideBytes))
    e.segments.flatMap { seg =>
      val bounds = Array.newBuilder[Long]
      bounds += 0L
      var last = 0L
      e.splitCandidates.getOrElse(seg, Array.empty[Long]).foreach { c =>
        if (c - last >= splitBytes) { bounds += c; last = c }
      }
      val bs = bounds.result()
      bs.indices.map { i =>
        val until = if (i + 1 < bs.length) bs(i + 1) else Long.MaxValue
        TsdbWalPartition(seg, bs(i), until): InputPartition
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val fields = required.fieldNames
    // the cached broadcast: dictionaries are global (samples may
    // reference series defined in an earlier segment), shipped once as
    // a compact blob and decoded once per executor
    val dictsB = WalDictCache.get(spark, path).dictsB
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[TsdbWalPartition]
      new PartitionReader[InternalRow] {
        private val wantLabels = fields.contains("labels")
        private val mapCache =
          scala.collection.mutable.Map.empty[Long, ArrayBasedMapData]
        private val dict = dictsB.value.series
        private val stones = dictsB.value.stones
        private val it = WalReader.samples(p.segment, p.from, p.until)
          .filter(s => dict.contains(s.ref)) // orphan refs: dropped
          .filterNot(s => stones.get(s.ref)
            .exists(Tombstones.deleted(_, s.time)))
        private var cur: WalReader.WalSample = _

        override def next(): Boolean = {
          if (it.hasNext) { cur = it.next(); true } else false
        }

        override def get(): InternalRow = {
          val labels = if (!wantLabels) null
          else mapCache.getOrElseUpdate(cur.ref, {
            val m = dict(cur.ref)
            val keys = m.keys.toArray.sorted
            new ArrayBasedMapData(
              ArrayData.toArrayData(keys.map(UTF8String.fromString)),
              ArrayData.toArrayData(keys.map(k => UTF8String.fromString(m(k)))))
          })
          val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(fields.length)
          var f = 0
          while (f < fields.length) {
            fields(f) match {
              case "time" => row.update(f, cur.time)
              // staleness markers → NULL (TsdbSchema contract)
              case "value" =>
                row.update(f,
                  if (graft.tsdb.TsdbSchema.isStaleMarker(cur.value)) null
                  else cur.value)
              case "labels" => row.update(f, labels)
            }
            f += 1
          }
          row
        }

        override def close(): Unit = ()
      }
    }
  }
}

/** Long-form views over a WAL's NON-sample record kinds — exemplars
  * (kind 4) and metric metadata (kind 6). Same distribution model as
  * the sample scan: the driver reads only the tiny series records for
  * the ref→labels dictionary, one task decodes one segment. */
object TsdbWalRecords {
  import org.apache.spark.sql.DataFrame

  /** Exemplars with their owning series' labels resolved:
    * `(time LONG, value DOUBLE, labels MAP, exemplar MAP)` — the WAL
    * twin of [[graft.tsdb.Exemplars]]' table. Orphan refs drop, as in
    * the sample path. */
  def readExemplars(spark: SparkSession, walDir: String): DataFrame = {
    import spark.implicits._
    val entry = WalDictCache.get(spark, walDir)
    val dictsB = entry.dictsB
    val segs = entry.segments
    spark.sparkContext.parallelize(segs, math.max(1, segs.size))
      .flatMap { seg =>
        val d = dictsB.value.series
        WalReader.exemplars(seg).flatMap(e =>
          d.get(e.ref).map(lbls => (e.time, e.value, lbls, e.labels)))
      }
      .toDF("time", "value", "labels", "exemplar")
  }

  /** Native-histogram samples (kinds 7/8) with series labels resolved —
    * a [[graft.tsdb.RemoteWrite.SparseHist]] frame, ready for
    * [[graft.tsdb.RemoteWrite.denseFromSparse]] and every NHCB
    * kernel. */
  def readHistograms(spark: SparkSession, walDir: String)
      : org.apache.spark.sql.Dataset[graft.tsdb.RemoteWrite.SparseHist] = {
    import spark.implicits._
    readHistogramsFull(spark, walDir).map { case (lbls, h) =>
      graft.tsdb.RemoteWrite.SparseHist(
        h.time, lbls, h.count, h.sum, h.schema,
        h.zeroThreshold, h.zeroCount, h.positive, h.negative)
    }
  }

  /** FULL-fidelity histogram samples — every [[WalReader.WalHistogram]]
    * field (counter-reset hint, NHCB custom values, float-ness), the
    * form [[TsdbBlockWriter]] re-encodes as histogram chunks during
    * head compaction. Head tombstones mask, orphan refs drop — the same
    * contract as the float sample scan. */
  def readHistogramsFull(spark: SparkSession, walDir: String)
      : org.apache.spark.sql.Dataset[(Map[String, String],
          WalReader.WalHistogram)] = {
    import spark.implicits._
    // cached fused pass: dict + stones from one read of the segments,
    // one compact-blob broadcast shared with every other scan of this WAL
    val entry = WalDictCache.get(spark, walDir)
    val dictsB = entry.dictsB
    val segs = entry.segments
    val rdd = spark.sparkContext.parallelize(segs, math.max(1, segs.size))
      .flatMap { seg =>
        val d = dictsB.value.series
        val stones = dictsB.value.stones
        WalReader.histograms(seg)
          .filterNot(h => stones.get(h.ref)
            .exists(Tombstones.deleted(_, h.time)))
          .flatMap(h => d.get(h.ref).map(lbls => (lbls, h)))
      }
    spark.createDataset(rdd)
  }

  private val TypeNames = Array("unknown", "counter", "gauge", "histogram",
    "gaugehistogram", "summary", "info", "stateset")

  /** The `/api/v1/metadata` view: DISTINCT (metric, type, unit, help)
    * resolved through the series dictionary. Metadata volume is
    * label-universe-sized, so the per-segment decode is metadata-only
    * work; the distinct is a tiny shuffle. */
  def readMetadata(spark: SparkSession, walDir: String): DataFrame = {
    import spark.implicits._
    val entry = WalDictCache.get(spark, walDir)
    val dictsB = entry.dictsB
    val segs = entry.segments
    spark.sparkContext.parallelize(segs, math.max(1, segs.size))
      .flatMap { seg =>
        val d = dictsB.value.series
        WalReader.metadata(seg).flatMap(m =>
          d.get(m.ref).map { lbls =>
            (lbls.getOrElse("__name__", ""),
              TypeNames.lift(m.metricType).getOrElse("unknown"),
              m.fields.getOrElse("unit", ""), m.fields.getOrElse("help", ""))
          })
      }
      .toDF("metric", "type", "unit", "help")
      .distinct()
  }
}

/** What the whole-DB merge needs to know about one source, read on
  * the driver (a block's index; the WAL's planning pass, extended to
  * walk the sample records): the inclusive time range of its float
  * samples (None when it holds none) and whether it provably holds no
  * two samples of one series at one timestamp. */
final case class SourceFacts(range: Option[(Long, Long)],
                             duplicateFree: Boolean) {
  def overlaps(that: SourceFacts): Boolean =
    range.zip(that.range).exists { case ((lo, hi), (lo2, hi2)) =>
      lo <= hi2 && lo2 <= hi }
}

/** The label names of the series a source emits at least one row for,
  * as far as the driver can tell without decoding a sample: `sure`
  * holds every name of a series known to emit one, `unsure` the name
  * sets of series that may or may not (each sample the driver can see
  * lies under a tombstone, but not all under one). The answer is exact
  * when every unsure set is already sure. */
final case class EmittedNames(sure: Set[String], unsure: Set[Set[String]]) {
  def ++(that: EmittedNames): EmittedNames =
    EmittedNames(sure ++ that.sure, unsure ++ that.unsure)
  def exact: Option[Seq[String]] =
    Option.when(unsure.forall(_.subsetOf(sure)))(sure.toSeq.sorted)
}

object EmittedNames {
  /** Fold `series` in. `emits` answers Some(true) for a series that
    * surely emits a row, Some(false) for one that surely does not, None
    * when the driver cannot tell; it runs only for a series with a name
    * not yet sure, so it is asked about a few series per name set. */
  def of[S](series: Iterator[S])(names: S => Iterable[String])(
      emits: S => Option[Boolean]): EmittedNames = {
    val sure = scala.collection.mutable.Set.empty[String]
    val unsure = scala.collection.mutable.Set.empty[Set[String]]
    series.foreach { s =>
      val ns = names(s)
      if (!ns.forall(sure)) emits(s) match {
        case Some(true) => sure ++= ns
        case Some(false) => ()
        case None => unsure += ns.toSet
      }
    }
    EmittedNames(sure.toSet, unsure.toSet)
  }

  /** Whether a run of samples (a chunk, a WAL ref's samples) whose first
    * and last timestamps are `lo` and `hi` emits a row under the merged
    * tombstones `ivs`: surely when an endpoint lies outside them (both
    * are sample times), surely not when one interval covers both, and
    * unknown when two intervals cover them — a sample in the gap would
    * show only in a decode. */
  def run(ivs: Seq[Tombstones.Interval], lo: Long, hi: Long): Option[Boolean] =
    if (!Tombstones.deleted(ivs, lo) || !Tombstones.deleted(ivs, hi)) Some(true)
    else if (ivs.exists(iv => iv.mint <= lo && hi <= iv.maxt)) Some(false)
    else None
}

/** The reference's whole-DB view (hello.go:429-447: `DBReadOnly.Querier`
  * over all blocks + the WAL head): one sample per (series, time)
  * across every block directory and the WAL, as Prometheus's storage
  * merge keeps.
  *
  * Like that merge, it pays for deduplication only where two samples
  * can collide. At construction the driver splits the sources: a
  * source whose time range overlaps no other source's, and which
  * provably holds no internal duplicate ([[SourceFacts]]), is unioned
  * straight into the output; the rest go through one (series, time)
  * aggregate, a shuffle. A disjoint, duplicate-free directory (say,
  * blocks cut on time windows plus a WAL that starts after the newest
  * block) therefore reads as a plain union of scans. Either way the
  * frame has the scan schema and the same rows.
  *
  * The decision costs one serial driver walk of every WAL float sample,
  * once per WAL segment signature (the [[WalDictCache]] entry keeps the
  * facts). The walk gives the WAL's range, which lets every block it
  * does not overlap pass through; where the WAL overlaps every block,
  * it buys nothing.
  */
object TsdbDb {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions._
  import graft.model.Matcher

  def read(spark: SparkSession, dbDir: String): DataFrame =
    select(spark, dbDir, Nil)

  /** The reference's `Querier(...).Select(matchers)` over the whole DB
    * (hello.go:442-447): blocks ∪ WAL head, label matchers applied,
    * deduped on (series, time). Eq/Re matchers push into the block
    * source as PLANNING-time series selection (non-matching series are
    * never scheduled, their chunks never fetched); every matcher is also
    * applied as a residual row filter so WAL rows and negative kinds get
    * identical semantics. Absent label ≡ "" throughout (hello.go:339-349).
    * A missing `dbDir` is an error naming it; a DB directory with neither
    * blocks nor a WAL answers no rows.
    *
    * Which sources merge is decided per source, from the whole
    * directory's facts, before any matcher narrows the series. The
    * frame carries the time range its sources span ([[timeRange]]) and,
    * without matchers, its label names, where the same driver reads can
    * tell them ([[labelNames]]). */
  def select(spark: SparkSession, dbDir: String,
             matchers: Seq[Matcher]): DataFrame = {
    val opts = matchers.collect {
      case Matcher.Eq(n, v) => s"matcher.$n" -> v
      case Matcher.Re(n, p) => s"matcher_re.$n" -> p
    }.toMap
    def residual(m: Matcher): Column = {
      def l(n: String) = coalesce(element_at(col("labels"), n), lit(""))
      m match {
        case Matcher.Eq(n, v) => l(n) === v
        case Matcher.NotEq(n, v) => l(n) =!= v
        case Matcher.Re(n, p) => l(n).rlike(p)
        case Matcher.NotRe(n, p) => !l(n).rlike(p)
      }
    }
    val root = new java.io.File(dbDir)
    val blockDirs = WalReader.listDir(dbDir, "TSDB")
      .filter(f => f.isDirectory && new java.io.File(f, "index").isFile)
      .map(_.getPath).sorted
    val wal = Option.when(new java.io.File(root, "wal").isDirectory)(
      WalDictCache.get(spark, s"$dbDir/wal", withFacts = true))
    val sources =
      blockDirs.toSeq.map(d =>
        (spark.read.format("tsdb-block").options(opts).load(d),
          BlockIndexCache.get(d).facts)) ++
        wal.map(e => (spark.read.format("tsdb-wal").load(s"$dbDir/wal"),
          e.facts.get))
    // label-only predicates select whole series, so filtering commutes
    // with the (series, time) dedup — apply before it, shrinking the
    // shuffle to the matched series
    def filtered(df: DataFrame) =
      matchers.foldLeft(df)((d, m) => d.where(residual(m)))
    val (merged, passed) = sources.indices.partition { i =>
      val f = sources(i)._2
      !f.duplicateFree ||
        sources.indices.exists(j => j != i && f.overlaps(sources(j)._2))
    }
    // maps aren't comparable: dedup on the sorted entry list, then
    // rebuild the map. One shuffle; at scale this is the same
    // merge-dedup Prometheus does per queried chunk, done set-wise.
    // min(value) ≡ the old row_number-over-(value ASC NULLS LAST)
    // first-row pick: min ignores NULLs (a real sample beats a
    // staleness marker) and is NULL only when every duplicate is a
    // marker — but unlike the window it partial-aggregates map-side
    // (duplicates collapse BEFORE the exchange) and needs no
    // per-partition sort.
    val deduped = merged.map(i => filtered(sources(i)._1))
      .reduceOption(_ unionByName _)
      .map(_.withColumn("_entries", array_sort(map_entries(col("labels"))))
        .groupBy(col("_entries"), col("time"))
        .agg(min(col("value")).as("value"))
        .select(col("time"), col("value"),
          map_from_entries(col("_entries")).as("labels")))
    val out = (passed.map(i => filtered(sources(i)._1)) ++ deduped)
      .reduceOption(_ unionByName _)
      // a DB directory with neither blocks nor a WAL holds no samples
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        TsdbBlockSource.schema))
    // every row lies in its source's range, matchers or not
    sources.flatMap(_._2.range).reduceOption((a, b) =>
      (math.min(a._1, b._1), math.max(a._2, b._2)))
      .foreach(withTimeRange(out, _))
    // the merge keeps at least one row of every (series, time) it takes
    // in, so the whole frame's names are the union of its sources'
    if (matchers.isEmpty)
      (blockDirs.toSeq.map(blockNames) ++ wal.flatMap(_.names))
        .foldLeft(EmittedNames(Set.empty, Set.empty))(_ ++ _)
        .exact.foreach(out.queryExecution.analyzed.setTagValue(NamesTag, _))
    out
  }

  private val NamesTag =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[Seq[String]](
      "graft.tsdb.labelNames")

  /** The sorted label names of the rows of `df`, known without a Spark
    * job when `df` is exactly a frame [[select]] built without matchers
    * (the names ride on its analyzed plan's root, so any frame derived
    * from it — a filter, a projection, a union — has none) and the
    * driver could tell them from the index, tombstones and WAL
    * dictionary it had already read; None otherwise. They are the
    * names of the directory as `select` saw it, the snapshot its merge
    * decision was taken on. */
  def labelNames(df: DataFrame): Option[Seq[String]] =
    df.queryExecution.analyzed.getTagValue(NamesTag)

  private val RangeTag =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[(Long, Long)](
      "graft.tsdb.timeRange")

  /** An inclusive `(lo, hi)` bound on the `time` of every row of `df`,
    * known without a Spark job when `df` is a frame [[select]] built
    * (the union of its sources' [[SourceFacts]] ranges) or one a caller
    * passed the bound on to with [[withTimeRange]]; None otherwise. Like
    * [[labelNames]], it rides on the analyzed plan's root, so a frame
    * derived from a tagged one has none. */
  def timeRange(df: DataFrame): Option[(Long, Long)] =
    df.queryExecution.analyzed.getTagValue(RangeTag)

  /** Tag `df` with `range`, which must bound the `time` of its rows — a
    * projection of a tagged frame that keeps `time` unchanged keeps it. */
  private[graft] def withTimeRange(df: DataFrame, range: (Long, Long)): DataFrame = {
    df.queryExecution.analyzed.setTagValue(RangeTag, range)
    df
  }

  /** A block's [[EmittedNames]]: a series emits a float row when one of
    * its XOR chunks has an endpoint outside the series' tombstones. The
    * index does not say a chunk's encoding, so the chunk's header is
    * read — for the few series whose names are not yet sure. */
  private def blockNames(dir: String): EmittedNames = {
    val stones = Tombstones.read(s"$dir/tombstones")
    val files =
      scala.collection.mutable.Map.empty[Int, java.io.RandomAccessFile]
    def isXor(c: IndexReader.ChunkRef): Boolean = {
      val f = files.getOrElseUpdate(c.segment, new java.io.RandomAccessFile(
        f"$dir/chunks/${c.segment + 1}%06d", "r"))
      f.seek(c.offset)
      // uvarint length (≤ 5 bytes for 32-bit sizes), then the encoding;
      // read answers -1 past the end, which ends the varint too
      var b = f.read()
      while (b > 0x7f) b = f.read()
      b >= 0 && f.read() == 1
    }
    try EmittedNames.of(BlockIndexCache.get(dir).series.iterator)(
        _.labels.keys) { s =>
      val ivs = stones.getOrElse(s.ref, Nil)
      // the float chunks that may emit: each surely (Some(true)) or
      // maybe (None); lazy, so the first sure one ends the reads
      val runs = s.chunks.to(LazyList)
        .map(c => c -> EmittedNames.run(ivs, c.minTime, c.maxTime))
        .collect { case (c, r) if !r.contains(false) && isXor(c) => r }
      if (runs.exists(_.contains(true))) Some(true)
      else if (runs.nonEmpty) None
      else Some(false)
    } finally files.values.foreach(_.close())
  }

  /** The whole-DB NATIVE-HISTOGRAM view — the histogram twin of [[read]]:
    * every block's histogram chunks ([[TsdbBlockRecords]]) ∪ the WAL's
    * kind-7/8 records ([[TsdbWalRecords.readHistogramsFull]]), deduped
    * on (series, time) as the storage merge keeps one sample per
    * series-timestamp across overlapping sources. A missing `dbDir` is
    * an error naming it. */
  def readHistograms(spark: SparkSession, dbDir: String)
      : org.apache.spark.sql.Dataset[(Map[String, String],
          WalReader.WalHistogram)] = {
    import spark.implicits._
    val root = new java.io.File(dbDir)
    val blockDirs = WalReader.listDir(dbDir, "TSDB")
      .filter(f => f.isDirectory && new java.io.File(f, "index").isFile)
      .map(_.getPath).sorted
    val parts =
      blockDirs.toSeq.map(d => TsdbBlockRecords.readHistograms(spark, d)) ++
        (if (new java.io.File(root, "wal").isDirectory)
          Seq(TsdbWalRecords.readHistogramsFull(spark, s"$dbDir/wal"))
        else Nil)
    if (parts.isEmpty)
      return spark.emptyDataset[(Map[String, String], WalReader.WalHistogram)]
    parts.reduce(_ union _)
      .groupByKey { case (lbls, h) => (lbls.toSeq.sorted, h.time) }
      // duplicates across overlapping sources are replays of the same
      // sample; pick the (count, sum, zeroCount)-least deterministically
      .reduceGroups { (a, b) =>
        val ka = (a._2.count, a._2.sum, a._2.zeroCount)
        val kb = (b._2.count, b._2.sum, b._2.zeroCount)
        if (implicitly[Ordering[(Double, Double, Double)]].lteq(ka, kb)) a
        else b
      }
      .map(_._2)
  }
}
