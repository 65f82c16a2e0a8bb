package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Sample
import graft.sources.tsdbblock.TsdbDb

/** Ingest pipeline: long-form samples → wide dynamic-column parquet table
  * (SURVEY.md §2.1 S1-S3/S5/S6, §3.1; reference `readTsdb` first half,
  * hello.go:429-509).
  *
  * The reference's two-pass semantics (union all label names to fix the
  * concrete schema, then fill rows — commented path hello.go:216-233, and
  * what FrostDB's dynamic columns do incrementally inside `table.Write`)
  * map to:
  *   pass 1: `select(map_keys(labels)).distinct()`, flattened on the
  *           driver — a map-side partial-aggregated distinct; at 100 TB
  *           this is a cheap shuffle of label-name-SET cardinality
  *           (thousands), not data size.
  *   pass 2: one projection `labels[name] AS labels.name` per discovered
  *           name — no shuffle at all; executed columnar + codegen'd.
  *
  * Write layout (≡ simpleSchema() knobs, hello.go:120-157):
  *   - sorted by (time ASC, label cols ASC NULLS FIRST) — hello.go:148-155.
  *     At scale: one time-placing shuffle + `sortWithinPartitions`, so
  *     each parquet file covers a tight, disjoint time slice ⇒ row-group
  *     min/max stats prune time-range queries (see [[write]]).
  *   - snappy + dictionary encoding: Spark parquet defaults already match
  *     (dictionary ≡ RLE_DICTIONARY on label columns).
  *   - later batches carrying NEW label names simply write a superset
  *     schema; `read` reconciles with mergeSchema (FrostDB's read-time
  *     dynamic-column union).
  */
object TsdbIngest {
  import TsdbSchema._

  /** Pass 1 — discover the label-name universe (hello.go:216-233).
    * Over exactly the frame [[graft.sources.tsdbblock.TsdbDb.read]]
    * (or `select` without matchers) returned, the names come from the
    * block indexes, tombstones and WAL dictionary that call already
    * read, with no Spark job ([[graft.sources.tsdbblock.TsdbDb.labelNames]]).
    * Any other frame — one derived from it included — takes the decode
    * pass: the distinct label-name SETS, flattened on the driver. A
    * distinct over a column of the input's own grouping keys lets
    * Catalyst drop an aggregate directly beneath it
    * (`RemoveRedundantAggregates`); over a directory where some sources
    * pass through and some merge, the distinct sits above the union
    * and the merged part's aggregate still runs (ROADMAP 6(d)). */
  def labelNames(longForm: DataFrame): Seq[String] =
    TsdbDb.labelNames(longForm).getOrElse(
      longForm
        .select(map_keys(col(LabelsCol)).as("names"))
        .distinct()
        .collect() // distinct label-name sets: small by construction
        .flatMap(r => Option(r.getSeq[String](0)).getOrElse(Nil))
        .distinct
        .sorted
        .toSeq)

  /** Pass 2 — pivot long form to the wide dynamic-column form. Absent
    * label ⇒ NULL (map lookup of a missing key is NULL — exactly the
    * sparse-column semantics of README.md:71-73). Empty-string label
    * values are stored as written; the decode path treats them as absent
    * (hello.go:339-349), which [[TsdbSeries.regroup]] reproduces. */
  def toWide(longForm: DataFrame, names: Seq[String]): DataFrame = {
    val labelCols: Seq[Column] =
      names.map(n => col(LabelsCol).getItem(n).as(labelColName(n)))
    val wide = longForm.select(col(TimeCol) +: col(ValueCol) +: labelCols: _*)
    // `time` passes through unchanged, so the input's known range holds
    TsdbDb.timeRange(longForm).fold(wide)(TsdbDb.withTimeRange(wide, _))
  }

  def toWide(longForm: DataFrame): DataFrame =
    toWide(longForm, labelNames(longForm))

  /** Sorted, pruning-friendly parquet write (R2; hello.go:148-155):
    * `timePartitions` time-disjoint files, each sorted by (time, label
    * columns asc, nulls first). At 100 TB pick bytes/partition ≈
    * 128-512 MB; here the caller passes a small count.
    *
    * ONE exchange places the rows. When the driver already knows a bound
    * on the frame's times ([[TsdbDb.timeRange]]: a [[TsdbDb.read]] frame,
    * through [[toWide]]), it is a `repartitionById` over
    * `timePartitions` equal time slices, clamped to the bound, and no
    * job runs before it. Any other frame takes `repartitionByRange(time)`,
    * whose partition bounds cost a sampling job over the input. */
  def write(wide: DataFrame, path: String, timePartitions: Int = 8,
            mode: SaveMode = SaveMode.Overwrite): Unit = {
    val sortCols: Seq[Column] =
      col(TimeCol).asc +: labelColumns(wide).map(c => col(s"`$c`").asc_nulls_first)
    val placed = TsdbDb.timeRange(wide) match {
      case Some((lo, hi)) =>
        val span = ((hi - lo) / timePartitions + 1).toDouble
        val slice = floor((col(TimeCol) - lit(lo)) / lit(span))
        wide.repartitionById(timePartitions,
          least(greatest(slice, lit(0L)), lit(timePartitions - 1L)).cast("int"))
      case None => wide.repartitionByRange(timePartitions, col(TimeCol))
    }
    placed
      .sortWithinPartitions(sortCols: _*)
      .write
      .mode(mode)
      .option("parquet.enable.dictionary", "true")
      // v2 writer + per-column dictionary opt-out: sorted int64 `time`
      // gets DELTA_BINARY_PACKED, the reference's declared encoding for
      // the time column (hello.go:131-138: delta-packed, NOT dictionary)
      .option("parquet.writer.version", "v2")
      .option(s"parquet.enable.dictionary#$TimeCol", "false")
      .option("compression", "snappy")
      .parquet(path)
    writeSchemaManifest(wide, path)
  }

  // ---- schema manifests ----
  // mergeSchema=true reconciles dynamic columns by reading EVERY file's
  // footer at planning — O(files) driver work, the thing that dies first
  // at 100 TB (a year of appends is millions of footers). Each write()
  // therefore records its schema once under `_schema/` (underscore ⇒
  // invisible to the parquet reader); read() unions the handful of
  // manifests instead. This is FrostDB's table-level schema registry /
  // a table format's manifest, in minimal form. Appends from OTHER
  // writers (which record no manifest) are detected by modification
  // time: if any data file is newer than the newest manifest, read()
  // distrusts the manifests and falls back to mergeSchema, so foreign
  // columns can never silently vanish behind a stale explicit schema.

  private val SchemaDir = "_schema"

  private[tsdb] def writeSchemaManifest(wide: DataFrame, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(wide.sparkSession.sessionState.newHadoopConf())
    val dir = new org.apache.hadoop.fs.Path(path, SchemaDir)
    fs.mkdirs(dir)
    // name = epochMs + uuid: listing order ⇒ write order ⇒ deterministic
    // column order on read (first writer's columns first)
    val f = new org.apache.hadoop.fs.Path(dir,
      f"${System.currentTimeMillis()}%013d-${java.util.UUID.randomUUID()}.json")
    val out = fs.create(f, true)
    try out.write(wide.schema.json.getBytes("UTF-8")) finally out.close()
    // read()'s staleness probe trusts manifests only when STRICTLY newer
    // than every data file; stamp past the newest data mtime so an
    // internal write can never tie with its own files on a coarse-mtime
    // filesystem (ties are reserved for foreign appends)
    val newestData = fs.listStatus(p)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getModificationTime).foldLeft(0L)(math.max)
    val stamp = math.max(System.currentTimeMillis(), newestData + 1)
    if (fs.getFileStatus(f).getModificationTime <= newestData)
      fs.setTimes(f, stamp, -1)
  }

  /** Whether the table already records schema manifests. */
  private[tsdb] def hasSchemaManifests(spark: SparkSession, path: String): Boolean = {
    val sd = new org.apache.hadoop.fs.Path(path, SchemaDir)
    val fs = sd.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(sd) && fs.listStatus(sd).exists(_.getPath.getName.endsWith(".json"))
  }

  /** Fold all recorded manifests into ONE carrying their union schema —
    * the registry's own compaction. A year of appends is thousands of
    * manifest files; the union is what read() computes anyway, so
    * materializing it keeps the planning listing O(1). Crash-safe by
    * ordering: the union manifest lands (newest, so read() trusts it)
    * BEFORE the old ones are deleted — the worst case is duplicate
    * manifests, and the union is idempotent. First-seen column order is
    * preserved, so reads before and after produce identical schemas. */
  def compactManifests(spark: SparkSession, path: String): Int = {
    val sd = new org.apache.hadoop.fs.Path(path, SchemaDir)
    val fs = sd.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(sd)) return 0
    val old = fs.listStatus(sd).filter(_.getPath.getName.endsWith(".json"))
    if (old.length <= 1) return old.length
    val union = manifestSchema(spark, path)
      .getOrElse(return 0)
    val f = new org.apache.hadoop.fs.Path(sd,
      f"${System.currentTimeMillis()}%013d-${java.util.UUID.randomUUID()}.json")
    val out = fs.create(f, true)
    try out.write(union.json.getBytes("UTF-8")) finally out.close()
    old.foreach(s => fs.delete(s.getPath, false))
    1
  }

  /** Union of all recorded schemas, by field name, first-seen order. */
  private def manifestSchema(spark: SparkSession,
                             path: String): Option[org.apache.spark.sql.types.StructType] = {
    val p = new org.apache.hadoop.fs.Path(path, SchemaDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return None
    val files = fs.listStatus(p).filter(_.getPath.getName.endsWith(".json"))
      .sortBy(_.getPath.getName)
    if (files.isEmpty) return None
    val fields = scala.collection.mutable.LinkedHashMap
      .empty[String, org.apache.spark.sql.types.StructField]
    files.foreach { st =>
      val in = fs.open(st.getPath)
      val json = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 64 * 1024, false)
        buf.toString("UTF-8")
      } finally in.close()
      org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .fields.foreach(f => if (!fields.contains(f.name)) fields(f.name) = f)
    }
    Some(org.apache.spark.sql.types.StructType(fields.values.toSeq))
  }

  /** Read the wide table back, unioning schemas across batches (the
    * dynamic-column read-time union). Fast path: the manifest union with
    * an explicit schema — planning cost independent of file count.
    * Fallback (no manifests; Hive-style partition dirs whose inferred
    * partition columns an explicit schema would suppress; or any data
    * file NEWER than the newest manifest, i.e. an append by a writer
    * that records no manifest — trusting the manifests there would
    * silently drop that writer's new columns): mergeSchema. The
    * staleness probe is one directory listing, which the scan's own
    * file-index planning repeats anyway — not an extra O(files) footer
    * read. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val entries =
      if (fs.exists(p)) fs.listStatus(p).toSeq
      else Seq.empty[org.apache.hadoop.fs.FileStatus]
    val hasPartitionDirs =
      entries.exists(s => s.isDirectory && s.getPath.getName.contains("="))
    val newestData = entries
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getModificationTime)
      .foldLeft(Long.MinValue)(math.max)
    val newestManifest = {
      val sd = new org.apache.hadoop.fs.Path(p, SchemaDir)
      if (fs.exists(sd))
        fs.listStatus(sd).filter(_.getPath.getName.endsWith(".json"))
          .map(_.getModificationTime).foldLeft(Long.MinValue)(math.max)
      else Long.MinValue
    }
    manifestSchema(spark, path) match {
      // strict <: a data file stamped the same instant as the newest
      // manifest (coarse-mtime filesystems) could be a foreign append —
      // ties conservatively fall back to mergeSchema
      case Some(schema) if !hasPartitionDirs && newestData < newestManifest =>
        spark.read.schema(schema).parquet(path)
      case _ => spark.read.option("mergeSchema", "true").parquet(path)
    }
  }

  /** Metric-partitioned layout — the mentorship notes' "one file per
    * metric … sorted by timestamp" design (SURVEY §6), as Hive-style
    * directory partitioning on the metric name: `__metric=<name>/…`.
    * An `Eq("__name__", v)` matcher then prunes to ONE directory at
    * planning (PartitionFilters — zero I/O for other metrics), and
    * within each directory files stay time-sorted for row-group
    * pruning. At 100 TB this bounds every single-metric query by that
    * metric's bytes, not the corpus's. The metric column is DUPLICATED
    * into the partition directory (kept as a data column too, so the
    * wide schema is unchanged on read). */
  def writePartitionedByMetric(wide: DataFrame, path: String,
                               timePartitions: Int = 8): Unit = {
    val nameCol = labelColName("__name__")
    require(wide.columns.contains(nameCol), s"no $nameCol column")
    val sortCols: Seq[Column] =
      col(TimeCol).asc +: labelColumns(wide).map(c => col(s"`$c`").asc_nulls_first)
    wide
      .withColumn("__metric", coalesce(col(s"`$nameCol`"), lit("__none__")))
      .repartitionByRange(timePartitions, col("__metric"), col(TimeCol))
      .sortWithinPartitions(sortCols: _*)
      .write
      .partitionBy("__metric")
      .mode(SaveMode.Overwrite)
      .option("parquet.enable.dictionary", "true")
      .option("compression", "snappy")
      .parquet(path)
  }

  /** Read back a metric-partitioned table. `__metric` stays in the
    * schema so [[TsdbTable.select]] can translate an `Eq("__name__", v)`
    * matcher into a partition filter; it is never projected into query
    * output (it is not a `labels.*` column). */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Full ingest: typed samples → wide sorted parquet (S3+S5 in one —
    * Spark has no separate in-memory tier). */
  def ingest(samples: Dataset[Sample], path: String): Unit =
    write(toWide(samples.toDF()), path)
}
