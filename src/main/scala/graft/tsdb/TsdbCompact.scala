package graft.tsdb

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Background compaction for the wide TSDB table — the Spark analogue of
  * Prometheus's TSDB compactor (the reference's block
  * `01GW1T7K3E9F9R361GDPVH8NZF` IS a compaction product: head chunks and
  * WAL segments merged into one sorted, indexed block; SURVEY.md §2.1 S1).
  *
  * Why it exists at 100 TB: the streaming sink ([[graft.streaming.TsdbStreamIngest]])
  * lands each micro-batch in its own `batch=<id>` directory, and appends
  * write one-file-per-partition — a day of 30-second batches is ~3k
  * directories of tiny files. Small files destroy scan performance
  * (per-file footer reads, no row-group pruning across files, scheduler
  * overhead per split) and schema-union cost grows with file count.
  * Compaction rewrites the accumulated state into few large, globally
  * time-sorted files:
  *
  *   - the output partition count is computed from observed input BYTES
  *     over `targetFileBytes` (the 128-512 MB knob), so file size — the
  *     thing that matters — is what's controlled, not file count;
  *   - one `repartitionByRange(time)` shuffle restores the tight
  *     time-slice-per-file layout (row-group min/max pruning);
  *   - the schema union across batches (dynamic columns, SURVEY §1.4) is
  *     materialized: post-compaction readers no longer pay mergeSchema
  *     over thousands of footers;
  *   - the `batch` partition column (idempotent-replay bookkeeping, never
  *     a `labels.*` column) is dropped — its job ended with the rewrite.
  *
  * Swap protocol: write to `<path>.compacting`, then
  * `rename(path, path.precompact)` + `rename(tmp, path)`. Data is never
  * lost, but the two renames are NOT one atomic step: a crash between
  * them leaves no table at `path` (readers fail) until recovery. Every
  * `compact()` therefore starts with [[recover]]: if `path` is missing
  * but `<path>.precompact` exists, the original is renamed back; stale
  * `.compacting`/`.precompact` leftovers are cleared. On an object store
  * the window is wider still — production there would flip a
  * manifest/catalog pointer instead, which is exactly what table formats
  * do. DataFrames planned BEFORE the swap hold the old file listing and
  * must re-resolve (`TsdbIngest.read` again) — the catalog-pointer
  * design is also what gives concurrent readers snapshot isolation at
  * scale.
  */
object TsdbCompact {

  final case class CompactionStats(
      filesBefore: Int, bytesBefore: Long,
      filesAfter: Int, bytesAfter: Long)

  private def parquetFiles(fs: FileSystem, dir: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val it = fs.listFiles(dir, true)
    val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) out += f
    }
    out.result()
  }

  /** Recover from a crash inside a previous compaction's swap window:
    * if `path` vanished mid-swap, the aside copy at `<path>.precompact`
    * is the authoritative table — rename it back (the half-finished
    * `.compacting` output is discarded and simply recomputed). With
    * `path` present, any leftovers are superseded and cleared. Returns
    * true when a rollback was performed. Safe to call at startup. */
  def recover(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val old = new Path(path + ".precompact")
    val tmp = new Path(path + ".compacting")
    val rolledBack =
      if (!fs.exists(p) && fs.exists(old)) {
        require(fs.rename(old, p), s"recovery failed: cannot restore $old to $p")
        true
      } else false
    fs.delete(tmp, true)
    if (fs.exists(p)) fs.delete(old, true)
    rolledBack
  }

  /** Rewrite the table at `path` into ≤ `targetFileBytes`-sized, globally
    * time-sorted parquet. Contents are exactly preserved (oracle-checked:
    * `tsdb_q21_compacted`); only layout changes. */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 256L << 20): CompactionStats = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    recover(spark, path)
    val before = parquetFiles(fs, p)
    val bytesBefore = before.map(_.getLen).sum
    // parquet re-encodes; sorted data usually compresses tighter than the
    // unsorted input, so this errs toward slightly-small files, never huge
    val nParts = math.max(1, math.ceil(bytesBefore.toDouble / targetFileBytes).toInt)

    val merged = TsdbIngest.read(spark, path)
    val df =
      if (merged.columns.contains("batch")) merged.drop("batch") else merged

    val tmp = new Path(path + ".compacting")
    fs.delete(tmp, true)
    TsdbIngest.write(df, tmp.toString, nParts)

    val old = new Path(path + ".precompact")
    fs.delete(old, true)
    require(fs.rename(p, old), s"compaction swap failed: cannot move $p aside")
    require(fs.rename(tmp, p), s"compaction swap failed: cannot move $tmp in")
    fs.delete(old, true)

    val after = parquetFiles(fs, p)
    CompactionStats(before.size, bytesBefore, after.size, after.map(_.getLen).sum)
  }
}
