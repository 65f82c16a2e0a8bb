package graft.tsdb

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.tsdbblock.{BlockMeta, TsdbBlockWriter}

/** promtool's data-dir tooling, Spark-side: OpenMetrics BACKFILL
  * (`promtool tsdb create-blocks-from openmetrics`) and the SNAPSHOT
  * admin API (`/api/v1/admin/tsdb/snapshot`) — the two operations that
  * move whole data dirs in and out of the storage the reference opens
  * read-only (hello.go:50-74).
  *
  * Backfill is parser ∘ block writer: the distributed OpenMetrics text
  * scan ([[SampleReaders.fromOpenMetricsLines]]) feeds
  * [[TsdbBlockWriter.write]]'s one-shuffle block assembly, one block
  * directory per time slice — at 100 TB the text never collects
  * anywhere; each slice's series land in one task. Snapshot is
  * metadata-sized for blocks (hard links, falling back to copies
  * across filesystems) plus one head compaction for the WAL — exactly
  * Prometheus's snapshot layout (block ULID dirs + the head flushed as
  * a block, no `wal/` in the snapshot).
  */
object Backfill {

  /** Backfill an OpenMetrics text file (or directory of files) into
    * TSDB block directories under `destRoot`; returns the block names.
    * `blockRangeMs` defaults to promtool's 2h. */
  def openMetrics(spark: SparkSession, textPath: String, destRoot: String,
                  blockRangeMs: Long = 2L * 3600 * 1000): Seq[String] = {
    val samples = SampleReaders.fromOpenMetricsText(spark, textPath)
    fromSamples(samples, destRoot, blockRangeMs)
  }

  /** Backfill long-form `(time, value, labels)` rows (any of the
    * [[SampleReaders]] formats) into blocks. */
  def fromSamples(samples: DataFrame, destRoot: String,
                  blockRangeMs: Long = 2L * 3600 * 1000): Seq[String] =
    TsdbBlockWriter.write(samples, destRoot, blockRangeMs)

  /** `promtool tsdb create-blocks-from rules` — evaluate a rule FILE's
    * recording rules over a historical range and land the recorded
    * series as real TSDB blocks: [[RuleFiles.evaluate]] (each group on
    * its own interval, rule labels attached) ∘ the one-shuffle block
    * assembly. The promtool workflow for "I wish this recording rule
    * had existed months ago" — here the historical evaluation is ONE
    * evalRange pass per rule instead of promtool's step-by-step
    * re-query loop. Alerting rules in the file are ignored, exactly as
    * promtool does. */
  def fromRules(rulesYaml: String, wide: DataFrame, start: Long, end: Long,
                defaultStepMs: Long, lookbackMs: Long, destRoot: String,
                blockRangeMs: Long = 2L * 3600 * 1000): Seq[String] = {
    val (recorded, _) = RuleFiles.evaluate(rulesYaml, wide, start, end,
      defaultStepMs, lookbackMs)
    val rec = recorded.getOrElse(throw new IllegalArgumentException(
      "create-blocks-from rules: the file has no recording rules"))
    fromSamples(Federate.longForm(rec, TsdbSchema.metricLabel(rec)),
      destRoot, blockRangeMs)
  }

  /** `/api/v1/admin/tsdb/snapshot`: materialize a consistent copy of
    * the data dir under `destDir` — every block hard-linked file by
    * file (copy when the link fails, e.g. across filesystems), the WAL
    * head flushed as real block(s) via head compaction. The original
    * dir is untouched; the snapshot contains no `wal/` (its content
    * now lives in the flushed block), so it reads back identically
    * through [[graft.sources.tsdbblock.TsdbDb.read]]. `skipHead` is the
    * admin API's `skip_head` parameter: blocks only, the WAL head left
    * out. Returns the snapshot's block names. */
  def snapshot(spark: SparkSession, dbDir: String, destDir: String,
               blockRangeMs: Long = 2L * 3600 * 1000,
               skipHead: Boolean = false): Seq[String] = {
    Files.createDirectories(Paths.get(destDir))
    val blocks = BlockMeta.list(dbDir)
    blocks.foreach { m =>
      val name = Paths.get(m.dir).getFileName.toString
      linkTree(Paths.get(m.dir), Paths.get(destDir, name))
    }
    val wal = Paths.get(dbDir, "wal")
    val headNames =
      if (!skipHead && Files.isDirectory(wal))
        TsdbBlockWriter.compactWal(spark, wal.toString, destDir, blockRangeMs)
      else Nil
    blocks.map(m => Paths.get(m.dir).getFileName.toString) ++ headNames
  }

  private def linkTree(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    Files.list(src).forEach { p =>
      val t = dst.resolve(p.getFileName)
      if (Files.isDirectory(p)) linkTree(p, t)
      else
        try { Files.createLink(t, p); () }
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING); () }
    }
  }
}
