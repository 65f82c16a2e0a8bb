package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.tsdb.TsdbIngest

/** Continuous TSDB ingestion — the streaming completion of the
  * reference's batch convert loop (hello.go:479-508 walks a static
  * block once; a live system tails samples forever).
  *
  * Each micro-batch pivots long→wide with the BATCH's own label
  * universe and writes sorted, time-sliced parquet. Batches carrying
  * never-seen label names simply write a superset schema; readers union
  * with `mergeSchema` — FrostDB's on-the-fly dynamic columns, realized
  * as schema evolution.
  *
  * Delivery: `foreachBatch` alone is at-least-once (the job can die
  * after a parquet commit but before the checkpoint records the batch,
  * and the restart re-runs it). The sink is therefore made IDEMPOTENT
  * on batchId: every batch lands in its own `batch=<id>` partition
  * directory with Overwrite, so a replayed batch rewrites the same
  * directory instead of appending duplicates — at-least-once replay ×
  * idempotent write = effectively-once table contents. Readers see
  * `batch` as an ordinary Hive-style partition column (never a
  * `labels.*` column, so query output is unchanged).
  *
  * State: none (stateless transform) — at 100 TB/day the only scaling
  * knob is `timePartitions` per batch (files per time slice).
  */
object TsdbStreamIngest {

  /** Idempotent per-batch write: deterministic directory from batchId +
    * Overwrite ⇒ re-running a batch is a no-op on table contents. */
  def writeBatch(batch: DataFrame, path: String, batchId: Long,
                 timePartitions: Int = 4): Unit =
    TsdbIngest.write(TsdbIngest.toWide(batch), f"$path/batch=$batchId%010d",
      timePartitions, SaveMode.Overwrite)

  /** @param samples streaming long-form frame: (time LONG, value DOUBLE,
    *                labels MAP<STRING,STRING>)
    * @param path wide-table output directory
    * @param checkpoint checkpoint directory (offset bookkeeping)
    */
  def start(samples: DataFrame, path: String, checkpoint: String,
            timePartitions: Int = 4): StreamingQuery =
    samples.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, path, batchId, timePartitions)
      }
      .start()

  /** Continuous ingestion into a REAL Prometheus WAL — the sink a
    * streaming remote-write receiver runs: each micro-batch lands as
    * wlog segments whose indices derive from the batch id
    * (`batchId × partitions + task`), so an at-least-once replay
    * re-writes the same files instead of appending duplicates —
    * idempotent like [[writeBatch]]'s partition-per-batch rule, but in
    * the reference storage format. The head-GC lifecycle composes: a
    * caller can `TsdbWalWriter.checkpoint` the dir between (not
    * during) runs exactly as Prometheus truncates its head.
    *
    * Every batch writes exactly `partitions` segments, empty ones
    * included, so the numbering stays sequential across batches.
    *
    * Scale: per batch, ONE exchange (the series placement inside
    * [[graft.sources.tsdbblock.TsdbWalWriter.write]]), a sort within
    * each task and one streamed segment per task — state-free, so
    * throughput tracks arrival rate. */
  def startWalSink(samples: DataFrame, walDir: String, checkpoint: String,
                   partitions: Int = 4): StreamingQuery =
    samples.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.tsdbblock.TsdbWalWriter.write(
          batch, walDir, partitions,
          baseSegment = Some((batchId * partitions).toInt)): Unit
      }
      .start()
}
