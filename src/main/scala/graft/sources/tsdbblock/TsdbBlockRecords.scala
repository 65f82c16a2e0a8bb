package graft.sources.tsdbblock

import org.apache.spark.sql.{Dataset, SparkSession}

/** Native-histogram scan over a TSDB block directory — the read twin of
  * [[TsdbBlockWriter]]'s histogram chunks (encodings 2/3, [[HistChunk]])
  * and the block-tier sibling of [[TsdbWalRecords.readHistograms]]. The
  * reference consumes only float chunks (`chunkenc.ValFloat`,
  * hello.go:490); this scan is what makes the engine's own lifecycle
  * paths (snapshot, backfill, compaction — the q108–q139 family)
  * round-trip the histogram samples its WAL, wire and query tiers carry.
  *
  * Planned as the float scan is ([[TsdbBlockSource.planSeries]]): the
  * driver reads only the index and tombstones, fully deleted chunks
  * never schedule, and the task count follows the chunk count. Each
  * task fetches its own chunks ([[ChunkFile.Reader]]); a float (XOR)
  * chunk costs one 8-byte header read — the encoding byte routes,
  * nothing decodes. Partly deleted chunks mask per sample.
  */
object TsdbBlockRecords {

  /** FULL-fidelity histogram samples `(labels, sample)` from one block
    * directory — every [[WalReader.WalHistogram]] field survives, so a
    * compaction re-encode is lossless. */
  def readHistograms(spark: SparkSession, blockDir: String)
      : Dataset[(Map[String, String], WalReader.WalHistogram)] = {
    import spark.implicits._
    val slices = TsdbBlockSource.planSeries(spark, blockDir, None)
    val rdd = spark.sparkContext.parallelize(slices, slices.size).flatMap { part =>
      // streaming scan: files close at task end, samples never buffer
      val chunks = new ChunkFile.Reader(blockDir)
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => chunks.close()))
      part.iterator.flatMap { s =>
        s.chunks.iterator.flatMap { c =>
          val (enc, data) = chunks.fetch(c)(e =>
            e == HistChunk.EncHistogram || e == HistChunk.EncFloatHistogram)
          if (data == null) Iterator.empty
          else HistChunk.decode(data, enc == HistChunk.EncFloatHistogram)
            .iterator
            .filterNot(h => Tombstones.deleted(s.deleted, h.time))
            .map(h => (s.labels, h))
        }
      }
    }
    spark.createDataset(rdd)
  }

  /** The [[graft.tsdb.RemoteWrite.SparseHist]] view — what
    * [[graft.tsdb.RemoteWrite.denseFromSparse]] and the PromQLHist
    * query tier consume. */
  def readHistogramsSparse(spark: SparkSession, blockDir: String)
      : Dataset[graft.tsdb.RemoteWrite.SparseHist] =
    sparseView(readHistograms(spark, blockDir))

  /** Project a full-fidelity histogram frame (this scan's,
    * [[TsdbDb.readHistograms]]', or the WAL's) down to the query tier's
    * [[graft.tsdb.RemoteWrite.SparseHist]] shape. */
  def sparseView(ds: Dataset[(Map[String, String], WalReader.WalHistogram)])
      : Dataset[graft.tsdb.RemoteWrite.SparseHist] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map { case (lbls, h) =>
      graft.tsdb.RemoteWrite.SparseHist(
        h.time, lbls, h.count, h.sum, h.schema,
        h.zeroThreshold, h.zeroCount, h.positive, h.negative)
    }
  }
}
