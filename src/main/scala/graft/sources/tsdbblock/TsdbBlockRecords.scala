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
  * Distribution model mirrors the float scan ([[TsdbBlockSource]]): the
  * driver reads only the index to plan; series round-robin across
  * partitions; each task seeks its own chunks. Float (XOR) chunks cost
  * one 8-byte header read each — the encoding byte routes, nothing
  * decodes. Tombstones prune fully-deleted chunks at planning time and
  * mask per-sample in the reader, exactly as the float path does.
  */
object TsdbBlockRecords {

  /** FULL-fidelity histogram samples `(labels, sample)` from one block
    * directory — every [[WalReader.WalHistogram]] field survives, so a
    * compaction re-encode is lossless. */
  def readHistograms(spark: SparkSession, blockDir: String,
                     partitions: Int = 16)
      : Dataset[(Map[String, String], WalReader.WalHistogram)] = {
    import spark.implicits._
    val stones = Tombstones.read(s"$blockDir/tombstones")
    val series = BlockIndexCache.get(blockDir).series
      .map(s => stones.get(s.ref).fold(s)(ivs => s.copy(deleted = ivs)))
      .flatMap { s =>
        val keep = s.chunks.filterNot(c => s.deleted.exists(iv =>
          iv.mint <= c.minTime && c.maxTime <= iv.maxt))
        if (keep.isEmpty) None else Some(s.copy(chunks = keep))
      }
    val n = math.max(1, math.min(partitions, series.size))
    val slices = (0 until n).map(p =>
      series.zipWithIndex.collect { case (s, i) if i % n == p => s })
    val rdd = spark.sparkContext.parallelize(slices, n).flatMap { part =>
      val segments =
        scala.collection.mutable.Map.empty[Int, java.io.RandomAccessFile]
      def segment(k: Int): java.io.RandomAccessFile =
        segments.getOrElseUpdate(k, new java.io.RandomAccessFile(
          f"$blockDir/chunks/${k + 1}%06d", "r"))
      // streaming scan: files close at task end, samples never buffer
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ =>
          segments.values.foreach(_.close())))
      part.iterator.flatMap { s =>
        s.chunks.iterator.flatMap { c =>
          val f = segment(c.segment)
          f.seek(c.offset)
          val head = new Array[Byte](8)
          f.readFully(head)
          val hr = new Binary.ByteReader(head, 0)
          val len = hr.uvarint().toInt
          val enc = hr.u8()
          if (enc != HistChunk.EncHistogram &&
              enc != HistChunk.EncFloatHistogram) Iterator.empty
          else {
            val data = new Array[Byte](len)
            val fromHead = math.min(len, head.length - hr.pos)
            System.arraycopy(head, hr.pos, data, 0, fromHead)
            if (fromHead < len) {
              f.seek(c.offset + hr.pos + fromHead)
              f.readFully(data, fromHead, len - fromHead)
            }
            HistChunk.decode(data, enc == HistChunk.EncFloatHistogram)
              .iterator
              .filterNot(h => Tombstones.deleted(s.deleted, h.time))
              .map(h => (s.labels, h))
          }
        }
      }
    }
    spark.createDataset(rdd)
  }

  /** The [[graft.tsdb.RemoteWrite.SparseHist]] view — what
    * [[graft.tsdb.RemoteWrite.denseFromSparse]] and the PromQLHist
    * query tier consume. */
  def readHistogramsSparse(spark: SparkSession, blockDir: String,
                           partitions: Int = 16)
      : Dataset[graft.tsdb.RemoteWrite.SparseHist] =
    sparseView(readHistograms(spark, blockDir, partitions))

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
