package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Deterministic Lloyd's k-means over an embedding column — the
  * clustering pass behind semantic dedup / corpus curation / IVF index
  * training. The Spark shape is the canonical one: centroids are tiny
  * (k·dim doubles) and live on the driver, broadcast into each
  * assignment pass as literal expressions; the data is never collected
  * and each iteration is one codegen'd map (assign) plus one
  * partial-aggregated shuffle of (cluster, component) partial sums —
  * O(k·dim) rows, independent of corpus size. That is exactly the
  * 1000-executor shape: iterations add driver round-trips of kilobytes,
  * not data movement.
  *
  * Determinism (oracle-replayable):
  *   - init centroids = the embeddings of the k ids with the smallest
  *     (portable md5 hash, id) — a seedless deterministic sample;
  *   - per-component means are ROUNDED (6 dp) before the next assignment
  *     so both engines compare distances of identical literals;
  *   - assignment ties break toward the smallest cluster index;
  *   - distances fold sequentially component-by-component (same IEEE op
  *     order as the oracle's list_sum).
  */
object Clustering {

  /** Default bounded training-sample size: max(50k, 1000·k) rows.
    * Lloyd's update pass aggregates the TRAINING set once per
    * iteration — at 100 TB an unbounded loop makes training the
    * dominant pipeline cost, while a 50k-row uniform sample already
    * estimates k·dim means to ~1/√(50k/k) relative error. The sample
    * is the deterministic bottom-`n` rows by (portable hash, id), the
    * same ordering the bootstrap uses, so selection is seedless and
    * oracle-replayable. */
  def defaultTrainSample(k: Int): Int = math.max(50000, 1000 * k)

  /** Squared L2 distance between the vector column and a centroid given
    * as per-component literals — the native codegen'd kernel
    * ([[graft.functions.SquaredDistance]]), same left-to-right fold
    * order as the declarative form and the oracle's list_sum (the
    * higher-order `aggregate` runs interpreted, and the assignment
    * evaluates k of these per row per Lloyd iteration). */
  private def sqDist(v: Column, centroid: Seq[Double]): Column =
    graft.functions.VectorFunctions.sqDistNative(
      v, array(centroid.map(lit): _*))

  /** [[kmeansAssign]] keeping the (double-cast) vector column in the
    * output — consumers that need both (cell-blocked pairing) read the
    * assignment as ONE map pass instead of joining assignments back to
    * vectors on id (which would shuffle the whole corpus twice). */
  private def assignFull(emb: DataFrame, idCol: String, vecCol: String,
                         k: Int, iters: Int,
                         trainSample: Int): DataFrame = {
    // Each Lloyd iteration re-scans only the TRAINING SAMPLE (persisted
    // and unpersisted inside trainCentroids); `base` itself is a cheap
    // projection read twice lazily (bottom-k scan + final assignment) —
    // NOT persisted: a corpus-sized block-manager entry nobody
    // unpersists leaks across calls in a long-lived session, and at
    // 100 TB "cache the corpus" is not a default anyone can run.
    // Callers wanting the write-once materialization persist upstream.
    val base = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))

    val centroids = trainCentroids(base, k, iters, trainSample)

    val dists = centroids.map(c => sqDist(col("v"), c))
    val mind = dists.reduce(least(_, _))
    // first-match-wins when-chain ⇒ ties pick the smallest index
    val cluster = dists.zipWithIndex.tail.foldLeft(
      when(dists.head === mind, lit(0))) { case (acc, (d, i)) =>
      acc.when(d === mind, lit(i))
    }
    // the chosen cluster is the argmin, so its distance IS the min
    base.withColumn("cluster", cluster).withColumn("dist", mind)
  }

  /** The training half alone: Lloyd's loop over the deterministic
    * bounded sample, centroids out. `trainSample <= 0` picks
    * [[defaultTrainSample]]; an explicit positive value is used as-is
    * (the bootstrap needs at least k rows, so it is clamped to k).
    * Cost model at 100 TB: ONE linear bottom-k scan selects the
    * sample, then every per-iteration aggregation touches only the
    * sample — training cost is FLAT in corpus size. `pre` must carry
    * (id, v: array<double>). */
  private[graft] def trainCentroids(pre: DataFrame, k: Int, iters: Int,
                                        trainSample: Int)
      : IndexedSeq[Seq[Double]] = {
    val n = math.max(if (trainSample > 0) trainSample
                     else defaultTrainSample(k), k)
    // bottom-n by (portable hash, id): Spark plans orderBy+limit as
    // TakeOrderedAndProject — per-partition top-n then a single merge,
    // never a full sort. Re-spread the sample so iteration scans
    // parallelize, and persist it: iters passes re-read it.
    val sp = pre.sparkSession
    val samp = pre
      .withColumn("h", Hashing.hash64(col("id").cast("string")))
      .orderBy(col("h").asc, col("id").asc)
      .limit(n)
      .repartition(sp.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      .persist()

    // deterministic bootstrap: the sample's own (h, id) prefix — k rows
    // to the driver (k·dim doubles, the standard centroid exchange)
    var centroids: IndexedSeq[Seq[Double]] = samp
      .orderBy(col("h").asc, col("id").asc)
      .limit(k)
      .select(col("v"))
      .collect()
      .map(_.getSeq[Double](0).toIndexedSeq)
      .toIndexedSeq
    require(centroids.nonEmpty, "kmeans over an empty corpus")

    (1 to iters).foreach { _ =>
      val dists = centroids.map(c => sqDist(col("v"), c))
      val mind = dists.reduce(least(_, _))
      val cluster = dists.zipWithIndex.tail.foldLeft(
        when(dists.head === mind, lit(0))) { case (acc, (d, i)) =>
        acc.when(d === mind, lit(i))
      }
      // per-(cluster, component) means over the SAMPLE: k·dim result
      // rows, partial-agg'd
      val means = samp
        .withColumn("cluster", cluster)
        .select(col("cluster"), posexplode(col("v")).as(Seq("j", "x")))
        .groupBy(col("cluster"), col("j"))
        .agg(round(avg(col("x")), 6).as("m"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2))
        .toMap
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        // a cluster that lost all members keeps its previous centroid
        old.indices.map(j => means.getOrElse((c, j), old(j)))
      }
    }
    samp.unpersist()
    centroids
  }

  /** `iters` rounds of Lloyd's algorithm with `k` clusters; returns one
    * row per input vector: (id, cluster, round(dist², 6)). */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int, trainSample: Int = 0): DataFrame =
    assignFull(emb, idCol, vecCol, k, iters, trainSample)
      .select(col("id").as(idCol), col("cluster").cast("long").as("cluster"),
        round(col("dist"), 6).as("dist"))

  /** Cluster summary: member count and total (rounded) distortion. */
  def kmeansStats(emb: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int, trainSample: Int = 0): DataFrame =
    kmeansAssign(emb, idCol, vecCol, k, iters, trainSample)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("dist")), 4).as("distortion"))

  /** Semantic near-dup pairs BLOCKED by k-means cells: candidates are
    * pairs sharing a cluster, re-ranked by exact cosine. The third
    * blocking strategy beside LSH buckets ([[Dedup.embeddingNearDups]])
    * and IVF cells ([[Similarity.ivfKnn]]) — trained cells adapt to the
    * data distribution, so at corpus scale the candidate set is
    * Σ|cell|², never N². Assignment carries the vectors with it (one
    * map pass, no id join-back), so the ONLY shuffle is the same-cell
    * hash join; cosine is the exact codegen'd kernel. */
  def semanticNearDups(emb: DataFrame, idCol: String, vecCol: String,
                       k: Int, iters: Int, threshold: Double,
                       trainSample: Int = 0): DataFrame = {
    val b = assignFull(emb, idCol, vecCol, k, iters, trainSample)
      .select(col("id"), col("v"), col("cluster").cast("long").as("cluster"))
      // persisted ONLY for the duration of this call: the self-join
      // reads the assignment twice, so the k·dim distance when-chain
      // runs one pass over the corpus, not two
      .persist()
    val pairs = b.as("l").join(b.as("r"),
        col("l.cluster") === col("r.cluster") && col("l.id") < col("r.id"))
      .withColumn("cos",
        graft.functions.VectorFunctions.cosineNative(col("l.v"), col("r.v")))
      .where(col("cos") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        col("l.cluster").as("cluster"), round(col("cos"), 6).as("cosine"))
      // materialize the OUTPUT-sized pair set eagerly while the
      // assignment is cached, then release the corpus-sized cache — the
      // returned frame references only its own checkpoint blocks, which
      // the ContextCleaner reclaims with the frame (a cache-manager
      // persist, by contrast, holds a strong ref and leaks until
      // someone calls unpersist — the failure mode this avoids)
      .localCheckpoint(true)
    b.unpersist(false)
    pairs
  }
}
