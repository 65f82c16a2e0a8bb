package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{Hashing, TextFunctions}

/** Deduplication operators for training-data pipelines, each designed
  * around its scale behavior:
  *
  *   - exact:      one hash-groupBy shuffle keyed on a 128-bit digest —
  *                 never on the text itself, so shuffle volume is
  *                 O(rows × 16B), not O(corpus bytes).
  *   - minhashLsh: shingle → k minhashes → band buckets → self-join per
  *                 bucket → exact-Jaccard verify. The join is keyed on
  *                 (band, bucket-hash): only colliding docs meet, which is
  *                 the only O(N²)-avoiding near-dup scheme that scales.
  *   - simhash:    one 64→16-bit signature per doc (map-side only), dup
  *                 candidates = equal signatures (or Hamming≤d via
  *                 rotated-band trick).
  *   - ngramJaccard: exact verify kernel (used standalone for small
  *                 candidate sets, and as the LSH verify stage).
  *
  * All hashing is [[Hashing.hash64]]-portable so the DuckDB oracle can
  * replay signatures bit-for-bit.
  */
object Dedup {
  import Hashing._

  /** Exact dedup: digest → group. Returns one row per distinct text with
    * the keeper (min id) and the duplicate count. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keeper_id"),
        count(lit(1)).as("n_copies"))

  /** Per-doc MinHash signature: k universal-hash minima over word
    * `shingleK`-shingles. ONE md5 per shingle (the 31-bit base hash) + k
    * affine permutations — the standard universal-hashing MinHash, 8×
    * cheaper than k independent digests. Map-side only — no shuffle. */
  def minhashSignature(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 8, shingleK: Int = 3): DataFrame =
    withSignature(docs, idCol, textCol, k, shingleK)
      .drop("sh")

  /** id + distinct shingle set + mh0..mh(k-1). The base-hash array is
    * computed once and every permutation minimum reads it. */
  private[operators] def withSignature(docs: DataFrame, idCol: String, textCol: String,
                                       k: Int, shingleK: Int): DataFrame = {
    val mhCols = (0 until k).map { i =>
      array_min(transform(col("bases"), b => Hashing.affine(b, i))).as(s"mh$i")
    }
    docs
      .select(col(idCol),
        array_distinct(TextFunctions.shingles(col(textCol), shingleK)).as("sh"))
      .withColumn("bases", transform(col("sh"), s => Hashing.base31(s)))
      .select(col(idCol) +: col("sh") +: mhCols: _*)
  }

  /** MinHash+LSH near-duplicate pairs: band the signature (`bands` bands
    * of `k/bands` rows), bucket-join docs sharing any band, verify with
    * exact shingle-set Jaccard ≥ `threshold`. Returns (id_a, id_b,
    * jaccard) with id_a < id_b, distinct. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, bands: Int = 4, shingleK: Int = 3,
                      threshold: Double = 0.7): DataFrame = {
    val rows = k / bands
    // Signatures are consumed 4× (both self-join sides + both verify
    // probes): persist them while the pair enumeration runs — at
    // warehouse scale this materialization is a signatures table you'd
    // write once and reuse across dedup runs. The persist is RELEASED
    // before returning (see the output checkpoint below): a cache-
    // manager entry holds its blocks for the whole session otherwise.
    val sig = withSignature(docs, idCol, textCol, k, shingleK)
      .withColumnRenamed(idCol, "id")
      .persist()
    // band value = the tuple of its rows, carried as a single portable
    // hash so the shuffle key is 8 bytes.
    val banded = sig.select(
      col("id"),
      posexplode(array((0 until bands).map { b =>
        hash64(concat_ws(",", lit(b.toString) +:
          (0 until rows).map(r => col(s"mh${b * rows + r}").cast("string")): _*))
      }: _*)).as(Seq("band", "bucket")))
    val cand = banded.as("l")
      .join(banded.as("r"),
        col("l.band") === col("r.band") &&
          col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    val sh = sig.select(col("id"), col("sh"))
    val pairs = cand
      .join(sh.withColumnRenamed("sh", "sh_a"), col("id_a") === col("id"))
      .drop("id")
      .join(sh.withColumnRenamed("sh", "sh_b"), col("id_b") === col("id"))
      .drop("id")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    // OUTPUT-sized materialization (the verified pair list — tiny next
    // to the corpus), then release the signature frame: the returned
    // plan no longer references `sig`, so the persist does not outlive
    // the call (the semanticNearDups treatment; UnpersistHygieneSpec
    // pins baseline-relative storage).
    val out = pairs.localCheckpoint(true)
    sig.unpersist()
    out
  }

  /** LSH keeper selection — the LINEAR dedup path: every doc's keeper is
    * the minimum id across its band buckets; a doc is kept iff it is its
    * own keeper. One-hop bucket-min (not full connected components —
    * chains A~B~C with A,C in disjoint buckets keep both A and C's
    * groups separate), which is the standard first-pass at corpus scale:
    * work is O(N × bands) rows through two aggregations, versus the
    * inherently O(duplicates²) pair enumeration of [[minhashLshPairs]] —
    * on a 10×-replicated corpus that is seconds vs minutes. */
  def lshDedupKeepers(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, bands: Int = 4, shingleK: Int = 3): DataFrame = {
    val rows = k / bands
    val sig = withSignature(docs, idCol, textCol, k, shingleK)
      .withColumnRenamed(idCol, "id")
    val banded = sig.select(
      col("id"),
      posexplode(array((0 until bands).map { b =>
        hash64(concat_ws(",", lit(b.toString) +:
          (0 until rows).map(r => col(s"mh${b * rows + r}").cast("string")): _*))
      }: _*)).as(Seq("band", "bucket")))
    val bucketMin = banded.groupBy(col("band"), col("bucket"))
      .agg(min(col("id")).as("bmin"))
    banded.join(bucketMin, Seq("band", "bucket"))
      .groupBy(col("id"))
      .agg(min(col("bmin")).as("keeper_id"))
      .withColumn("kept", col("id") === col("keeper_id"))
  }

  /** Free the block-manager storage behind a localCheckpoint'ed frame
    * (or one derived from it): `Dataset.unpersist` only consults the
    * cache manager, so checkpoint RDD blocks must be released via the
    * `LogicalRDD` leaves themselves. */
  private def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(false))

  /** FULL transitive-closure dedup: connected components of the
    * "shares an LSH band bucket" graph, each doc labeled with its
    * component's minimum id ([[lshDedupKeepers]] is the one-hop
    * approximation of this fixpoint). Min-label propagation over the
    * BIPARTITE doc–bucket graph — the edge list is the banded signature
    * table itself (O(docs × bands) rows), never materialized doc×doc
    * pairs, which is what makes CC tractable when a bucket holds
    * thousands of near-identical crawl copies:
    *
    *   repeat: bucket_label = min(label of member docs)
    *           doc_label    = min(own label, labels of its buckets)
    *   until no label changes (≤ graph diameter rounds; each round is
    *   two partial-aggregated shuffles + a localCheckpoint to keep the
    *   plan from growing with iterations).
    *
    * Converges to the unique fixpoint (component min), so the result is
    * deterministic and oracle-checkable via a recursive-CTE closure. */
  def lshConnectedComponents(docs: DataFrame, idCol: String, textCol: String,
                             k: Int = 8, bands: Int = 4,
                             shingleK: Int = 3): DataFrame = {
    val rows = k / bands
    val sig = withSignature(docs, idCol, textCol, k, shingleK)
      .withColumnRenamed(idCol, "id")
    val banded = sig.select(
      col("id"),
      posexplode(array((0 until bands).map { b =>
        hash64(concat_ws(",", lit(b.toString) +:
          (0 until rows).map(r => col(s"mh${b * rows + r}").cast("string")): _*))
      }: _*)).as(Seq("band", "bucket")))
      .select(col("id"), concat_ws("#", col("band"), col("bucket")).as("bk"))
      .localCheckpoint()
    var comp = banded.select(col("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val bucketMin = banded.join(comp, "id")
        .groupBy(col("bk")).agg(min(col("comp")).as("bcomp"))
      val next = banded.join(bucketMin, "bk")
        .groupBy(col("id")).agg(min(col("bcomp")).as("nc"))
        .join(comp, "id")
        .select(col("id"), least(col("nc"), col("comp")).as("comp"),
          (col("nc") < col("comp")).cast("long").as("chg"))
        .localCheckpoint()
      // sum over zero rows is NULL — an empty corpus converges immediately
      changed = Option(next.agg(sum(col("chg"))).head.get(0))
        .fold(0L)(_.asInstanceOf[Long])
      // `next` is materialized; release the previous iteration's
      // checkpoint blocks so storage stays O(1) in graph diameter, not
      // O(diameter). (`comp`'s lineage was cut at its own checkpoint, so
      // its leaf RDDs never include `banded`'s.)
      releaseLocalCheckpoint(comp)
      comp = next.select(col("id"), col("comp"))
    }
    releaseLocalCheckpoint(banded)
    comp.select(col("id").as(idCol), col("comp").as("component"),
      (col("id") === col("comp")).as("kept"))
  }

  /** 16-bit SimHash signature per doc: token hashes vote per bit position;
    * bit set iff positive majority. Pure map-side expressions. */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              bits: Int = 16): DataFrame = {
    val tokenHashes = transform(TextFunctions.tokens(col(textCol)), t => hash64(t))
    val sig = (0 until bits).map { b =>
      val vote = aggregate(tokenHashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    docs.select(col(idCol), sig.as("simhash"))
  }

  /** Exact n-gram (shingle-set) Jaccard for every pair within a small
    * candidate set — the verify kernel. O(n²): gate `docs` first. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      array_distinct(TextFunctions.shingles(col(textCol), shingleK)).as("sh"))
    sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh"))).cast("double"), 6).as("jaccard"))
  }

  /** INCREMENTAL dedup — filter a NEW batch against an EXISTING corpus
    * (the daily-crawl shape: never re-deduplicate the stored corpus
    * against itself — only new-vs-stored runs here; within-batch
    * dedup composes separately via [[exact]]/[[lshDedupKeepers]] over
    * the survivors). Two gates:
    *
    *   1. exact: drop any new doc whose text digest already exists in
    *      the corpus — a digest-keyed LEFT ANTI join (broadcastable
    *      when the corpus digest set is small; shuffle-partitioned on
    *      the 8-byte digest otherwise, never on text);
    *   2. near: drop any new doc whose MinHash band buckets collide
    *      with a stored doc AND whose exact shingle Jaccard ≥
    *      `threshold` — the [[minhashLshPairs]] candidate machinery
    *      with the self-join replaced by a new×stored band join, so
    *      cost is new-batch-sized, not corpus².
    *
    * At warehouse scale the stored side's signatures are a table
    * written once per corpus version ([[minhashSignature]]) and reused
    * across daily runs — only the new batch is shingled per run.
    * Returns the surviving new docs (id + text columns as given). */
  def incrementalDedup(newDocs: DataFrame, corpus: DataFrame,
                       idCol: String, textCol: String,
                       k: Int = 8, bands: Int = 4, shingleK: Int = 3,
                       threshold: Double = 0.7): DataFrame = {
    val rows = k / bands
    val corpusDigests = corpus.select(md5(col(textCol)).as("text_md5")).distinct()
    val exactSurvivors = newDocs
      .join(corpusDigests,
        md5(col(textCol)) === col("text_md5"), "left_anti")
    def banded(df: DataFrame) = {
      val sig = withSignature(df, idCol, textCol, k, shingleK)
        .withColumnRenamed(idCol, "id")
      sig.select(col("id"), col("sh"),
        explode(array((0 until bands).map { b =>
          hash64(concat_ws(",", lit(b.toString) +:
            (0 until rows).map(r => col(s"mh${b * rows + r}").cast("string")): _*))
        }: _*)).as("bucket"))
    }
    // near-dup candidates: new-side bands meet stored-side bands only
    val hits = banded(exactSurvivors).as("n")
      .join(banded(corpus).as("c"), col("n.bucket") === col("c.bucket"))
      .withColumn("jaccard",
        size(array_intersect(col("n.sh"), col("c.sh"))).cast("double") /
          size(array_union(col("n.sh"), col("c.sh"))).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("n.id").as("dup_id"))
      .distinct()
    exactSurvivors.join(hits,
      col(idCol) === col("dup_id"), "left_anti")
  }

  /** Embedding near-dup: cosine ≥ threshold via LSH-bucketed self-join
    * (scale path — brute force only within buckets). */
  def embeddingNearDups(emb: DataFrame, idCol: String, vecCol: String,
                        dim: Int, threshold: Double = 0.95,
                        planes: Int = 12): DataFrame = {
    import graft.functions.VectorFunctions._
    val b = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      lshBucket(col(vecCol), planes, dim).as("bucket"))
    b.as("l").join(b.as("r"),
        col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .withColumn("cos", cosineNative(col("l.v"), col("r.v")))
      .where(col("cos") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        round(col("cos"), 6).as("cosine"))
  }
}
