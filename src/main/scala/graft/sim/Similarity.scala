package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`), for the
  * `embeddings(vec_id, embedding, label)` table.
  *
  * Two tiers:
  *  - brute-force cosine top-k / all-pairs: exact baselines, kept for
  *    verification and for broadcastable query sets. The oracled
  *    q_embed_pairs runs the exact path on a SAMPLED slice only.
  *  - LSH-bucketed (random hyperplane signs): the 100 TB path. Hyperplanes
  *    are derived from seeded hashes (deterministic, no rand()); candidates
  *    share a 16-bit band key, exact cosine re-ranks within bucket.
  *
  * Band-key sizing (the round-1 fix): 64 planes / 4 bands = 16 bits per
  * band = 65,536 buckets per band. Round 1 shipped 16 planes / 4-bit bands
  * = 16 buckets — every corpus past 10^4 vectors degenerated to near-all-
  * pairs inside buckets. With 16-bit keys the expected bucket occupancy at
  * 10^9 vectors is ~15k, and the per-band candidate mass scales linearly
  * in corpus size for any fixed key width only if keys keep pace with the
  * corpus — widen via `numPlanes`/`bands` (e.g. 128/4 = 32-bit keys) when
  * deploying beyond ~10^8 rows; a recall property test pins quality
  * (SimilarityRecallSpec).
  */
object Similarity {

  /** Cosine similarity of two double arrays — a native codegen'd fused
    * pass (VecKernels.CosineSim). Bit-identical to the previous
    * interpreted `aggregate(zip_with(...))` folds: same sequential
    * summation chains, same NULL-on-mismatch semantics (scaladoc there),
    * ~30x less per-element cost (no lambda dispatch, no boxing). */
  def cosine(a: Column, b: Column): Column = VecKernels.cosine(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Exact cosine near-duplicate pairs >= threshold. All-pairs product —
    * only for modest corpus sizes / verification slices; the scale path is
    * `lshPairs`. */
  def cosinePairs(vecs: DataFrame, threshold: Double,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = vecs.select(col(idCol).as("ida"), asDouble(col(vecCol)).as("va"))
    val b = vecs.select(col(idCol).as("idb"), asDouble(col(vecCol)).as("vb"))
    a.crossJoin(b).filter(col("ida") < col("idb"))
      .withColumn("craw", cosine(col("va"), col("vb")))
      .filter(col("craw") >= threshold)
      .select(col("ida"), col("idb"), round(col("craw"), 6).as("cos"))
  }

  /** Deterministic pseudo-random hyperplane component: ~U(-1,1) from the
    * portable md5 hash of 'pl:<plane>:<dim>:<seed>' — DuckDB-replicable
    * (q_lsh_embed_pairs oracle; mirror documented in graft.util.Portable).
    * Computed DRIVER-SIDE: the plane matrix is data-independent, so the
    * numPlanes x dim components are folded into literal arrays instead of
    * per-row md5 calls — higher-order-function lambdas run interpreted (no
    * codegen), and 64 planes x 64 dims of in-lambda md5 measured 50 ms/row
    * at sf0.1 before this hoist. */
  private[graft] def planeValue(plane: Int, dim: Int, seed: Long): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"pl:$plane:$dim:$seed".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val u32 = java.lang.Long.parseLong(hex.substring(0, 8), 16)
    ((u32 % 2000001L) - 1000000L).toDouble / 1000000.0
  }

  /** Per-plane sign bits (0/1) under `numPlanes` seeded hyperplanes, as an
    * array<long> — kept unpacked so any band width can be sliced out
    * without 64-bit sign-bit overflow. `dim` is the (uniform) embedding
    * length; rows shorter than `dim` would null their dot products. */
  def hyperplaneSigns(vecCol: Column, numPlanes: Int = 64, seed: Long = 7L,
                      dim: Int = 64): Column = {
    val v = asDouble(vecCol)
    array((0 until numPlanes).map { p =>
      // Plane rows ride the references array as double[] (VecKernels.dotLit
      // codegen): the interpreted zip_with+aggregate fold paid ~2*dim lambda
      // dispatches per plane per row — the ANN inner loop at corpus scale.
      val plane = Array.tabulate(dim)(d => planeValue(p, d, seed))
      val dot = VecKernels.dotLit(v, plane)
      when(dot >= 0, 1L).otherwise(0L)
    }: _*)
  }

  /** Band keys from the sign array: bands x (numPlanes/bands)-bit integers. */
  private def bandKeysCol(signs: Column, numPlanes: Int, bands: Int): Column = {
    val r = numPlanes / bands
    array((0 until bands).map { b =>
      aggregate(slice(signs, b * r + 1, r), lit(0L), (acc, s) => acc * 2 + s)
    }: _*)
  }

  /** LSH near-dup pairs: bucket on `bands` sub-signatures (multi-probe via
    * banding), verify exact cosine within bucket. Candidate rows carry IDS
    * ONLY through the distinct (vectors re-join afterwards — shuffling the
    * embedding payload through the band join was round-1 dead weight). */
  def lshPairs(vecs: DataFrame, threshold: Double,
               numPlanes: Int = 64, bands: Int = 4, seed: Long = 7L,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(numPlanes % bands == 0)
    val base = vecs.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v")).persist()
    // one tiny job to learn the (uniform) embedding dimension, so the plane
    // matrix literals match the data
    val dim = base.select(max(size(col("v")))).head().getInt(0)
    val keyed = base.select(col("id"),
      bandKeysCol(hyperplaneSigns(col("v"), numPlanes, seed, dim), numPlanes, bands).as("keys"))
    val banded = keyed.select(col("id"), posexplode(col("keys")))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
    val cands = banded.select(col("band"), col("bucket"), col("id").as("ida"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("idb")),
        Seq("band", "bucket"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
    val pairs = cands
      .join(base.select(col("id").as("ida"), col("v").as("va")), Seq("ida"))
      .join(base.select(col("id").as("idb"), col("v").as("vb")), Seq("idb"))
      .withColumn("craw", cosine(col("va"), col("vb")))
      .filter(col("craw") >= threshold)
      .select(col("ida"), col("idb"), round(col("craw"), 6).as("cos"))
    // The pair set is tiny next to the corpus: pin it eagerly, then drop the
    // corpus cache — returning a lazy frame over a persisted `base` leaked
    // one cached corpus copy per call in long-lived sessions.
    val out = graft.io.Iterate.pin(pairs)
    base.unpersist(blocking = false)
    out
  }

  // ------------------------------------------------------------------ IVF

  /** Deterministic coarse quantizer for the IVF index: the `nCells` corpus
    * vectors with the smallest portable md5 sample key become the
    * centroids (a seeded sample, not Lloyd iterations — deterministic and
    * DuckDB-replayable; k-means would sharpen cell balance but make the
    * index unverifiable by the SQL oracle). TakeOrdered top-k, not a
    * global sort. */
  private[graft] def ivfCentroids(base: DataFrame, nCells: Int): DataFrame =
    base.withColumn("sk", graft.util.Portable.u32(
        graft.util.Portable.key(lit("ivf"), col("id"))))
      .orderBy(asc("sk"), asc("id"))
      .limit(nCells)
      .select(col("id").as("cid"), col("v").as("cv"))

  /** Cell assignment: nearest centroid by cosine (tie: smaller centroid
    * id). Shape: broadcast nested-loop against the tiny centroid table →
    * V×nCells rows MAP-SIDE, then a partial-aggregated argmax
    * (max(struct(cos, -cid))) — only the V-row result shuffles. Returns
    * (id, cell). */
  private[graft] def ivfAssign(base: DataFrame, cent: DataFrame): DataFrame =
    base.crossJoin(broadcast(cent))
      .withColumn("craw", cosine(col("v"), col("cv")))
      .groupBy(col("id"))
      .agg(max(struct(col("craw").as("c"), (-col("cid")).as("negc"))).as("b"))
      .select(col("id"), (-col("b.negc")).as("cell"))

  /** IVF approximate top-k — the coarse-quantizer scale path next to
    * `lshPairs`: corpus vectors live in exactly one inverted cell; each
    * query probes its `nProbe` nearest cells and re-ranks exactly inside
    * them. The candidate join is an equi-join on `cell` (E[candidates] ≈
    * V·nProbe/nCells per query), never all-pairs. Caveat documented:
    * sampled centroids give uneven cells on clustered corpora — raise
    * `nCells` (cheap: assignment is map-side) rather than adding Lloyd
    * rounds. Output (qid, nid, cos, rk), tie-breaks as `topK`. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 8, nProbe: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val base = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v")).persist()
    val cent = ivfCentroids(base, nCells).persist()
    val corpusCells = ivfAssign(base, cent)
      .join(base, Seq("id"))
      .select(col("id").as("nid"), col("cell"), col("v").as("nv"))
    // queries are broadcast-small: a window rank over nCells rows per query
    // picks the probed cells.
    val qScored = queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv"))
      .crossJoin(broadcast(cent))
      .withColumn("craw", cosine(col("qv"), col("cv")))
    val probeW = Window.partitionBy(col("qid")).orderBy(desc("craw"), asc("cid"))
    val qCells = qScored.withColumn("pn", row_number().over(probeW))
      .filter(col("pn") <= nProbe)
      .select(col("qid"), col("qv"), col("cid").as("cell"))
    val scored = qCells.join(corpusCells, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
    val w = Window.partitionBy(col("qid")).orderBy(desc("cos"), asc("nid"))
    val topk = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), round(col("cos"), 6).as("cos"), col("rk"))
    // k rows per query: pin eagerly and release the corpus/centroid caches
    // (same leak class as lshPairs — callers never owned these lifetimes).
    val out = graft.io.Iterate.pin(topk)
    base.unpersist(blocking = false); cent.unpersist(blocking = false)
    out
  }

  /** Recall@k of the IVF path against the exact top-k baseline, per query:
    * (qid, n_exact, n_hit, recall). The quality dial a corpus builder
    * tunes nProbe/nCells against — previously this property lived only in
    * tests. Cost: one exact topK over the query set (broadcast queries)
    * plus one ivfTopK; the comparison itself is an ids-only semi-join.
    *
    * Cache ownership (ADVICE r5): the RETURNED frame is pinned (it must
    * survive this call) and the CALLER owns that cache — a sweep calling
    * annRecall repeatedly (a recall-vs-probe curve) must release each
    * result once consumed or it holds one dead cached RDD per call; the internal
    * exact-arm scratch is released here before returning. */
  def annRecall(corpus: DataFrame, queries: DataFrame, k: Int,
                nCells: Int = 8, nProbe: Int = 2,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // pin the k-x-queries exact arm: both the anchor count and the hit
    // semi-join consume it, and unpinned each re-ran the full broadcast
    // NLJ scan over the corpus. Pinned WITH a release handle: it's pure
    // scratch, so its cache is dropped once the (pinned) result is live —
    // otherwise every annRecall call leaked one dead cached RDD for the
    // session's lifetime.
    val exactPin = graft.io.Iterate.pinCount(
      topK(corpus, queries, k, idCol, vecCol).select(col("qid"), col("nid")))
    val exact = exactPin.df
    val approx = ivfTopK(corpus, queries, k, nCells, nProbe, idCol, vecCol)
      .select(col("qid"), col("nid"))
    val ex = exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
    val ht = exact.join(approx, Seq("qid", "nid"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    val out = graft.io.Iterate.pin(
      ex.join(ht, Seq("qid"), "left")
        .select(col("qid"), col("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_exact"), 6)
            .as("recall")))
    exactPin.release()
    out
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself). Queries are broadcast. Deterministic
    * tie-break: higher cosine, then smaller neighbor id. */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv")))
    val c = corpus.select(col(idCol).as("nid"), asDouble(col(vecCol)).as("nv"))
    val scored = c.join(q, col("qid") =!= col("nid"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
    val w = Window.partitionBy(col("qid")).orderBy(desc("cos"), asc("nid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), round(col("cos"), 6).as("cos"), col("rk"))
  }
}
