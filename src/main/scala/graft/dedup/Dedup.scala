package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Deduplication operators for a training-data pipeline, over
  * `documents(doc_id, text, ...)`.
  *
  * Scale design: every variant is blocking-based — candidates come from an
  * equi-join on a compact key (hash, band bucket, simhash chunk pair),
  * never from an all-pairs product — and every blocking key space is sized
  * for real corpora: 64-bit MinHash band hashes, ~26-bit simhash chunk-pair
  * keys, and a document-frequency cap on raw shingles (one hub shingle
  * shared by k docs would otherwise emit C(k,2) candidates). In-bucket
  * verification is quadratic only in the residual bucket occupancy.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact duplicate groups by content hash: one row per distinct text,
    * keep_id = min doc_id, dup_count = group size. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("content_sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact-dedup survivors: drops all but the min-id doc of each group. */
  def exactSurvivors(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val keep = exact(docs, idCol, textCol).select(col("keep_id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  // ------------------------------------------------------------- shingles

  /** Shingle array from an ALREADY-MATERIALIZED token-array column.
    * Spark's higher-order functions (`transform`) evaluate INTERPRETED
    * (no doGenCode), and an interpreted lambda re-evaluates its argument
    * subtree at every `element_at` — so `toks` must be a bound attribute
    * (one array computed per row at a Project boundary), never an inline
    * `tokens(text)` subtree. With the subtree inlined, each document paid
    * ~3·(|toks|−n) regex tokenizations (measured 25 s per pass over 5,000
    * sf0.1 docs — ~5 ms/doc); hoisted, the pass is sub-second. Same
    * hoisting discipline as the minhash md5 (one per shingle, r3). */
  /** POSITIONAL k-gram array (duplicates kept, document order preserved) —
    * the base for winnowing, where window positions matter. Same
    * hoisted-attribute contract as shinglesOfTokens. */
  def gramsOfTokens(toks: Column, n: Int = 3): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (1 to n).map(k => element_at(toks, i + k)): _*)))
      .otherwise(array(array_join(toks, " ")))

  def shinglesOfTokens(toks: Column, n: Int = 3): Column =
    array_distinct(gramsOfTokens(toks, n))

  /** Word n-gram shingle array from raw text (shared tokenizer).
    * NOTE: only for one-shot column use — inside interpreted HOFs the
    * tokenizer subtree is re-evaluated per element (see shinglesOfTokens);
    * table-scale paths go through shingleTable, which hoists. */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesOfTokens(TextOps.tokens(text), n)

  /** Exploded (id, shingle) table — the base relation for exact Jaccard
    * and MinHash. Tokens are materialized in their own projection first
    * so the interpreted shingle lambda indexes a computed array. */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("toks"))
      .select(col("id"), explode(shinglesOfTokens(col("toks"), n)).as("sh"))

  /** Shared cached base for the set-similarity joins (round 6): the kept
    * (df <= cap) shingle universe with doc size `sz` AND global-order rank
    * `rk` pre-attached, in exactly TWO exchanges before the persist —
    * (1) a window count over the `sh` partitioning attaches df and applies
    * the hub cap, (2) ONE id-partitioned window pass attaches both the doc
    * size (count) and the rarest-first rank (row_number over the one shared
    * global (df, sh) order) — the same partitioning serves both frames, so
    * the second window rides the first's exchange. Every consumer (prefix
    * selection, length filters, the PPJoin positional bounds on EITHER join
    * side, the verification joins) then reads sz/rk straight off the cached
    * rows: the old per-call sizes aggregate + join and the pref window are
    * gone, and containmentPairs' b-side positions — previously a whole
    * extra full-universe window pass, measured a net loss in round 6 —
    * are now free. Columns: (id, sh, sz, rk). Caller owns the persist. */
  private def rankedShingleCache(docs: DataFrame, n: Int, idCol: String,
                                 textCol: String, maxShingleDF: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    shingleTable(docs, idCol, textCol, n)
      .repartition(col("sh"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
      .filter(col("df") <= maxShingleDF)
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("id")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("sh"))))
      .select("id", "sh", "sz", "rk")
      .persist()
  }

  /** Exact n-gram Jaccard pairs >= threshold over the CAPPED shingle
    * universe, via PREFIX-FILTERED candidate generation (the standard
    * exact set-similarity join — Vernica/PPJoin family): result set is
    * IDENTICAL to the naive all-sharing-pairs join (same DuckDB oracle),
    * only the candidate space shrinks.
    *
    * Why: joining on EVERY shared shingle costs sum_sh df(sh)^2 rows — the
    * common near-cap shingles dominate. Prefix filtering joins only each
    * doc's RAREST shingles: order the universe globally by (df asc, sh),
    * keep per doc the first L = sz - ceil(t*sz) + 1 shingles; any pair
    * with J >= t must have |A inter B| >= ceil(t*|A|), and a shared element
    * must then fall inside both prefixes (else the <= ceil(t*sz)-1-sized
    * suffixes would have to hold all of it — pigeonhole). ceil is taken
    * with a 1e-9 slack so float noise can only LENGTHEN the prefix (more
    * candidates, never a miss). Surviving pairs are verified exactly: a
    * candidate-restricted join back through the full shingle table counts
    * the true intersection (no per-doc arrays — row sizes stay bounded at
    * any corpus scale).
    *
    * `maxShingleDF` is the skew guard (round-1 fix): a shingle shared by k
    * docs yields C(k,2) candidate rows, so one stopword-ish trigram shared
    * by 10^6 docs is a 10^12-row join. Shingles with document frequency
    * above the cap are dropped BEFORE anything else — exactly the
    * EdgeExtraction.cooccurrence hub-path cap — and doc sizes are counted
    * over the kept universe so the Jaccard stays internally consistent
    * (the DuckDB oracle mirrors the cap). */
  def jaccardPairs(docs: DataFrame, threshold: Double, n: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text",
                   maxShingleDF: Int = 1000): DataFrame = {
    val (pairs, sh) = jaccardPairsFrame(docs, threshold, n, idCol, textCol, maxShingleDF)
    // Pin the (tiny) pair set, release the corpus-scale shingle cache —
    // the lshPairs/ivfTopK lifetime discipline (round-3 leak in a
    // long-lived session; Bench hid it by purging between queries).
    val out = graft.io.Iterate.pin(pairs)
    sh.unpersist(blocking = false)
    out
  }

  /** Pre-pin computation of jaccardPairs, exposed for plan evidence (the
    * pinned public frame explains as a bare RDD scan).
    * Returns (pairs, ranked shingle cache); the CALLER owns the cache. */
  private[graft] def jaccardPairsFrame(docs: DataFrame, threshold: Double, n: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text",
                   maxShingleDF: Int = 1000): (DataFrame, DataFrame) = {
    val sh = rankedShingleCache(docs, n, idCol, textCol, maxShingleDF)
    // Prefix selection is now a bare FILTER over the cache (no sizes
    // aggregate, no join, no extra window): keep each doc's rarest
    // L = sz - ceil(t*sz) + 1 shingles.
    val pref = sh
      .filter(col("rk") <= col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
      .select(col("sh"), col("id"), col("sz"), col("rk"))
    // Candidates: prefix-prefix equi-join + the length filter
    // (t*max(sz) <= min(sz) is necessary for J >= t; epsilon-slack again
    // only loosens) + the POSITIONAL upper bound (PPJoin-family, round 6):
    // the pair dedup is a groupBy instead of distinct (same exchange), and
    // the aggregate derives a sound bound on |A∩B|. With ranks rk taken in
    // ONE shared global order, the shared prefix elements of a pair occur
    // in the same relative order in both docs, so cnt = #shared prefix
    // elements and (ma, mb) = ranks of the LAST shared prefix element.
    // Every common element NOT among those cnt is missing from at least
    // one prefix, hence ranks strictly after (ma, mb) in BOTH docs (an
    // element earlier in the global order than the last shared one would
    // itself be inside both prefixes) — so
    //   |A∩B| <= cnt + min(sza - ma, szb - mb),
    // and J >= t needs |A∩B| >= t*(sza+szb)/(1+t). Candidates whose bound
    // cannot reach that are dropped BEFORE the expensive verification join
    // (measured 444k -> far fewer candidate pairs on the sf0.1 corpus);
    // epsilon keeps the cut one-sided, the final jraw test still decides.
    val cands = pref.select(col("sh"), col("id").as("ida"), col("sz").as("sza"),
        col("rk").as("rka"))
      .join(pref.select(col("sh"), col("id").as("idb"), col("sz").as("szb"),
        col("rk").as("rkb")), Seq("sh"))
      .filter(col("ida") < col("idb"))
      .filter(lit(threshold) * greatest(col("sza"), col("szb")) - lit(1e-9)
        <= least(col("sza"), col("szb")))
      .groupBy("ida", "idb", "sza", "szb")
      .agg(count(lit(1)).as("cnt"), max(col("rka")).as("ma"), max(col("rkb")).as("mb"))
      .filter(col("cnt") + least(col("sza") - col("ma"), col("szb") - col("mb"))
        >= lit(threshold) / (1.0 + threshold) * (col("sza") + col("szb")) - lit(1e-9))
      .select("ida", "idb", "sza", "szb")
    // Exact verification restricted to candidates: count true shared
    // shingles with two hash joins through the full kept table.
    val inter = cands
      .join(sh.select(col("id").as("ida"), col("sh")), Seq("ida"))
      .join(sh.select(col("id").as("idb"), col("sh")), Seq("idb", "sh"))
      .groupBy("ida", "idb", "sza", "szb").agg(count(lit(1)).as("inter"))
    val pairs = inter
      // filter on the UNROUNDED value (oracle SQL does the same), round
      // only for output — keeps threshold semantics engine-identical.
      .withColumn("jraw",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jraw") >= threshold)
      .select(col("ida"), col("idb"), round(col("jraw"), 6).as("jaccard"))
    (pairs, sh)
  }

  /** DIRECTED containment pairs: C(A→B) = |A∩B| / |A| >= threshold over the
    * capped shingle universe — the asymmetric cousin of jaccardPairs that
    * symmetric Jaccard structurally misses: a 50-word license header fully
    * embedded in a 5,000-word file has J ≈ 0.01 but containment 1.0.
    * Boilerplate/quotation/subset-duplicate detection in a training
    * corpus is a containment query, not a Jaccard one.
    *
    * Same prefix-filter soundness, one-sided: |A∩B| >= ceil(t·|A|) forces
    * at least one shared shingle into A's rarest-(|A|-ceil(t·|A|)+1)
    * prefix (pigeonhole on A's suffix), so candidates = A-prefix ⨝ FULL
    * table (B needs no length filter — anything can contain A). The df cap
    * bounds the hub blowup exactly as in jaccardPairs; verification counts
    * the true intersection through the kept table. Emits BOTH directions
    * when both clear the threshold (ida = the contained side). */
  def containmentPairs(docs: DataFrame, threshold: Double, n: Int = 3,
                       idCol: String = "doc_id", textCol: String = "text",
                       maxShingleDF: Int = 1000): DataFrame = {
    val (pairs, sh) = containmentPairsFrame(docs, threshold, n, idCol, textCol, maxShingleDF)
    val out = graft.io.Iterate.pin(pairs)
    sh.unpersist(blocking = false)
    out
  }

  /** Pre-pin computation of containmentPairs (see jaccardPairsFrame). */
  private[graft] def containmentPairsFrame(docs: DataFrame, threshold: Double, n: Int = 3,
                       idCol: String = "doc_id", textCol: String = "text",
                       maxShingleDF: Int = 1000): (DataFrame, DataFrame) = {
    val sh = rankedShingleCache(docs, n, idCol, textCol, maxShingleDF)
    // NOTE (round 6): the positional bound below was first tried with a
    // dedicated full-universe ranking window for the b-side positions and
    // measured a net LOSS; rankedShingleCache now carries rk on every
    // cached row (the ranking pass is shared with jaccardPairs' prefix
    // selection), so the bound costs nothing extra — re-tried and kept.
    val pref = sh
      .filter(col("rk") <= col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
      .select(col("sh"), col("id"), col("sz"))
    val cands = pref.select(col("sh"), col("id").as("ida"), col("sz").as("sza"))
      .join(sh.select(col("sh"), col("id").as("idb"), col("sz").as("szb"),
        col("rk").as("rkb")), Seq("sh"))
      .filter(col("ida") =!= col("idb"))
      // Sound size prune BEFORE the pair aggregate: |A∩B| <= |B|, so
      // containment >= t forces |B| >= t·|A| (epsilon only loosens). Kills
      // the short-B candidates a big doc's prefix drags in.
      .filter(lit(threshold) * col("sza") - lit(1e-9) <= col("szb"))
      // Pair dedup as a groupBy (same exchange as the old distinct) that
      // also derives the ONE-SIDED positional upper bound on |A∩B|:
      // cnt = |prefix(A) ∩ B| and mb = rank-in-B of the LAST shared
      // element (ranks share one global (df, sh) order, so the max-rkb
      // shared element is the latest shared element in that order). Any
      // common element NOT among the cnt is outside prefix(A), hence
      // globally after every prefix(A) element — in particular after the
      // max-rkb shared one — so its b-rank exceeds mb: at most
      // min(sza - La, szb - mb) such elements exist, where
      // sza - La = ceil(t·sza) - 1 is A's suffix length. Containment >= t
      // needs |A∩B| >= t·sza; candidates whose bound cannot reach that
      // never enter the verification join. Epsilon keeps the cut
      // one-sided; the exact `craw` test below still decides membership,
      // so the result set is unchanged (oracle green).
      .groupBy("ida", "idb", "sza", "szb")
      .agg(count(lit(1)).as("cnt"), max(col("rkb")).as("mb"))
      .filter(col("cnt") + least(
          ceil(lit(threshold) * col("sza") - lit(1e-9)) - 1,
          col("szb") - col("mb"))
        >= lit(threshold) * col("sza") - lit(1e-9))
      .select("ida", "idb", "sza", "cnt")
    // Verification recounts only A's SUFFIX (round 6):
    // |A∩B| = cnt + |suffix(A) ∩ B| exactly — cnt already counts
    // prefix(A) ∩ B (the candidate join's b-side is the full table), and
    // prefix/suffix partition A, so intersecting with B distributes. Only
    // the ceil(t·sza) − 1 suffix rows per doc (~t of the kept table)
    // enter the expensive recount join. A candidate whose shared shingles
    // all sit in the prefix yields no suffix row — hence the left join +
    // coalesce, never a dropped pair. Same final inter value, same craw
    // test (oracle green).
    val suffix = sh.filter(
      col("rk") > col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
    val interSuf = cands
      .join(suffix.select(col("id").as("ida"), col("sh")), Seq("ida"))
      .join(sh.select(col("id").as("idb"), col("sh")), Seq("idb", "sh"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("isuf"))
    val pairs = cands
      .join(interSuf, Seq("ida", "idb"), "left")
      .withColumn("inter", col("cnt") + coalesce(col("isuf"), lit(0L)))
      .withColumn("craw", col("inter").cast("double") / col("sza"))
      .filter(col("craw") >= threshold)
      .select(col("ida"), col("idb"), round(col("craw"), 6).as("containment"))
    (pairs, sh)
  }

  // ------------------------------------------------------------ winnowing

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD'03): hash
    * every positional k-gram, slide a w-hash window, keep each window's
    * MINIMUM — the distinct minima are the document's fingerprint set.
    * Guarantee: two documents sharing a token run of length >= w + k − 1
    * share at least one fingerprint, with expected density 2/(w+1) of the
    * gram count — the standard substring-overlap sketch (plagiarism /
    * near-verbatim reuse) at a fraction of full-shingle cost.
    *
    * Shape: ROWS, not arrays. A first cut chained array stages
    * (grams → hashes → windowed minima as nested `transform` lambdas);
    * CollapseProject merged the projections back together and the
    * interpreted winnow lambda re-evaluated the whole gram+md5 pipeline
    * PER WINDOW — 174 s for 500 sf0.01 docs. The row form posexplodes
    * the grams once (one interpreted lambda per row, bound attribute),
    * then everything hot is codegen'd relational ops: md5 in a plain
    * projection, the sliding minimum as a `rowsBetween(current, w-1)`
    * window frame partitioned BY DOCUMENT (thousands of small
    * partitions — no single-partition window), distinct minima as a
    * hash aggregate. One shuffle on doc id, the shape that scales.
    * Hash: 40-bit value, DuckDB-replicable
    * ('0x'||substr(md5('wn:'||g),1,10)). A doc with fewer than w grams
    * keeps its global minimum (the pos-0 frame truncates to the doc
    * end, which IS the global min — no special case). */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w >= 1, "window must be >= 1")
    val gh = docs
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("toks"))
      .select(col("id"), posexplode(gramsOfTokens(col("toks"), k)))
      .select(col("id"), col("pos"),
        conv(substring(md5(concat(lit("wn:"), col("col"))), 1, 10), 16, 10)
          .cast("long").as("h"))
    val frame = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    gh
      .withColumn("n", count(lit(1)).over(Window.partitionBy("id")))
      .withColumn("mn", min(col("h")).over(frame))
      .filter(col("pos") <= greatest(col("n") - w, lit(0)))
      .select(col("id"), col("mn").as("fp"))
      .distinct()
  }

  /** Near-verbatim reuse pairs: documents sharing >= minShared winnowed
    * fingerprints. The fingerprint table is ~2/(w+1) the gram count, so
    * this is the CHEAP substring-overlap join (plagiarism/mirror
    * detection) — same equi-join-on-key shape as every other blocking
    * path, with the same hub guard: a fingerprint shared by k docs emits
    * C(k,2) pairs, so fingerprints above `maxFpDF` document frequency are
    * dropped first (a boilerplate gram's minimum can dominate a corpus
    * exactly like a stopword shingle). */
  def winnowOverlapPairs(docs: DataFrame, minShared: Int = 2, k: Int = 3,
                         w: Int = 4, idCol: String = "doc_id",
                         textCol: String = "text", maxFpDF: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // df cap in one exchange over the fingerprint table (see jaccardPairs'
    // window form); persisted because the pair self-join consumes it twice
    // — unpinned, the tokenize+winnow pipeline runs once per consumer.
    val fp = winnowFingerprints(docs, k, w, idCol, textCol)
      .repartition(col("fp"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("df") <= maxFpDF)
      .select("id", "fp")
      .persist()
    val pairs = fp.select(col("fp"), col("id").as("ida"))
      .join(fp.select(col("fp"), col("id").as("idb")), Seq("fp"))
      .filter(col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
    val out = graft.io.Iterate.pin(pairs)
    fp.unpersist(blocking = false)
    out
  }

  /** Survivorship over a near-dup pair table — the step a corpus builder
    * runs AFTER any pair detector (jaccardPairs / containmentPairs /
    * minhashPairs / simhashPairs / winnowOverlapPairs all emit the same
    * (ida, idb) shape): duplicate CLUSTERS are connected components of the
    * pair graph (near-duplication is not transitive, but dropping
    * per-component is the standard conservative policy), the canonical
    * survivor is the cluster's minimum doc id, everything else is
    * droppable. Docs in no pair are their own singleton cluster and
    * survive. Component id = component min (ConnectedComponents.run), so
    * keep == (doc_id == cluster) needs no extra aggregate.
    * Scale shape: CC is the large/small-star loop over the PAIR table
    * (tiny next to the corpus), one left join back to docs. */
  def dedupSurvivors(docs: DataFrame, pairs: DataFrame,
                     idCol: String = "doc_id",
                     aCol: String = "ida", bCol: String = "idb"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val edges = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .withColumn("weight", lit(1.0))
      .as[graft.model.Edge]
    val comps = graft.algo.ConnectedComponents.run(edges)
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(comps.select(col("id").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("cluster"))
      .withColumn("keep", col("cluster") === col("doc_id"))
  }

  /** Number of hub shingles a given df cap drops (jaccardPairs /
    * containmentPairs skew guard) — the observability hook, mirroring
    * EdgeExtraction.hubPathCount: the caps must never truncate silently.
    * Run it beside the pair query when tuning `maxShingleDF`; a non-tiny
    * count means boilerplate shingles are being excluded from similarity
    * evidence and sizes, and thresholds may want revisiting. */
  def hubShingleCount(docs: DataFrame, n: Int = 3, maxShingleDF: Int = 1000,
                      idCol: String = "doc_id", textCol: String = "text"): Long =
    shingleTable(docs, idCol, textCol, n)
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDF).count()

  /** Number of hub winnowing fingerprints a given df cap drops
    * (winnowOverlapPairs skew guard) — same observability contract. */
  def hubFingerprintCount(docs: DataFrame, k: Int = 3, w: Int = 4,
                          maxFpDF: Int = 1000, idCol: String = "doc_id",
                          textCol: String = "text"): Long =
    winnowFingerprints(docs, k, w, idCol, textCol)
      .groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxFpDF).count()

  // -------------------------------------------------------------- minhash

  /** MinHash signatures: numHashes independent min-aggregates over the
    * exploded shingle table — one shuffle (groupBy id), partial aggregation
    * map-side. Hash family: ONE portable md5 per shingle, split into two
    * hex-derived 40-bit integers h1/h2, expanded to 64 permutations by
    * Kirsch-Mitzenmacher double hashing h_i = (h1 + i*h2) mod 2^40 —
    * overflow-safe under ANSI mode (h1 + 63*h2 < 2^47) and DuckDB-replicable
    * from the same hex substrings (q_minhash_pairs oracle). h2 MUST span the
    * full modulus: a narrower h2 makes h_i monotone in i, so one shingle
    * dominates runs of consecutive permutations and the minima correlate
    * (measured 12/64 agreement on ~0.78-Jaccard docs before widening).
    * h1/h2 are materialized in a codegen'd projection so md5 runs exactly
    * once per shingle row (64 in-aggregate md5 calls cost 45 s at sf0.1). */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 64, n: Int = 3,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val h = md5(graft.util.Portable.key(lit("mh"), col("sh")))
    val sh = shingleTable(docs, idCol, textCol, n)
      .select(col("id"),
        conv(substring(h, 1, 10), 16, 10).cast("long").as("h1"),
        conv(substring(h, 11, 10), 16, 10).cast("long").as("h2"))
    val m = 1L << 40
    val aggs = (0 until numHashes).map(i =>
      min(pmod(col("h1") + lit(i.toLong) * col("h2"), lit(m))).as(s"h$i"))
    val sig = sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
    sig.select(col("id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash + LSH near-dup pairs: band the signature (bands x rowsPerBand),
    * bucket-join on (band, hash(band slice)), then estimate Jaccard as the
    * fraction of agreeing signature components; keep pairs >= threshold.
    * Collision probability of a pair with Jaccard j: 1-(1-j^r)^b. */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.5,
                   numHashes: Int = 64, bands: Int = 16, n: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sig = minhashSignatures(docs, numHashes, n, idCol, textCol).persist()
    // bucket key = md5 of the comma-joined band slice;
    // DuckDB mirror: md5(h_i::VARCHAR || ',' || h_{i+1}::VARCHAR || ...).
    val bandHashes = array((0 until bands).map(b =>
      md5(concat_ws(",", slice(col("sig"), b * r + 1, r).cast("array<string>")))): _*)
    // ids ONLY ride through the band join + distinct; the 64-long
    // signature arrays re-join afterwards (round-1 shuffled them through).
    val banded = sig.select(col("id"), posexplode(bandHashes))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
    val cands = banded.select(col("band"), col("bucket"), col("id").as("ida"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("idb")),
        Seq("band", "bucket"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
      .join(sig.select(col("id").as("ida"), col("sig").as("siga")), Seq("ida"))
      .join(sig.select(col("id").as("idb"), col("sig").as("sigb")), Seq("idb"))
    val pairs = cands.withColumn("eraw",
      size(filter(zip_with(col("siga"), col("sigb"), (a, b) => a === b),
        x => x)).cast("double") / numHashes)
      .filter(col("eraw") >= threshold)
      .select(col("ida"), col("idb"), round(col("eraw"), 6).as("est_jaccard"))
    // pin result, release the signature cache (lshPairs lifetime pattern)
    val out = graft.io.Iterate.pin(pairs)
    sig.unpersist(blocking = false)
    out
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash over tokens: sum +/-1 per bit of each token hash, take
    * signs. Entirely a per-row fold (aggregate + zip_with) — zero shuffle,
    * whole-stage codegen'd, so it runs at scan speed over 100 TB.
    *
    * Token hash bits come from md5 hex nibbles (bit k = nibble k/4 >> (k%4)
    * & 1) so the DuckDB oracle (q_simhash_pairs) recomputes identical
    * simhashes — graft.util.Portable discipline. Staged so md5 runs exactly
    * ONCE per token: higher-order-function lambdas are interpreted (no
    * codegen, no subexpression elimination), so referencing md5(t) per
    * nibble would re-digest the token 16-64x (measured 30 s at sf0.1). */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame =
    // Native codegen kernel (round 6): the staged HOF pipeline (one md5
    // hex per token -> 16 nibbles -> aggregate/zip_with fold into 64 sums)
    // ran interpreted at ~64 boxed lambda steps per token — measured 4.7 s
    // over the sf0.1 corpus vs a few hundred ms for the fused loop. Same
    // md5 nibbles, same +/-1 integer sums, same shift+OR packing —
    // bit-identical output (SimHashKernel scaladoc; BlockingSpec pins the
    // planted-pair results, the DuckDB oracle replays the nibbles).
    docs.select(col(idCol).as("id"),
      SimHashKernel.simhash64(TextOps.tokens(col(textCol))).as("simhash"))

  /** SimHash near-dup pairs with CHUNK-PAIR blocking (round-1 fix): the
    * 64-bit hash splits into 5 chunks (13+13+13+13+12 bits); a pair within
    * hamming distance <= 3 has its errors in at most 3 chunks, so at least
    * 2 of 5 chunks are clean — by pigeonhole the pair collides on at least
    * one of the C(5,2) = 10 chunk-PAIR keys. Each blocking key is
    * therefore ~26 bits (≈67M buckets) instead of round 1's 16-bit single
    * chunks (65k buckets), whose occupancy at 10^9 docs forced quadratic
    * in-bucket verification. Exact hamming verifies within bucket.
    *
    * Requires maxHamming <= 3 (more errors could dirty 4+ chunks and leave
    * no clean pair). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxHamming <= 3,
      "chunk-pair blocking is exact only for maxHamming <= 3 (5 chunks, 2 clean needed)")
    val sh = simhash(docs, idCol, textCol).persist()
    // chunk boundaries: [0,13) [13,26) [26,39) [39,52) [52,64)
    val starts = Array(0, 13, 26, 39, 52)
    val lens = Array(13, 13, 13, 13, 12)
    def chunk(c: Int): Column =
      shiftrightunsigned(col("simhash"), starts(c)).bitwiseAND((1L << lens(c)) - 1)
    val combos = for (i <- 0 until 5; j <- (i + 1) until 5) yield (i, j)
    val keys = array(combos.zipWithIndex.map { case ((i, j), cid) =>
      // cid (4 bits) | chunk_i (13 bits) | chunk_j (13 bits) packed in a long
      lit(cid.toLong).multiply(lit(1L << 26))
        .plus(chunk(i).multiply(lit(1L << 13)))
        .plus(chunk(j))
    }: _*)
    val keyed = sh.select(col("id"), explode(keys).as("key"))
    val hamming = bit_count(col("sha").bitwiseXOR(col("shb")))
    val pairs = keyed.select(col("key"), col("id").as("ida"))
      .join(keyed.select(col("key"), col("id").as("idb")), Seq("key"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
      .join(sh.select(col("id").as("ida"), col("simhash").as("sha")), Seq("ida"))
      .join(sh.select(col("id").as("idb"), col("simhash").as("shb")), Seq("idb"))
      .withColumn("hamming", hamming.cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("ida", "idb", "hamming")
    // pin result, release the simhash cache (lshPairs lifetime pattern)
    val out = graft.io.Iterate.pin(pairs)
    sh.unpersist(blocking = false)
    out
  }
}
