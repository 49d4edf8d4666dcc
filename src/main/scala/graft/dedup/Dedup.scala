package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.textops.TextOps

/** Near-duplicate detection for training-data corpora, in three families:
  *
  *  1. n-gram Jaccard (exact, pairwise)    — the verification oracle
  *  2. MinHash + banded LSH                — the 10^12-doc scale path
  *  3. SimHash + pigeonhole chunk blocking — bit-sketch alternative
  *
  * The scale architecture: every family reduces the O(n²) pair space to
  * candidate generation by a SHUFFLE ON A SMALL KEY (band bucket / simhash
  * chunk / length block), then verifies only candidates. Nothing in here ever
  * broadcasts or collects the corpus; hot buckets (boilerplate shingles) are
  * the known skew risk and are handled by AQE skew-join splitting plus the
  * `maxBucket` guard that drops degenerate buckets (standard practice: a
  * bucket with thousands of members is boilerplate, not near-dup signal).
  */
object Dedup {

  /** distinct word w-shingles of the normalized text; a document shorter than
    * `w` tokens contributes its whole text as one shingle. */
  def shingles(text: Column, w: Int = 3): Column = {
    // token array bound as a lambda variable so the tokenizer runs once per
    // row, not once per shingle (see CorpusOps.ngramHashes for the measured
    // lambda re-evaluation trap)
    element_at(transform(array(TextOps.tokens(TextOps.normalized(text))), toks =>
      array_distinct(
        when(size(toks) < w, array(array_join(toks, " ")))
          .otherwise(transform(
            sequence(lit(0), size(toks) - w),
            i => array_join(slice(toks, i + 1, lit(w)), " "))))), 1)
  }

  /** exact set Jaccard between two distinct-element arrays (both engines can
    * mirror this: |a ∩ b| via filter+contains, |a ∪ b| = |a|+|b|-|a∩b|). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter).cast("double")
  }

  /** pair-level exact verification columns: |a∩b| and |a∪b| as INTEGERS, with
    * the τ-threshold applied in integer arithmetic (`inter·100 ≥ τ%·union`).
    * Oracle-robust by construction — no float rounding can diverge between
    * engines. */
  private def verifiedPairs(joined: DataFrame, tauPct: Int): DataFrame =
    joined
      .withColumn("n_inter", size(array_intersect(col("a_sh"), col("b_sh"))))
      .withColumn("n_union", size(col("a_sh")) + size(col("b_sh")) - col("n_inter"))
      .filter(col("n_inter") * 100 >= col("n_union") * tauPct)
      .select(col("a_id"), col("b_id"), col("n_inter"), col("n_union"))

  /** Family 1 — brute-force pairwise n-gram Jaccard with LENGTH BLOCKING:
    * only pairs whose token counts differ by ≤ `lenBlock` are compared
    * (a true near-dup at τ≥0.8 cannot differ much in length). Exact within
    * its blocking contract; the oracle for the sketch families. Quadratic —
    * reserved for verification scale. τ is a percentage (80 = 0.8) so the
    * threshold stays in integer math. */
  def jaccardPairs(docs: DataFrame, tauPct: Int, lenBlock: Int = 40): DataFrame = {
    val sh = docs.select(col("doc_id"), shingles(col("text")).as("sh"),
      TextOps.tokenCount(col("text")).as("n_tok"))
    val a = sh.toDF("a_id", "a_sh", "a_n")
    val b = sh.toDF("b_id", "b_sh", "b_n")
    verifiedPairs(
      a.join(b, col("a_id") < col("b_id") &&
        abs(col("a_n") - col("b_n")) <= lenBlock), tauPct)
  }

  /** Family 2 — MinHash signatures + banded LSH candidate join + exact
    * Jaccard verification.
    *
    * k signature slots in `bands` bands of k/bands rows; two docs collide if
    * any band matches entirely. Candidates are verified with true Jaccard so
    * the output has NO false positives; recall is the standard banding
    * S-curve (defaults k=32, bands=16, r=2 → collide-probability
    * 1-(1-J²)^16 ≈ 1-1.5e-9 at J=0.85 — effectively perfect recall above the
    * τ=0.8 gate; trade bands down for fewer candidates when τ is lower).
    *
    * Shuffle profile at scale: one narrow pass to sign, one explode (×bands),
    * one shuffle on (band, bucket) — a 12-byte key — then verification joins
    * that rehydrate only candidate shingle sets by doc_id.
    */
  /** tokenize → shingle-hash → sign → band in ONE kernel pass
    * (MinHashBandsTokens): no shingle strings materialize, nothing but
    * (doc_id, band, bucket) ever leaves the task. The column-level
    * formulation (shingle array → signature → per-band transform lambda)
    * both allocated ~2k shingle strings per doc AND re-evaluated the
    * signature per band after projection collapse — measured 16× the cost.
    * Shared by [[minhashPairs]] and [[minhashClusters]] so the signing
    * config can never drift between the pair and cluster paths. */
  private def bandedBuckets(docs: DataFrame, k: Int, bands: Int): DataFrame =
    docs.select(
      col("doc_id"),
      posexplode(minhash_bands_tokens(
        TextOps.tokens(TextOps.normalized(col("text"))), 3, k, bands))
        .as(Seq("band", "bucket")))

  def minhashPairs(docs: DataFrame, tauPct: Int, k: Int = 32, bands: Int = 16,
                   maxBucket: Int = 64, lenBlock: Int = 40): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val banded = bandedBuckets(docs, k, bands)

    // Degenerate-bucket guard (boilerplate shingles → mega-buckets → skew)
    // via the shared Lsh helper; minSize=2 drops pair-less singleton buckets
    val pruned = graft.similarity.Lsh.guardBuckets(
      banded, Seq("band", "bucket"), maxBucket, minSize = 2)
    val cands = pruned.select(col("band"), col("bucket"), col("doc_id").as("a_id"))
      .join(pruned.select(col("band"), col("bucket"), col("doc_id").as("b_id")),
        Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()

    // Verification: join candidate ids back to the RAW text first, compute
    // the exact shingle-set Jaccard AFTER the join with the fused
    // `shingle_jaccard_packed` kernel — work proportional to candidate pairs
    // only, no shingle array ever materializes or crosses a shuffle. Same
    // length-blocking contract as jaccardPairs so the sketch output is a
    // subset of the oracle's pair space.
    verifyCandidates(docs, cands, tauPct, lenBlock)
  }

  /** exact packed-shingle Jaccard verification of an (a_id, b_id) candidate
    * edge set against the raw corpus — the shared tail of every MinHash
    * family member. Work is proportional to candidate edges; no shingle
    * array ever materializes or crosses a shuffle. */
  private def verifyCandidates(docs: DataFrame, cands: DataFrame,
                               tauPct: Int, lenBlock: Int): DataFrame = {
    val aDoc = docs.select(col("doc_id").as("a_id"), col("text").as("a_text"))
    val bDoc = docs.select(col("doc_id").as("b_id"), col("text").as("b_text"))
    def toks(c: Column) = TextOps.tokens(TextOps.normalized(c))
    cands.join(aDoc, "a_id").join(bDoc, "b_id")
      .filter(abs(TextOps.tokenCount(col("a_text")) -
        TextOps.tokenCount(col("b_text"))) <= lenBlock)
      .select(col("a_id"), col("b_id"),
        shingle_jaccard_packed(toks(col("a_text")), toks(col("b_text")), 3).as("p"))
      .select(col("a_id"), col("b_id"),
        shiftrightunsigned(col("p"), 32).cast("int").as("n_inter"),
        col("p").bitwiseAND(lit(0xffffffffL)).cast("int").as("n_union"))
      .filter(col("n_inter") * 100 >= col("n_union") * tauPct)
  }

  /** Family 2b — near-dup CLUSTERING at corpus scale via per-bucket STAR
    * edges. [[minhashPairs]] materializes every verified pair, which is the
    * right contract for a pair-level report but quadratic in any template /
    * boilerplate corpus: duplicates form cliques, and a clique of c docs is
    * c²/2 pairs no matter how buckets are capped (measured: 250k
    * template-generated log docs produced >70 GB of candidate spill).
    * Clustering only needs a SPANNING subgraph of the near-dup graph, so
    * this operator emits one edge per (bucket member, bucket representative
    * = min doc_id) — O(docs × bands) candidate edges total, linear in the
    * corpus even when every bucket is one giant clique. This is the shape
    * web-scale dedup pipelines actually run (RefinedWeb / SlimPajama-class:
    * LSH buckets → union-find, no pairwise join).
    *
    * Every star edge is still VERIFIED (exact packed-shingle Jaccard vs the
    * representative, same τ and length-block as the pair path), so a
    * hash-collision bucket cannot merge unrelated documents. Relative to
    * the all-pairs closure the star closure can only under-merge, and only
    * when a bucket's representative is dissimilar to a member that has no
    * faithful representative in any of its other `bands` buckets — for real
    * duplicate cliques every representative is a clique member, and
    * DedupSpec pins set-equality to the exact transitive closure on the
    * test corpus.
    *
    * 100 TB posture: one map-side-combinable groupBy-MIN per bucket (a
    * boilerplate mega-bucket costs one running min, never a buffer), a
    * same-key join back to the banded rows (12-byte shuffle keys), linear
    * verification, then [[connectedComponents]]. A representative of a hot
    * clique is a skewed join key on the verification's a_id side — AQE
    * skew-join splitting handles it (the b_id side is unique).
    *
    * Returns (doc_id, cluster_id, keep) for every input document — the
    * [[dedupClusters]] contract. */
  def minhashClusters(docs: DataFrame, tauPct: Int, k: Int = 32,
                      bands: Int = 16, lenBlock: Int = 40): DataFrame = {
    val banded = bandedBuckets(docs, k, bands)
    val reps = banded.groupBy("band", "bucket").agg(min("doc_id").as("a_id"))
    val star = banded.join(reps, Seq("band", "bucket"))
      .filter(col("doc_id") =!= col("a_id"))
      .select(col("a_id"), col("doc_id").as("b_id"))
      .distinct()
    dedupClusters(docs, verifyCandidates(docs, star, tauPct, lenBlock))
  }

  /** Family 3 — SimHash near-dup: 64-bit sketch per doc, candidates by
    * pigeonhole (hamming ≤ maxHamming over 64 bits ⇒ at least one of
    * (maxHamming+1) chunks is identical), verified by exact popcount.
    * Output: candidate pairs with their hamming distance.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   maxBucket: Int = 1000): DataFrame = {
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    val sigs = docs.select(col("doc_id"),
      simhash64(TextOps.tokens(TextOps.normalized(col("text")))).as("sig"))
    val mask = (1L << bitsPer) - 1
    val banded = sigs.select(
      col("doc_id"), col("sig"),
      posexplode(expr(
        s"transform(sequence(0, ${chunks - 1}), c -> shiftrightunsigned(sig, c * $bitsPer) & ${mask}L)"))
        .as(Seq("chunk", "key")))
    // Degenerate-chunk guard, same contract as minhashPairs (shared Lsh
    // helper — a boilerplate chunk key costs one counter, never one buffer)
    val pruned = graft.similarity.Lsh.guardBuckets(
      banded, Seq("chunk", "key"), maxBucket, minSize = 2)
    val a = pruned.select(col("chunk"), col("key"),
      col("doc_id").as("a_id"), col("sig").as("a_sig"))
    val b = pruned.select(col("chunk"), col("key"),
      col("doc_id").as("b_id"), col("sig").as("b_sig"))
    a.join(b, Seq("chunk", "key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).as("hamming"))
      // hamming gate BEFORE the dedup shuffle: candidates that fail the
      // distance test never leave the bucket task
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over an undirected near-dup pair graph by
    * alternating large-star / small-star rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Each round is a
    * groupBy-MIN plus a join — no adjacency list is ever collected or
    * buffered, so a boilerplate hub of any degree costs one running minimum,
    * never one buffer. Converges in O(log² n) rounds on adversarial graphs;
    * near-dup graphs (small, shallow components) converge in 2–3. Lineage is
    * truncated with an eager localCheckpoint per round so the iterative plan
    * never grows.
    *
    * Returns (node, component) for every node that appears in `pairs`, where
    * component = the smallest node id in the node's connected component.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    // RELIABLE checkpoint per round (not localCheckpoint): truncates the
    // iterative lineage so the plan never grows, AND survives executor loss —
    // a localCheckpoint of round k dies with any executor, killing an hours-
    // long curation job at 100 TB. The edge set is tiny next to the corpus,
    // so the per-round write is cheap. Production sets a durable checkpoint
    // dir; default to the local tmp dir so the operator works out of the box.
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      // per-JVM scratch dir + exit hook: reliable-checkpoint files are not
      // reference-tracked by default, so a shared fixed path would grow
      // /tmp across sessions without bound (a user-supplied dir is owned by
      // the user and never touched)
      val dir = java.nio.file.Files.createTempDirectory("graft-checkpoints-")
      spark.sparkContext.setCheckpointDir(dir.toString)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile): Unit))
    }
    // trailing per-round cleanup: round k-1's checkpoint files are dead the
    // moment round k's convergence check completes — without this, an
    // iterative job leaks 2 RDD dirs per round for the session's lifetime.
    // (Set-diff attribution assumes one CC job per session at a time, which
    // is how curate/Verify drive it; a concurrent job's files would just be
    // mis-attributed to a round, not corrupted mid-read.)
    val ckDir = new org.apache.hadoop.fs.Path(spark.sparkContext.getCheckpointDir.get)
    val ckFs = ckDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ckChildren(): Set[String] =
      if (ckFs.exists(ckDir)) ckFs.listStatus(ckDir).map(_.getPath.getName).toSet
      else Set.empty
    val preExisting = ckChildren()
    var e = pairs
      .select(col("a_id").cast("long").as("u"), col("b_id").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .checkpoint()
    var known = ckChildren()
    var prevDirs = known -- preExisting
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // large-star: connect every strictly-larger neighbor of u to
      // min(N(u) ∪ {u})
      val bidir = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val minsL = bidir.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val afterLarge = bidir.join(minsL, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: direct each edge (max → min), then connect u and all its
      // smaller neighbors to min(N⁻(u) ∪ {u})
      val dir = afterLarge.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct()
      val minsS = dir.groupBy("u").agg(min("v").as("m"))
      val afterSmall = dir.join(minsS, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .union(minsS.select(col("u"), col("m").as("v")))
        .distinct()
        .checkpoint()
      // fixpoint in ONE action per round: both sides are distinct sets, so
      // an empty symmetric difference ⟺ identical edge sets. (A count-pair +
      // anti-join is two jobs per round — ~50 convergence jobs at the
      // 25-round worst case.)
      converged = afterSmall.select(col("u"), col("v"), lit(1).as("_n"))
        .join(e.select(col("u"), col("v"), lit(1).as("_o")),
          Seq("u", "v"), "full_outer")
        .filter(col("_n").isNull || col("_o").isNull)
        .isEmpty
      // the previous round's checkpoint files are now unreachable — reclaim
      val now = ckChildren()
      val thisRound = now -- known
      known = now
      prevDirs.foreach(d =>
        ckFs.delete(new org.apache.hadoop.fs.Path(ckDir, d), true))
      prevDirs = thisRound
      e = afterSmall
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIters rounds")
    // e is now a star forest (node → component root); roots appear only on
    // the v side, so add their self-rows
    e.select(col("u").as("node"), col("v").as("component"))
      .union(e.select(col("v").as("node"), col("v").as("component")))
      .distinct()
  }

  /** Full dedup RESOLUTION over a corpus: verified near-dup pairs → connected
    * components → one row per document (doc_id, cluster_id, keep). `keep`
    * marks the cluster representative (smallest doc_id in the component);
    * `filter(col("keep"))` is the deduplicated corpus. Documents in no pair
    * are their own singleton cluster. The components relation holds only the
    * nodes that appear in some pair — tiny next to the corpus — so the final
    * join broadcasts under AQE at real duplicate rates. */
  def dedupClusters(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs).withColumnRenamed("node", "doc_id")
    docs.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
  }

  /** End-to-end corpus curation — the operator chain a pre-training data
    * run actually executes, in its canonical order:
    *   1. Gopher quality gate ([[graft.textops.TextOps.gopherFilter]]) —
    *      narrow map, no shuffle;
    *   2. exact dedup on the normalized-content fingerprint (keep the
    *      smallest doc_id per group) — one map-side-combinable shuffle on
    *      a 32-char key;
    *   3. MinHash-LSH near-dup detection + connected-components cluster
    *      resolution over the survivors (keep the cluster representative).
    * One output row per INPUT document with the stage that removed it
    * (`dropped_quality` / `dropped_exact` / `dropped_neardup`) or `kept` —
    * full lineage of why each document left the corpus, which is what a
    * 100 TB curation run needs for auditability. Later stages only process
    * earlier survivors, so the expensive near-dup step sees the smallest
    * corpus.
    *
    * With `bench` set, a DECONTAMINATION stage runs between the quality
    * gate and exact dedup (the canonical slot: cheap narrow gates first,
    * then the broadcast n-gram probe over quality survivors only, then the
    * shuffling dedup stages over the clean set): documents sharing a word
    * `deconN`-gram with the benchmark corpus leave as
    * `dropped_contaminated`. `bench = None` (default) is byte-identical to
    * the three-stage pipeline.
    *
    * EAGER: the call runs the whole chain before it returns. The verdict
    * frame `(doc_id, stage, kept)` is persisted `DISK_ONLY` and counted
    * once, and every intermediate the call persisted is released by then.
    * The returned frame is the handle to that one cache: the caller
    * `unpersist()`s it when done, and nothing else of the call stays
    * cached. */
  def curate(docs: DataFrame, tau: Int = 80, bench: Option[DataFrame] = None,
             deconN: Int = 8): DataFrame = {
    // quality verdict as an inline column — a narrow map in the SAME scan,
    // not a recomputed frame joined back on doc_id. A null text is dropped
    // explicitly (the SQL mirror's rule conjunction also rejects it).
    // The annotated corpus feeds four consumers (winners, the survivor
    // semi-join, the near-dup self-join sides, the lineage frame) across the
    // connected-components actions — materialize once instead of re-running
    // the quality kernels per consumer. PRUNED to exactly the three columns
    // those consumers read (not the full document row: at 100 TB the corpus
    // copy would dominate executor storage), and persist(DISK_ONLY) rather
    // than localCheckpoint: a lost cached partition recomputes from source
    // lineage instead of failing an hours-long curation run.
    val annotated = docs.select(col("doc_id"), col("text")).withColumn("q_keep",
      col("text").isNotNull &&
        graft.textops.TextOps.gopherReason(col("text")).isNull)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val qdocs = annotated.filter(col("q_keep"))
    // optional decontamination: benchmark-gram probe over quality survivors
    // the contaminated id set feeds every downstream scan (minhashPairs
    // alone reads its input three times, and each read would re-run the
    // full corpus gram probe) — materialize it once; it is proportional to
    // contamination, tiny next to the corpus, same trade as `annotated`
    val contam = bench.map(b =>
      graft.textops.CorpusOps.decontaminate(qdocs, b, deconN)
        .filter(col("contaminated"))
        .select(col("doc_id"), lit(true).as("is_contam"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    val cleanDocs = contam.fold(qdocs)(c =>
      qdocs.join(c.select("doc_id"), Seq("doc_id"), "left_anti"))
    // exact stage = the canonical fingerprint dedup rule, defined ONCE
    val winners = graft.textops.TextOps.dedupExact(cleanDocs)
      .select(col("keep_id").as("doc_id"))
    val uniq = cleanDocs.join(winners, Seq("doc_id"), "left_semi")
    val clusters = dedupClusters(uniq, minhashPairs(uniq, tau))
      .select(col("doc_id"), col("keep").as("nd_keep"))
    val lineage = contam.fold(
      annotated.select("doc_id", "q_keep")
        .withColumn("is_contam", lit(null).cast("boolean")))(c =>
      annotated.select("doc_id", "q_keep").join(c, Seq("doc_id"), "left"))
    val result = lineage
      .join(winners.withColumn("is_winner", lit(true)), Seq("doc_id"), "left")
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(!col("q_keep"), "dropped_quality")
          .when(col("is_contam"), "dropped_contaminated")
          .when(col("is_winner").isNull, "dropped_exact")
          .when(!col("nd_keep"), "dropped_neardup")
          .otherwise("kept").as("stage"))
      .withColumn("kept", col("stage") === "kept")
      // materialize the per-doc verdict (two narrow columns — orders of
      // magnitude smaller than `annotated`'s text copy) while the big
      // intermediates are still cached, then FREE them: without this, every
      // curate() call leaks a corpus-sized DISK_ONLY frame for the session
      // lifetime, and a caller's later action would silently re-run the
      // whole pipeline from source
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    result.count()
    annotated.unpersist(blocking = false)
    contam.foreach(_.unpersist(blocking = false))
    result
  }

  /** Exact substring-duplication spans — the distributed shape of Lee et
    * al. 2022's ExactSubstr dedup ("Deduplicating Training Data Makes
    * Language Models Better"), at fixed window granularity: every length-`w`
    * token window of every document is fingerprinted; a window whose
    * fingerprint occurs ≥ `minCount` times ANYWHERE in the corpus (across
    * documents or repeated inside one) marks a duplicated span. Adjacent /
    * overlapping duplicated windows are merged into maximal spans
    * (gaps-and-islands over window start positions, gap ≤ `w`), and each
    * document gets its duplication profile:
    * `(doc_id, n_tok, n_dup, n_spans, cov, dup_frac)` where `cov` is the
    * token count covered by merged spans. The true suffix-array formulation
    * finds arbitrary-length repeats; fixed-stride windows are the standard
    * distributed approximation (a repeat of length L ≥ w yields L−w+1
    * duplicated windows and is recovered exactly by the merge; repeats
    * shorter than w are below the dedup threshold by definition).
    *
    * 100 TB posture: the only wide stages are (1) the window-fingerprint
    * count — map-side-combinable groupBy on an 8-byte xxhash64 key, never
    * the window text — and (2) the join-back of the ≥minCount fingerprint
    * set, co-partitioned on the same key. The per-document island merge
    * shuffles only (doc_id, pos) pairs of DUPLICATED windows (post-filter,
    * a small fraction of the corpus) and is bounded per key by document
    * length, like every other per-doc ordered fold here. */
  def substringDupSpans(docs: DataFrame, w: Int = 8, minCount: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextOps.tokens(TextOps.normalized(col("text")))
    val base = docs.select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n_tok"))
    // windows: (doc_id, pos, h); pos is the 1-based first-token index.
    // sequence() is not emitted for n_tok < w (Spark's sequence(1, 0) would
    // DESCEND) — short docs simply contribute no windows.
    // the token array rides into the window lambda as a LAMBDA VARIABLE:
    // CollapseProject inlines the `toks` alias into this projection, and a
    // lambda body re-evaluates any non-variable subexpression per element —
    // i.e. two regexes per window (the ngramHashes trap, same fix)
    val wins = base.where(col("n_tok") >= w)
      .select(col("doc_id"),
        explode(element_at(transform(array(col("toks")), ts =>
          transform(sequence(lit(1), col("n_tok") - (w - 1)),
            i => struct(i.as("pos"),
              xxhash64(array_join(slice(ts, i, lit(w)), " ")).as("h")))), 1)).as("pw"))
      .select(col("doc_id"), col("pw.pos").as("pos"), col("pw.h").as("h"))
    val dupHashes = wins.groupBy("h").count()
      .where(col("count") >= minCount).select("h")
    val dups = wins.join(dupHashes, Seq("h")).select("doc_id", "pos")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val islands = dups
      .withColumn("new_island",
        when(col("pos") - lag("pos", 1).over(byDoc) <= w, 0).otherwise(1))
      .withColumn("island_id", sum("new_island").over(byDoc))
    val spans = islands.groupBy("doc_id", "island_id")
      .agg(min("pos").as("s"), (max("pos") + w).as("e"))
    val perDoc = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("e") - col("s")).as("cov"))
      .join(dups.groupBy("doc_id").agg(count(lit(1)).as("n_dup")), Seq("doc_id"))
    base.select("doc_id", "n_tok")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("cov"), lit(0L)).as("cov"),
        (coalesce(col("cov"), lit(0L)) / col("n_tok")).as("dup_frac"))
  }

  /** Exact substring-duplication REMOVAL — the edit half of Lee et al.
    * 2022's ExactSubstr dedup, at the same fixed window granularity as
    * [[substringDupSpans]]: every duplicated window (corpus count ≥
    * `minCount`) keeps exactly its globally FIRST occurrence (min
    * (doc_id, pos) per fingerprint); every other occurrence marks its
    * `w`-token range for deletion, and each document is reassembled from
    * its surviving tokens (case preserved; inter-token whitespace
    * normalizes to one space by construction — the reassembled text is a
    * token sequence, not a byte-faithful slice).
    *
    * Output: (doc_id, text, n_tok, n_removed).
    *
    * 100 TB posture: the same wide-stage contract as the profiler — the
    * fingerprint count and the winner min-struct are map-side-combinable
    * groupBys on an 8-byte key, the winner join is co-partitioned on that
    * key (exchange reuse), and the deletion set shuffles (doc_id, int)
    * pairs only for NON-WINNER duplicated windows. Document text crosses
    * one shuffle: the reassembly doc_id join. */
  def removeDupSpans(docs: DataFrame, w: Int = 8, minCount: Int = 2): DataFrame = {
    // the case-preserving array MUST ride the same whitespace collapse as
    // the normalized one: tokens() alone strips only spaces at the edges,
    // so text starting/ending with \t or \n would grow raw by one empty
    // token and shift every deletion index off by one
    val base = docs.select(col("doc_id"),
      split(trim(regexp_replace(col("text"), "\\s+", " ")), " ").as("raw"),
      TextOps.tokens(TextOps.normalized(col("text"))).as("toks"))
      .select(col("doc_id"), col("raw"), col("toks"),
        size(col("toks")).as("n_tok"))
    val wins = base.where(col("n_tok") >= w)
      .select(col("doc_id"),
        explode(element_at(transform(array(col("toks")), ts =>
          transform(sequence(lit(1), col("n_tok") - (w - 1)),
            i => struct(i.as("pos"),
              xxhash64(array_join(slice(ts, i, lit(w)), " ")).as("h")))), 1)).as("pw"))
      .select(col("doc_id"), col("pw.pos").as("pos"), col("pw.h").as("h"))
    val dupHashes = wins.groupBy("h").count()
      .where(col("count") >= minCount).select("h")
    val dupWins = wins.join(dupHashes, Seq("h"))
    val winners = dupWins.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("kw"))
    val delIdx = dupWins.join(winners, Seq("h"))
      .where(!(col("doc_id") === col("kw.doc_id") && col("pos") === col("kw.pos")))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("i"))
      .groupBy("doc_id").agg(collect_set(col("i")).as("del"))
    base.join(delIdx, Seq("doc_id"), "left")
      .withColumn("del", coalesce(col("del"), array().cast("array<int>")))
      .select(col("doc_id"),
        array_join(filter(col("raw"),
          (_, i) => !array_contains(col("del"), i + 1)), " ").as("text"),
        col("n_tok"),
        size(col("del")).as("n_removed"))
  }

  /** Family 4 — embedding cosine near-dup (brute force with id ordering;
    * the bucketed scale path is [[embeddingPairsLsh]]). */
  def embeddingPairs(embeds: DataFrame, tau: Double): DataFrame = {
    val a = embeds.select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
    val b = embeds.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", cosine_sim(col("a_v"), col("b_v")))
      .filter(col("cos") >= tau)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos"))
  }

  /** Family 4 at scale — hyperplane-LSH bucketed embedding near-dup: every
    * vector lands in one bucket per table; candidate pairs share a
    * (table, bucket) cell; exact cosine verifies. Recall for a pair at angle
    * θ is 1-(1-(1-θ/π)^planes)^tables (pinned in DedupSpec for the real
    * config). `probeHamming = planes` probes every bucket — exhaustive, so
    * the brute-force SQL oracle applies verbatim, the same trick as
    * IVF nprobe=nlist. The (table, bucket) self-join carries ids + vectors
    * once and has the standard max-bucket degeneracy guard; at 10^12 vectors
    * this is an L-fold explode shuffled on a tiny key instead of an O(n²)
    * cross join. */
  def embeddingPairsLsh(embeds: DataFrame, tau: Double, planes: Int = 3,
                        tables: Int = 8, probeHamming: Int = 0,
                        maxBucket: Int = 10000): DataFrame = {
    import graft.similarity.Lsh
    val a = Lsh.multiprobe(
      Lsh.hyperplaneBanded(embeds, "a_id", "a_v", planes, tables),
      Seq("a_id", "a_v"), planes, probeHamming)
    // degenerate-bucket guard on the un-probed side (shared Lsh helper:
    // COUNT-aggregated sizes + semi-join, constant-size buffers)
    val guarded = Lsh.guardBuckets(
      Lsh.hyperplaneBanded(embeds, "b_id", "b_v", planes, tables),
      Seq("table", "bucket"), maxBucket)
    a.join(guarded, Seq("table", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), cosine_sim(col("a_v"), col("b_v")).as("cos"))
      .filter(col("cos") >= tau)
      .dropDuplicates("a_id", "b_id")
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup over an
    * embedding column: k-means-cluster the vectors (the IVF coarse quantizer
    * from `similarity.Ann` doubles as the clusterer), find within-cluster
    * pairs with cosine ≥ `tau`, resolve duplicate groups by connected
    * components, and keep ONE vector per group — the member FARTHEST from
    * its cluster centroid (the paper's keep-low-centroid-similarity rule:
    * near-dup groups are made of prototypical text; the outlier member
    * carries the most marginal information), ties to the smallest `vec_id`.
    * Output: one row per vector `(vec_id, cluster_id, cent_cos, keep)`;
    * `filter(col("keep"))` is the semantically deduplicated corpus.
    *
    * 100 TB posture: candidate generation is the published design — exact
    * pairwise WITHIN a cell only, never across (the paper runs 50k clusters
    * over LAION; `nlist` grows with the corpus so cells stay bounded, and
    * `maxCell` drops degenerate cells through the shared count-aggregate +
    * semi-join guard before any self-join, same as the LSH bucket guards).
    * The centroid matrix is nlist×dim; the keep rule's per-cell centroid is
    * recomputed in DOUBLE precision (one nlist×dim-row aggregation — the
    * float quantizer only buckets) and `cent_cos` is a narrow map, rounded
    * to the 1e-4 grid BEFORE the keep ordering so the decision is
    * reproducible across engines. Exact-oracle config: `nlist = 1`
    * degenerates cell-pairing to brute force and the centroid to the global
    * mean, so a closed-form SQL twin predicts every row; real-config
    * behavior is pinned in DedupSpec. */
  def semanticDedup(embeds: DataFrame, tau: Double, nlist: Int = 16,
                    iters: Int = 1, maxCell: Int = 100000): DataFrame = {
    import graft.similarity.Lsh
    val cents = graft.similarity.Ann.ivfCentroids(embeds, nlist, iters)
    val assigned = embeds.select(col("vec_id"), col("embedding"),
      element_at(nearest_centroids(col("embedding"), cents, 1), 1).as("cell"))
    // per-cell centroid in double (nlist×dim rows out of the aggregation)
    val centArr = assigned
      .select(col("cell"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .groupBy("cell", "dim").agg(avg("x").as("c"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c")).as("cent"))
    def dot(u: Column, v: Column): Column =
      aggregate(zip_with(u, v, _ * _), lit(0.0), _ + _)
    val embD = col("embedding").cast("array<double>")
    val withCos = assigned.join(broadcast(centArr), Seq("cell"))
      .select(col("vec_id"), round(
        dot(embD, col("cent")) /
          (sqrt(dot(embD, embD)) * sqrt(dot(col("cent"), col("cent")))),
        4).as("cent_cos"))
    val a = Lsh.guardBuckets(
      assigned.select(col("cell"), col("vec_id").as("a_id"), col("embedding").as("a_v")),
      Seq("cell"), maxCell, minSize = 2)
    val b = assigned.select(col("cell"), col("vec_id").as("b_id"),
      col("embedding").as("b_v"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .filter(cosine_sim(col("a_v"), col("b_v")) >= tau)
      .select(col("a_id"), col("b_id"))
    val comps = connectedComponents(pairs).withColumnRenamed("node", "vec_id")
    val full = withCos.join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("cluster_id"),
        col("cent_cos"))
    // lexicographic min over (cent_cos, vec_id): bounded buffer, map-side
    // combinable — never a per-cluster window
    val keepers = full.groupBy("cluster_id")
      .agg(min(struct(col("cent_cos"), col("vec_id"))).as("k"))
    full.join(keepers, Seq("cluster_id"))
      .select(col("vec_id"), col("cluster_id"), col("cent_cos"),
        (col("vec_id") === col("k.vec_id")).as("keep"))
  }
}
