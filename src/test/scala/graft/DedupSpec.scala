package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.textops.TextOps

/** Near-dup family tests over the driver-provided documents table.
  * The corpus plants ~25 near-identical pairs (trigram-shingle J ≥ 0.85);
  * everything else sits at J ≈ 0, so τ=80% separates cleanly.
  */
class DedupSpec extends SparkSpec {

  lazy val docs: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def pairSet(df: DataFrame): Set[(Long, Long, Int, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet

  test("substring spans: an exact L-token repeat merges to ONE span of coverage L") {
    import spark.implicits._
    // doc 1 and doc 2 share an exact 12-token run inside otherwise-unique
    // text; doc 3 repeats a 9-token run INSIDE itself; doc 4 is clean.
    val rep = (1 to 12).map(i => s"shared$i").mkString(" ")
    val self = (1 to 9).map(i => s"loop$i").mkString(" ")
    val corpus = Seq(
      (1L, s"alpha beta gamma $rep delta epsilon"),
      (2L, s"one two three four five $rep six seven"),
      (3L, s"head $self middle $self tail"),
      (4L, "totally unique words with no repeats anywhere at all here")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDupSpans(corpus, w = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // L=12, w=8 → L-w+1 = 5 dup windows, one island, coverage 12
    assert(out(1L) == (17, 5L, 1L, 12L))
    assert(out(2L) == (19, 5L, 1L, 12L))
    // the 9-token self-repeat: 2 dup windows per occurrence, 2 islands, 9+9
    assert(out(3L) == (21, 4L, 2L, 18L))
    assert(out(4L)._2 == 0L && out(4L)._3 == 0L && out(4L)._4 == 0L)
    // dup_frac of the clean doc is exactly 0
    val clean = Dedup.substringDupSpans(corpus, w = 8)
      .where(col("doc_id") === 4L).select("dup_frac").head().getDouble(0)
    assert(clean == 0.0)
  }

  test("substring spans: repeats shorter than w are invisible; touching islands merge") {
    import spark.implicits._
    val short = (1 to 7).map(i => s"s$i").mkString(" ") // 7 < w=8
    val corpus = Seq(
      (1L, s"a b c $short d e f g h"),
      (2L, s"x y z $short p q r s t")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDupSpans(corpus, w = 8).collect()
    assert(out.forall(_.getLong(2) == 0L), "a 7-token repeat must produce no dup windows")
  }

  test("removeDupSpans deletes every non-first occurrence of a duplicated run") {
    import spark.implicits._
    val rep = (1 to 12).map(i => s"shared$i").mkString(" ")
    val self = (1 to 9).map(i => s"loop$i").mkString(" ")
    val corpus = Seq(
      (1L, s"alpha beta gamma $rep delta epsilon"),
      (2L, s"one two three four five $rep six seven"),
      (3L, s"head $self middle $self tail"),
      (4L, "totally unique words with no repeats anywhere at all here")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDupSpans(corpus, w = 8).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    // doc 1 wins every shared-run window (min doc_id) — untouched
    assert(out(1L) == ((s"alpha beta gamma $rep delta epsilon", 17, 0)))
    // doc 2 loses all 5 windows; their union is exactly the 12-token run
    assert(out(2L) == (("one two three four five six seven", 19, 12)))
    // the in-document self-repeat keeps its FIRST occurrence only
    assert(out(3L) == ((s"head $self middle tail", 21, 9)))
    assert(out(4L)._3 == 0)
  }

  test("removeDupSpans matches on the normalized form but reassembles raw case") {
    import spark.implicits._
    val run = (1 to 8).map(i => s"Tok$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$run tail1 x y z a b"),
      (2L, run.toLowerCase + " other words here now maybe")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDupSpans(corpus, w = 8).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == ((s"$run tail1 x y z a b", 14, 0)))
    assert(out(2L) == (("other words here now maybe", 13, 8)))
  }

  test("removeDupSpans invariants hold on a seeded adversarial corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val pool = Vector("alpha", "Beta", "gamma DELTA", "",
      "one two three four five six seven eight nine", "x? y! z.", "🎉")
    val rows = (1L to 50L).map { id =>
      val n = rnd.nextInt(6)
      (id, (0 until n).map(_ => pool(rnd.nextInt(pool.size))).mkString(" "))
    }
    val out = Dedup.removeDupSpans(rows.toDF("doc_id", "text"), w = 8).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    val rawToks = rows.map { case (id, t) => id -> t.trim.split("\\s+", -1).toSeq }.toMap
    def isSubseq(small: Seq[String], big: Seq[String]): Boolean = {
      var i = 0
      big.foreach(b => if (i < small.length && small(i) == b) i += 1)
      i == small.length
    }
    for ((id, (text, nTok, nRemoved)) <- out) {
      assert(nTok == rawToks(id).length)
      assert(nRemoved >= 0 && nRemoved <= nTok)
      if (nRemoved == 0) {
        // untouched docs reassemble to the space-joined raw token sequence
        assert(text == rawToks(id).mkString(" "), s"doc $id changed with 0 removals")
      } else {
        val outToks = if (text.isEmpty) Nil else text.split(" ", -1).toSeq
        assert(outToks.length == nTok - nRemoved,
          s"doc $id kept ${outToks.length} != $nTok - $nRemoved")
        assert(isSubseq(outToks, rawToks(id)), s"doc $id output not a subsequence")
      }
    }
    // at least one duplicated 9-token run must actually have been removed
    assert(out.values.exists(_._3 > 0), "the seeded corpus must exercise removal")
  }

  test("removeDupSpans deletion indices survive edge tabs/newlines") {
    // regression: raw was split on \s+ after a space-only trim, so a doc
    // BEGINNING with \t or \n grew one empty leading token and every
    // deletion index applied one position too late
    import spark.implicits._
    val run = (1 to 8).map(i => s"Dup$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$run closer words here"),
      (2L, s"\n${run.toLowerCase}\tKEEPME trailing words\n")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDupSpans(corpus, w = 8).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == ((s"$run closer words here", 11, 0)))
    // doc 2 loses exactly the 8-token run; KEEPME (raw case) must survive
    assert(out(2L) == (("KEEPME trailing words", 11, 8)))
  }

  test("brute-force jaccard pairs find the planted near-dups and nothing else") {
    val pairs = Dedup.jaccardPairs(docs, 80).collect()
    assert(pairs.length > 5 && pairs.length < 100,
      s"expected a few dozen planted pairs, got ${pairs.length}")
    // every reported pair really is above threshold, in integer math
    pairs.foreach { r =>
      val (i, u) = (r.getInt(2), r.getInt(3))
      assert(i * 100 >= u * 80, s"pair below threshold: $r")
    }
  }

  test("minhash LSH (k=32, bands=16) recall is exact vs brute force at tau=0.8") {
    val brute = pairSet(Dedup.jaccardPairs(docs, 80))
    val lsh = pairSet(Dedup.minhashPairs(docs, 80))
    assert(lsh == brute,
      s"missed=${(brute -- lsh).take(5)} extra=${(lsh -- brute).take(5)}")
  }

  test("minhash verification stage admits no false positives") {
    val lsh = Dedup.minhashPairs(docs, 80).collect()
    lsh.foreach { r =>
      assert(r.getInt(2) * 100 >= r.getInt(3) * 80)
    }
  }

  test("simhash pigeonhole blocking is lossless vs brute-force hamming") {
    import graft.functions.simhash64
    val sim = Dedup.simhashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force: all pairs with hamming(sig_a, sig_b) <= 3
    val sigs = docs.select(col("doc_id"),
      simhash64(TextOps.tokens(TextOps.normalized(col("text")))).as("sig"))
    val a = sigs.toDF("a_id", "a_sig")
    val b = sigs.toDF("b_id", "b_sig")
    val brute = a.join(b, col("a_id") < col("b_id"))
      .filter(bit_count(col("a_sig").bitwiseXOR(col("b_sig"))) <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(sim == brute,
      s"missed=${(brute -- sim).take(5)} extra=${(sim -- brute).take(5)}")
  }

  test("embedding cosine pairs are symmetric-free and above threshold") {
    val embeds = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = Dedup.embeddingPairs(embeds, 0.4).collect()
    assert(pairs.nonEmpty && pairs.length < 2000)
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.4)
    }
  }

  test("LSH embedding pairs: full-probe is exact; real config recalls most pairs") {
    val embeds = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Dedup.embeddingPairs(embeds, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // probeHamming = planes → exhaustive → identical to brute force
    val exact = Dedup.embeddingPairsLsh(embeds, 0.4, planes = 3, tables = 2,
      probeHamming = 3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == brute)
    // real config: bucketed candidates only, subset with high recall
    val lsh = Dedup.embeddingPairsLsh(embeds, 0.4, planes = 3, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute), "LSH must not invent pairs (exact verify)")
    assert(brute.nonEmpty && lsh.size.toDouble / brute.size >= 0.7,
      s"recall too low: ${lsh.size}/${brute.size}")
  }

  test("semanticDedup: keep-farthest-from-centroid, one keeper per cluster") {
    import spark.implicits._
    // two planted near-dup groups plus isolated vectors; group members are
    // scaled copies (cosine = 1 exactly, far above tau)
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val rows = Seq(
      1L -> v(1, 0, 0, 0), 2L -> v(2, 0, 0, 0), 3L -> v(0.5, 0, 0, 0), // group A
      4L -> v(0, 1, 0, 0), 5L -> v(0, 3, 0, 0),                        // group B
      6L -> v(0, 0, 1, 0), 7L -> v(0, 0, 0, 1))                        // singletons
    val embeds = rows.toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(embeds, 0.9, nlist = 1)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(3)))).toMap
    assert(out.keySet == rows.map(_._1).toSet)
    assert(out(1L)._1 == 1L && out(2L)._1 == 1L && out(3L)._1 == 1L)
    assert(out(4L)._1 == 4L && out(5L)._1 == 4L)
    assert(out(6L) == (6L, true) && out(7L) == (7L, true))
    // exactly one keeper per cluster; the keeper has the LOWEST cent_cos
    // (farthest from the global mean) — all of group A has identical
    // direction so identical cent_cos, and the tie goes to min vec_id
    assert(Seq(1L, 2L, 3L).count(out(_)._2) == 1)
    assert(out(1L)._2, "tie on cent_cos must keep the smallest vec_id")
    assert(Seq(4L, 5L).count(out(_)._2) == 1)
  }

  test("semanticDedup at nlist=1 equals closure of brute-force pairs") {
    val embeds = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Dedup.semanticDedup(embeds, 0.4, nlist = 1)
    // cluster assignment must equal dedupClusters' transitive closure of the
    // brute-force τ-pairs (only the keep rule differs: centroid distance,
    // not min id)
    val viaCc = Dedup.dedupClusters(
      embeds.select(col("vec_id").as("doc_id")),
      Dedup.embeddingPairs(embeds, 0.4))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == viaCc)
    // one keeper per cluster, everywhere
    val perCluster = out.collect().groupBy(_.getLong(1))
      .map { case (c, rs) => c -> rs.count(_.getBoolean(3)) }
    assert(perCluster.values.forall(_ == 1), s"keeper counts: $perCluster")
  }

  test("semanticDedup real config: within-cell pairing only, guard drops mega-cells") {
    val embeds = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val multi = Dedup.semanticDedup(embeds, 0.4, nlist = 4)
    // cells partition candidate generation: every cluster is a SUBSET of a
    // full closure cluster (cells can only split groups, never merge more)
    val fullC = Dedup.semanticDedup(embeds, 0.4, nlist = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sub = multi.collect().map(r => r.getLong(0) -> r.getLong(1))
    val members = sub.groupBy(_._2).values
    assert(members.forall(ms => ms.map(m => fullC(m._1)).distinct.size == 1),
      "a multi-cell cluster crossed a brute-force cluster boundary")
    // a maxCell of 1 drops every cell → no pairs → everyone a kept singleton
    val guarded = Dedup.semanticDedup(embeds, 0.4, nlist = 4, maxCell = 1)
    assert(guarded.filter(col("keep") && col("cluster_id") === col("vec_id"))
      .count() == embeds.count())
  }

  test("shingles: short docs fall back to whole-text shingle") {
    import spark.implicits._
    val df = Seq((1L, "one two"), (2L, "a b c d e")).toDF("doc_id", "text")
    val sh = df.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L) == Seq("one two"))
    assert(sh(2L) == Seq("a b c", "b c d", "c d e"))
  }

  test("exact dedup keeps min doc_id per normalized-text group") {
    import spark.implicits._
    val df = Seq(
      (10L, "Hello  World"), (11L, "hello world"), (12L, "different text")
    ).toDF("doc_id", "text")
    val keep = TextOps.dedupedDocs(df).select("doc_id").as[Long].collect().toSet
    assert(keep == Set(10L, 12L))
    val groups = TextOps.dedupExact(df).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(groups(10L) == 2L && groups(12L) == 1L)
  }

  private def ccOf(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Dedup.connectedComponents(edges.toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("connected components: chain, triangle, and pair resolve to min-id") {
    val comp = ccOf(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),          // chain
      (10L, 11L), (11L, 12L), (10L, 12L),    // triangle
      (21L, 20L)))                           // pair, reversed order
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components match a union-find oracle on a random graph") {
    val rnd = new scala.util.Random(42)
    val edges = (0 until 120).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    // reference union-find
    val parent = scala.collection.mutable.Map((0L until 80L).map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = nodes.map { n =>
      // component label = min node id in the component
      val root = find(n)
      n -> nodes.filter(m => find(m) == root).min
    }.toMap
    assert(ccOf(edges) == expected)
  }

  test("connected components: a 2k-spoke hub resolves without buffering (min-agg only)") {
    val hub = (2L to 2001L).map(v => (1L, v))
    val comp = ccOf(hub)
    assert(comp.size == 2001 && comp.values.forall(_ == 1L))
  }

  test("dedupClusters marks one representative per cluster and keeps singletons") {
    import spark.implicits._
    val allDocs = Seq(1L, 2L, 3L, 7L, 9L).toDF("doc_id")
    val pairs = Seq((2L, 3L)).toDF("a_id", "b_id")
    val rows = Dedup.dedupClusters(allDocs, pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(rows == Map(
      1L -> ((1L, true)), 2L -> ((2L, true)), 3L -> ((2L, false)),
      7L -> ((7L, true)), 9L -> ((9L, true))))
    // exactly one keeper per cluster, and keepers are the cluster ids
    val keepers = rows.collect { case (id, (c, true)) => (id, c) }
    assert(keepers.forall { case (id, c) => id == c })
  }

  test("minhashClusters (star edges) equals the exact all-pairs closure") {
    val exact = Dedup.dedupClusters(docs, Dedup.minhashPairs(docs, 80))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val star = Dedup.minhashClusters(docs, 80)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(star == exact,
      s"missing=${(exact -- star).take(5)} extra=${(star -- exact).take(5)}")
  }

  test("minhashClusters candidate edges are linear in bucket size, not quadratic") {
    import spark.implicits._
    // one giant clique: 60 near-identical docs (pairwise ~quadratic: 1770
    // pairs) — the star edge set before dedup must stay ≤ docs × bands
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val clique = (0L until 60L).map(i => (i, s"$base tail$i")).toDF("doc_id", "text")
    val clusters = Dedup.minhashClusters(clique, 80)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // all 60 in one cluster rooted at doc 0
    assert(clusters.forall(_._2 == 0L))
    assert(clusters.count(_._3) == 1)
  }

  test("curate: planted documents land in the right lineage stage") {
    import spark.implicits._
    val base = "the quick brown fox jumps over a lazy sleeping dog while " +
      "many birds watch from tall green trees and several cats hide under " +
      "old wooden fences near quiet village roads today"
    val docs = Seq(
      (1L, base),                                        // kept
      (2L, base),                                        // exact dup of 1
      (3L, base.replace("today", "tonight")),            // near-dup of 1
      (4L, "x"),                                         // too_short
      (5L, null.asInstanceOf[String])                    // null text
    ).toDF("doc_id", "text")
    val got = Dedup.curate(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "kept",
      2L -> "dropped_exact",
      3L -> "dropped_neardup",
      4L -> "dropped_quality",
      5L -> "dropped_quality"))
  }

  test("curate caches only the verdict frame after return; corpus cache is freed") {
    import spark.implicits._
    val base = "the quick brown fox jumps over a lazy sleeping dog while " +
      "many birds watch from tall green trees and several cats hide under " +
      "old wooden fences near quiet village roads today"
    // wide input: nothing cached may carry the payload columns — and since
    // curate now frees its corpus-sized (doc_id, text, q_keep) intermediate
    // after materializing the verdict, the ONLY surviving cache is the
    // two-narrow-column verdict frame itself (no session-lifetime leak of
    // a text copy per curate() call)
    val wide = Seq(
      (1L, base, "payload-a", 42L),
      (2L, base + " extra tail words here", "payload-b", 43L)
    ).toDF("doc_id", "text", "blob", "meta")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Dedup.curate(wide)
    out.collect()
    val cached = out.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(cached.nonEmpty, "curate no longer persists its result")
    cached.foreach { r =>
      assert(r.output.map(_.name).toSet == Set("doc_id", "stage", "kept"),
        s"persisted width grew: ${r.output.map(_.name)}")
      assert(r.cacheBuilder.storageLevel ==
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    }
    // freeing the returned frame must leave NOTHING new cached — proving
    // the corpus-sized (doc_id, text, q_keep) intermediate was already
    // unpersisted inside curate, not leaked for the session lifetime
    out.unpersist(blocking = true)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"curate left caches beyond its returned frame: $leaked")
  }

  test("unpersisting curate's result releases every cache the call made") {
    import spark.implicits._
    val text = "the quick brown fox jumps over a lazy sleeping dog while " +
      "many birds watch from tall green trees and several cats hide under " +
      "old wooden fences near quiet village roads today"
    val docs = Seq((1L, text), (2L, text + " extra tail words"), (3L, "short"))
      .toDF("doc_id", "text")
    // with a benchmark corpus the decontamination stage persists its
    // contaminated-id set too
    val bench = Seq((9L, text)).toDF("doc_id", "text")
    for (b <- Seq(None, Some(bench))) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val result = Dedup.curate(docs, bench = b)
      assert(spark.sparkContext.getPersistentRDDs.keySet != before,
        "curate returns its verdict persisted")
      result.unpersist(blocking = true)
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"bench = ${b.isDefined}: RDDs still persisted: $left")
    }
  }
}
