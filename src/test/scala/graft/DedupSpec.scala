package graft

import graft.ops.Dedup
import org.apache.spark.sql.functions._

/** Exact / Jaccard / MinHash / SimHash dedup semantics on literal corpora. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "The  quick Brown fox jumps over the lazy dog"),   // case/ws variant
    (3L, "an entirely different document about spark engines"),
    (4L, "the quick brown fox jumps over the lazy cat")     // near-dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup folds case/whitespace variants to the lowest id") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .select("doc_id", "copies").as[(Long, Long)].collect().toMap
    assert(out(1L) == 2)        // docs 1+2 collapse
    assert(!out.contains(2L))
    assert(out(3L) == 1 && out(4L) == 1)
  }

  test("dedup stats count duplicates") {
    val row = Dedup.stats(docs, "text")
      .select("total_docs", "distinct_docs", "duplicate_docs").head()
    assert(row.getLong(0) == 4 && row.getLong(1) == 3 && row.getLong(2) == 1)
  }

  test("jaccard: identical docs score 1.0, near-dups high, distinct low") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.0)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs.get((1L, 4L)).exists(j => j > 0.5 && j < 1.0))
    assert(!pairs.contains((1L, 3L))) // no shared shingles at all
  }

  test("jaccardPairs over a pinned shingle store ≡ re-shingling the " +
      "text (round 13: the x_dedup_clusters_full fast path)") {
    val store = Dedup.shingleRelation(docs, "doc_id", "text", 3)
      .localCheckpoint()
    val viaPin = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.0,
      shinglesPinned = Some(store)).collect().toSeq
    val direct = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.0)
      .collect().toSeq
    assert(viaPin == direct && viaPin.nonEmpty)
  }

  test("containment: a doc quoted wholesale inside a longer one scores " +
      "1.0 where jaccard scores low") {
    val quoted = Seq(
      (1L, "alpha beta gamma delta epsilon"),  // 3 shingles, all inside 2
      (2L, "zero one two three four five six seven eight nine " +
        "alpha beta gamma delta epsilon ten eleven twelve thirteen " +
        "fourteen fifteen sixteen seventeen eighteen nineteen"),
      (3L, "totally unrelated words in this document here")
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(quoted, "doc_id", "text", 3, 0.0)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    assert(cont((1L, 2L)) == 1.0)   // full inclusion
    assert(!cont.contains((1L, 3L)))
    val jac = Dedup.jaccardPairs(quoted, "doc_id", "text", 3, 0.0)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(jac((1L, 2L)) < 0.2)     // symmetric metric misses it
    // threshold filters
    assert(Dedup.containmentPairs(quoted, "doc_id", "text", 3, 0.99)
      .count() == 1)
  }

  test("dedupRetainWeighted: weights reconcile to the corpus size and " +
      "the best-quality member carries its whole cluster") {
    val corpus = Seq(
      (1L, "short", 5L), (2L, "longer text", 11L), (3L, "longest texts", 13L),
      (9L, "solo", 4L)
    ).toDF("doc_id", "text", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.dedupRetainWeighted(corpus, "doc_id", col("n_chars"),
        pairs)
      .as[(Long, Long, Long, Long)].collect()
    // survivors: doc 3 (quality 13, carries cluster of 3) and solo 9
    assert(out.toSeq == Seq((3L, 1L, 13L, 3L), (9L, 9L, 4L, 1L)))
    assert(out.map(_._4).sum == 4L) // totals preserved
  }

  test("goldenRecord: frequency election with smallest-value ties, max " +
      "rule, singleton passthrough") {
    val recs = Seq(
      (1L, "anna", 10.0, 7), (2L, "annb", 12.0, 7), (3L, "anna", 5.0, 9),
      (9L, "solo", 3.0, 2)
    ).toDF("id", "name", "acctbal", "nationkey")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.goldenRecord(recs, "id", pairs,
        freqElect = Seq("name", "nationkey"), maxElect = Seq("acctbal"))
      .collect().map(r => r.getAs[Long]("entity_id") -> r).toMap
    val e1 = out(1L)
    assert(e1.getAs[Long]("n_records") == 3L)
    assert(e1.getAs[String]("canonical_name") == "anna")  // 2 beats 1
    assert(e1.getAs[Int]("canonical_nationkey") == 7)     // 2 beats 1
    assert(e1.getAs[Double]("max_acctbal") == 12.0)
    val solo = out(9L)
    assert(solo.getAs[Long]("n_records") == 1L &&
      solo.getAs[String]("canonical_name") == "solo")
    // tie election: equal counts -> smallest value
    val tied = Dedup.goldenRecord(
      Seq((1L, "zz", 1.0, 1), (2L, "aa", 1.0, 1)).toDF(
        "id", "name", "acctbal", "nationkey"),
      "id", Seq((1L, 2L)).toDF("id_a", "id_b"),
      freqElect = Seq("name"), maxElect = Seq("acctbal"))
      .collect().head
    assert(tied.getAs[String]("canonical_name") == "aa")
    intercept[IllegalArgumentException] {
      Dedup.goldenRecord(recs, "id", pairs, Seq.empty, Seq.empty)
    }
  }

  test("minhash signatures of identical-normalized docs are identical") {
    val sig = Dedup.minHashSignatures(
      docs.withColumn("text", org.apache.spark.sql.functions.lower($"text")),
      "doc_id", "text", 3, 16)
    val rows = sig.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(rows(1L) == rows(2L))
    assert(rows(1L) != rows(3L))
  }

  test("minhash LSH surfaces the near-dup pair") {
    val nd = Dedup.minHashNearDups(docs, "doc_id", "text",
      n = 3, numHashes = 16, bands = 8, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(nd.contains((1L, 4L)))
  }

  test("LSH-propose + exact-verify pipeline: near-dup found, verified score exact") {
    val out = Dedup.nearDupsVerified(docs, "doc_id", "text",
        n = 3, numHashes = 16, bands = 8, threshold = 0.3)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    // every surfaced pair carries the EXACT jaccard (not the estimate)
    out.foreach { case (pair, j) => assert(exact.get(pair).contains(j)) }
    assert(out.contains((1L, 4L)))
  }

  test("fuzzy pairs: blocked levenshtein finds typos, respects the distance cap") {
    val names = Seq(
      (1L, "Acme Corporation"),
      (2L, "Acme Corporatoin"),   // transposition: distance 2
      (3L, "Acme Corp"),          // 7 deletions: out of band
      (4L, "Zenith Industries")   // different block
    ).toDF("id", "name")
    val out = Dedup.fuzzyPairs(names, "id", "name",
        maxDistance = 2, blockPrefixLen = 6)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toList
    assert(out == List((1L, 2L, 2)))
  }

  test("canonical-key blocking: full typo recall with bounded blocks on low-entropy names") {
    import org.apache.spark.sql.Column
    // the x_entity_resolution shape: constant-prefix names, entropy only in
    // the trailing digits, typo = last-two-char swap (edit distance 2)
    val n = 150
    val orig = Seq.tabulate(n)(i => (i.toLong, f"Customer#${i}%09d"))
    val typo = orig.map { case (id, s) =>
      (id + 100000L, s.dropRight(2) + s.takeRight(2).reverse)
    }
    val df = (orig ++ typo).toDF("id", "name")
    val canon: Column => Column = { s =>
      val t = lower(trim(s)); val ln = length(t)
      val c1 = substring(t, ln - 1, lit(1)); val c2 = substring(t, ln, lit(1))
      concat(substring(t, lit(1), ln - 2), least(c1, c2), greatest(c1, c2))
    }
    val out = Dedup.fuzzyPairsKeyed(df, "id", "name", 2, canon)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every injected (orig, typo) pair is recovered
    (0 until n).foreach { i =>
      assert(out.contains((i.toLong, i + 100000L)), s"missed typo pair $i")
    }
    // and the blocking stayed selective: max block size << corpus
    val maxBlock = df.groupBy(canon(col("name"))).count()
      .agg(max("count")).as[Long].head()
    assert(maxBlock <= 4, s"degenerate block of size $maxBlock")
  }

  test("connected components: chain, star and disjoint clusters resolve to min id") {
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L),         // chain (unordered ends)
      (10L, 11L), (10L, 12L), (10L, 13L),                  // star
      (21L, 20L)                                           // disjoint pair
    ).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L))
    assert(Seq(10L, 11L, 12L, 13L).forall(cc(_) == 10L))
    assert(cc(20L) == 20L && cc(21L) == 20L)
  }

  test("connected components converge on a high-diameter chain") {
    val pairs = (1 until 16).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert((1 to 16).forall(i => cc(i.toLong) == 1L))
  }

  test("connected components of an empty pair list is empty (no NPE)") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty, "id_a", "id_b").count() == 0)
    assert(Dedup.dedupClusters(empty).count() == 0)
  }

  test("connected components fail loudly when maxIters truncates propagation") {
    val longChain = (1 until 10).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      // driverEdgeBudget = 0 forces the distributed superstep loop (the
      // union-find fast path would otherwise solve this tiny chain exactly)
      Dedup.connectedComponents(longChain, "id_a", "id_b", maxIters = 3,
        driverEdgeBudget = 0L)
    }
  }

  test("union-find fast path ≡ distributed propagation on randomized graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 20
      val pairs = (1 to n).map(_ =>
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)).toDF("a", "b")
      val fast = Dedup.connectedComponents(pairs, "a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val dist = Dedup.connectedComponents(pairs, "a", "b",
          driverEdgeBudget = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(fast.sameElements(dist), s"trial $trial: fast != distributed")
    }
  }

  test("star CC: chain, star and disjoint clusters resolve to min id") {
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L),
      (21L, 20L)
    ).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponentsStar(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L))
    assert(Seq(10L, 11L, 12L, 13L).forall(cc(_) == 10L))
    assert(cc(20L) == 20L && cc(21L) == 20L)
  }

  test("star CC: 300-node chain converges in logarithmic rounds") {
    // label propagation needs ~300 supersteps here; the star rewrites must
    // finish inside 12 rounds (≈ log₂ 300 + slack) or throw
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponentsStar(chain, "id_a", "id_b", maxIters = 12)
      .as[(Long, Long)].collect()
    assert(cc.length == 300)
    assert(cc.forall(_._2 == 0L))
  }

  test("star CC ≡ label propagation on randomized graphs") {
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val n = 120
      val pairs = (1 to 180).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
        .toDF("id_a", "id_b")
      val star = Dedup.connectedComponentsStar(pairs, "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
      val prop = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
      assert(star == prop, s"trial $trial diverged")
    }
  }

  test("star CC of an empty pair list is empty") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponentsStar(empty, "id_a", "id_b").count() == 0)
  }

  test("dedupClusters marks exactly one canonical per component") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val out = Dedup.dedupClusters(pairs)
      .as[(Long, Long, Boolean)].collect()
    assert(out.count(_._3) == 2) // one canonical per component
    assert(out.filter(_._3).map(_._1).toSet == Set(1L, 7L))
  }

  test("native word_shingles is row-identical to the HOF formulation") {
    val edge = docs.union(Seq(
      (5L, ""),                        // empty doc
      (6L, "one two"),                 // fewer words than n
      (7L, "a b c a b c a b c"),       // repeated shingles (distinct order)
      (8L, "  padded   with   runs  ") // whitespace runs + padding
    ).toDF("doc_id", "text"))
    val both = edge.select(
      Dedup.shingles($"text", 3).as("native"),
      Dedup.shinglesHof($"text", 3).as("hof"))
    assert(both.collect().forall(r => r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("simhash band search surfaces near-identical docs, verified hamming") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // 1 token off
      (3L, "totally different words about streaming query planners today")
    ).toDF("doc_id", "text")
    val fp = Dedup.simHash(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ham12 = java.lang.Long.bitCount(fp(1L) ^ fp(2L))
    val out = Dedup.simHashNearDups(corpus, "doc_id", "text",
        maxHamming = ham12, bands = 4)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toList
    // pigeonhole recall guarantee holds when ham12 < bands; either way the
    // verified hamming must be exact
    out.foreach { case (a, b, h) =>
      assert(h == java.lang.Long.bitCount(fp(a) ^ fp(b)))
    }
    if (ham12 < 4) assert(out.exists(p => p._1 == 1L && p._2 == 2L))
    assert(!out.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("simhash of near-dups has small hamming distance") {
    val fp = Dedup.simHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(4L)) < ham(fp(1L), fp(3L)))
  }

  test("contamination: per-test-doc shingle overlap with the train set") {
    val train = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val test = Seq(
      (10L, "a b c d e"),  // full copy: 3/3 shingles covered
      (11L, "a b c x y"),  // 1/3 covered
      (12L, "z z")         // < 3 words: zero shingles, kept at 0.0
    ).toDF("doc_id", "text")
    val out = Dedup.contamination(train, test, "doc_id", "text", n = 3,
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
    assert(out.toSeq == Seq(
      (10L, 3L, 3L, 1.0, true),
      (11L, 3L, 1L, 0.333333, false),
      (12L, 0L, 0L, 0.0, false)))
  }

  test("dedupRetain keeps the best-quality member per cluster, " +
       "singletons kept as their own component") {
    val docs = Seq(
      (1L, 5L), (2L, 9L), (3L, 9L),  // cluster {1,2,3}: 2 wins (9, lower id)
      (4L, 1L)                       // singleton: kept
    ).toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.dedupRetain(docs, "doc_id", col("quality"), pairs)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, 5L, false),
      (2L, 1L, 9L, true),
      (3L, 1L, 9L, false),
      (4L, 4L, 1L, true)))
  }

  test("dedupRetain with an empty pair list keeps everything") {
    val docs = Seq((1L, 5L), (2L, 9L)).toDF("doc_id", "quality")
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val out = Dedup.dedupRetain(docs, "doc_id", col("quality"), pairs)
      .collect()
    assert(out.length == 2 && out.forall(_.getBoolean(3)))
  }

  test("rows=1 banding makes nearDupsVerified ≡ exact jaccardPairs " +
       "(the x_neardups_verified recall oracle)") {
    // with one row per band a true pair is a candidate unless NONE of its
    // 64 signature components collide — (1-j)^64 ≤ 5e-20 at j ≥ 0.5 — so
    // the propose/verify pipeline must emit exactly the full exact-Jaccard
    // pair scan at the same threshold
    val d = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val lsh = Dedup.nearDupsVerified(d, "doc_id", "text",
        n = 3, numHashes = 64, bands = 64, threshold = 0.5, minEst = 0.125)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val exact = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty, "corpus has no near-dup pairs — test is vacuous")
    assert(lsh == exact)
  }

  test("rows=1 banding counts components: a pair's colliding-band count " +
      "equals its number of equal signature components (the folded trim)") {
    val d = Tables.documents(spark, sfDir).select($"doc_id", $"text")
      .filter($"doc_id" < 120)
    val sig = Dedup.minHashSignatures(d, "doc_id", "text", 3, 64)
      .localCheckpoint()
    val counts = Dedup.lshCandidatePairCounts(sig, 64, 64)
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    assert(counts.nonEmpty, "no colliding pairs — test is vacuous")
    val rows = sig.collect()
      .map(r => r.getLong(0) -> (1 to 64).map(r.getLong)).toMap
    for (a <- rows.keys; b <- rows.keys if a < b) {
      val eq = rows(a).zip(rows(b)).count { case (x, y) => x == y }.toLong
      assert(counts.getOrElse((a, b), 0L) == eq,
        s"pair ($a,$b): n_bands ${counts.getOrElse((a, b), 0L)} vs $eq")
    }
  }

  test("simhash recall audit: every identical-text twin pair surfaces at hamming 0") {
    val d = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val twins = d.select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    val out = Dedup.simHashNearDups(d.unionByName(twins), "doc_id", "text",
        maxHamming = 3, bands = 4)
      .filter($"id_b" === $"id_a" + 1000000L)
      .as[(Long, Long, Int)].collect()
    val ids = d.select($"doc_id").as[Long].collect().toSet
    assert(out.map(_._1).toSet == ids)      // one twin pair per doc
    assert(out.forall(_._3 == 0))           // all at hamming 0
  }

  test("incremental LSH ingest ≡ full-corpus near-dup run (250/250 split)") {
    // the scaladoc contract of minHashNearDupsIncremental: because bucket
    // collision and the signature estimate are pairwise properties, batch
    // survivors under keep-lowest-id must equal a full-corpus
    // minHashNearDups run restricted to the batch — same corpus, same
    // parameters, the real documents table
    val d = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val full = Dedup.minHashNearDups(d, "doc_id", "text",
      n = 3, numHashes = 16, bands = 4, threshold = 0.5)
    // keep-lowest-id: a doc is dropped iff it is the LARGER side of any
    // verified pair; its dup_of is the smallest such partner
    val droppedTo = full.groupBy($"id_b").agg(min($"id_a").as("m"))
      .as[(Long, Long)].collect().toMap
    val allIds = d.select($"doc_id").as[Long].collect().toSet
    val fullSurvivors = allIds -- droppedTo.keySet

    val seen  = d.filter($"doc_id" < 250)
    val batch = d.filter($"doc_id" >= 250)
    // seen side = signatures of EVERY previously ingested doc, dups
    // included — the append-only signature-table contract
    val seenSigs = Dedup.minHashSignatures(seen, "doc_id", "text", 3, 16)
    val inc = Dedup.minHashNearDupsIncremental(seenSigs, batch,
        "doc_id", "text", n = 3, numHashes = 16, bands = 4, threshold = 0.5)
      .as[(Long, Boolean, Option[Long])].collect()
    assert(inc.map(_._1).toSet == allIds.filter(_ >= 250))
    val incSurvivors = inc.filter(!_._2).map(_._1).toSet
    assert(incSurvivors == fullSurvivors.filter(_ >= 250))
    // and every dup points at the same smallest partner the full run found
    inc.filter(_._2).foreach { case (id, _, dupOf) =>
      assert(dupOf.contains(droppedTo(id)), s"doc $id dup_of mismatch")
    }

    // chained ingest from an EMPTY seen table: first-half survivors union
    // second-half survivors must reproduce the full-corpus surviving set
    val emptySigs = Dedup.minHashSignatures(d.limit(0), "doc_id", "text", 3, 16)
    val firstSurvivors = Dedup.minHashNearDupsIncremental(emptySigs, seen,
        "doc_id", "text", n = 3, numHashes = 16, bands = 4, threshold = 0.5)
      .filter(!$"is_dup").select($"id").as[Long].collect().toSet
    assert((firstSurvivors ++ incSurvivors) == fullSurvivors)
  }

  test("incremental LSH: batch-internal dups and dropped-seen partners") {
    // batch-internal: 11 duplicates the EARLIER batch doc 10 (neither in
    // seen); 12 is unrelated and survives
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta"),
      (12L, "unrelated words entirely different content right here")
    ).toDF("doc_id", "text")
    val empty = Dedup.minHashSignatures(batch.limit(0), "doc_id", "text", 3, 16)
    val out = Dedup.minHashNearDupsIncremental(empty, batch, "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, threshold = 0.5)
      .as[(Long, Boolean, Option[Long])].collect().toList
    assert(out == List((10L, false, None), (11L, true, Some(10L)),
      (12L, false, None)))

    // the drop rule is pairwise, not transitive: a batch doc matching only
    // an already-DROPPED seen doc is still a dup, and dup_of is the
    // smallest candidate (1, not the nearer 2)
    val seen = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta")  // dup of 1
    ).toDF("doc_id", "text")
    val seenSigs = Dedup.minHashSignatures(seen, "doc_id", "text", 3, 16)
    val out2 = Dedup.minHashNearDupsIncremental(seenSigs,
        batch.filter($"doc_id" === 10L), "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, threshold = 0.5)
      .as[(Long, Boolean, Option[Long])].collect().toList
    assert(out2 == List((10L, true, Some(1L))))
  }

  test("exact-verify incremental ingest ≡ exact-Jaccard pair rule " +
      "(provably-complete config, 250/250 split)") {
    // the x_incremental_verified contract: with rows-per-band = 1 +
    // estimate trim + exact verify, a batch doc's dup_of is exactly the
    // smallest partner (seen or earlier-batch) at exact Jaccard >= 0.5 —
    // replay the rule here with jaccardPairs (no banding at all)
    val d = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val truth = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.5)
      .filter($"id_b" >= 250)
      .groupBy($"id_b").agg(min($"id_a").as("m"))
      .as[(Long, Long)].collect().toMap
    val seen = d.filter($"doc_id" < 250)
    val out = Dedup.nearDupsVerifiedIncremental(
        Dedup.minHashSignatures(seen, "doc_id", "text", 3, 64),
        Dedup.shingleRelation(seen, "doc_id", "text", 3),
        d.filter($"doc_id" >= 250), "doc_id", "text",
        n = 3, numHashes = 64, bands = 64, threshold = 0.5, minEst = 0.125)
      .as[(Long, Boolean, Option[Long])].collect()
    assert(out.map(_._1).toSet ==
      d.filter($"doc_id" >= 250).select($"doc_id").as[Long].collect().toSet)
    out.foreach { case (id, isDup, dupOf) =>
      assert(isDup == truth.contains(id), s"doc $id dup flag mismatch")
      assert(dupOf == truth.get(id), s"doc $id dup_of mismatch")
    }
  }

  test("duplicatedSpans: first occurrence kept, later copies cut, " +
      "overlapping dup grams merge to one maximal span, stats roll up") {
    import org.apache.spark.sql.functions.col
    val shared20 = "0123456789ABCDEFGHIJ" // one exact 20-gram
    val shared21 = "abcdefghijklmnopqrstu" // 21 chars -> two dup 20-grams
    val docs = Seq(
      (1L, shared20 + "-unique-tail-one-xyz"),
      (2L, "prefix-junk-qqq" + shared20), // dup at pos 16
      (3L, shared21 + "-t3tail"),
      (4L, "ZZZZZ" + shared21)) // dup grams at pos 6,7 -> one span
      .toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 20)
      .as[(Long, Long, Long, Long)].collect()
    assert(spans.toSeq == Seq((2L, 16L, 36L, 20L), (4L, 6L, 27L, 21L)))
    val stats = Dedup.duplicatedSpanStats(docs, "doc_id", "text", k = 20)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(stats(1L)._3 == 0L && stats(3L)._3 == 0L) // kept copies intact
    assert(stats(2L) == ((2L, 35L, 1L, 20L, 0.571429)))
    assert(stats(4L) == ((4L, 26L, 1L, 21L, 0.807692)))
    // a doc shorter than k never explodes a gram but still reports
    val tiny = Seq((9L, "short")).toDF("doc_id", "text")
    val ts = Dedup.duplicatedSpanStats(tiny, "doc_id", "text", k = 20)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(ts.toSeq == Seq((9L, 5L, 0L, 0L, 0.0)))
    assert(Dedup.duplicatedSpans(tiny, "doc_id", "text", k = 20)
      .filter(col("doc_id") === 9L).count() == 0L)
    // spansPinned (the shared-artifact path): rolling up a materialized
    // span table is row-identical to re-mining the grams
    val pinned = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 20)
      .localCheckpoint()
    val statsPin = Dedup.duplicatedSpanStats(docs, "doc_id", "text",
        k = 20, spansPinned = Some(pinned))
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(statsPin.toSeq == stats.values.toSeq.sortBy(_._1))
  }

  test("reliable-checkpoint parity: both connected-components forms " +
      "identical via Ckpt.cut(dir) as via localCheckpoint") {
    val dir = tempDir("graft-ckpt")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 20L))
      .toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(pairs, "id_a", "id_b")
        .collect().toSeq.sortBy(_.getLong(0))
      == Dedup.connectedComponents(pairs, "id_a", "id_b",
        checkpointDir = Some(dir)).collect().toSeq.sortBy(_.getLong(0)))
    assert(Dedup.connectedComponentsStar(pairs, "id_a", "id_b")
        .collect().toSeq.sortBy(_.getLong(0))
      == Dedup.connectedComponentsStar(pairs, "id_a", "id_b",
        checkpointDir = Some(dir)).collect().toSeq.sortBy(_.getLong(0)))
  }
}
