package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops._

/** Scale-stress harness: each leg replicates sf0.1 tables k× and times
  * one operator family on the k× corpus, printing one `STRESS-*` line
  * per k (per config). Replicas are built so per-copy structure is
  * preserved (disjoint id blocks, suffixed or letter-permuted tokens),
  * which makes ~linear growth in k the pass criterion unless a leg's
  * comment says otherwise.
  *
  * One grammar, `sbt "runMain graft.ScaleStress [args]"`:
  *   - no arguments: every default leg (`*` below), in table order, at
  *     its default ks;
  *   - `k,k,...`: the `dedup` leg at those ks;
  *   - `<leg> [k,k,...] [option...]`: that one leg, at the given ks or
  *     its default ks; `itemcf10` takes the option `lshonly`.
  * An unknown leg fails at once, naming the legs; an unknown option
  * names the leg's options.
  *
  * The 23 legs and their default ks:
  *   - `dedup` 1,2,5,10 `*`
  *   - `ann`, `events`, `mining`, `curate`, `r7`, `tokenize`,
  *     `exactsubstr`, `asof` — 1,10,100 `*`
  *   - `r12fam`, `graph8`, `stats8`, `rank9`, `quant13`, `ckpt9`,
  *     `text8`, `text11`, `ext8`, `rank10`, `itemcf10`, `geo9`,
  *     `causal10`, `cc12` — 1,10,100
  *
  * Every operator timing is `timed`: min of 2 runs of
  * `queryExecution.toRdd.count()` (not `count()`, which prunes the
  * query's own work — see `Bench`), the frame rebuilt per run.
  * Corpora are built (most localCheckpoint'ed) before the timer, so
  * generation cost stays out of it.
  */
object ScaleStress {

  /** The corpus every leg replicates. */
  private val Dir = "/root/testdata/sf0.1"
  private val K100 = Seq(1, 10, 100)

  /** A leg: `run(ks, options)` runs it at each of `ks`. */
  final case class Leg(name: String, ks: Seq[Int] = K100,
                       inDefault: Boolean = false,
                       options: Set[String] = Set.empty)(
      val run: (Seq[Int], Set[String]) => Unit)

  /** One planned leg run. */
  final case class Run(leg: Leg, ks: Seq[Int],
                       options: Set[String] = Set.empty)

  /** The common leg shape: one body per k. */
  private def leg(name: String, ks: Seq[Int] = K100,
                  inDefault: Boolean = false)(body: Int => Unit): Leg =
    Leg(name, ks, inDefault)((given, _) => given.foreach(body))

  private def isKList(s: String) = s.matches("[1-9][0-9]*(,[1-9][0-9]*)*")

  /** The argument rule: what `main(args)` runs, leg by leg. */
  def plan(args: Seq[String]): Seq[Run] =
    if (args.isEmpty) legs.filter(_.inDefault).map(l => Run(l, l.ks))
    else {
      val (name, rest) =
        if (isKList(args.head)) ("dedup", args) else (args.head, args.tail)
      val chosen = legs.find(_.name == name).getOrElse(throw
        new IllegalArgumentException(
          s"unknown leg '$name'; legs: ${legs.map(_.name).mkString(", ")}"))
      val (ks, opts) = rest.headOption.filter(isKList) match {
        case Some(kl) => (kl.split(",").toSeq.map(_.toInt), rest.tail)
        case None     => (chosen.ks, rest)
      }
      val bad = opts.filterNot(chosen.options)
      require(bad.isEmpty, s"$name: unknown option(s) ${bad.mkString(", ")}" +
        s" (accepts: ${chosen.options.mkString(", ")})")
      Seq(Run(chosen, ks, opts.toSet))
    }

  def main(args: Array[String]): Unit = {
    val runs = plan(args.toSeq)
    spark.sparkContext.setLogLevel("WARN")
    runs.foreach(r => r.leg.run(r.ks, r.options))
    spark.stop()
  }

  private lazy val spark = LocalSession(32)

  private def clock[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** Min-of-2 wall time and row count of `df`'s own plan. By-name: each
    * run builds and plans the frame afresh (driver-side work at build
    * time is timed, and run 2 never reuses run 1's shuffle files). */
  private def timed(df: => DataFrame): (Double, Long) = {
    val (a, _) = clock(df.queryExecution.toRdd.count())
    val (b, n) = clock(df.queryExecution.toRdd.count())
    (math.min(a, b), n)
  }

  /** k copies `copy(0) … copy(k−1)`, unioned by name; `pin`
    * localCheckpoints the union (eagerly). Legs whose k=100 union would
    * pin GBs of block memory pass `pin = false`. */
  private def replicas(k: Int, pin: Boolean = true)(
      copy: Int => DataFrame): DataFrame = {
    val u = (0 until k).map(copy).reduce(_ unionByName _)
    if (pin) u.localCheckpoint() else u
  }

  /** k copies of `df`, copy i adding i·step to each listed id column (a
    * disjoint key block per copy; listed columns `df` lacks are skipped). */
  private def shifted(df: DataFrame, k: Int, pin: Boolean = true)(
      steps: (String, Long)*): DataFrame = {
    val step = steps.toMap
    replicas(k, pin)(i => df.select(df.columns.toSeq.map(c =>
      step.get(c).fold(col(c))(s => (col(c) + lit(i * s)).as(c))): _*))
  }

  /** k copies of a documents frame: doc_id + i·100000, `text` → text(i). */
  private def docCopies(df: DataFrame, k: Int)(
      text: Int => Column): DataFrame =
    replicas(k)(i => df.select(df.columns.toSeq.map {
      case "doc_id" => (col("doc_id") + lit(i * 100000L)).as("doc_id")
      case "text"   => text(i).as("text")
      case c        => col(c)
    }: _*))

  /** Copy i ≥ 1 suffixes every token `tag`+i, so cross-copy shingle sets
    * are DISJOINT: the k× corpus is k disjoint replicas of the original
    * similarity graph — near-dup density preserved, not multiplied. */
  private def suffixed(df: DataFrame, k: Int, tag: String): DataFrame =
    docCopies(df, k)(i =>
      if (i == 0) col("text")
      else regexp_replace(col("text"), "(\\S+)", "$1" + tag + i))

  /** Copy i applies a SEEDED LETTER PERMUTATION (translate a-z →
    * perm_i) — a bijection, so within-copy structure (word lengths, gram
    * equalities, vocab sizes, bigram topology) is EXACTLY the base
    * corpus's, while cross-copy grams are disjoint with overwhelming
    * probability. (Token suffixes are wrong for the tokenizer legs: a
    * shared per-copy suffix drops per-char entropy and inflated
    * within-copy 32-gram matches 28× when first tried.) */
  private def permuted(k: Int): DataFrame =
    docCopies(docs, k)(i => translate(col("text"), Az, azPerm(i)))

  private val Az = "abcdefghijklmnopqrstuvwxyz"
  private def azPerm(i: Int): String =
    if (i == 0) Az
    else {
      val arr = Az.toCharArray
      val r = new scala.util.Random(i)
      for (j <- arr.length - 1 to 1 by -1) {
        val m = r.nextInt(j + 1)
        val t = arr(j); arr(j) = arr(m); arr(m) = t
      }
      new String(arr)
    }

  private val EvIds = Seq("event_id" -> 10000000L, "user_id" -> 1000000L)
  private val LiIds = Seq("l_orderkey" -> 10000000L,
    "l_partkey" -> 10000000L, "l_suppkey" -> 10000000L)
  private val VecIds = "vec_id" -> 1000000L

  private lazy val docs = Tables.documents(spark, Dir)
    .select(col("doc_id"), col("text"))
  private lazy val emb = Tables.embeddings(spark, Dir)
    .select(col("vec_id"), col("embedding"))
  private lazy val ev = Tables.events(spark, Dir)
    .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
  private lazy val li = Tables.lineitem(spark, Dir)
    .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))

  /** Id-shifted events plus `value = user_id`, pinned. */
  private def valuedEvents(k: Int): DataFrame =
    shifted(ev, k, pin = false)(EvIds: _*)
      .withColumn("value", col("user_id") * 1.0).localCheckpoint()

  /** Directed supplier co-order graph: (a, b) per two distinct suppliers
    * sharing an order. */
  private def coOrder(lic: DataFrame): DataFrame = {
    val b = lic.select(col("l_orderkey").as("bk"), col("l_suppkey").as("sk"))
      .distinct()
    b.as("a").join(b.as("b"),
        col("a.bk") === col("b.bk") && col("a.sk") =!= col("b.sk"))
      .select(col("a.sk").as("src"), col("b.sk").as("dst"))
  }

  /** (event_type, value) copies with a per-copy +i-cent value shift, so
    * the DISTINCT-VALUE grain genuinely grows ×k. Not pinned. */
  private def centShifted(evv: DataFrame, k: Int): DataFrame =
    replicas(k, pin = false)(i => evv.select(col("event_type"),
      (col("value") + lit(i * 0.01)).as("value")))

  /** The leg table, in run order. */
  val legs: Seq[Leg] = Seq(
    // full-corpus near-dup path: exact shingle-Jaccard pairs (threshold
    // 0.5, maxDf 50) resolved to components, and the incremental LSH
    // ingest, on suffixed doc replicas. Under the maxDf stop-shingle cap
    // the join fan-out is Σ min(df,50)², linear in k here — anything
    // superlinear means the cap is not doing its job. Then line-dedup +
    // chunking over the same corpus (cross-copy lines are disjoint too).
    leg("dedup", Seq(1, 2, 5, 10), inDefault = true) { k =>
      val corpus = suffixed(docs, k, "_c")
      val nDocs = corpus.count()
      val (tCluster, nClustered) = timed(Dedup.dedupClusters(
        Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.5, maxDf = 50)
          .select("id_a", "id_b")))
      // ingest shape: earlier half of every copy is the accumulated corpus
      // (signatures only), the later half is the new batch
      val seen = corpus.filter(col("doc_id") % 100000L < 2500L)
      val batch = corpus.filter(col("doc_id") % 100000L >= 2500L)
      val seenSigs = Dedup.minHashSignatures(seen, "doc_id", "text", 3, 16)
        .localCheckpoint()
      val (tIncr, nBatch) = timed(Dedup.minHashNearDupsIncremental(seenSigs,
        batch, "doc_id", "text", n = 3, numHashes = 16, bands = 4,
        threshold = 0.5))
      println(s"STRESS k=$k docs=$nDocs clustered=$nClustered " +
        f"t_cluster=$tCluster%.2f t_incr=$tIncr%.2f batch=$nBatch")
      val (tLines, nCleaned) = timed(TextAnalysis.dedupLines(
        corpus.select(col("doc_id"),
          array_join(TextAnalysis.chunkTexts(col("text"), 8, 8), "\n")
            .as("text")),
        "doc_id", "text"))
      val (tChunk, nChunks) = timed(TextAnalysis.chunkWindows(corpus,
        "doc_id", "text", window = 16, stride = 16))
      println(s"STRESS-TEXT k=$k " +
        f"t_dedup_lines=$tLines%.2f docs=$nCleaned " +
        f"t_chunk=$tChunk%.2f chunks=$nChunks")
    },
    // ANN search + semantic dedup over replicated vec_ids (identical
    // vectors — this times the SEARCH/DEDUP plans; the codebook stays a
    // bounded sample by construction). SemDeDup cells ∝ corpus (avg cell
    // ~250, so the within-cell pair space grows LINEARLY in k); the
    // codebook fit is a constant-cost driver sample, outside the timer.
    leg("ann", inDefault = true) { k =>
      val corpus = shifted(emb, k)(VecIds)
      val n = corpus.count()
      val queries = corpus.filter(col("vec_id") < 5)
      val (tBrute, _) = timed(Similarity.topKBruteForce(queries, corpus,
        "vec_id", "embedding", 3))
      val (tIvf, _) = timed(Similarity.learnedIvf(corpus, "vec_id",
        "embedding", queries, 3, nCells = 8))
      val nCells = math.max(8, (n / 250).toInt)
      val cb = Similarity.trainCodebook(corpus, "vec_id", "embedding", nCells)
      val (tSem, nKept) = timed(Similarity.semDedup(corpus, "vec_id",
        "embedding", cb, tau = 0.9).filter(col("kept")))
      println(f"STRESS-ANN k=$k vecs=$n t_brute=$tBrute%.2f " +
        f"t_ivf=$tIvf%.2f t_semdedup=$tSem%.2f cells=$nCells kept=$nKept")
    },
    // round-12 re-oracled families: the md5-fold MinHash/SimHash
    // signatures and the integer-lattice learned PQ/IVF codebooks —
    // near-dup banding on suffixed doc replicas, compound-index search
    // on vector replicas (trainers stay bounded samples)
    leg("r12fam") { k =>
      val docsK = suffixed(docs, k, "_f")
      val nD = docsK.count()
      val (tMh, nMh) = timed(Dedup.minHashNearDups(docsK, "doc_id", "text"))
      val (tSh, nSh) = timed(Dedup.simHashNearDups(docsK, "doc_id", "text",
        maxHamming = 3))
      println(f"STRESS-FAM12-NEARDUP k=$k docs=$nD t_minhash=$tMh%.2f " +
        f"pairs=$nMh t_simhash=$tSh%.2f spairs=$nSh")
      val embK = shifted(emb, k)(VecIds)
      val nV = embK.count()
      val queries = embK.filter(col("vec_id") < 5)
      val (tPq, _) = timed(Similarity.topKPq(queries, embK, "vec_id",
        "embedding", 3, m = 8, kCodes = 16))
      val (tIvfPq, _) = timed(Similarity.topKIvfPq(embK, "vec_id",
        "embedding", queries, 3, nCells = 8, nProbe = 2, m = 8, kCodes = 16))
      println(f"STRESS-FAM12-ANN k=$k vecs=$nV t_pq=$tPq%.2f " +
        f"t_ivfpq=$tIvfPq%.2f")
    },
    // event ops: interval join, rolling actives, forward labels. Copies
    // shift user/event ids so per-key history is IDENTICAL in every copy;
    // the campaign calendar stays 25 rows at every k (a dimension)
    leg("events", inDefault = true) { k =>
      val corpus = shifted(ev, k)(EvIds: _*)
      val n = corpus.count()
      val campaigns = corpus.select("event_type").distinct()
        .crossJoin(spark.range(5).select(col("id").cast("int").as("w")))
        .select(col("event_type"),
          concat(col("event_type"), lit("_w"), col("w").cast("string"))
            .as("campaign_id"),
          date_add(lit("2024-01-01").cast("date"), col("w") * 7)
            .cast("timestamp_ntz").as("cstart"),
          date_add(lit("2024-01-01").cast("date"), col("w") * 7 + lit(10))
            .cast("timestamp_ntz").as("cend"))
      val (tIj, nIj) = timed(Retrieval.intervalJoin(corpus, campaigns,
        Seq("event_type"), "ts", "cstart", "cend"))
      val (tRa, nDays) = timed(
        WindowAgg.rollingActiveUsers(corpus, "user_id", "ts"))
      val (tFl, _) = timed(Retrieval.futureLabels(corpus, "user_id", "ts",
        "event_id", col("event_type") === "purchase", "24 HOURS"))
      println(f"STRESS-EVENTS k=$k rows=$n t_interval_join=$tIj%.2f " +
        f"matches=$nIj t_rolling_active=$tRa%.2f days=$nDays " +
        f"t_future_labels=$tFl%.2f")
    },
    // mining/graph/clustering: disjoint replicas (shifted basket/part/
    // supplier/vector ids, suffixed tokens) — pair spaces, co-order graphs
    // and vocabularies grow linearly in k
    leg("mining", inDefault = true) { k =>
      val lic = shifted(li, k)(LiIds: _*)
      val nLi = lic.count()
      val (tBasket, nRules) = timed(Frequency.basketRules(lic, "l_orderkey",
        "l_partkey", minPairSupport = 2, k = 100))
      val edges = coOrder(lic)
      val (tPr, nNodes) = timed(
        Graph.pageRank(edges, "src", "dst", iterations = 5))
      println(f"STRESS-MINING k=$k rows=$nLi t_basket=$tBasket%.2f " +
        f"rules=$nRules t_pagerank=$tPr%.2f nodes=$nNodes")
      val embK = shifted(emb, k)(VecIds)
      val nVec = embK.count()
      val (tKm, _) = timed(Clustering.kmeans(embK, "vec_id", "embedding",
        k = 8, iterations = 3))
      val docsK = suffixed(docs, k, "_m")
      val nDocs2 = docsK.count()
      val (tColl, nColl) = timed(TextAnalysis.collocations(docsK, "text",
        minCount = 5, k = 50))
      println(f"STRESS-MINING2 k=$k vecs=$nVec t_kmeans=$tKm%.2f " +
        f"docs=$nDocs2 t_collocations=$tColl%.2f top=$nColl")
    },
    // curation ops: per-copy SOURCES are disjoint (suffixed), so the
    // boilerplate keyspace and per-source doc frequencies are identical
    // per copy. Sketch store: the day count is constant, so the store
    // stays ~30 rows while the input grows. CDC apply: ONE max(struct)
    // shuffle. Incremental flagship: two ingest halves → partials →
    // merge → finalize.
    leg("curate", inDefault = true) { k =>
      val docsrc = Tables.documents(spark, Dir)
        .select(col("doc_id"), col("text"), col("source"))
      val dk = replicas(k)(i => docsrc.select(
        (col("doc_id") + lit(i * 100000L)).as("doc_id"), col("text"),
        concat(col("source"), lit("_c" + i)).as("source")))
      val nD = dk.count()
      val (tBoiler, nBoiler) = timed(TextAnalysis.boilerplateRatio(dk,
        "doc_id", "text", "source", n = 2, minDf = 3))
      val evk = valuedEvents(k)
      val nE = evk.count()
      val (tSketch, nBuckets) = timed(Sketches.rollupDistinct(
        Sketches.dailySketchStore(evk, "ts", "user_id"),
        date_trunc("week", _)))
      val (tCdc, nLive) = timed(Materialize.applyChangelog(
        evk.withColumn("op", when(col("event_type") === "error",
          "delete").otherwise("upsert")),
        "user_id", "ts", "event_id", "op", "delete",
        Seq("event_type", "value")))
      val parsedK = evk
        .withColumn("ts_parsed", col("ts"))
        .withColumn("k", col("user_id") % 50L)
      val (tIvm, nWindows) = timed(WindowAgg.finalizeHourly(
        WindowAgg.mergeHourlyPartials(
          WindowAgg.hourlyPartials(parsedK.filter(col("event_id") % 2 === 0)),
          WindowAgg.hourlyPartials(
            parsedK.filter(col("event_id") % 2 === 1)))))
      println(f"STRESS-CURATE k=$k docs=$nD t_boiler=$tBoiler%.2f " +
        f"scored=$nBoiler events=$nE t_sketch=$tSketch%.2f " +
        f"weeks=$nBuckets t_cdc=$tCdc%.2f live=$nLive " +
        f"t_ivm=$tIvm%.2f windows=$nWindows")
    },
    // round-7 ops: BFS supersteps over the replicated co-order graph, the
    // hot-key salted join (events ⋈ per-copy users), containment pairs
    // (suffixed docs, pair space linear under the df cap), and Matryoshka
    // recall (a fixed 5-query set against a growing corpus)
    leg("r7", inDefault = true) { k =>
      val lic7 = shifted(li.select(col("l_orderkey"), col("l_suppkey")), k)(
        LiIds: _*)
      val edges7 = coOrder(lic7)
      val seeds7 = lic7.select(col("l_suppkey").as("s"))
        .filter(col("s") % 17 === 0).distinct()
      val (tBfs, nReach) = timed(Graph.bfsHops(edges7, "src", "dst", seeds7,
        "s", rounds = 4))
      val evk7 = valuedEvents(k)
      val users7 = evk7.select(col("user_id").as("u_key")).distinct()
        .withColumn("segment", concat(lit("seg_"), (col("u_key") % 5)))
        .localCheckpoint()
      val (tSalted, nJoined) = timed(Skew.saltedHotKeyJoin(evk7, users7,
        "user_id", "u_key", saltBy = "event_id", nSalts = 8,
        minShare = 0.005))
      val docs7 = suffixed(docs, k, "_r")
      val (tCont, nContPairs) = timed(Dedup.containmentPairs(docs7,
        "doc_id", "text", 3, 0.5, maxDf = 50))
      val embK7 = shifted(emb, k)(VecIds)
      val (tMat, nMatRows) = timed(Similarity.matryoshkaRecall(embK7,
        "vec_id", "embedding", col("vec_id") < 5, Seq(4, 8, 16, 32), k = 10))
      println(f"STRESS-R7 k=$k t_bfs=$tBfs%.2f reached=$nReach " +
        f"t_salted_join=$tSalted%.2f joined=$nJoined " +
        f"t_containment=$tCont%.2f pairs=$nContPairs " +
        f"t_matryoshka=$tMat%.2f rows=$nMatRows")
    },
    // tokenizer ops on letter-permuted replicas: trainer cost tracks the
    // VOCAB table (single-shot timings: a trainer runs once per corpus),
    // encode/winnow/LM scale linearly with the corpus
    leg("tokenize", inDefault = true) { k =>
      val dk = permuted(k)
      val nD = dk.count()
      val (tTrain, merges) = clock(Bpe.trainMergesDistributed(dk, "text", 6))
      val (tEnc, nToks) = timed(
        dk.select(explode(Bpe.encode(col("text"), merges))))
      val (tSpan, nPairs) = timed(TextAnalysis.sharedSpans(dk, "doc_id",
        "text", k = 32, w = 16, maxDf = 5))
      val (tPpl, _) = timed(TextAnalysis.bigramPerplexity(dk, "doc_id",
        "text", col("doc_id") % 5L === 0, vocabSize = 100))
      // unigram: trainer cost tracks the WORD table (per-copy vocab is
      // identical under the bijection), the segment pass is the memoized
      // native expression over the corpus
      val (tUniTrain, utab) = clock(Unigram.trainDistributed(dk, "text",
        vocabSize = 200, rounds = 2, maxPieceLen = 4))
      val (tUniSeg, nUniToks) = timed(dk.select(explode(
        graft.functions.Native.unigram_segment_text(col("text"), utab, 4))))
      println(f"STRESS-TOKENIZE k=$k docs=$nD t_bpe_train=$tTrain%.2f " +
        f"t_bpe_encode=$tEnc%.2f toks=$nToks t_spans=$tSpan%.2f " +
        f"pairs=$nPairs t_bigram_ppl=$tPpl%.2f " +
        f"t_uni_train=$tUniTrain%.2f t_uni_seg=$tUniSeg%.2f " +
        f"uni_toks=$nUniToks")
    },
    // ExactSubstr on letter-permuted replicas (within-copy duplicate
    // structure exact, cross-copy 20-grams disjoint): span count ≈ k×
    // base; superlinear time would mean a gram going corpus-hot
    leg("exactsubstr", inDefault = true) { k =>
      val dk = permuted(k)
      val nD = dk.count()
      val (tSpans, nSpans) = timed(
        Dedup.duplicatedSpans(dk, "doc_id", "text", k = 20))
      val (tStats, nDocs) = timed(
        Dedup.duplicatedSpanStats(dk, "doc_id", "text", k = 20))
      println(f"STRESS-EXACTSUBSTR k=$k docs=$nD t_spans=$tSpans%.2f " +
        f"spans=$nSpans t_stats=$tStats%.2f rows=$nDocs")
    },
    // round-8 graph ops: k disjoint shifted replicas of the 1995 part
    // co-order graph (no cross-copy wedges), so candidate and wedge volume
    // scale k×; the frontier BFS state is |nodes|·|seeds| per copy
    leg("graph8") { k =>
      val li8 = Tables.lineitem(spark, Dir)
      val o = Tables.orders(spark, Dir)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp_ntz")
          && col("o_orderdate") < lit("1996-01-01").cast("timestamp_ntz"))
      val base8 = li8.join(o, li8("l_orderkey") === o("o_orderkey"))
        .select(col("l_orderkey").as("bk"), col("l_partkey").as("sk"))
        .distinct()
      val e1 = base8.as("a").join(base8.as("b"),
          col("a.bk") === col("b.bk") && col("a.sk") < col("b.sk"))
        .select(col("a.sk").as("src"), col("b.sk").as("dst"))
      val ek = shifted(e1, k)("src" -> 10000000L, "dst" -> 10000000L)
      val nE = ek.count()
      val (tLp, nLp) = timed(Graph.linkPrediction(ek, "src", "dst",
        minCommon = 2, topK = 500))
      // sparse seed sample (~nodes/1700 per copy): dense seeding on a
      // 12 K-node copy would be an all-pairs BFS, not the estimator
      val seeds8 = shifted(base8.select(col("sk")).distinct()
        .filter(col("sk") % 1700 === 0).select(col("sk").as("s")), k)(
        "s" -> 10000000L)
      val nS = seeds8.count()
      val (tHc, nHc) = timed(Graph.harmonicCentrality(ek, "src", "dst",
        seeds8, "s", rounds = 3))
      println(f"STRESS-GRAPH8 k=$k edges=$nE t_linkpred=$tLp%.2f " +
        f"top=$nLp seeds=$nS t_harmonic=$tHc%.2f nodes=$nHc")
    },
    // round-8 stats/eval ops: events with per-copy user/event id shifts
    // (group cardinality scales; day calendar and values preserved)
    leg("stats8") { k =>
      val ev8 = Tables.events(spark, Dir).select(col("event_id"),
        col("user_id"), col("ts"), col("event_type"), col("value"))
      val corpus = shifted(ev8, k)("event_id" -> 100000000L,
        "user_id" -> 10000000L)
      val n = corpus.count()
      val (tKw, _) = timed(Stats.kruskalWallis(corpus, "event_type", "value",
        Seq("view", "click", "purchase", "signup", "error")))
      val (tIa, nUsers) = timed(Stats.interArrival(corpus, "user_id", "ts"))
      val (tPr, _) = timed(Eval.precisionRecallAtK(
        corpus.select(col("user_id"), col("event_id"), col("value"),
          col("event_type")),
        "user_id", "event_id", "value",
        col("event_type") === "purchase" && col("value") > 90.0, k = 10))
      val (tCu, _) = timed(Eval.cuped(
        corpus.select(col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "value", "2024-01-16"))
      println(f"STRESS-STATS8 k=$k rows=$n users=$nUsers " +
        f"t_kw=$tKw%.2f t_interarrival=$tIa%.2f t_pr=$tPr%.2f " +
        f"t_cuped=$tCu%.2f")
    },
    // round-9 rank/ECDF: exact rank statistics' ordered window runs at
    // the DISTINCT-VALUE grain, so each copy occupies a DISJOINT
    // 1,200-unit value block plus an event-keyed jitter (0..1000 in 0.01
    // steps): distinct lattice points then track rows (~90%), where plain
    // replication would keep distinct flat and hide the tail. The binned
    // twins bound the same window at 1000 rows. Then the entity-grain
    // decision stump (ntile over customers, disjoint acctbal blocks).
    // Not pinned: the k=100 copy would pin GBs.
    Leg("rank9") { (ks, _) =>
      val ev9 = Tables.events(spark, Dir).select(col("event_id"),
        col("user_id"), col("event_type"), col("value"))
      for (k <- ks) {
        val corpus = replicas(k, pin = false)(i => ev9.select(
          col("event_type"),
          (col("value") + lit(i * 1200.0) +
            (col("event_id") % 100000).cast("double") * 0.01).as("value"),
          (col("value") * 3.0 + lit(i * 3600.0) +
            (col("user_id") % 100000).cast("double") * 0.03).as("value2")))
        val n = corpus.count()
        val dv = corpus.select(round(col("value") * 100, 0)).distinct()
          .count()
        val (tMwE, _) = timed(Stats.mannWhitney(corpus, "event_type",
          "value", "purchase", "view"))
        val (tMwB, _) = timed(Stats.mannWhitneyBinned(corpus, "event_type",
          "value", "purchase", "view"))
        val (tCvE, _) = timed(Drift.cvmTest(corpus, "value", "event_type",
          "purchase", "view"))
        val (tCvB, _) = timed(Drift.cvmBinned(corpus, "value", "event_type",
          "purchase", "view"))
        val (tSpE, _) = timed(Stats.spearman(corpus, "value", "value2"))
        val (tSpB, _) = timed(Stats.spearmanBinned(corpus, "value", "value2"))
        println(f"STRESS-RANK9 k=$k rows=$n distinct_v=$dv " +
          f"t_mw_exact=$tMwE%.2f t_mw_binned=$tMwB%.2f " +
          f"t_cvm_exact=$tCvE%.2f t_cvm_binned=$tCvB%.2f " +
          f"t_spearman_exact=$tSpE%.2f t_spearman_binned=$tSpB%.2f")
      }
      val cust9 = Tables.customer(spark, Dir)
        .select(col("c_custkey"), col("c_acctbal"))
      val buyers9 = Tables.orders(spark, Dir)
        .select(col("o_custkey")).distinct().localCheckpoint(eager = false)
      for (k <- ks) {
        val ck = replicas(k, pin = false)(i => cust9.select(
            (col("c_custkey") + lit(i * 10000000L)).as("c_custkey"),
            (col("c_acctbal") + lit(i * 12000.0) +
              (col("c_custkey") % 100000).cast("double") * 0.01)
              .as("c_acctbal")))
          .join(buyers9, col("c_custkey") % 10000000L === col("o_custkey"),
            "left")
        val nC = ck.count()
        val (tStE, _) = timed(Learn.decisionStump(ck, "c_custkey",
          "c_acctbal", col("o_custkey").isNotNull, bins = 10))
        val (tStB, _) = timed(Learn.decisionStumpBinned(ck, "c_custkey",
          "c_acctbal", col("o_custkey").isNotNull, bins = 256))
        println(f"STRESS-RANK9-STUMP k=$k entities=$nC " +
          f"t_stump_ntile=$tStE%.2f t_stump_binned=$tStB%.2f")
      }
    },
    // round-13 exactQuantiles at a growing distinct grain (disjoint value
    // blocks + per-row jitter, the rank9 recipe): the range-partitioned
    // prefix sum should stay ~linear where a one-task window would not.
    // Not pinned.
    leg("quant13") { k =>
      val li13 = Tables.lineitem(spark, Dir)
        .select(col("l_orderkey"), col("l_extendedprice"))
      val corpus = replicas(k, pin = false)(i => li13.select(
        (col("l_extendedprice") + lit(i * 120000.0) +
          (col("l_orderkey") % 100000).cast("double") * 0.01).as("v")))
      val n = corpus.count()
      val dv = corpus.select(col("v")).distinct().count()
      val (tQ, _) = timed(Stats.exactQuantiles(corpus, "v",
        Seq(0.5, 0.9, 0.95, 0.99)))
      println(f"STRESS-QUANT13 k=$k rows=$n distinct_v=$dv " +
        f"t_exact_quantiles=$tQ%.2f")
    },
    // round-9 checkpoint posture: localCheckpoint pins every truncated
    // frame in executor storage (data-proportional, not fault-tolerant);
    // the reliable checkpoint trades one disk write/read per superstep
    // for ~zero pinned memory. Pinned storage is the readout. The
    // reliable checkpoints go to a fresh directory, deleted when the leg
    // ends.
    Leg("ckpt9") { (ks, _) =>
      val root = java.nio.file.Files.createTempDirectory("graft_ckpt9_")
        .toString
      spark.sparkContext.setCheckpointDir(root)
      try for (k <- ks) {
        val edgesK = shifted(Tables.lineitem(spark, Dir).select(
            col("l_orderkey").as("src"), col("l_suppkey").as("dst")),
          k, pin = false)("src" -> 100000000L, "dst" -> 1000000L)
        for (mode <- Seq("local", "reliable")) {
          val dir = if (mode == "reliable") Some(root) else None
          val (t, nOut) = timed(Graph.pageRank(edgesK, "src", "dst",
            iterations = 5, checkpointDir = dir))
          val pinned = spark.sparkContext.getRDDStorageInfo
            .map(_.memSize).sum
          println(f"STRESS-CKPT9 k=$k mode=$mode t=$t%.2f nodes=$nOut " +
            f"storage_pinned_mb=${pinned / 1e6}%.1f")
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(root))
    },
    // round-8 text pipeline: span corruption, Naive Bayes train+score and
    // the curation funnel over suffixed replicas (per-copy vocab disjoint,
    // so the NB dense table grows with the corpus)
    leg("text8") { k =>
      val corpus = suffixed(Tables.documents(spark, Dir)
        .select(col("doc_id"), col("text"), col("lang")), k, "_c")
      val n = corpus.count()
      val (tSpan, nSpans) = timed(
        TextAnalysis.spanCorruption(corpus, "doc_id", "text"))
      val (tNb, nPred) = timed(
        Learn.naiveBayesText(corpus, "doc_id", "text", "lang"))
      val (tFun, _) = timed(
        TextAnalysis.curationFunnel(corpus, "doc_id", "text"))
      println(f"STRESS-TEXT8 k=$k docs=$n spans=$nSpans preds=$nPred " +
        f"t_span=$tSpan%.2f t_nbayes=$tNb%.2f t_funnel=$tFun%.2f")
    },
    // round-10 text: the word2vec pair generator (windowed-positive
    // equi-join + negK draws) and the chained v3 curation pipeline
    // (perplexity filter → winnow span dedup → BPE token costs → packing)
    Leg("text11") { (ks, _) =>
      val merges11 = registry.Shared.bpeMerges(spark, Dir)
      for (k <- ks) {
        val corpus = suffixed(Tables.documents(spark, Dir)
          .select(col("doc_id"), col("text"), col("lang")), k, "_c")
        val n = corpus.count()
        val (tSg, nPairs) = timed(TextAnalysis.skipGramPairs(corpus,
          "doc_id", "text", window = 2, negK = 2))
        val (tV3, nPacks) = timed {
          val scored = TextAnalysis.bigramPerplexity(corpus,
            "doc_id", "text", col("lang") === "en", vocabSize = 100)
          val q3 = scored.agg(
            round(expr("percentile(ce_bits, 0.75D)"), 6).as("q3"))
          val kept = scored.crossJoin(broadcast(q3))
            .filter(col("ce_bits") <= col("q3")).select("doc_id")
          val drops = TextAnalysis.sharedSpans(corpus, "doc_id",
              "text", k = 32, w = 16, maxDf = 5)
            .select(col("doc_b").as("doc_id")).distinct()
          val surv = kept.join(drops, Seq("doc_id"), "left_anti")
          val counts = Bpe.tokenStats(corpus, "doc_id", "text", merges11)
            .join(surv, Seq("doc_id"), "left_semi")
            .join(corpus.select(col("doc_id"), col("lang")), Seq("doc_id"))
            .select(col("lang"), col("doc_id"), col("n_tokens"))
          Sampling.packSequences(counts, "lang", "doc_id",
              "n_tokens", maxTokens = 4096)
            .groupBy("lang", "pack_id")
            .agg(count(lit(1)).cast("long").as("n_docs"),
              sum("n_tokens").cast("long").as("pack_tokens"))
        }
        println(f"STRESS-TEXT11 k=$k docs=$n pairs=$nPairs packs=$nPacks " +
          f"t_skipgram=$tSg%.2f t_v3=$tV3%.2f")
      }
    },
    // bucketed as-of: the same as-of join over plain frames (hash
    // exchanges + per-key sorts on both sides) and over bucketed-sorted
    // tables (zero exchanges, zero sorts). The one-time bucketed WRITE is
    // timed once, apart — the amortized cost a feature store pays once;
    // the pass criterion is the read-path advantage GROWING with scale.
    leg("asof", inDefault = true) { k =>
      val evA = shifted(Tables.events(spark, Dir).select(col("event_id"),
        col("user_id"), col("event_type"), col("ts"), col("value")), k)(
        EvIds: _*)
      val probesA = evA.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts")).localCheckpoint()
      val featsA = evA.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("fts"))
        .agg(max(col("value")).as("last_purchase_value")).localCheckpoint()
      val nProbes = probesA.count(); val nFeats = featsA.count()
      val ttl = "INTERVAL 7 DAYS"
      val (tPlain, nPlain) = timed(Retrieval.asOfJoin(probesA, featsA,
        "user_id", "ts", "fts", ttl, Seq("last_purchase_value")))
      for (t <- Seq("graft_stress_probes_bkt", "graft_stress_feats_bkt")) {
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir") + "/" + t)
        loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(loc, true)
      }
      val (tWrite, _) = clock {
        probesA.repartition(32, col("user_id"))
          .write.mode("overwrite").bucketBy(32, "user_id")
          .sortBy("user_id", "ts").saveAsTable("graft_stress_probes_bkt")
        featsA.repartition(32, col("user_id"))
          .write.mode("overwrite").bucketBy(32, "user_id")
          .sortBy("user_id", "fts").saveAsTable("graft_stress_feats_bkt")
      }
      val (tBkt, nBkt) = timed(Retrieval.asOfJoin(
        spark.table("graft_stress_probes_bkt"),
        spark.table("graft_stress_feats_bkt"), "user_id", "ts", "fts",
        ttl, Seq("last_purchase_value")))
      require(nPlain == nBkt,
        s"STRESS-ASOF row mismatch: plain $nPlain vs bucketed $nBkt")
      println(f"STRESS-ASOF k=$k probes=$nProbes feats=$nFeats " +
        f"t_plain=$tPlain%.2f t_bucketed_read=$tBkt%.2f " +
        f"t_bucketed_write=$tWrite%.2f rows=$nBkt " +
        f"speedup=${tPlain / tBkt}%.2fx")
    },
    // round-8 heavy families, none pinned (k=100 would pin GBs):
    // grid density on "dense" copies (identical — cells constant, runtime
    // near-FLAT) and "spread" copies (shifted a full coordinate unit —
    // cells ∝ k, never points²); Bradley–Terry over per-copy ORDER shifts
    // (players fixed, matchups ×k); energy/CvM over cent-shifted values
    leg("ext8") { k =>
      val emb8 = Tables.embeddings(spark, Dir)
        .select(col("vec_id"), col("embedding"))
      val dense = shifted(emb8, k, pin = false)("vec_id" -> 10000000L)
      val nP = dense.count()
      val (tDense, cDense) = timed(Clustering.gridDensityClusters(dense,
        "embedding", eps = 0.02, minPts = 3))
      val spread = replicas(k, pin = false) { i =>
        val moved = expr(
          s"transform(embedding, (x, j) -> CASE WHEN j = 0 " +
            s"THEN x + CAST($i AS FLOAT) ELSE x END)")
        emb8.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          moved.as("embedding"))
      }
      val (tSpread, cSpread) = timed(Clustering.gridDensityClusters(spread,
        "embedding", eps = 0.02, minPts = 3))
      val liK = shifted(Tables.lineitem(spark, Dir).select(
          col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"),
          col("l_discount")), k, pin = false)("l_orderkey" -> 100000000L)
      val nL = liK.count()
      val (tBt, nPlayers) = timed {
        val rev = liK.groupBy(col("l_orderkey").as("ok"),
            col("l_suppkey").as("sk"))
          .agg(sum(round(col("l_extendedprice") *
            (lit(1.0) - col("l_discount")) * 100, 0).cast("long"))
            .as("rev"))
        val comps = rev.as("a").join(rev.as("b"),
            col("a.ok") === col("b.ok") && col("a.sk") < col("b.sk"))
          .filter(col("a.rev") =!= col("b.rev"))
          .select(when(col("a.rev") > col("b.rev"), col("a.sk"))
              .otherwise(col("b.sk")).as("winner"),
            when(col("a.rev") > col("b.rev"), col("b.sk"))
              .otherwise(col("a.sk")).as("loser"))
        Learn.bradleyTerry(comps, "winner", "loser", iterations = 4)
      }
      val evK = centShifted(Tables.events(spark, Dir)
        .select(col("event_type"), col("value")), k)
      val nE = evK.count()
      val (tEnergy, _) = timed(Drift.energyDistance(evK, "value",
        "event_type", "purchase", "view"))
      val (tCvm, _) = timed(Drift.cvmTest(evK, "value", "event_type",
        "purchase", "view"))
      println(f"STRESS-EXT8 k=$k points=$nP t_grid_dense=$tDense%.2f " +
        f"clusters_dense=$cDense t_grid_spread=$tSpread%.2f " +
        f"clusters_spread=$cSpread lineitems=$nL t_bt=$tBt%.2f " +
        f"players=$nPlayers events=$nE t_energy=$tEnergy%.2f " +
        f"t_cvm=$tCvm%.2f")
    },
    // round-10 rank scores: van der Waerden / Fligner-Killeen exact vs
    // binned over cent-shifted values (the ext8 device) — the exact forms'
    // ordered window should show the data-sized tail, the binned twins
    // stay flat (≤1000 window rows)
    leg("rank10") { k =>
      val groups = Seq("view", "click", "purchase", "signup", "error")
      val evK = centShifted(Tables.events(spark, Dir)
        .select(col("event_type"), col("value")), k)
      val nE = evK.count()
      val (tVdw, _) = timed(
        Stats.vanDerWaerden(evK, "event_type", "value", groups))
      val (tVdwB, _) = timed(
        Stats.vanDerWaerdenBinned(evK, "event_type", "value", groups))
      val (tFk, _) = timed(
        Stats.flignerKilleen(evK, "event_type", "value", groups))
      val (tFkB, _) = timed(
        Stats.flignerKilleenBinned(evK, "event_type", "value", groups))
      println(f"STRESS-RANK10 k=$k events=$nE t_vdw_exact=$tVdw%.2f " +
        f"t_vdw_binned=$tVdwB%.2f t_fk_exact=$tFk%.2f " +
        f"t_fk_binned=$tFkB%.2f")
    },
    // round-10 item CF: replicate CUSTOMERS (custkey and partkey shifted
    // per copy — baskets keep their size, item universes disjoint), so
    // the pair count grows ×k exactly. `lshonly` skips the exact build;
    // otherwise it runs under its default pairBudget (2e8), which at 100×
    // FAILS LOUD (Σ basket² = 1.27 B pairs) — the documented behavior at
    // that scale. The bucketed LSH escape runs beside it. Not pinned.
    Leg("itemcf10", options = Set("lshonly")) { (ks, opts) =>
      val li10 = Tables.lineitem(spark, Dir)
        .select(col("l_orderkey"), col("l_partkey"))
      val o10 = Tables.orders(spark, Dir)
        .select(col("o_orderkey"), col("o_custkey"))
      val ui10 = li10.join(o10, li10("l_orderkey") === o10("o_orderkey"))
        .select(col("o_custkey"), col("l_partkey"))
      for (k <- ks) {
        val uiK = shifted(ui10, k, pin = false)("o_custkey" -> 10000000L,
          "l_partkey" -> 10000000L)
        val nI = uiK.count()
        val (tCf, nOut) =
          if (opts("lshonly")) (Double.NaN, -1L)
          else try timed(Similarity.itemItemCF(uiK, "o_custkey", "l_partkey",
            minDf = 2, maxDf = 1000, maxBasket = 256, k = 10))
          catch {
            case e: IllegalArgumentException =>
              println(s"STRESS-ITEMCF10 k=$k exact-guard-tripped: " +
                e.getMessage.linesIterator.next())
              (Double.NaN, -2L)
          }
        val (tLsh, nLsh) = timed(Similarity.itemItemCFLsh(uiK, "o_custkey",
          "l_partkey", minDf = 2, maxDf = 1000, maxBasket = 256,
          k = 10, minCosine = 0.1, numHashes = 32, bands = 16))
        println(f"STRESS-ITEMCF10 k=$k interactions=$nI t_cf=$tCf%.2f " +
          f"rows_out=$nOut t_lsh=$tLsh%.2f rows_lsh=$nLsh")
      }
    },
    // geo9: the spatial grid join — each replica gets its own DISJOINT map
    // tile (x offset 2e7 per copy, gap > radius), so site density per cell
    // is preserved (one shared map would multiply per-cell density by k)
    leg("geo9") { k =>
      def tiled(df: DataFrame, key: String, chX: Long, chY: Long) =
        replicas(k) { i =>
          Geo.hashPoints(df.select((col(key) + lit(i * 10000000L)).as(key)),
              key, chX, chY)
            .withColumn("x", col("x") + lit(i * 20000000L))
        }
      val pk = tiled(Tables.customer(spark, Dir).select(col("c_custkey")),
        "c_custkey", 171L, 172L)
      val sk = tiled(Tables.supplier(spark, Dir).select(col("s_suppkey")),
        "s_suppkey", 173L, 174L)
      val nP = pk.count(); val nS = sk.count()
      val (tGeo, nOut) = timed(Geo.gridNearest(pk, "c_custkey", sk,
        "s_suppkey", radiusMicro = 800000L))
      println(f"STRESS-GEO9 k=$k probes=$nP sites=$nS t_nearest=" +
        f"$tGeo%.2f rows_out=$nOut")
      // catchment shares the 9-cell bounded fan-out
      val (tCatch, nCatch) = timed(Geo.gridCatchment(pk, "c_custkey", sk,
        "s_suppkey", radiusMicro = 800000L))
      println(f"STRESS-GEO10 k=$k probes=$nP sites=$nS t_catchment=" +
        f"$tCatch%.2f rows_out=$nCatch")
    },
    // causal10: orders with DISJOINT unit names per copy (nation name
    // suffixed) — the corpus aggregation grows ×k while each unit's series
    // stays fixed (synthetic-control grid = units × months, DTW grid =
    // months²). Not pinned.
    Leg("causal10") { (ks, _) =>
      val c10 = Tables.customer(spark, Dir)
        .select(col("c_custkey"), col("c_nationkey"))
      val n10 = Tables.nation(spark, Dir)
        .select(col("n_nationkey"), col("n_name"))
      val joined0 = Tables.orders(spark, Dir)
        .join(c10, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n10), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("o_orderdate"), col("o_totalprice"))
        .localCheckpoint()
      for (k <- ks) {
        val jk = replicas(k, pin = false)(i => joined0.select(
          concat(col("n_name"), lit(s"_C$i")).as("n_name"),
          col("o_orderdate"), col("o_totalprice")))
        val nRows = jk.count()
        val (tSc, _) = timed(Eval.syntheticControl(jk, "n_name",
          to_date(col("o_orderdate")), "o_totalprice",
          treatedUnit = "NATION_0_C0", intervention = "1999-01-01"))
        val (tDtw, _) = timed(Eval.dtwDistance(jk, "n_name",
          to_date(col("o_orderdate")), "o_totalprice",
          unitA = "NATION_1_C0", unitB = "NATION_2_C0"))
        println(f"STRESS-CAUSAL10 k=$k rows=$nRows t_synth=$tSc%.2f " +
          f"t_dtw=$tDtw%.2f")
      }
    },
    // round-12 CC fast path: (a) grid density over cell-shifted embedding
    // replicas (occupied cells ~linear in k; cluster resolution stays one
    // collect); (b) union-find vs forced-distributed on chain components
    // (diameter 15, the elongated shape where the distributed loop needs
    // diameter supersteps) at fixed sizes, independent of k; (c) one
    // over-budget graph (2.8 M edges > 2 M) proving the cutover engages.
    Leg("cc12") { (ks, _) =>
      val emb12 = Tables.embeddings(spark, Dir)
      for (k <- ks) {
        val embK = replicas(k) { i =>
          val moved = transform(col("embedding"),
            (x, j) => when(j < lit(2),
              x + lit(i.toDouble * 0.7)).otherwise(x))
          emb12.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
            moved.as("embedding"))
        }
        val nV = embK.count()
        val (tGrid, nRows) = timed(Clustering.gridDensityClusters(embK,
          "embedding", eps = 0.02, minPts = 3))
        println(f"STRESS-CC12-GRID k=$k vecs=$nV t_grid=$tGrid%.2f " +
          f"rows=$nRows")
      }
      for (nComp <- Seq(250, 2500, 25000)) {
        val edges = spark.range(nComp.toLong).select(col("id").as("c"))
          .crossJoin(spark.range(15).select(col("id").as("j")))
          .select((col("c") * 16 + col("j")).as("src"),
            (col("c") * 16 + col("j") + 1).as("dst"))
          .localCheckpoint()
        val nE = edges.count()
        val (tFast, nF) = timed(
          Dedup.connectedComponents(edges, "src", "dst"))
        val (tDist, _) = timed(Dedup.connectedComponents(edges, "src", "dst",
          driverEdgeBudget = 0L))
        println(f"STRESS-CC12-UF comps=$nComp edges=$nE " +
          f"t_unionfind=$tFast%.2f t_distributed=$tDist%.2f nodes=$nF")
      }
      val big = spark.range(350000L).select(col("id").as("c"))
        .crossJoin(spark.range(8).select(col("id").as("j")))
        .select((col("c") * 9).as("src"),
          (col("c") * 9 + col("j") + 1).as("dst"))
        .localCheckpoint()
      val nBig = big.count()
      val (tBig, nBigNodes) = clock(Dedup.connectedComponents(big, "src",
        "dst").queryExecution.toRdd.count())
      println(f"STRESS-CC12-BIG edges=$nBig t=$tBig%.2f nodes=$nBigNodes " +
        "(over budget: distributed loop)")
    }
  )
}
