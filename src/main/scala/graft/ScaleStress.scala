package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Scale-stress harness for the full-corpus near-dup path:
  * `sbt "runMain graft.ScaleStress"` times the x_dedup_clusters_full
  * pipeline (exact shingle-Jaccard pairs at threshold 0.5, maxDf 50,
  * resolved to components) and the incremental LSH ingest
  * ([[graft.ops.Dedup.minHashNearDupsIncremental]]) on 1×/2×/5×/10×
  * copies of the sf0.1 documents table (5 K → 50 K docs). Pass a
  * comma-separated k list as the first arg (e.g. `"10,100"`) to override
  * the sweep — with args given, only the dedup/incremental/text loop runs
  * (the 100× row where data-proportional work should finally dominate the
  * scheduling floor, confirming exponent → 1, not 2).
  *
  * Each copy beyond the first gets every token suffixed `_cK`, so
  * cross-copy shingle sets are DISJOINT: the k× corpus is k disjoint
  * replicas of the original similarity graph — near-dup DENSITY is
  * preserved instead of multiplied (naive replication would square the
  * within-cluster pair count and measure a different problem). Under the
  * `maxDf` stop-shingle cap the join fan-out is Σ min(df,50)², which
  * grows linearly in k here (each shingle's df is unchanged, there are
  * just k× more of them) — so ~linear runtime is the pass criterion and
  * anything superlinear means the cap is not doing its job.
  *
  * Corpora are localCheckpoint'ed before timing so generation cost stays
  * out of the measurement; each config runs twice and reports the min
  * (same first-touch policy as graft.Bench).
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(32)
    spark.sparkContext.setLogLevel("WARN")
    val base = Tables.documents(spark, "/root/testdata/sf0.1")
      .select(col("doc_id"), col("text"))

    def timeMin2(f: => Long): (Double, Long) = {
      def once(): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val a = once(); val b = once()
      (math.min(a._1, b._1), b._2)
    }

    // "mining" / "curate" / "tokenize" / "r7" as the sole arg run ONLY
    // that loop
    val miningOnly = args.headOption.contains("mining")
    val curateOnly = args.headOption.contains("curate")
    val tokOnly = args.headOption.contains("tokenize")
    val r7Only = args.headOption.contains("r7")
    val asofOnly = args.headOption.contains("asof")
    val exactsubstrOnly = args.headOption.contains("exactsubstr")
    val graph8Mode = args.headOption.contains("graph8")
    val stats8Mode = args.headOption.contains("stats8")
    val cc12Mode = args.headOption.contains("cc12")
    val ks =
      if (miningOnly || curateOnly || tokOnly || r7Only || asofOnly ||
          exactsubstrOnly || graph8Mode || stats8Mode ||
          args.headOption.contains("text8") ||
          args.headOption.contains("text11") ||
          args.headOption.contains("rank9") ||
          args.headOption.contains("ckpt9") ||
          args.headOption.contains("rank10") ||
          args.headOption.contains("itemcf10") ||
          args.headOption.contains("geo9") ||
          args.headOption.contains("causal10") ||
          args.headOption.contains("r12fam") ||
          cc12Mode ||
          args.headOption.contains("quant13") ||
          args.headOption.contains("ext8"))
        Seq.empty[Int]
      else args.headOption.map(_.split(",").toSeq.map(_.trim.toInt))
        .getOrElse(Seq(1, 2, 5, 10))
    for (k <- ks) {
      val corpus = (0 until k).map { i =>
        val text =
          if (i == 0) col("text")
          else regexp_replace(col("text"), "(\\S+)", "$1_c" + i)
        base.select((col("doc_id") + lit(i * 100000L)).as("doc_id"),
          text.as("text"))
      }.reduce(_ unionByName _).localCheckpoint()
      val nDocs = corpus.count()

      val (tCluster, nClustered) = timeMin2 {
        Dedup.dedupClusters(
          Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.5, maxDf = 50)
            .select("id_a", "id_b")).queryExecution.toRdd.count()
      }
      // ingest shape: earlier half of every copy is the accumulated corpus
      // (signatures only), the later half is the new batch
      val seen = corpus.filter(col("doc_id") % 100000L < 2500L)
      val batch = corpus.filter(col("doc_id") % 100000L >= 2500L)
      val seenSigs = Dedup.minHashSignatures(seen, "doc_id", "text", 3, 16)
        .localCheckpoint()
      val (tIncr, nBatch) = timeMin2 {
        Dedup.minHashNearDupsIncremental(seenSigs, batch, "doc_id", "text",
          n = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .queryExecution.toRdd.count()
      }
      println(s"STRESS k=$k docs=$nDocs clustered=$nClustered " +
        f"t_cluster=$tCluster%.2f t_incr=$tIncr%.2f batch=$nBatch")

      // line-dedup + chunking over the same replicated corpus (cross-copy
      // lines are disjoint, so dedup density is preserved too)
      val (tLines, nCleaned) = timeMin2 {
        graft.ops.TextAnalysis.dedupLines(
          corpus.select(col("doc_id"),
            array_join(graft.ops.TextAnalysis.chunkTexts(col("text"), 8, 8),
              "\n").as("text")),
          "doc_id", "text").queryExecution.toRdd.count()
      }
      val (tChunk, nChunks) = timeMin2 {
        graft.ops.TextAnalysis.chunkWindows(corpus, "doc_id", "text",
          window = 16, stride = 16).queryExecution.toRdd.count()
      }
      println(s"STRESS-TEXT k=$k " +
        f"t_dedup_lines=$tLines%.2f docs=$nCleaned " +
        f"t_chunk=$tChunk%.2f chunks=$nChunks")
    }

    // ANN search + semantic-dedup path at 1×/10×/100× the embeddings
    // corpus (replicated vec_ids; identical vectors — this times the
    // SEARCH/DEDUP plans, the codebook stays a bounded sample by
    // construction). Skipped when an explicit k list was passed
    // (targeted dedup-scale runs).
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
      .select(col("vec_id"), col("embedding"))
    for (k <- if (args.nonEmpty) Seq.empty[Int] else Seq(1, 10, 100)) {
      val corpus = (0 until k).map(i =>
        emb.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
          col("embedding")))
        .reduce(_ unionByName _).localCheckpoint()
      val n = corpus.count()
      val queries = corpus.filter(col("vec_id") < 5)
      val (tBrute, _) = timeMin2 {
        graft.ops.Similarity.topKBruteForce(queries, corpus,
          "vec_id", "embedding", 3).queryExecution.toRdd.count()
      }
      val (tIvf, _) = timeMin2 {
        graft.ops.Similarity.learnedIvf(corpus, "vec_id", "embedding",
          queries, 3, nCells = 8).queryExecution.toRdd.count()
      }
      // SemDeDup with cells ∝ corpus (the paper's scale knob: avg cell
      // size stays ~250, so the within-cell pair space grows LINEARLY in
      // k, never corpus²). Codebook fit is the bounded driver-side sample
      // — constant cost by construction, kept outside the timer.
      val nCells = math.max(8, (n / 250).toInt)
      val cb = graft.ops.Similarity.trainCodebook(
        corpus, "vec_id", "embedding", nCells)
      val (tSem, nKept) = timeMin2 {
        graft.ops.Similarity.semDedup(corpus, "vec_id", "embedding",
          cb, tau = 0.9).filter(col("kept"))
          .queryExecution.toRdd.count()
      }
      println(f"STRESS-ANN k=$k vecs=$n t_brute=$tBrute%.2f " +
        f"t_ivf=$tIvf%.2f t_semdedup=$tSem%.2f cells=$nCells kept=$nKept")
    }

    // round-12 re-oracled-family stress (`r12fam [ks]`): the md5-fold
    // MinHash/SimHash signature families and the integer-lattice learned
    // PQ/IVF codebooks changed the per-row hash/train/encode cost the
    // older neardup/ann legs measured — re-time the near-dup banding and
    // the compound-index search on the NEW families. Disjoint-token doc
    // replicas preserve near-dup density (the banding fan-out criterion);
    // vector replicas time the corpus-sized encode/search plans while the
    // trainers stay bounded samples by construction. Pass criterion:
    // ~linear in k for all four timings.
    val famKs =
      if (args.headOption.contains("r12fam"))
        args.drop(1).headOption.map(_.split(",").toSeq.map(_.trim.toInt))
          .getOrElse(Seq(1, 10, 100))
      else Seq.empty[Int]
    for (k <- famKs) {
      val docsK = (0 until k).map { i =>
        val text = if (i == 0) col("text")
          else regexp_replace(col("text"), "(\\S+)", "$1_f" + i)
        base.select((col("doc_id") + lit(i * 100000L)).as("doc_id"),
          text.as("text"))
      }.reduce(_ unionByName _).localCheckpoint()
      val nD = docsK.count()
      val (tMh, nMh) = timeMin2 {
        Dedup.minHashNearDups(docsK, "doc_id", "text")
          .queryExecution.toRdd.count()
      }
      val (tSh, nSh) = timeMin2 {
        Dedup.simHashNearDups(docsK, "doc_id", "text", maxHamming = 3)
          .queryExecution.toRdd.count()
      }
      println(f"STRESS-FAM12-NEARDUP k=$k docs=$nD t_minhash=$tMh%.2f " +
        f"pairs=$nMh t_simhash=$tSh%.2f spairs=$nSh")
      val embK = (0 until k).map(i =>
        emb.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
          col("embedding"))).reduce(_ unionByName _).localCheckpoint()
      val nV = embK.count()
      val queries = embK.filter(col("vec_id") < 5)
      val (tPq, _) = timeMin2 {
        graft.ops.Similarity.topKPq(queries, embK, "vec_id", "embedding",
          3, m = 8, kCodes = 16).queryExecution.toRdd.count()
      }
      val (tIvfPq, _) = timeMin2 {
        graft.ops.Similarity.topKIvfPq(embK, "vec_id", "embedding",
          queries, 3, nCells = 8, nProbe = 2, m = 8, kCodes = 16)
          .queryExecution.toRdd.count()
      }
      println(f"STRESS-FAM12-ANN k=$k vecs=$nV t_pq=$tPq%.2f " +
        f"t_ivfpq=$tIvfPq%.2f")
    }

    // event-ops stress: interval join, rolling actives, forward labels at
    // 1×/10×/100× the events table (10 M rows at 100×). Copies shift
    // user/event ids so per-key history is IDENTICAL in every copy —
    // per-key window work stays constant and total work should scale
    // linearly; the campaign calendar stays 25 rows at every k (intervals
    // are a dimension, not data).
    val ev = Tables.events(spark, "/root/testdata/sf0.1")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    for (k <- if (args.nonEmpty) Seq.empty[Int] else Seq(1, 10, 100)) {
      val corpus = (0 until k).map(i =>
        ev.select((col("event_id") + lit(i * 10000000L)).as("event_id"),
          (col("user_id") + lit(i * 1000000L)).as("user_id"),
          col("event_type"), col("ts")))
        .reduce(_ unionByName _).localCheckpoint()
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
      val (tIj, nIj) = timeMin2 {
        graft.ops.Retrieval.intervalJoin(corpus, campaigns,
          Seq("event_type"), "ts", "cstart", "cend")
          .queryExecution.toRdd.count()
      }
      val (tRa, nDays) = timeMin2 {
        graft.ops.WindowAgg.rollingActiveUsers(corpus, "user_id", "ts")
          .queryExecution.toRdd.count()
      }
      val (tFl, _) = timeMin2 {
        graft.ops.Retrieval.futureLabels(corpus, "user_id", "ts",
          "event_id", col("event_type") === "purchase", "24 HOURS")
          .queryExecution.toRdd.count()
      }
      println(f"STRESS-EVENTS k=$k rows=$n t_interval_join=$tIj%.2f " +
        f"matches=$nIj t_rolling_active=$tRa%.2f days=$nDays " +
        f"t_future_labels=$tFl%.2f")
    }

    // mining/graph/clustering stress at 1x/10x/100x: disjoint replicas
    // (shifted basket/part/supplier/vector ids, suffixed tokens) preserve
    // per-copy density, so pair spaces, co-order graphs and vocabularies
    // grow LINEARLY in k — the pass criterion for every operator here.
    val li = Tables.lineitem(spark, "/root/testdata/sf0.1")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    for (k <- if (args.isEmpty || miningOnly) Seq(1, 10, 100)
              else Seq.empty[Int]) {
      val lic = (0 until k).map(i =>
        li.select((col("l_orderkey") + lit(i * 10000000L)).as("l_orderkey"),
          (col("l_partkey") + lit(i * 10000000L)).as("l_partkey"),
          (col("l_suppkey") + lit(i * 10000000L)).as("l_suppkey")))
        .reduce(_ unionByName _).localCheckpoint()
      val nLi = lic.count()
      val (tBasket, nRules) = timeMin2 {
        graft.ops.Frequency.basketRules(lic, "l_orderkey", "l_partkey",
          minPairSupport = 2, k = 100).queryExecution.toRdd.count()
      }
      val base2 = lic.select(col("l_orderkey").as("bk"),
        col("l_suppkey").as("sk")).distinct()
      val edges = base2.as("a").join(base2.as("b"),
          col("a.bk") === col("b.bk") && col("a.sk") =!= col("b.sk"))
        .select(col("a.sk").as("src"), col("b.sk").as("dst"))
      val (tPr, nNodes) = timeMin2 {
        graft.ops.Graph.pageRank(edges, "src", "dst", iterations = 5)
          .queryExecution.toRdd.count()
      }
      println(f"STRESS-MINING k=$k rows=$nLi t_basket=$tBasket%.2f " +
        f"rules=$nRules t_pagerank=$tPr%.2f nodes=$nNodes")

      val embK = (0 until k).map(i =>
        emb.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
          col("embedding")))
        .reduce(_ unionByName _).localCheckpoint()
      val nVec = embK.count()
      val (tKm, _) = timeMin2 {
        graft.ops.Clustering.kmeans(embK, "vec_id", "embedding",
          k = 8, iterations = 3).queryExecution.toRdd.count()
      }
      val docsK = (0 until k).map { i =>
        val text =
          if (i == 0) col("text")
          else regexp_replace(col("text"), "(\\S+)", "$1_m" + i)
        base.select((col("doc_id") + lit(i * 100000L)).as("doc_id"),
          text.as("text"))
      }.reduce(_ unionByName _).localCheckpoint()
      val nDocs2 = docsK.count()
      val (tColl, nColl) = timeMin2 {
        graft.ops.TextAnalysis.collocations(docsK, "text",
          minCount = 5, k = 50).queryExecution.toRdd.count()
      }
      println(f"STRESS-MINING2 k=$k vecs=$nVec t_kmeans=$tKm%.2f " +
        f"docs=$nDocs2 t_collocations=$tColl%.2f top=$nColl")
    }

    // curation-ops stress at 1×/10×/100×: per-copy SOURCES are disjoint
    // (suffixed), so the boilerplate keyspace (source, shingle) and
    // per-source doc frequencies are identical in every copy — linear
    // growth is the pass criterion. Sketch store: day count is constant,
    // so the store stays ~30 rows while the scanned input grows 100× —
    // near-flat rollup, linear build. CDC apply: ONE max(struct) shuffle.
    val docsrc = Tables.documents(spark, "/root/testdata/sf0.1")
      .select(col("doc_id"), col("text"), col("source"))
    for (k <- if (args.isEmpty || curateOnly) Seq(1, 10, 100)
              else Seq.empty[Int]) {
      val dk = (0 until k).map(i =>
        docsrc.select((col("doc_id") + lit(i * 100000L)).as("doc_id"),
          col("text"),
          concat(col("source"), lit("_c" + i)).as("source")))
        .reduce(_ unionByName _).localCheckpoint()
      val nD = dk.count()
      val (tBoiler, nBoiler) = timeMin2 {
        graft.ops.TextAnalysis.boilerplateRatio(dk, "doc_id", "text",
          "source", n = 2, minDf = 3).queryExecution.toRdd.count()
      }
      val evk = (0 until k).map(i =>
        ev.select((col("event_id") + lit(i * 10000000L)).as("event_id"),
          (col("user_id") + lit(i * 1000000L)).as("user_id"),
          col("event_type"), col("ts")))
        .reduce(_ unionByName _)
        .withColumn("value", col("user_id") * 1.0)
        .localCheckpoint()
      val nE = evk.count()
      val (tSketch, nBuckets) = timeMin2 {
        graft.ops.Sketches.rollupDistinct(
          graft.ops.Sketches.dailySketchStore(evk, "ts", "user_id"),
          date_trunc("week", _)).queryExecution.toRdd.count()
      }
      val (tCdc, nLive) = timeMin2 {
        graft.ops.Materialize.applyChangelog(
          evk.withColumn("op", when(col("event_type") === "error",
            "delete").otherwise("upsert")),
          "user_id", "ts", "event_id", "op", "delete",
          Seq("event_type", "value")).queryExecution.toRdd.count()
      }
      // incremental flagship: two ingest halves -> partials -> merge ->
      // finalize; linear in events, merge bounded by the partial tables
      val parsedK = evk
        .withColumn("ts_parsed", col("ts"))
        .withColumn("k", col("user_id") % 50L)
      val (tIvm, nWindows) = timeMin2 {
        graft.ops.WindowAgg.finalizeHourly(
          graft.ops.WindowAgg.mergeHourlyPartials(
            graft.ops.WindowAgg.hourlyPartials(
              parsedK.filter(col("event_id") % 2 === 0)),
            graft.ops.WindowAgg.hourlyPartials(
              parsedK.filter(col("event_id") % 2 === 1))))
          .queryExecution.toRdd.count()
      }
      println(f"STRESS-CURATE k=$k docs=$nD t_boiler=$tBoiler%.2f " +
        f"scored=$nBoiler events=$nE t_sketch=$tSketch%.2f " +
        f"weeks=$nBuckets t_cdc=$tCdc%.2f live=$nLive " +
        f"t_ivm=$tIvm%.2f windows=$nWindows")
    }
    // round-7 ops stress at 1×/10×/100×: BFS supersteps over the
    // replicated co-order graph (disjoint replicas — frontier and edge
    // volume both grow linearly), the hot-key salted join vs its plain
    // form (events ⋈ per-copy users; per-key history constant per copy),
    // containment pairs (same disjoint-shingle replication as the
    // jaccard loop — pair space linear under the df cap), and Matryoshka
    // recall (fixed 5-query broadcast set against a growing corpus —
    // expect ~linear in corpus bytes, the one-scan-all-levels plan).
    val r7Ks =
      if (r7Only) args.drop(1).headOption
        .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(1, 10, 100))
      else if (args.isEmpty) Seq(1, 10, 100)
      else Seq.empty[Int]
    for (k <- r7Ks) {
      val lic7 = (0 until k).map(i =>
        li.select((col("l_orderkey") + lit(i * 10000000L)).as("l_orderkey"),
          (col("l_suppkey") + lit(i * 10000000L)).as("l_suppkey")))
        .reduce(_ unionByName _).localCheckpoint()
      val base7 = lic7.select(col("l_orderkey").as("bk"),
        col("l_suppkey").as("sk")).distinct()
      val edges7 = base7.as("a").join(base7.as("b"),
          col("a.bk") === col("b.bk") && col("a.sk") =!= col("b.sk"))
        .select(col("a.sk").as("src"), col("b.sk").as("dst"))
      val seeds7 = lic7.select(col("l_suppkey").as("s"))
        .filter(col("s") % 17 === 0).distinct()
      val (tBfs, nReach) = timeMin2 {
        graft.ops.Graph.bfsHops(edges7, "src", "dst", seeds7, "s",
          rounds = 4).queryExecution.toRdd.count()
      }
      val evk7 = (0 until k).map(i =>
        ev.select((col("event_id") + lit(i * 10000000L)).as("event_id"),
          (col("user_id") + lit(i * 1000000L)).as("user_id"),
          col("event_type"), col("ts")))
        .reduce(_ unionByName _)
        .withColumn("value", col("user_id") * 1.0).localCheckpoint()
      val users7 = evk7.select(col("user_id").as("u_key")).distinct()
        .withColumn("segment", concat(lit("seg_"), (col("u_key") % 5)))
        .localCheckpoint()
      val (tSalted, nJoined) = timeMin2 {
        graft.ops.Skew.saltedHotKeyJoin(evk7, users7, "user_id", "u_key",
            saltBy = "event_id", nSalts = 8, minShare = 0.005)
          .queryExecution.toRdd.count()
      }
      val docs7 = (0 until k).map { i =>
        val text =
          if (i == 0) col("text")
          else regexp_replace(col("text"), "(\\S+)", "$1_r" + i)
        base.select((col("doc_id") + lit(i * 100000L)).as("doc_id"),
          text.as("text"))
      }.reduce(_ unionByName _).localCheckpoint()
      val (tCont, nContPairs) = timeMin2 {
        graft.ops.Dedup.containmentPairs(docs7, "doc_id", "text", 3,
          0.5, maxDf = 50).queryExecution.toRdd.count()
      }
      val embK7 = (0 until k).map(i =>
        emb.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
          col("embedding")))
        .reduce(_ unionByName _).localCheckpoint()
      val (tMat, nMatRows) = timeMin2 {
        graft.ops.Similarity.matryoshkaRecall(embK7, "vec_id",
          "embedding", col("vec_id") < 5, Seq(4, 8, 16, 32), k = 10)
          .queryExecution.toRdd.count()
      }
      println(f"STRESS-R7 k=$k t_bfs=$tBfs%.2f reached=$nReach " +
        f"t_salted_join=$tSalted%.2f joined=$nJoined " +
        f"t_containment=$tCont%.2f pairs=$nContPairs " +
        f"t_matryoshka=$tMat%.2f rows=$nMatRows")
    }
    // tokenizer-ops stress at 1×/10×/100×: each copy applies a SEEDED
    // LETTER PERMUTATION (translate a-z → perm_i) — a bijection, so
    // within-copy structure (word lengths, gram equalities, vocab sizes,
    // bigram topology) is EXACTLY the base corpus's, while cross-copy
    // grams/words are disjoint with overwhelming probability. (Token
    // SUFFIXES — the scheme the word-level loops use — are wrong here:
    // a shared per-copy suffix on every word drops per-char entropy and
    // inflated within-copy 32-gram matches 28× when first tried.) Pass
    // criteria: trainer cost tracks the VOCAB table, encode/winnow/LM
    // scale linearly with the corpus.
    val alphaAz = "abcdefghijklmnopqrstuvwxyz"
    def azPerm(i: Int): String =
      if (i == 0) alphaAz
      else {
        val arr = alphaAz.toCharArray
        val r = new scala.util.Random(i)
        for (j <- arr.length - 1 to 1 by -1) {
          val m = r.nextInt(j + 1)
          val t = arr(j); arr(j) = arr(m); arr(m) = t
        }
        new String(arr)
      }
    for (k <- if (args.isEmpty || tokOnly) Seq(1, 10, 100)
              else Seq.empty[Int]) {
      val dk = (0 until k).map { i =>
        base.select((col("doc_id") + lit(i * 100000L)).as("doc_id"),
          translate(col("text"), alphaAz, azPerm(i)).as("text"))
      }.reduce(_ unionByName _).localCheckpoint()
      val nD = dk.count()
      val t0 = System.nanoTime()
      val merges = graft.ops.Bpe.trainMergesDistributed(dk, "text", 6)
      val tTrain = (System.nanoTime() - t0) / 1e9
      val (tEnc, nToks) = timeMin2 {
        dk.select(explode(graft.ops.Bpe.encode(col("text"), merges)))
          .queryExecution.toRdd.count()
      }
      val (tSpan, nPairs) = timeMin2 {
        graft.ops.TextAnalysis.sharedSpans(dk, "doc_id", "text",
          k = 32, w = 16, maxDf = 5).queryExecution.toRdd.count()
      }
      val (tPpl, _) = timeMin2 {
        graft.ops.TextAnalysis.bigramPerplexity(dk, "doc_id", "text",
          col("doc_id") % 5L === 0, vocabSize = 100)
          .queryExecution.toRdd.count()
      }
      // unigram: trainer cost tracks the WORD table (flat under the
      // letter-bijection replication — per-copy vocab identical), the
      // segment pass is the memoized native expression over the corpus
      val tU0 = System.nanoTime()
      val utab = graft.ops.Unigram.trainDistributed(dk, "text",
        vocabSize = 200, rounds = 2, maxPieceLen = 4)
      val tUniTrain = (System.nanoTime() - tU0) / 1e9
      val (tUniSeg, nUniToks) = timeMin2 {
        dk.select(explode(graft.functions.Native.unigram_segment_text(
          col("text"), utab, 4))).queryExecution.toRdd.count()
      }
      println(f"STRESS-TOKENIZE k=$k docs=$nD t_bpe_train=$tTrain%.2f " +
        f"t_bpe_encode=$tEnc%.2f toks=$nToks t_spans=$tSpan%.2f " +
        f"pairs=$nPairs t_bigram_ppl=$tPpl%.2f " +
        f"t_uni_train=$tUniTrain%.2f t_uni_seg=$tUniSeg%.2f " +
        f"uni_toks=$nUniToks")
    }
    // ExactSubstr stress at 1×/10×/100× under the same letter-bijection
    // replication (within-copy duplicate structure exact, cross-copy
    // 20-grams disjoint): the gram table grows linearly in k and the
    // only corpus-sized shuffles are the gram window and the per-doc
    // island window, so ~linear runtime with span count ≈ k× base is
    // the pass criterion (superlinear would mean the gram partition is
    // degenerating, e.g. a boilerplate gram going corpus-hot).
    for (k <- if (args.isEmpty || exactsubstrOnly) Seq(1, 10, 100)
              else Seq.empty[Int]) {
      val dk = (0 until k).map { i =>
        base.select((col("doc_id") + lit(i * 100000L)).as("doc_id"),
          translate(col("text"), alphaAz, azPerm(i)).as("text"))
      }.reduce(_ unionByName _).localCheckpoint()
      val nD = dk.count()
      val (tSpans, nSpans) = timeMin2 {
        Dedup.duplicatedSpans(dk, "doc_id", "text", k = 20)
          .queryExecution.toRdd.count()
      }
      val (tStats, nDocs) = timeMin2 {
        Dedup.duplicatedSpanStats(dk, "doc_id", "text", k = 20)
          .queryExecution.toRdd.count()
      }
      println(f"STRESS-EXACTSUBSTR k=$k docs=$nD t_spans=$tSpans%.2f " +
        f"spans=$nSpans t_stats=$tStats%.2f rows=$nDocs")
    }
    // round-8 graph ops at 1×/10×/100×: k disjoint shifted replicas of
    // the 1995 part co-order graph (structure and degree distribution
    // exactly preserved per copy; no cross-copy wedges), so candidate
    // volume and wedge volume both scale k× — ~linear runtime is the
    // pass criterion for the wedge join; the frontier BFS's state is
    // |nodes|·|seeds| per copy and also k×.
    val graph8Only = args.headOption.contains("graph8")
    for (k <- if (graph8Only) Seq(1, 10, 100) else Seq.empty[Int]) {
      val li = Tables.lineitem(spark, "/root/testdata/sf0.1")
      val o = Tables.orders(spark, "/root/testdata/sf0.1")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp_ntz")
          && col("o_orderdate") < lit("1996-01-01").cast("timestamp_ntz"))
      val base8 = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("l_orderkey").as("bk"), col("l_partkey").as("sk"))
        .distinct()
      val e1 = base8.as("a").join(base8.as("b"),
          col("a.bk") === col("b.bk") && col("a.sk") < col("b.sk"))
        .select(col("a.sk").as("src"), col("b.sk").as("dst"))
      val ek = (0 until k).map(i =>
        e1.select((col("src") + lit(i * 10000000L)).as("src"),
          (col("dst") + lit(i * 10000000L)).as("dst")))
        .reduce(_ unionByName _).localCheckpoint()
      val nE = ek.count()
      val (tLp, nLp) = timeMin2 {
        graft.ops.Graph.linkPrediction(ek, "src", "dst", minCommon = 2,
          topK = 500).queryExecution.toRdd.count()
      }
      // sparse seed sample (~nodes/1700 per copy): the |nodes|·|seeds|
      // state knob the operator documents — dense seeding on a 12 K-node
      // copy would be an all-pairs BFS, which is not the estimator
      val seeds8 = (0 until k).map(i =>
        base8.select(col("sk")).distinct()
          .filter(col("sk") % 1700 === 0)
          .select((col("sk") + lit(i * 10000000L)).as("s")))
        .reduce(_ unionByName _).localCheckpoint()
      val nS = seeds8.count()
      val (tHc, nHc) = timeMin2 {
        graft.ops.Graph.harmonicCentrality(ek, "src", "dst", seeds8, "s",
          rounds = 3).queryExecution.toRdd.count()
      }
      println(f"STRESS-GRAPH8 k=$k edges=$nE t_linkpred=$tLp%.2f " +
        f"top=$nLp seeds=$nS t_harmonic=$tHc%.2f nodes=$nHc")
    }
    // round-8 stats/eval ops stress at 1×/10×/100×: replicated events
    // with per-copy user/event id shifts (group cardinality scales, the
    // day calendar and value distribution are preserved). Pass criteria:
    // Kruskal-Wallis tracks the corpus linearly (its rank table is
    // bounded by DISTINCT values, not rows), inter-arrival and P@k/MAP
    // are keyed single-window passes, CUPED is two single-row folds over
    // one user-grain aggregation.
    val stats8Ks =
      if (stats8Mode) args.drop(1).headOption
        .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(1, 10, 100))
      else Seq.empty[Int]
    if (stats8Ks.nonEmpty) {
      val ev8 = Tables.events(spark, "/root/testdata/sf0.1")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
      for (k <- stats8Ks) {
        val corpus = (0 until k).map(i =>
          ev8.select((col("event_id") + lit(i * 100000000L)).as("event_id"),
            (col("user_id") + lit(i * 10000000L)).as("user_id"),
            col("ts"), col("event_type"), col("value")))
          .reduce(_ unionByName _).localCheckpoint()
        val n = corpus.count()
        val (tKw, _) = timeMin2 {
          graft.ops.Stats.kruskalWallis(corpus, "event_type", "value",
            Seq("view", "click", "purchase", "signup", "error"))
            .queryExecution.toRdd.count()
        }
        val (tIa, nUsers) = timeMin2 {
          graft.ops.Stats.interArrival(corpus, "user_id", "ts")
            .queryExecution.toRdd.count()
        }
        val (tPr, _) = timeMin2 {
          graft.ops.Eval.precisionRecallAtK(
            corpus.select(col("user_id"), col("event_id"), col("value"),
              col("event_type")),
            "user_id", "event_id", "value",
            col("event_type") === "purchase" && col("value") > 90.0,
            k = 10).queryExecution.toRdd.count()
        }
        val (tCu, _) = timeMin2 {
          graft.ops.Eval.cuped(
            corpus.select(col("user_id"), col("ts"), col("value")),
            "user_id", "ts", "value", "2024-01-16")
            .queryExecution.toRdd.count()
        }
        println(f"STRESS-STATS8 k=$k rows=$n users=$nUsers " +
          f"t_kw=$tKw%.2f t_interarrival=$tIa%.2f t_pr=$tPr%.2f " +
          f"t_cuped=$tCu%.2f")
      }
    }
    // round-9 rank/ECDF stress: the exact rank statistics' ordered
    // window runs at the DISTINCT-VALUE grain — on a continuous axis
    // distinct ≈ rows, so the window is a one-partition sort of the
    // corpus (the round-8 audit's one weak plan family). Each copy here
    // shifts the centi lattice by one unit AND adds a per-row jitter of
    // up to 9.97 value units, so the distinct-value axis grows with k
    // like a real continuous feature's would (plain replication would
    // keep distinct flat and hide the tail). The binned twins bound the
    // same window at 1000 rows; flat-vs-growing is the pass criterion.
    val rank9Ks =
      if (args.headOption.contains("rank9")) args.drop(1).headOption
        .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(1, 10, 100))
      else Seq.empty[Int]
    if (rank9Ks.nonEmpty) {
      val ev9 = Tables.events(spark, "/root/testdata/sf0.1")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      for (k <- rank9Ks) {
        // a bounded range caps the centi lattice at range·100 points no
        // matter how many rows exist — so each copy occupies a DISJOINT
        // 1,180-unit block and every row gets an event-keyed jitter that
        // actually widens the block (0..1000 in 0.01 steps): distinct
        // lattice points then track rows (~90%), the 100 TB shape
        val corpus = (0 until k).map(i =>
          ev9.select(col("event_type"),
            (col("value") + lit(i * 1200.0) +
              (col("event_id") % 100000).cast("double") * 0.01)
              .as("value"),
            (col("value") * 3.0 + lit(i * 3600.0) +
              (col("user_id") % 100000).cast("double") * 0.03)
              .as("value2")))
          .reduce(_ unionByName _) // NOT checkpointed (lineage is cheap;
                                   // the k=100 copy would pin GBs)
        val n = corpus.count()
        val dv = corpus.select(round(col("value") * 100, 0)).distinct()
          .count()
        val (tMwE, _) = timeMin2 {
          graft.ops.Stats.mannWhitney(corpus, "event_type", "value",
            "purchase", "view").queryExecution.toRdd.count()
        }
        val (tMwB, _) = timeMin2 {
          graft.ops.Stats.mannWhitneyBinned(corpus, "event_type", "value",
            "purchase", "view").queryExecution.toRdd.count()
        }
        val (tCvE, _) = timeMin2 {
          graft.ops.Drift.cvmTest(corpus, "value", "event_type",
            "purchase", "view").queryExecution.toRdd.count()
        }
        val (tCvB, _) = timeMin2 {
          graft.ops.Drift.cvmBinned(corpus, "value", "event_type",
            "purchase", "view").queryExecution.toRdd.count()
        }
        val (tSpE, _) = timeMin2 {
          graft.ops.Stats.spearman(corpus, "value", "value2")
            .queryExecution.toRdd.count()
        }
        val (tSpB, _) = timeMin2 {
          graft.ops.Stats.spearmanBinned(corpus, "value", "value2")
            .queryExecution.toRdd.count()
        }
        println(f"STRESS-RANK9 k=$k rows=$n distinct_v=$dv " +
          f"t_mw_exact=$tMwE%.2f t_mw_binned=$tMwB%.2f " +
          f"t_cvm_exact=$tCvE%.2f t_cvm_binned=$tCvB%.2f " +
          f"t_spearman_exact=$tSpE%.2f t_spearman_binned=$tSpB%.2f")
      }
    }

    // round-13 exactQuantiles distinct-grain stress (`quant13 [ks]`):
    // the running sum moved from a globally unpartitioned window to the
    // range-partitioned two-level prefix sum — this leg grows the
    // DISTINCT-value axis with k (disjoint value blocks + per-row
    // jitter, the rank9 recipe) and times the quantile fold. ~Linear
    // growth is the pass criterion; the old one-task window would turn
    // superlinear (single-task sort) exactly here.
    val quant13Ks =
      if (args.headOption.contains("quant13")) args.drop(1).headOption
        .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(1, 10, 100))
      else Seq.empty[Int]
    if (quant13Ks.nonEmpty) {
      val li13 = Tables.lineitem(spark, "/root/testdata/sf0.1")
        .select(col("l_orderkey"), col("l_extendedprice"))
      for (k <- quant13Ks) {
        val corpus = (0 until k).map(i =>
          li13.select((col("l_extendedprice") + lit(i * 120000.0) +
            (col("l_orderkey") % 100000).cast("double") * 0.01)
            .as("v")))
          .reduce(_ unionByName _)
        val n = corpus.count()
        val dv = corpus.select(col("v")).distinct().count()
        val (tQ, _) = timeMin2 {
          graft.ops.Stats.exactQuantiles(corpus, "v",
            Seq(0.5, 0.9, 0.95, 0.99)).queryExecution.toRdd.count()
        }
        println(f"STRESS-QUANT13 k=$k rows=$n distinct_v=$dv " +
          f"t_exact_quantiles=$tQ%.2f")
      }
    }

    if (rank9Ks.nonEmpty) {
      // entity-grain leg: the decision stump's ntile is a one-partition
      // sort of the ENTITY table (customers) — smaller grain than
      // events, so the sort bites later; this pins where. Copies get
      // disjoint acctbal blocks (same range logic as above).
      val cust9 = Tables.customer(spark, "/root/testdata/sf0.1")
        .select(col("c_custkey"), col("c_acctbal"))
      val buyers9 = Tables.orders(spark, "/root/testdata/sf0.1")
        .select(col("o_custkey")).distinct().localCheckpoint(eager = false)
      for (k <- rank9Ks) {
        val ck = (0 until k).map(i =>
          cust9.select((col("c_custkey") + lit(i * 10000000L))
            .as("c_custkey"),
            (col("c_acctbal") + lit(i * 12000.0) +
              (col("c_custkey") % 100000).cast("double") * 0.01)
              .as("c_acctbal")))
          .reduce(_ unionByName _)
          .join(buyers9, col("c_custkey") % 10000000L === col("o_custkey"),
            "left")
        val nC = ck.count()
        val (tStE, _) = timeMin2 {
          graft.ops.Learn.decisionStump(ck, "c_custkey", "c_acctbal",
            col("o_custkey").isNotNull, bins = 10)
            .queryExecution.toRdd.count()
        }
        val (tStB, _) = timeMin2 {
          graft.ops.Learn.decisionStumpBinned(ck, "c_custkey", "c_acctbal",
            col("o_custkey").isNotNull, bins = 256)
            .queryExecution.toRdd.count()
        }
        println(f"STRESS-RANK9-STUMP k=$k entities=$nC " +
          f"t_stump_ntile=$tStE%.2f t_stump_binned=$tStB%.2f")
      }
    }
    // round-9 checkpoint-posture stress (verdict item 4): the iterative
    // family's localCheckpoint pins every truncated frame in EXECUTOR
    // STORAGE memory for the whole run — data-proportional and not
    // fault-tolerant. The reliable checkpoint (Ckpt.cut with a dir)
    // trades one disk write/read per superstep for ~zero pinned block
    // memory. This leg measures both on the same k×-replicated graph:
    // pinned storage bytes is the readout (it is what OOM'd the 100×
    // ext8 sweep at 8g before round 9 removed those checkpoints).
    val ckpt9Ks =
      if (args.headOption.contains("ckpt9")) args.drop(1).headOption
        .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(1, 10, 100))
      else Seq.empty[Int]
    if (ckpt9Ks.nonEmpty) {
      val li9 = Tables.lineitem(spark, "/root/testdata/sf0.1")
        .select(col("l_orderkey"), col("l_suppkey"))
      for (k <- ckpt9Ks) {
        val edgesK = (0 until k).map(i =>
          li9.select((col("l_orderkey") + lit(i * 100000000L)).as("src"),
            (col("l_suppkey") + lit(i * 1000000L)).as("dst")))
          .reduce(_ unionByName _)
        for (mode <- Seq("local", "reliable")) {
          val dir =
            if (mode == "reliable") Some("/tmp/graft-ckpt9") else None
          val (t, nOut) = timeMin2 {
            graft.ops.Graph.pageRank(edgesK, "src", "dst",
              iterations = 5, checkpointDir = dir)
              .queryExecution.toRdd.count()
          }
          val pinned = spark.sparkContext.getRDDStorageInfo
            .map(_.memSize).sum
          println(f"STRESS-CKPT9 k=$k mode=$mode t=$t%.2f nodes=$nOut " +
            f"storage_pinned_mb=${pinned / 1e6}%.1f")
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
        }
      }
    }
    // round-8 text-pipeline stress: span corruption (hash mask + island
    // windows over the masked subset), Naive Bayes train+score (two
    // keyed aggs + a vocab-linear dense table), and the curation-funnel
    // fold — all over the k×-replicated doc corpus (suffix-perturbed
    // copies keep per-copy vocab disjoint, so the NB dense table grows
    // with the corpus like a real multilingual crawl's would)
    val text8Ks =
      if (args.headOption.contains("text8")) args.drop(1).headOption
        .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(1, 10, 100))
      else Seq.empty[Int]
    if (text8Ks.nonEmpty) {
      val docs8 = Tables.documents(spark, "/root/testdata/sf0.1")
        .select(col("doc_id"), col("text"), col("lang"))
      for (k <- text8Ks) {
        val corpus = (0 until k).map { i =>
          val text =
            if (i == 0) col("text")
            else regexp_replace(col("text"), "(\\S+)", "$1_c" + i)
          docs8.select((col("doc_id") + lit(i * 100000L)).as("doc_id"),
            text.as("text"), col("lang"))
        }.reduce(_ unionByName _).localCheckpoint()
        val n = corpus.count()
        val (tSpan, nSpans) = timeMin2 {
          graft.ops.TextAnalysis.spanCorruption(corpus, "doc_id", "text")
            .queryExecution.toRdd.count()
        }
        val (tNb, nPred) = timeMin2 {
          graft.ops.Learn.naiveBayesText(corpus, "doc_id", "text", "lang")
            .queryExecution.toRdd.count()
        }
        val (tFun, _) = timeMin2 {
          graft.ops.TextAnalysis.curationFunnel(corpus, "doc_id", "text")
            .queryExecution.toRdd.count()
        }
        println(f"STRESS-TEXT8 k=$k docs=$n spans=$nSpans preds=$nPred " +
          f"t_span=$tSpan%.2f t_nbayes=$tNb%.2f t_funnel=$tFun%.2f")
      }
    }
    // text11: the round-10 additions at 1×/10×/100× — the word2vec pair
    // generator (windowed-positive equi-join + negK inverse-CDF draws:
    // corpus-grain join fan-out worth pinning) and the chained v3
    // curation pipeline (perplexity filter → winnow span dedup → BPE
    // token costs → packing), suffix-perturbed copies keeping per-copy
    // vocab disjoint like text8
    val text11Ks =
      if (args.headOption.contains("text11")) args.drop(1).headOption
        .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(1, 10, 100))
      else Seq.empty[Int]
    if (text11Ks.nonEmpty) {
      val docs11 = Tables.documents(spark, "/root/testdata/sf0.1")
        .select(col("doc_id"), col("text"), col("lang"))
      val merges11 =
        graft.registry.Shared.bpeMerges(spark, "/root/testdata/sf0.1")
      for (k <- text11Ks) {
        val corpus = (0 until k).map { i =>
          val text =
            if (i == 0) col("text")
            else regexp_replace(col("text"), "(\\S+)", "$1_c" + i)
          docs11.select((col("doc_id") + lit(i * 100000L)).as("doc_id"),
            text.as("text"), col("lang"))
        }.reduce(_ unionByName _).localCheckpoint()
        val n = corpus.count()
        val (tSg, nPairs) = timeMin2 {
          graft.ops.TextAnalysis.skipGramPairs(corpus, "doc_id", "text",
            window = 2, negK = 2).queryExecution.toRdd.count()
        }
        val (tV3, nPacks) = timeMin2 {
          val scored = graft.ops.TextAnalysis.bigramPerplexity(corpus,
            "doc_id", "text", col("lang") === "en", vocabSize = 100)
          val q3 = scored.agg(
            round(expr("percentile(ce_bits, 0.75D)"), 6).as("q3"))
          val kept = scored.crossJoin(broadcast(q3))
            .filter(col("ce_bits") <= col("q3")).select("doc_id")
          val drops = graft.ops.TextAnalysis.sharedSpans(corpus, "doc_id",
              "text", k = 32, w = 16, maxDf = 5)
            .select(col("doc_b").as("doc_id")).distinct()
          val surv = kept.join(drops, Seq("doc_id"), "left_anti")
          val counts = graft.ops.Bpe.tokenStats(corpus, "doc_id", "text",
              merges11)
            .join(surv, Seq("doc_id"), "left_semi")
            .join(corpus.select(col("doc_id"), col("lang")), Seq("doc_id"))
            .select(col("lang"), col("doc_id"), col("n_tokens"))
          graft.ops.Sampling.packSequences(counts, "lang", "doc_id",
              "n_tokens", maxTokens = 4096)
            .groupBy("lang", "pack_id")
            .agg(count(lit(1)).cast("long").as("n_docs"),
              sum("n_tokens").cast("long").as("pack_tokens"))
            .queryExecution.toRdd.count()
        }
        println(f"STRESS-TEXT11 k=$k docs=$n pairs=$nPairs packs=$nPacks " +
          f"t_skipgram=$tSg%.2f t_v3=$tV3%.2f")
      }
    }
    // bucketed-as-of stress at 1×/10×/100×: the same native as-of join
    // planned two ways — over plain frames (EnsureRequirements inserts
    // hash exchanges + per-key sorts on both sides) and over
    // bucketed-sorted tables (scan satisfies distribution AND ordering:
    // zero exchanges, zero sorts). The one-time bucketed WRITE is timed
    // separately — it is the amortized cost a feature store pays once,
    // while every retrieval afterwards rides the exchange-free plan; the
    // pass criterion is the read-path advantage GROWING with scale
    // (exchange cost is data-proportional; the bucketed scan's isn't).
    val asofKs =
      if (asofOnly) args.drop(1).headOption
        .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(1, 10, 100))
      else if (args.isEmpty) Seq(1, 10, 100)
      else Seq.empty[Int]
    for (k <- asofKs) {
      val evFull = Tables.events(spark, "/root/testdata/sf0.1")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), col("value"))
      val evA = (0 until k).map(i =>
        evFull.select((col("event_id") + lit(i * 10000000L)).as("event_id"),
          (col("user_id") + lit(i * 1000000L)).as("user_id"),
          col("event_type"), col("ts"), col("value")))
        .reduce(_ unionByName _).localCheckpoint()
      val probesA = evA.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts")).localCheckpoint()
      val featsA = evA.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("fts"))
        .agg(max(col("value")).as("last_purchase_value")).localCheckpoint()
      val nProbes = probesA.count(); val nFeats = featsA.count()
      val ttl = 7L * 86400L * 1000000L
      val (tPlain, nPlain) = timeMin2 {
        graft.ops.Retrieval.asOfJoinNative(probesA, featsA, "user_id",
          "ts", "fts", ttl).queryExecution.toRdd.count()
      }
      for (t <- Seq("graft_stress_probes_bkt", "graft_stress_feats_bkt")) {
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir") + "/" + t)
        loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(loc, true)
      }
      val tw0 = System.nanoTime()
      probesA.repartition(32, col("user_id"))
        .write.mode("overwrite").bucketBy(32, "user_id")
        .sortBy("user_id", "ts").saveAsTable("graft_stress_probes_bkt")
      featsA.repartition(32, col("user_id"))
        .write.mode("overwrite").bucketBy(32, "user_id")
        .sortBy("user_id", "fts").saveAsTable("graft_stress_feats_bkt")
      val tWrite = (System.nanoTime() - tw0) / 1e9
      val (tBkt, nBkt) = timeMin2 {
        graft.ops.Retrieval.asOfJoinNative(
          spark.table("graft_stress_probes_bkt"),
          spark.table("graft_stress_feats_bkt"), "user_id", "ts", "fts",
          ttl).queryExecution.toRdd.count()
      }
      require(nPlain == nBkt,
        s"STRESS-ASOF row mismatch: plain $nPlain vs bucketed $nBkt")
      println(f"STRESS-ASOF k=$k probes=$nProbes feats=$nFeats " +
        f"t_plain=$tPlain%.2f t_bucketed_read=$tBkt%.2f " +
        f"t_bucketed_write=$tWrite%.2f rows=$nBkt " +
        f"speedup=${tPlain / tBkt}%.2fx")
    }
    // round-8 extension stress: the new heavy families at 1×/10×/100×.
    // grid-density runs BOTH replication shapes: "dense" (identical
    // copies — cells constant, only counts grow, so runtime should stay
    // near-FLAT: the cell grain is the whole point) and "spread"
    // (copies shifted a full coordinate unit apart — cells grow ∝ k,
    // runtime may grow with cells but never with points²).
    // Bradley–Terry replicates lineitem with per-copy ORDER shifts
    // (players fixed, matchups ×k — superstep count constant). Energy/
    // CvM replicate events with a per-copy +i-cent value shift so the
    // distinct-value grain genuinely grows ×k.
    val ext8Ks =
      if (args.headOption.contains("ext8")) args.drop(1).headOption
        .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(1, 10, 100))
      else Seq.empty[Int]
    if (ext8Ks.nonEmpty) {
      val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
        .select(col("vec_id"), col("embedding"))
      val li = Tables.lineitem(spark, "/root/testdata/sf0.1")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
      val ev = Tables.events(spark, "/root/testdata/sf0.1")
        .select(col("event_type"), col("value"))
      for (k <- ext8Ks) {
        val dense = (0 until k).map(i =>
          emb.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
            col("embedding")))
          .reduce(_ unionByName _) // NOT checkpointed: at k=100 the
                                   // replicated vectors pin multi-GB block
                                   // memory (the lineitem posture below);
                                   // union-of-parquet lineage is cheap
        val nP = dense.count()
        val (tDense, cDense) = timeMin2 {
          graft.ops.Clustering.gridDensityClusters(dense, "embedding",
            eps = 0.02, minPts = 3).queryExecution.toRdd.count()
        }
        val spread = (0 until k).map { i =>
          val shifted = expr(
            s"transform(embedding, (x, j) -> CASE WHEN j = 0 " +
              s"THEN x + CAST($i AS FLOAT) ELSE x END)")
          emb.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
            shifted.as("embedding"))
        }.reduce(_ unionByName _) // NOT checkpointed (same posture)
        val (tSpread, cSpread) = timeMin2 {
          graft.ops.Clustering.gridDensityClusters(spread, "embedding",
            eps = 0.02, minPts = 3).queryExecution.toRdd.count()
        }
        val liK = (0 until k).map(i =>
          li.select((col("l_orderkey") + lit(i * 100000000L))
            .as("l_orderkey"), col("l_suppkey"), col("l_extendedprice"),
            col("l_discount")))
          .reduce(_ unionByName _) // NOT checkpointed: 60M rows at k=100
                                   // would pin GBs of block memory
        val nL = liK.count()
        val (tBt, nPlayers) = timeMin2 {
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
          graft.ops.Learn.bradleyTerry(comps, "winner", "loser",
            iterations = 4).queryExecution.toRdd.count()
        }
        val evK = (0 until k).map(i =>
          ev.select(col("event_type"),
            (col("value") + lit(i * 0.01)).as("value")))
          .reduce(_ unionByName _)
        val nE = evK.count()
        val (tEnergy, _) = timeMin2 {
          graft.ops.Drift.energyDistance(evK, "value", "event_type",
            "purchase", "view").queryExecution.toRdd.count()
        }
        val (tCvm, _) = timeMin2 {
          graft.ops.Drift.cvmTest(evK, "value", "event_type",
            "purchase", "view").queryExecution.toRdd.count()
        }
        println(f"STRESS-EXT8 k=$k points=$nP t_grid_dense=$tDense%.2f " +
          f"clusters_dense=$cDense t_grid_spread=$tSpread%.2f " +
          f"clusters_spread=$cSpread lineitems=$nL t_bt=$tBt%.2f " +
          f"players=$nPlayers events=$nE t_energy=$tEnergy%.2f " +
          f"t_cvm=$tCvm%.2f")
      }
    }
    // round-10 rank-score stress: van der Waerden / Fligner-Killeen
    // exact vs binned at 1x/10x/100x. Events replicate with a per-copy
    // +i-cent value shift (the ext8 energy/CvM device) so the DISTINCT-
    // VALUE grain genuinely grows xk — the exact forms' single-partition
    // ordered window should show the data-sized tail, the binned twins
    // stay flat (<=1000 window rows regardless of k).
    val rank10Ks =
      if (args.headOption.contains("rank10")) args.drop(1).headOption
        .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(1, 10, 100))
      else Seq.empty[Int]
    if (rank10Ks.nonEmpty) {
      val ev10 = Tables.events(spark, "/root/testdata/sf0.1")
        .select(col("event_type"), col("value"))
      val groups = Seq("view", "click", "purchase", "signup", "error")
      for (k <- rank10Ks) {
        val evK = (0 until k).map(i =>
          ev10.select(col("event_type"),
            (col("value") + lit(i * 0.01)).as("value")))
          .reduce(_ unionByName _)
        val nE = evK.count()
        val (tVdw, _) = timeMin2 {
          graft.ops.Stats.vanDerWaerden(evK, "event_type", "value",
            groups).queryExecution.toRdd.count()
        }
        val (tVdwB, _) = timeMin2 {
          graft.ops.Stats.vanDerWaerdenBinned(evK, "event_type", "value",
            groups).queryExecution.toRdd.count()
        }
        val (tFk, _) = timeMin2 {
          graft.ops.Stats.flignerKilleen(evK, "event_type", "value",
            groups).queryExecution.toRdd.count()
        }
        val (tFkB, _) = timeMin2 {
          graft.ops.Stats.flignerKilleenBinned(evK, "event_type", "value",
            groups).queryExecution.toRdd.count()
        }
        println(f"STRESS-RANK10 k=$k events=$nE t_vdw_exact=$tVdw%.2f " +
          f"t_vdw_binned=$tVdwB%.2f t_fk_exact=$tFk%.2f " +
          f"t_fk_binned=$tFkB%.2f")
      }
    }
    // round-10 item-CF stress: replicate CUSTOMERS (custkey and partkey
    // both shifted per copy, so baskets keep their size and per-copy
    // item universes are disjoint) — pair count grows xk exactly; the
    // maxBasket cap guarantees no quadratic arm regardless of k.
    val itemcf10Ks =
      if (args.headOption.contains("itemcf10")) args.drop(1).headOption
        .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(1, 10, 100))
      else Seq.empty[Int]
    if (itemcf10Ks.nonEmpty) {
      val li10 = Tables.lineitem(spark, "/root/testdata/sf0.1")
        .select(col("l_orderkey"), col("l_partkey"))
      val o10 = Tables.orders(spark, "/root/testdata/sf0.1")
        .select(col("o_orderkey"), col("o_custkey"))
      val ui10 = li10.join(o10, li10("l_orderkey") === o10("o_orderkey"))
        .select(col("o_custkey"), col("l_partkey"))
      for (k <- itemcf10Ks) {
        val uiK = (0 until k).map(i =>
          ui10.select((col("o_custkey") + lit(i * 10000000L))
            .as("o_custkey"),
            (col("l_partkey") + lit(i * 10000000L)).as("l_partkey")))
          .reduce(_ unionByName _)
        val nI = uiK.count()
        // "lshonly" third arg skips the exact leg entirely; otherwise the
        // exact build runs under its default pairBudget (2e8), which at
        // 100x FAILS LOUD in seconds (Σ basket² = 1.27 B pairs) instead
        // of exhausting shuffle-spill disk — the round-10 ENOSPC
        // measurement is preserved in BENCH.md; the guard trip is now
        // the documented behavior at that scale
        val lshOnly = args.drop(2).headOption.contains("lshonly")
        val (tCf, nOut) =
          if (lshOnly) (Double.NaN, -1L)
          else try timeMin2 {
            graft.ops.Similarity.itemItemCF(uiK, "o_custkey", "l_partkey",
              minDf = 2, maxDf = 1000, maxBasket = 256, k = 10)
              .queryExecution.toRdd.count()
          } catch {
            case e: IllegalArgumentException =>
              println(s"STRESS-ITEMCF10 k=$k exact-guard-tripped: " +
                e.getMessage.linesIterator.next())
              (Double.NaN, -2L)
          }
        // the bucketed escape beside it: propose via banded user-set
        // signatures, verify candidates exactly — the crossover readout
        // is t_cf (pair grain Σ basket², xk) vs t_lsh (signature
        // aggregation + bucket collisions)
        val (tLsh, nLsh) = timeMin2 {
          graft.ops.Similarity.itemItemCFLsh(uiK, "o_custkey",
            "l_partkey", minDf = 2, maxDf = 1000, maxBasket = 256,
            k = 10, minCosine = 0.1, numHashes = 32, bands = 16)
            .queryExecution.toRdd.count()
        }
        println(f"STRESS-ITEMCF10 k=$k interactions=$nI t_cf=$tCf%.2f " +
          f"rows_out=$nOut t_lsh=$tLsh%.2f rows_lsh=$nLsh")
      }
    }

    // geo9: the spatial grid join at 1x/10x/100x — each replica gets
    // its own DISJOINT map tile (x offset 2e7 per copy, gap > radius),
    // so site DENSITY per cell is preserved and candidate volume grows
    // linearly in k: ~linear runtime is the pass criterion; anything
    // superlinear means the cell bucketing is not bounding the fan-out.
    // (Naive replication onto ONE map would multiply per-cell density
    // by k and measure a k-squared candidate problem instead.)
    val geo9Ks =
      if (args.headOption.contains("geo9")) args.drop(1).headOption
        .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(1, 10, 100))
      else Seq.empty[Int]
    if (geo9Ks.nonEmpty) {
      val cust9 = Tables.customer(spark, "/root/testdata/sf0.1")
        .select(col("c_custkey"))
      val supp9 = Tables.supplier(spark, "/root/testdata/sf0.1")
        .select(col("s_suppkey"))
      def tiled(df: org.apache.spark.sql.DataFrame, key: String,
                chX: Long, chY: Long, k: Int) =
        (0 until k).map { i =>
          graft.ops.Geo.hashPoints(
            df.select((col(key) + lit(i * 10000000L)).as(key)),
            key, chX, chY)
            .withColumn("x", col("x") + lit(i * 20000000L))
        }.reduce(_ unionByName _).localCheckpoint()
      for (k <- geo9Ks) {
        val pk = tiled(cust9, "c_custkey", 171L, 172L, k)
        val sk = tiled(supp9, "s_suppkey", 173L, 174L, k)
        val nP = pk.count(); val nS = sk.count()
        val (tGeo, nOut) = timeMin2 {
          graft.ops.Geo.gridNearest(pk, "c_custkey", sk, "s_suppkey",
            radiusMicro = 800000L)
            .queryExecution.toRdd.count()
        }
        println(f"STRESS-GEO9 k=$k probes=$nP sites=$nS t_nearest=" +
          f"$tGeo%.2f rows_out=$nOut")
        // catchment shares the 9-cell bounded fan-out; same linearity
        // criterion (per-site aggregation instead of per-probe pick)
        val (tCatch, nCatch) = timeMin2 {
          graft.ops.Geo.gridCatchment(pk, "c_custkey", sk, "s_suppkey",
            radiusMicro = 800000L)
            .queryExecution.toRdd.count()
        }
        println(f"STRESS-GEO10 k=$k probes=$nP sites=$nS t_catchment=" +
          f"$tCatch%.2f rows_out=$nCatch")
      }
    }

    // causal10: the round-9 causal/time-series additions at 1x/10x/100x.
    // Orders replicate with DISJOINT unit names per copy (nation name
    // suffixed), so the corpus-grain monthly aggregation grows xk while
    // the per-unit series length stays fixed: the bounded-frame claim
    // (synthetic-control grid = units x months, DTW grid = months^2)
    // predicts ~linear runtime dominated by the one corpus aggregation.
    val causal10Ks =
      if (args.headOption.contains("causal10")) args.drop(1).headOption
        .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(1, 10, 100))
      else Seq.empty[Int]
    if (causal10Ks.nonEmpty) {
      val c10 = Tables.customer(spark, "/root/testdata/sf0.1")
        .select(col("c_custkey"), col("c_nationkey"))
      val n10 = Tables.nation(spark, "/root/testdata/sf0.1")
        .select(col("n_nationkey"), col("n_name"))
      val joined0 = Tables.orders(spark, "/root/testdata/sf0.1")
        .join(c10, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n10), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("o_orderdate"), col("o_totalprice"))
        .localCheckpoint()
      for (k <- causal10Ks) {
        val jk = (0 until k).map(i =>
            joined0.select(concat(col("n_name"), lit(s"_C$i"))
              .as("n_name"), col("o_orderdate"), col("o_totalprice")))
          .reduce(_ unionByName _)
        val nRows = jk.count()
        val (tSc, _) = timeMin2 {
          graft.ops.Eval.syntheticControl(jk, "n_name",
            to_date(col("o_orderdate")), "o_totalprice",
            treatedUnit = "NATION_0_C0", intervention = "1999-01-01")
            .queryExecution.toRdd.count()
        }
        val (tDtw, _) = timeMin2 {
          graft.ops.Eval.dtwDistance(jk, "n_name",
            to_date(col("o_orderdate")), "o_totalprice",
            unitA = "NATION_1_C0", unitB = "NATION_2_C0")
            .queryExecution.toRdd.count()
        }
        println(f"STRESS-CAUSAL10 k=$k rows=$nRows t_synth=$tSc%.2f " +
          f"t_dtw=$tDtw%.2f")
      }
    }

    // round-12 CC fast-path stress (`cc12`): (a) grid-density end-to-end
    // with replicated, cell-shifted embeddings — occupied cells (and the
    // dense-cell graph) scale ~linearly with k while the fast path keeps
    // cluster resolution one collect; (b) union-find vs forced-distributed
    // on star-blob graphs of the shape LSH/dedup pipelines emit; (c) an
    // over-budget graph (2.8 M edges > 2 M default) proving the cutover
    // to the distributed loop engages and completes. Pass criteria:
    // grid ~linear in k; union-find linear and far under the distributed
    // floor; the big graph resolves through the superstep path.
    if (cc12Mode) {
      val emb12 = Tables.embeddings(spark, "/root/testdata/sf0.1")
      for (k <- Seq(1, 10, 100)) {
        val embK = (0 until k).map { i =>
          val shifted = transform(col("embedding"),
            (x, j) => when(j < lit(2),
              x + lit(i.toDouble * 0.7)).otherwise(x))
          emb12.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
            shifted.as("embedding"))
        }.reduce(_ unionByName _).localCheckpoint()
        val nV = embK.count()
        val (tGrid, nRows) = timeMin2 {
          graft.ops.Clustering.gridDensityClusters(embK, "embedding",
            eps = 0.02, minPts = 3).queryExecution.toRdd.count()
        }
        println(f"STRESS-CC12-GRID k=$k vecs=$nV t_grid=$tGrid%.2f " +
          f"rows=$nRows")
      }
      // chain components (diameter 15 — the elongated-blob shape grid
      // graphs produce, where the distributed loop needs diameter
      // supersteps; stars/cliques converge in 1-2 and under-stress it)
      for (nComp <- Seq(250, 2500, 25000)) {
        val edges = spark.range(nComp.toLong).select(col("id").as("c"))
          .crossJoin(spark.range(15).select(col("id").as("j")))
          .select((col("c") * 16 + col("j")).as("src"),
            (col("c") * 16 + col("j") + 1).as("dst"))
          .localCheckpoint()
        val nE = edges.count()
        val (tFast, nF) = timeMin2 {
          graft.ops.Dedup.connectedComponents(edges, "src", "dst").count()
        }
        val (tDist, _) = timeMin2 {
          graft.ops.Dedup.connectedComponents(edges, "src", "dst",
            driverEdgeBudget = 0L).count()
        }
        println(f"STRESS-CC12-UF comps=$nComp edges=$nE " +
          f"t_unionfind=$tFast%.2f t_distributed=$tDist%.2f nodes=$nF")
      }
      val big = spark.range(350000L).select(col("id").as("c"))
        .crossJoin(spark.range(8).select(col("id").as("j")))
        .select((col("c") * 9).as("src"),
          (col("c") * 9 + col("j") + 1).as("dst"))
        .localCheckpoint()
      val nBig = big.count()
      val tB0 = System.nanoTime()
      val nBigNodes =
        graft.ops.Dedup.connectedComponents(big, "src", "dst").count()
      println(f"STRESS-CC12-BIG edges=$nBig " +
        f"t=${(System.nanoTime() - tB0) / 1e9}%.2f nodes=$nBigNodes " +
        "(over budget: distributed loop)")
    }
    spark.stop()
  }
}
