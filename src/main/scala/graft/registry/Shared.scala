package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array_join, col, count, lit, trim}
import graft.ops._

/** Helpers shared across the registry slices (and by
  * [[graft.SparkEntry.entry]]): the parsed-events frame, the reused A12
  * snapshot, the CF interaction table, and every shared ARTIFACT — a
  * derived table or trained model declared once, built once per corpus
  * and read by many queries, the way a feature store treats a feature
  * view.
  */
private[graft] object Shared {

  /** One shared artifact, declared once: its name, its build, and a
    * cache keyed by corpus dir and validated against the owning session.
    * A localCheckpoint'd frame's blocks die with the owning
    * SparkSession, so a dir-only key would hand a frame referencing dead
    * blocks to a NEW session started in the same JVM — check the owner
    * (identity + not stopped) and rebuild on mismatch. `force` is the
    * action [[artifactBuilders]] runs on the built value (a count for a
    * frame; nothing for a driver-side table, which its build computes).
    */
  private[graft] final class Artifact[A] private[Shared] (
      val name: String, build: (SparkSession, String) => A,
      force: A => Unit) {
    private val cache = new java.util.concurrent.ConcurrentHashMap[
      String, (SparkSession, A)]()
    def apply(s: SparkSession, dir: String): A =
      cache.compute(dir, (_, cur) =>
        if (cur != null && (cur._1 eq s) && !s.sparkContext.isStopped) cur
        else (s, build(s, dir)))._2
    def materialize(s: SparkSession, dir: String): Unit = force(apply(s, dir))
  }

  // every artifact in declaration order — dependencies first, so each
  // build timed by the bench is that artifact's OWN cost
  private val declared =
    scala.collection.mutable.ArrayBuffer.empty[Artifact[_]]
  private def declare[A](name: String, force: A => Unit)(
      build: (SparkSession, String) => A): Artifact[A] = {
    val a = new Artifact(name, build, force)
    declared += a
    a
  }
  /** A pinned frame; building it runs its Spark jobs. */
  private def frame(name: String)(
      build: (SparkSession, String) => DataFrame): Artifact[DataFrame] =
    declare[DataFrame](name, _.count())(build)
  /** A driver-side table (trained tokenizer vocabulary). */
  private def table[A](name: String)(
      build: (SparkSession, String) => A): Artifact[A] =
    declare[A](name, _ => ())(build)

  private[graft] def ev(s: SparkSession, dir: String): DataFrame =
    Parse.parseEvents(Tables.events(s, dir))

  /** A12 snapshot reused by several queries. */
  private[graft] def snapshot(s: SparkSession, dir: String): DataFrame =
    Materialize.latestPerKey(Tables.orders(s, dir), "o_custkey",
      "o_orderdate", "o_orderkey")

  /** The customer-basket interaction table behind the CF family
    * (x_item_cf / x_rec_topk / x_rec_metrics). */
  private[graft] def cfInteractions(s: SparkSession,
                                    dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(col("o_custkey"), col("l_partkey"))
  }

  /** The WEIGHTED undirected supplier co-order pair table (src < dst,
    * w = #shared orders) — the one self-join every co-order graph query
    * starts from. A production graph is a DERIVED TABLE (rebuilt on a
    * schedule, read by every graph query), not something each query
    * re-mines from lineitem. q_supplier_kcore (w ≥ 5) and q_triangles
    * (w ≥ 10) filter it directly; [[coOrderEdges]] derives the directed
    * distinct edge list from it, so the corpus pays the lineitem
    * self-join ONCE for all nine graph queries.
    */
  private[graft] val coOrderPairWeights = frame("co_order_pair_weights") {
    (s, dir) =>
      val base = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("bk"), col("l_suppkey").as("sk"))
        .distinct()
      base.as("a").join(base.as("b"),
          col("a.bk") === col("b.bk") && col("a.sk") < col("b.sk"))
        .groupBy(col("a.sk").as("src"), col("b.sk").as("dst"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint()
  }

  /** The supplier co-order graph: both orientations of the distinct
    * pairs of [[coOrderPairWeights]] (identical to a direct distinct
    * build, since co-ordering is symmetric). Six registry queries
    * (pagerank, BFS, HITS, label propagation, assortativity, modularity)
    * read it; the DISTINCT is applied here so consumers that need it
    * (pageRank) don't re-shuffle for it. The pin holds only the slim
    * directed edge list (~2.4 M rows at sf0.1).
    */
  private[graft] val coOrderEdges = frame("co_order_edges") { (s, dir) =>
    val pairs = coOrderPairWeights(s, dir).select("src", "dst")
    pairs.unionByName(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
  }

  /** The capped-basket (item, user, df) frame at the CF family's
    * standard cuts (minDf 2, maxDf 1000, maxBasket 256) — the derived
    * table BOTH CF trainers start from, handed to each build via
    * `keptPinned` (the twins anchor keeps its own build: its doubled
    * input and 512 cap share nothing).
    */
  private[graft] val cfKept = frame("cf_kept") { (s, dir) =>
    Similarity.cfKeptPinned(cfInteractions(s, dir), "o_custkey",
      "l_partkey", minDf = 2, maxDf = 1000, maxBasket = 256)
  }

  /** The MinHash signature store over [[cfKept]] at the family's
    * standard width (32 hashes) — the [[minhashSigs64]] posture for the
    * basket table: an LSH signature table is a persisted artifact
    * (rebuilt with the basket table, read by every candidate-generation
    * job). x_item_cf_lsh reads it directly; the twins anchor derives the
    * doubled corpus' signatures from it (a twin has its base item's
    * user set, so its per-component mins are IDENTICAL — only the id
    * shifts). The pin holds the items × 32-longs grain.
    */
  private[graft] val cfSigs = frame("cf_sigs") { (s, dir) =>
    Similarity.cfSignatures(cfKept(s, dir), numHashes = 32)
      .localCheckpoint()
  }

  /** The trained item-CF neighbor table: in production a MATERIALIZED
    * artifact (rebuilt on a schedule, read by every serving query), so
    * the three CF registry entries share one build instead of
    * re-deriving the Σ basket² pair table each. The pin holds only the
    * neighbor grain (items × k rows).
    */
  private[graft] val cfNeighbors = frame("cf_neighbors") { (s, dir) =>
    Similarity.itemItemCF(cfInteractions(s, dir), "o_custkey",
      "l_partkey", minDf = 2, maxDf = 1000, maxBasket = 256, k = 10,
      keptPinned = Some(cfKept(s, dir)))
      .localCheckpoint()
  }

  /** The served top-5 rec list — the [[cfNeighbors]] posture one level
    * up: the batch scoring job's output IS a materialized table (read by
    * the serving path and the quality scorecard alike), so the two rec
    * registry entries share one build instead of each re-running the
    * basket × neighbor scoring chain. The pin holds only the
    * (user × ≤5) rec grain.
    */
  private[graft] val recTopK = frame("rec_topk") { (s, dir) =>
    Similarity.recommendTopK(cfInteractions(s, dir), "o_custkey",
        "l_partkey", cfNeighbors(s, dir), k = 5)
      .localCheckpoint()
  }

  /** The fitted quality-filter weights (1 row, 65 doubles) — the
    * trained-model artifact of the x_lr_* family at its standard config
    * (label ≥ 5, η = 0.5, 3 supersteps). The five consumers (scores,
    * noise screen, calibration, metrics, importance) read it via
    * `wPinned` instead of refitting the identical supersteps five times.
    */
  private[graft] val lrWeights = frame("lr_weights") { (s, dir) =>
    Learn.fitWeights(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("label") >= 5, eta = 0.5, iterations = 3)
      .localCheckpoint()
  }

  /** The scored corpus of the pinned [[lrWeights]] model — the batch
    * scoring job's output table (id, y, margin, prob, pred), read
    * directly by four of the five x_lr_* entries. The pin holds the
    * |embeddings|-row grain.
    */
  private[graft] val lrScored = frame("lr_scored") { (s, dir) =>
    Learn.logisticGD(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("label") >= 5, eta = 0.5, iterations = 3,
        wPinned = Some(lrWeights(s, dir)))
      .localCheckpoint()
  }

  /** The bigram-LM perplexity scores — the CCNet-style quality score
    * table at the family's standard config (English reference slice,
    * vocab 100, λ = 0.5). x_lm_perplexity exports it, x_curriculum cuts
    * quartile stages over it, and x_llm_pipeline_v3's filter stage
    * thresholds it. The pin holds the per-doc grain (5 doubles/doc).
    */
  private[graft] val lmScored = frame("lm_scored") { (s, dir) =>
    TextAnalysis.bigramPerplexity(Tables.documents(s, dir), "doc_id",
        "text", col("lang") === "en", vocabSize = 100)
      .localCheckpoint()
  }

  /** The winnow shared-span pair table (k = 32, w = 16, maxDf = 5 — the
    * family's standard MOSS config). x_shared_spans exports it,
    * x_contamination_spans slices the train×benchmark pairs out of it,
    * and x_llm_pipeline_v3's dedup stage drops the later doc of each
    * pair — one fingerprint pass for all three.
    */
  private[graft] val winnowSpans = frame("winnow_spans") { (s, dir) =>
    TextAnalysis.sharedSpans(Tables.documents(s, dir), "doc_id", "text",
        k = 32, w = 16, maxDf = 5)
      .localCheckpoint()
  }

  /** The persisted MinHash signature store — 64 md5-fold Carter–Wegman
    * components over 3-gram shingles, the accumulated artifact an
    * incremental near-dup ingest maintains (appended per batch, never
    * re-derived from text). The per-permutation family depends only on
    * the permutation index, so every narrower config is a column
    * prefix: x_neardups_verified reads all 64, x_minhash_neardups /
    * x_dedup_incremental_lsh read mh_0..15, and the incremental entries'
    * seen-side slices are id filters.
    */
  private[graft] val minhashSigs64 = frame("minhash_sigs64") { (s, dir) =>
    Dedup.minHashSignatures(Tables.documents(s, dir), "doc_id", "text",
        n = 3, numHashes = 64)
      .localCheckpoint()
  }

  /** The persisted shingle store (distinct 3-gram arrays per doc) — the
    * second accumulated near-dup artifact, read by every exact-Jaccard
    * verify stage.
    */
  private[graft] val shingles3 = frame("shingles3") { (s, dir) =>
    Dedup.shingleRelation(Tables.documents(s, dir), "doc_id", "text",
        n = 3)
      .localCheckpoint()
  }

  /** The ExactSubstr duplicated-span table (k = 20) — the span cut-list
    * the substring-dedup job writes; x_dup_substrings exports it and
    * x_dup_substring_stats rolls it up per doc.
    */
  private[graft] val dupSpans = frame("dup_spans") { (s, dir) =>
    Dedup.duplicatedSpans(Tables.documents(s, dir), "doc_id", "text",
        k = 20)
      .localCheckpoint()
  }

  /** The cross-document line-dedup relation over the 8-word re-chunked
    * corpus — the cleaned-corpus artifact the line-dedup job writes;
    * x_dedup_lines exports it (plus the id sort) and x_llm_pipeline_v2's
    * clean stage chains from it.
    */
  private[graft] val dedupedLines = frame("deduped_lines") { (s, dir) =>
    val lined = Tables.documents(s, dir)
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"),
        array_join(TextAnalysis.chunkTexts(col("text"), 8, 8), "\n")
          .as("text"))
    TextAnalysis.dedupLinesRelation(lined, "doc_id", "text")
      .localCheckpoint()
  }

  /** Trained BPE merges — a deterministic artifact (the trainer is
    * superstep-exact), so the three BPE registry entries train once per
    * corpus instead of once per query; production would persist the
    * merge table next to the corpus like any fitted vocabulary.
    */
  private[graft] val bpeMerges = table[Seq[(String, String)]](
      "bpe_merges") { (s, dir) =>
    Bpe.trainMergesDistributed(Tables.documents(s, dir), "text",
      Bpe.OracleK)
  }

  /** Trained unigram piece table — the [[bpeMerges]] pattern for the
    * second tokenizer family.
    */
  private[graft] val unigramTable = table[Seq[(String, Long)]](
      "unigram_table") { (s, dir) =>
    Unigram.trainDistributed(Tables.documents(s, dir), "text",
      vocabSize = 200, rounds = 2, maxPieceLen = 4)
  }

  /** Trained WordPiece vocabulary — the [[bpeMerges]] pattern for the
    * third tokenizer family.
    */
  private[graft] val wordPieceTables = table[(Seq[String], Seq[String])](
      "wordpiece_tables") { (s, dir) =>
    Bpe.wordPieceVocab(Tables.documents(s, dir), "text",
      maxPieceLen = 6, topK = 64)
  }

  /** Every shared artifact's BUILD, in declaration order, for the
    * bench's pin-cold instrumentation pass (round 13): the sweep's
    * per-query min is pin-warm (all pins survive between the two
    * passes), so one-time builds are charged to no query — this list
    * lets `graft.Bench` time each build in a fresh session (the caches
    * rebuild there) and report it separately.
    */
  private[graft] val artifactBuilders:
      Seq[(String, (SparkSession, String) => Unit)] =
    declared.toSeq.map(a => a.name -> (a.materialize _))
}
