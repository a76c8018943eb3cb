package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY.md §7.4):
  * exact hash dedup, word-shingle Jaccard near-dup, MinHash+LSH banding,
  * and SimHash — all shuffle-keyed, no pairwise cartesian over the corpus.
  *
  * Scale posture:
  * - exact dedup: one shuffle on the content hash (not the content);
  * - Jaccard: explode shingles → self-join ON shingle → pair counts. Join
  *   fan-out is bounded by shingle-bucket sizes, not corpus²; the `maxDf`
  *   stop-shingle cap drops shingles shared by more than maxDf docs so hot
  *   buckets stay bounded at scale;
  * - MinHash/LSH: signatures are fixed-width per doc (one narrow pass);
  *   banding buckets candidates so verification touches only same-bucket
  *   pairs — the standard sub-quadratic near-dup pipeline;
  * - SimHash: one 64-bit fingerprint per doc; near-dups collide on rotated
  *   prefix buckets.
  */
object Dedup {

  /** Normalized content fingerprint: lowercase, collapse whitespace, md5. */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Exact dedup: keep the lowest doc_id per distinct (normalized) text.
    * One hash shuffle on the fingerprint; content never shuffles.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("copies"))
      .select(col(idCol), col("fp"), col("copies"))
      .orderBy(col(idCol))

  /** Incremental exact dedup — the production ingest shape: dedup a NEW
    * batch against the already-ingested corpus without ever re-reading the
    * corpus text. Returns the batch's surviving rows (lowest id per
    * batch-internal fingerprint, rows whose fingerprint already exists in
    * `seen` dropped) with their intra-batch copy count. Cost: one
    * fingerprint scan of each side and an ANTI join that shuffles ONLY
    * 16-byte fingerprints — at 100 TB the seen side is the accumulated
    * fingerprint table (or a bloom-filter pre-filter in front of it),
    * never the corpus.
    */
  def exactIncremental(seen: DataFrame, batch: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val seenFp = seen.select(fingerprint(col(textCol)).as("fp")).distinct()
    batch.select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .join(seenFp, Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("batch_copies"))
      .select(col(idCol), col("fp"), col("batch_copies"))
      .orderBy(col(idCol))
  }

  /** Corpus-level dedup stats: total / distinct / duplicate rows. */
  def stats(docs: DataFrame, textCol: String): DataFrame =
    docs.agg(
      count(lit(1)).as("total_docs"),
      countDistinct(fingerprint(col(textCol))).as("distinct_docs"))
      .withColumn("duplicate_docs", col("total_docs") - col("distinct_docs"))

  /** Word n-gram shingles of a document, distinct, first-occurrence order.
    * Native expression (`graft.functions.Native.WordShingles`) — the HOF
    * formulation (kept below for the DedupSpec equivalence test) pays an
    * interpreted closure + array re-slice per shingle.
    */
  def shingles(textCol: Column, n: Int): Column =
    graft.functions.Native.word_shingles(textCol, n)

  /** The built-in-HOF formulation of [[shingles]]; DedupSpec asserts it is
    * row-identical to the native expression.
    */
  def shinglesHof(textCol: Column, n: Int): Column = {
    val words = split(trim(textCol), "\\s+")
    array_distinct(
      when(size(words) >= n,
        transform(sequence(lit(0), size(words) - n),
          i => concat_ws(" ", slice(words, i + 1, lit(n)))))
        .otherwise(array()))
  }

  /** N-gram Jaccard near-dup: all pairs (a < b) with
    * |shingles(a) ∩ shingles(b)| / |union| >= threshold.
    * Implemented as explode → equi-join on shingle → group by pair — a
    * pure shuffle plan whose cost is Σ bucket², not corpus².
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double,
                   maxDf: Int = Int.MaxValue,
                   shinglesPinned: Option[DataFrame] = None): DataFrame = {
    // shinglesPinned: a materialized [[shingleRelation]] (id, sh) for the
    // SAME docs/n — the persisted shingle-store artifact. The exploded
    // relation below is consumed by three aggregations plus both join
    // sides, so without the pin the text re-shingles once per consumer
    // (round 13: the full-corpus cluster query spent most of its time
    // re-deriving shingles the session already held pinned).
    val sh = shinglesPinned
      .map(p => p.select(col("id"), explode(col("sh")).as("s")))
      .getOrElse(docs.select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("s")))
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    // stop-shingle cap: a shingle in more than maxDf docs (boilerplate, a
    // common phrase) would contribute df² join rows; dropping it bounds the
    // self-join at Σ min(df, maxDf)². Doc sizes are computed BEFORE the cap
    // so Jaccard denominators stay exact for surviving pairs.
    val kept =
      if (maxDf == Int.MaxValue) sh
      else sh.join(
        sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf).select("s"),
        Seq("s"), "left_semi")
    val inter = kept.as("l").join(kept.as("r"), col("l.s") === col("r.s"))
      .filter(col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"),
        col("sz_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Containment near-dup: all pairs (a < b) with
    * |∩| / min(|A|, |B|) >= threshold — the ASYMMETRIC twin of
    * [[jaccardPairs]]. Jaccard misses subset duplication (a short doc
    * quoted wholesale inside a long one scores |A|/|B| ≈ 0 on Jaccard but
    * 1.0 on containment); this is the quoted-inclusion / excerpt detector
    * a curation pipeline runs next to symmetric near-dup, and the document
    * analogue of the span-level winnow overlap. Same bounded plan as
    * [[jaccardPairs]]: explode → df-capped shingle equi-join → per-pair
    * count, cost Σ min(df, maxDf)², never corpus².
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double,
                       maxDf: Int = Int.MaxValue): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("s"))
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val kept =
      if (maxDf == Int.MaxValue) sh
      else sh.join(
        sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf).select("s"),
        Seq("s"), "left_semi")
    val inter = kept.as("l").join(kept.as("r"), col("l.s") === col("r.s"))
      .filter(col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("containment",
        round(col("inter").cast("double") /
          least(col("sz_a"), col("sz_b")), 6))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"),
        col("sz_b"), col("containment"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** MinHash signatures: for each of `numHashes` permutations
    * h_i(x) = (a_i·x + b_i) mod p, keep the min over the doc's distinct
    * shingles. One narrow pass, ZERO shuffle: the whole signature is the
    * native `graft.functions.Native.MinHashSignature` expression (tight
    * JVM loop per row; the HOF formulation paid an interpreted closure per
    * shingle × permutation and the explode+groupBy one a corpus×shingles
    * shuffle on top). Scales linearly with corpus bytes.
    */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, numHashes: Int): DataFrame = {
    val sig = graft.functions.Native
      .minhash_signature(col(textCol), n, numHashes)
    val withSig = docs.select(col(idCol).as("id"), sig.as("mhs"))
    val minCols = (0 until numHashes).map(i => col("mhs")(i).as(s"mh_$i"))
    withSig.select(col("id") +: minCols: _*)
  }

  /** Estimated Jaccard of two signature rows aliased `a`/`b`: the
    * fraction of equal MinHash components — shared by every propose /
    * verify stage so the estimator cannot silently diverge between them.
    */
  private def sigAgreement(numHashes: Int): Column =
    (0 until numHashes).map(i =>
        when(col(s"a.mh_$i") === col(s"b.mh_$i"), 1.0).otherwise(0.0))
      .reduce(_ + _) / numHashes.toDouble

  /** Slim LSH band-bucket relation of a signature table: (id, band,
    * bucket) — one row per (doc, band), the minimal shape for bucket
    * equi-joins (carrying signatures through the join would shuffle
    * numHashes ints per collision row). The bucket is the band's VALUE
    * tuple (a struct of rows-per-band components), not a Murmur
    * compression of it: collision-free — docs share a bucket iff the
    * band's components are EQUAL — so the banding join is an exact
    * BIGINT-equality semantics any SQL oracle replays (the x_item_cf_lsh
    * value-pair-band lesson), and no spurious hash-collision candidates
    * exist at any scale. Width cost vs the hashed bucket is rows-per-band
    * longs instead of one int per (doc, band) row — still fixed-width and
    * tiny next to the corpus.
    */
  private[ops] def bandBuckets(sig: DataFrame, numHashes: Int,
                               bands: Int): DataFrame = {
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        struct((0 until rows).map(j => col(s"mh_${b * rows + j}").as(s"c$j")): _*)
          .as("bucket"))
    }
    sig.select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** LSH banding candidate pairs over a signature relation: docs sharing
    * any band bucket, deduped. Hot LSH buckets generate the same pair in
    * several bands, hence the distinct.
    */
  private[ops] def lshCandidatePairs(sig: DataFrame, numHashes: Int,
                                     bands: Int): DataFrame = {
    val buckets = bandBuckets(sig, numHashes, bands)
    buckets.as("l").join(buckets.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b")).distinct()
  }

  /** [[lshCandidatePairs]] with the per-pair COLLIDING-BAND count kept
    * (same shuffle — the count rides the dedup aggregation as one long).
    * At rows-per-band = 1 a band collision IS a component equality, so
    * `n_bands / numHashes` equals [[sigAgreement]] exactly and the
    * estimate trim folds into this aggregation instead of re-joining the
    * wide signature relation onto every candidate pair.
    */
  private[graft] def lshCandidatePairCounts(sig: DataFrame, numHashes: Int,
                                            bands: Int): DataFrame = {
    val buckets = bandBuckets(sig, numHashes, bands)
    buckets.as("l").join(buckets.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Incremental NEAR-dup ingest — the LSH analogue of [[exactIncremental]]
    * and the production shape at 100 TB: near-dup-check a NEW batch against
    * the accumulated corpus WITHOUT re-scanning corpus text. `seenSigs` is
    * the accumulated MinHash signature table ([[minHashSignatures]] output,
    * persisted and appended to at every ingest — fixed-width ints per doc,
    * like exactIncremental's 16-byte fingerprint table), so only the new
    * batch pays a text scan; both sides then band into slim (id, band,
    * bucket) rows and the batch's buckets probe seen + batch buckets.
    *
    * A batch doc is a duplicate when any banded candidate with a SMALLER id
    * (already-ingested or earlier in the batch) reaches `threshold`
    * estimated Jaccard (fraction of equal signature components — the same
    * verification as [[minHashNearDups]]). Because bucket collision and the
    * signature estimate are pairwise properties, the surviving set is
    * IDENTICAL to what a full-corpus [[minHashNearDups]] run would leave
    * standing under the keep-lowest-id rule — DedupSpec asserts the
    * equivalence.
    *
    * Returns one row per batch doc: (id, is_dup, dup_of) with dup_of the
    * smallest verified duplicate partner (NULL for survivors).
    */
  def minHashNearDupsIncremental(seenSigs: DataFrame, batch: DataFrame,
                                 idCol: String, textCol: String,
                                 n: Int = 3, numHashes: Int = 16,
                                 bands: Int = 4,
                                 threshold: Double = 0.5): DataFrame = {
    // pin: batchSigs feeds the bucket build, both estimate-join sides
    // and the final survivor frame — one batch text scan, not 4
    val batchSigs = minHashSignatures(batch, idCol, textCol, n, numHashes)
      .localCheckpoint()
    val sigCols = batchSigs.columns
    val seen = seenSigs.select(sigCols.map(col): _*)
    val bb = bandBuckets(batchSigs, numHashes, bands)
    val all = bandBuckets(seen, numHashes, bands).unionByName(bb)
    // batch buckets probe the accumulated buckets: candidate = same band
    // bucket, strictly smaller partner id (seen docs or earlier batch docs)
    val cand = bb.as("l").join(all.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("r.id") < col("l.id"))
      .select(col("l.id").as("bid"), col("r.id").as("cand")).distinct()
    val simExpr = sigAgreement(numHashes)
    val dups = cand
      .join(batchSigs.as("a"), col("bid") === col("a.id"))
      .join(seen.unionByName(batchSigs).as("b"), col("cand") === col("b.id"))
      .filter(simExpr >= threshold)
      .groupBy(col("bid")).agg(min(col("cand")).as("dup_of"))
      .withColumnRenamed("bid", "id")
    batchSigs.select(col("id"))
      .join(dups, Seq("id"), "left")
      .select(col("id"), col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
      .orderBy(col("id"))
  }

  /** The persisted shingle store: (id, sh) — distinct word n-gram arrays
    * per doc, the second accumulated artifact (next to the signature
    * table) an incremental EXACT-verify ingest maintains so corpus text
    * is never re-read.
    */
  def shingleRelation(docs: DataFrame, idCol: String,
                      textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))

  /** Incremental ingest in the PROVABLY-COMPLETE verify config — the
    * [[nearDupsVerified]] analogue of [[minHashNearDupsIncremental]]:
    * a new batch probes the ACCUMULATED signature table with
    * rows-per-band = 1 banding (a true pair escapes candidacy only if no
    * signature component collides), candidates are trimmed by the cheap
    * signature estimate, and survivors are verified with EXACT shingle
    * Jaccard against the accumulated shingle store ([[shingleRelation]]).
    * Neither persisted artifact requires re-reading corpus text; only the
    * batch pays a text scan.
    *
    * With numHashes=64, bands=64, minEst=0.125 the output is exactly
    * "each batch doc's smallest partner (already-ingested or earlier in
    * the batch) with exact Jaccard ≥ threshold" (miss prob ≤ 2e-10 at
    * j = 0.5) — which a SQL oracle can replay as a plain pair scan, making
    * the incremental rule itself hash-checkable (x_incremental_verified).
    *
    * Returns one row per batch doc: (id, is_dup, dup_of) with dup_of the
    * smallest exact-verified partner (NULL for survivors).
    */
  def nearDupsVerifiedIncremental(seenSigs: DataFrame,
                                  seenShingles: DataFrame,
                                  batch: DataFrame, idCol: String,
                                  textCol: String, n: Int = 3,
                                  numHashes: Int = 64, bands: Int = 64,
                                  threshold: Double = 0.5,
                                  minEst: Double = 0.125): DataFrame = {
    // the batch signature relation feeds the bucket build, both trim-join
    // sides and the final survivor frame; the batch shingles feed both
    // verify sides via the union — pin each once so the batch text is
    // scanned and hashed ONCE per store (the nearDupsVerified pin)
    val batchSigs = minHashSignatures(batch, idCol, textCol, n, numHashes)
      .localCheckpoint()
    val sigCols = batchSigs.columns
    val seen = seenSigs.select(sigCols.map(col): _*)
    val bb = bandBuckets(batchSigs, numHashes, bands)
    val all = bandBuckets(seen, numHashes, bands).unionByName(bb)
    val candBands = bb.as("l").join(all.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("r.id") < col("l.id"))
      .groupBy(col("l.id").as("bid"), col("r.id").as("cand"))
      .agg(count(lit(1)).as("__nb"))
    val trimmed =
      if (bands == numHashes)
        // rows-per-band = 1: colliding-band count IS the component
        // agreement (the nearDupsVerified fast path) — the estimate trim
        // folds into the candidate dedup, no signature re-join
        candBands
          .filter(col("__nb").cast("double") / numHashes >= minEst)
          .select(col("bid"), col("cand"))
      else candBands.select(col("bid"), col("cand"))
        .join(batchSigs.as("a"), col("bid") === col("a.id"))
        .join(seen.unionByName(batchSigs).as("b"), col("cand") === col("b.id"))
        .filter(sigAgreement(numHashes) >= minEst)
        .select(col("bid"), col("cand"))
    val batchSh = shingleRelation(batch, idCol, textCol, n)
      .localCheckpoint()
    val allSh = seenShingles.select(col("id"), col("sh"))
      .unionByName(batchSh)
    val dups = trimmed
      .join(batchSh.select(col("id").as("bid"), col("sh").as("sh_a")), "bid")
      .join(allSh.select(col("id").as("cand"), col("sh").as("sh_b")), "cand")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("bid")).agg(min(col("cand")).as("dup_of"))
      .withColumnRenamed("bid", "id")
    batchSigs.select(col("id"))
      .join(dups, Seq("id"), "left")
      .select(col("id"), col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
      .orderBy(col("id"))
  }

  /** MinHash + LSH banding: docs sharing any band bucket are candidate
    * near-dups; candidates verified with exact Jaccard estimate
    * (fraction of equal signature components). The signature build is
    * shuffle-free, so the two verification joins back to the narrow
    * signature relation are cheap.
    */
  def minHashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, numHashes: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5,
                      sigPinned: Option[DataFrame] = None): DataFrame = {
    // sig feeds the bucket build and both estimate-join sides — pin it
    // once so the corpus text is scanned and hashed once, not 3×.
    // `sigPinned`: an already-materialized signature table for the same
    // (docs, n) with ≥ numHashes components — the per-permutation hash
    // family depends only on the permutation index, so a narrower
    // config reads a column prefix of the persisted 64-wide store
    val sig = sigPinned
      .map(_.select(col("id") +:
        (0 until numHashes).map(i => col(s"mh_$i")): _*))
      .getOrElse(minHashSignatures(docs, idCol, textCol, n, numHashes)
        .localCheckpoint())
    val cand = lshCandidatePairs(sig, numHashes, bands)
    val simExpr = sigAgreement(numHashes)
    cand
      .join(sig.as("a"), col("id_a") === col("a.id"))
      .join(sig.as("b"), col("id_b") === col("b.id"))
      .select(col("id_a"), col("id_b"), round(simExpr, 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The full production near-dup pipeline: MinHash+LSH proposes candidate
    * pairs (sub-quadratic, recall-oriented), then EXACT Jaccard verifies
    * each candidate (precision) — exact similarity is computed only for
    * |candidates| pairs, never corpus². This is the 100 TB shape: banding
    * bounds the pair space, verification cost is proportional to what the
    * bands surface.
    *
    * `minEst` adds an optional MIDDLE stage: candidates are scored by the
    * cheap signature estimate (fraction of equal components — a narrow
    * int-vector join, no text) and only pairs at or above `minEst` reach
    * the exact shingle-array verify. With wide single-row banding
    * (bands = numHashes) candidate sets are dominated by pairs sharing
    * one hot component; the trim cuts the expensive verify join by
    * orders of magnitude while a true pair at Jaccard j clears a margin
    * m with probability 1 − P(Binomial(numHashes, j) < m·numHashes) —
    * e.g. j=0.5, numHashes=64, minEst=0.125: miss ≈ 2e-10.
    */
  def nearDupsVerified(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, numHashes: Int = 16, bands: Int = 8,
                       threshold: Double = 0.3,
                       minEst: Double = 0.0,
                       sigPinned: Option[DataFrame] = None,
                       shPinned: Option[DataFrame] = None): DataFrame = {
    // the signature relation is referenced by the bucket build AND both
    // trim-join sides, the shingle relation by both verify-join sides —
    // pin each once (numHashes ints / one shingle array per doc) so the
    // corpus text is scanned and hashed ONCE, not 4×/2×. `sigPinned` /
    // `shPinned` accept an already-materialized table for the same
    // (docs, n, numHashes) — the persisted signature/shingle stores an
    // incremental pipeline maintains anyway.
    val sig = sigPinned.getOrElse(
      minHashSignatures(docs, idCol, textCol, n, numHashes)
        .localCheckpoint())
    val trimmed =
      if (minEst <= 0.0) lshCandidatePairs(sig, numHashes, bands)
      else if (bands == numHashes) {
        // rows-per-band = 1: the banding join already counted equal
        // components per pair, so the estimate trim is a filter on that
        // count — identical predicate to the signature re-join below
        // (n_bands/numHashes IS sigAgreement), minus two wide joins
        lshCandidatePairCounts(sig, numHashes, bands)
          .filter(col("n_bands").cast("double") / numHashes >= minEst)
          .select(col("id_a"), col("id_b"))
      } else {
        lshCandidatePairs(sig, numHashes, bands)
          .join(sig.as("a"), col("id_a") === col("a.id"))
          .join(sig.as("b"), col("id_b") === col("b.id"))
          .filter(sigAgreement(numHashes) >= minEst)
          .select(col("id_a"), col("id_b"))
      }
    val sh = shPinned.getOrElse(
      docs.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
        .localCheckpoint())
    val verified = trimmed
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
    verified.select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SimHash near-dup pairs: the 64-bit fingerprints are cut into `bands`
    * equal bit-bands; docs sharing ANY exact band are candidates, then
    * candidates are verified with the exact `bit_count(a^b)` hamming
    * distance. By pigeonhole, every pair with hamming distance < `bands`
    * shares a band, so recall is COMPLETE only when
    * `maxHamming < bands` — with `maxHamming >= bands` the verified
    * distances are still exact but pairs spreading their differing bits
    * across every band can be missed (best-effort recall). The same
    * sub-quadratic propose/verify shape as the MinHash pipeline: pair
    * generation is Σ bucket², never corpus².
    */
  def simHashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val fp = simHash(docs, idCol, textCol)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * width).bitwiseAND(mask).as("bits"))
    }
    val buckets = fp.select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bits").as("bits"))
    val cand = buckets.as("l").join(buckets.as("r"),
        col("l.band") === col("r.band") && col("l.bits") === col("r.bits") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b")).distinct()
    cand
      .join(fp.select(col("id").as("id_a"), col("simhash").as("fa")), "id_a")
      .join(fp.select(col("id").as("id_b"), col("simhash").as("fb")), "id_b")
      .withColumn("hamming",
        bit_count(col("fa").bitwiseXOR(col("fb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Entity resolution for short strings (names, titles, SKUs): candidate
    * pairs from an equi-join on a blocking key (normalized prefix) plus a
    * length band, then exact Levenshtein verification — the classic
    * block/verify shape, quadratic only within a block, never corpus².
    * Production blocking would union several keys (prefix, phonetic,
    * character q-grams — the `shingles` machinery applies verbatim to
    * char n-grams); one prefix key is the demonstrable core.
    */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String,
                 maxDistance: Int, blockPrefixLen: Int): DataFrame =
    fuzzyPairsKeyed(df, idCol, strCol, maxDistance,
      s => substring(lower(trim(s)), 1, blockPrefixLen))

  /** Block/verify fuzzy matching with a caller-supplied CANONICAL block
    * key: records whose canonicalized strings collide become candidates,
    * verified by exact Levenshtein. The key function encodes what edit
    * class the blocking must survive — e.g. a transposition-canonical key
    * (string with its last two chars sorted) is invariant under trailing
    * swaps while staying one-block-per-entity selective, where a plain
    * prefix key on low-entropy prefixes (every name starting "Customer#")
    * degenerates to one corpus-wide block. Cost stays Σ block², never
    * corpus²; block sizes are auditable via a groupBy on the key.
    */
  def fuzzyPairsKeyed(df: DataFrame, idCol: String, strCol: String,
                      maxDistance: Int, blockKey: Column => Column): DataFrame = {
    val n = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .withColumn("blk", blockKey(col("s")))
      .withColumn("len", length(col("s")))
    n.as("l").join(n.as("r"),
        col("l.blk") === col("r.blk") &&
          abs(col("l.len") - col("r.len")) <= maxDistance &&
          col("l.id") < col("r.id"))
      // banded O(k·n) verify with early exit — NULL past the budget; the
      // builtin's full O(n²) DP pays for distances nobody keeps
      // (DedupSpec asserts exact equivalence with the builtin filter)
      .withColumn("dist", graft.functions.Native.levenshtein_within(
        col("l.s"), col("r.s"), maxDistance))
      .filter(col("dist").isNotNull)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        col("l.s").as("name_a"), col("r.s").as("name_b"), col("dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Connected components over an undirected pair list (the dedup-cluster
    * resolution step that turns pairwise near-dup hits into groups):
    * iterative min-label propagation — every node repeatedly adopts the
    * smallest component id among itself and its neighbours until a fixed
    * point. Returns (id, component) with component = min reachable id.
    *
    * Scale posture: each superstep is ONE shuffle keyed on node id
    * (edges ⋈ labels → union → min-groupBy); the driver loop only runs
    * `count` actions (convergence check), never collects data. Supersteps
    * needed = graph diameter — near-dup graphs are overwhelmingly tiny
    * stars/cliques, so 3-5 in practice. Each iteration's result is
    * CHECKPOINTED (lineage truncated to a materialized leaf) — without
    * that, each superstep's plan embeds the previous one twice and the
    * logical plan grows exponentially. A production run would use
    * reliable `checkpoint` to HDFS instead of `localCheckpoint`, and
    * switch to large-star/small-star if a pathological high-diameter
    * component shows up.
    *
    * Driver path: the pair graph a dedup/cluster pipeline emits is
    * ORDERS smaller than the corpus (dense cells, near-dup hits —
    * hundreds to thousands of edges where the corpus has millions of
    * rows), and each distributed superstep costs a fixed join + groupBy
    * + checkpoint job. When the symmetrized edge list fits the
    * [[DriverGraph]] gate, one union-find replaces `diameter`
    * supersteps. Identical (id, component = min reachable id) output
    * either way; the driver path's rows come out sorted by id. A pair
    * with a NULL endpoint is dropped on both paths.
    */
  def connectedComponents(pairs: DataFrame, srcCol: String, dstCol: String,
                          maxIters: Int = 50,
                          checkpointDir: Option[String] = None,
                          driverEdgeBudget: Long = DriverGraph.Budget)
      : DataFrame = {
    // checkpoint once — the union below consumes `half` twice, and the
    // upstream pair plan (LSH/shingle self-join) must not recompute.
    // checkpointDir = reliable-checkpoint posture (Ckpt.cut scaladoc)
    val half = Ckpt.cut(Graph.edgeList(pairs, srcCol, dstCol),
      checkpointDir, eager = true)
    val edges = Ckpt.cut(half
      .union(half.select(col("dst").as("src"), col("src").as("dst")))
      .distinct(), checkpointDir, eager = true)
    val small = DriverGraph.collectWithin(edges, driverEdgeBudget)
    if (small.isDefined)
      return componentsDriver(small.get, edges.sparkSession)
    var labels = Ckpt.cut(edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")), checkpointDir, eager = true)
    // labels only ever DECREASE under min-propagation, so the exact label
    // sum is strictly monotone — comparing sums detects convergence with
    // one tiny aggregate over the checkpointed frame instead of a join
    // against the previous iteration
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component").cast("decimal(38,0)")))
        .head().getDecimal(0)
    var prevSum = labelSum(labels)
    var changed = true
    var i = 0
    while (changed && i < maxIters) {
      val prop = Ckpt.cut(edges.as("e")
        .join(labels.as("l"), col("e.src") === col("l.id"))
        .select(col("e.dst").as("id"), col("l.component").as("component"))
        .union(labels)
        .groupBy("id").agg(min("component").as("component")),
        checkpointDir, eager = true)
      val newSum = labelSum(prop)
      changed = newSum.compareTo(prevSum) != 0
      prevSum = newSum
      labels = prop
      i += 1
    }
    // a truncated propagation would silently split components — fail loudly
    if (changed) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters supersteps " +
        "(graph diameter exceeds maxIters); raise maxIters or switch to " +
        "a large-star/small-star formulation for this graph")
    labels
  }

  /** The connected-components driver path: union-find over the node
    * indices of the collected pairs, the lower index winning each union
    * — ids are sorted, so every root is its component's minimum id.
    * Rows come out sorted by id.
    */
  private def componentsDriver(pairs: Array[Row],
                               sess: SparkSession): DataFrame = {
    import sess.implicits._
    val g = DriverGraph(pairs)
    val parent = Array.range(0, g.n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    for (k <- g.src.indices) {
      val (ra, rb) = (find(g.src(k)), find(g.dst(k)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    g.ids.indices.map(i => (g.ids(i), g.ids(find(i))))
      .toDF("id", "component")
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR edge
    * rewrites (Kiveris et al., "Connected Components in MapReduce and
    * Beyond" — the published O(log n)-round algorithm): every round,
    * large-star points each node's strictly-larger neighbors at the
    * minimum of its neighborhood, small-star collapses the smaller
    * neighbors the same way, and the edge set contracts toward min-rooted
    * stars. Same output contract as [[connectedComponents]] —
    * (id, component = min reachable id) — but ROUNDS ARE LOGARITHMIC in
    * component size instead of linear in graph DIAMETER: a 10⁶-node chain
    * needs ~20 rounds here vs 10⁶ label-propagation supersteps. Use this
    * when components can be long paths (near-dup chains through
    * transitive similarity); min-label propagation stays preferable for
    * the star/clique graphs LSH typically emits (fewer shuffles per
    * round).
    *
    * Each round is two keyed groupBy-join shuffles over the current edge
    * set, checkpointed; convergence = edge-set fixpoint, detected by a
    * (count, xxhash64-sum) signature over the checkpointed frame (one
    * tiny aggregate; a collision would need two distinct edge sets with
    * equal count and 64-bit hash sum in the same run). Non-convergence
    * inside `maxIters` throws loudly, like the propagation form.
    *
    * `driverEdgeBudget`: the [[DriverGraph]] gate on the pair list;
    * within it the [[connectedComponents]] union-find runs instead.
    * Pairs with a NULL endpoint are dropped on both paths.
    */
  def connectedComponentsStar(pairs: DataFrame, srcCol: String,
                              dstCol: String, maxIters: Int = 40,
                              checkpointDir: Option[String] = None,
                              driverEdgeBudget: Long = DriverGraph.Budget)
      : DataFrame = {
    // checkpoint the raw pair list ONCE: `pairs` is typically an expensive
    // upstream plan (LSH/shingle self-join) and is consumed three times
    // below (nodes twice via the union, edges once) — without this the
    // whole upstream recomputes per consumer
    val raw = Ckpt.cut(pairs.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b")).na.drop(), checkpointDir,
      eager = true)
    // the [[connectedComponents]] driver path: union-find beats BOTH
    // distributed forms when the pinned pair list fits the gate
    val small = DriverGraph.collectWithin(raw, driverEdgeBudget)
    if (small.isDefined)
      return componentsDriver(small.get, raw.sparkSession)
    val nodes = Ckpt.cut(raw.select(col("a").as("id"))
      .union(raw.select(col("b").as("id"))).distinct(),
      checkpointDir, eager = true)
    // canonical orientation: (u = bigger, v = smaller), no self loops
    var edges = Ckpt.cut(raw.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct(), checkpointDir, eager = true)
    // decimal(38,0) sum: ANSI mode forbids the wrapping long sum a hash
    // aggregate would need (same device as the propagation convergence)
    def signature(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    var prev = signature(edges)
    var converged = false
    var i = 0
    while (!converged && i < maxIters && prev._1 > 0) {
      // large-star: over full neighborhoods (both orientations), point
      // every neighbor bigger than u at m = min(neighborhood ∪ {u})
      val nbrs = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val mLarge = nbrs.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val afterLarge = nbrs.join(mLarge, "u")
        .filter(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star: edges are all (bigger, smaller) now, so each node's
      // smaller neighborhood is exactly its outgoing edge list
      val mSmall = afterLarge.groupBy("u").agg(min("v").as("m"))
      val afterSmall = Ckpt.cut(afterLarge.join(mSmall, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mSmall.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct(), checkpointDir, eager = true)
      val cur = signature(afterSmall)
      converged = cur == prev
      prev = cur
      edges = afterSmall
      i += 1
    }
    if (!converged && prev._1 > 0) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxIters rounds; " +
        "raise maxIters (rounds grow with log of the largest component)")
    nodes.join(edges.select(col("u").as("id"), col("v").as("component")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Near-dup pairs → cluster assignments: component id plus whether the
    * node is its cluster's canonical (kept) representative.
    */
  def dedupClusters(pairs: DataFrame, idA: String = "id_a",
                    idB: String = "id_b"): DataFrame =
    connectedComponents(pairs, idA, idB)
      .withColumn("is_canonical", col("id") === col("component"))
      .orderBy("id")

  /** Survivorship / golden-record election — the MDM step AFTER entity
    * resolution: fold every matched cluster to ONE canonical record.
    * `freqElect` columns take the cluster's most frequent value (ties to
    * the smallest value — deterministic in both engines); `maxElect`
    * columns take the maximum (the "freshest/fullest wins" rule for
    * balances, timestamps, completeness scores). Unmatched records are
    * their own entity (the retention/split singleton contract).
    *
    * Scale shape: components from the pair list only; one keyed count per
    * frequency-elected column (bounded by cluster sizes), windows
    * partition per entity, the final fold is one aggregation per entity.
    */
  def goldenRecord(records: DataFrame, idCol: String, pairs: DataFrame,
                   freqElect: Seq[String], maxElect: Seq[String]): DataFrame = {
    require(freqElect.nonEmpty || maxElect.nonEmpty,
      "goldenRecord: elect at least one column")
    val comp = connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    val lab = records
      .join(comp, Seq(idCol), "left")
      .withColumn("entity_id",
        coalesce(col("component"), col(idCol)).cast("long"))
      .localCheckpoint(eager = false) // consumed once per elected column
    val baseAggs = count(lit(1)).cast("long").as("n_records") +:
      maxElect.map(c => round(max(col(c)), 6).as(s"max_$c"))
    val base = lab.groupBy(col("entity_id"))
      .agg(baseAggs.head, baseAggs.tail: _*)
    val elected = freqElect.map { c =>
      val cnt = lab.groupBy(col("entity_id"), col(c))
        .agg(count(lit(1)).as("__cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("entity_id"))
        .orderBy(col("__cnt").desc, col(c).asc)
      cnt.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("entity_id"), col(c).as(s"canonical_$c"))
    }
    elected.foldLeft(base)((acc, e) => acc.join(e, Seq("entity_id")))
      .orderBy("entity_id")
  }

  /** Corpus dedup RETENTION — the end product a dedup pipeline actually
    * ships: for every document (near-dups AND singletons), its cluster id
    * and a keep/drop decision that retains the single best-quality member
    * of each near-dup cluster. Min-id canonicalization ([[dedupClusters]])
    * answers "which cluster"; this answers "which copy survives" — the
    * keep-best policy (longest / highest quality score, ties to the lowest
    * id) is the one production corpora use so boilerplate-trimmed or
    * truncated variants drop in favor of the fullest copy.
    *
    * Scale shape: components come from the pair list only (tiny next to
    * the corpus), so the docs⋈components join is broadcast-able; singleton
    * docs never enter the CC iteration and fall out of the left join as
    * their own component. The keep-ranking window partitions BY COMPONENT
    * — bounded by the largest near-dup cluster, never a corpus-wide sort.
    */
  def dedupRetain(docs: DataFrame, idCol: String, quality: Column,
                  pairs: DataFrame, idA: String = "id_a",
                  idB: String = "id_b"): DataFrame = {
    val comp = connectedComponents(pairs, idA, idB)
      .withColumnRenamed("id", idCol)
    val labeled = docs.select(col(idCol), quality.as("quality"))
      .join(broadcast(comp), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("quality").desc, col(idCol).asc)
    labeled
      .withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col("component"), col("quality"), col("keep"))
      .orderBy(col(idCol))
  }

  /** [[dedupRetain]] with SURVIVOR WEIGHTS: each kept document carries
    * its cluster size, so downstream statistics over the deduplicated
    * corpus can stay UNBIASED — dropping near-dups without reweighting
    * silently downweights popular content (boilerplate-heavy mirrors,
    * syndicated articles), shifting every frequency estimate; weighting
    * the survivor by its cluster size preserves totals exactly
    * (Σ weight = corpus size — DedupSpec asserts the reconciliation).
    * Output: kept docs only, with (component, quality, weight).
    */
  def dedupRetainWeighted(docs: DataFrame, idCol: String, quality: Column,
                          pairs: DataFrame): DataFrame = {
    val base = dedupRetain(docs, idCol, quality, pairs)
      .localCheckpoint(eager = false) // two consumers: sizes + the filter
    val sizes = base.groupBy(col("component"))
      .agg(count(lit(1)).cast("long").as("weight"))
    base.filter(col("keep"))
      .join(sizes, Seq("component"))
      .select(col(idCol), col("component"), col("quality"), col("weight"))
      .orderBy(idCol)
  }

  /** Train/test contamination check — the decontamination primitive every
    * eval pipeline needs: for each TEST document, the fraction of its
    * distinct word `n`-gram shingles that also appear anywhere in the
    * TRAIN corpus. A test doc whose shingles are largely covered by train
    * text leaks eval answers into training metrics.
    *
    * Shape: the test side derives (doc, shingle) pairs + per-doc shingle
    * counts from ONE native-expression pass (no corpus re-read); the train
    * side reduces to a distinct shingle set; one equi-join on the shingle
    * counts the hits. Short docs (< n words, zero shingles) surface with
    * `contamination = 0.0` rather than vanishing. At 100 TB, put a
    * [[Bloom.bloomPrune]] of the train shingle set in front of the join
    * (shingle→64-bit hash) so only maybe-contaminated test shingles
    * shuffle — the exact join on the survivors keeps the result exact,
    * same propose/verify shape as [[nearDupsVerified]].
    */
  def contamination(train: DataFrame, test: DataFrame, idCol: String,
                    textCol: String, n: Int,
                    threshold: Double = 0.2): DataFrame = {
    val base = test.select(col(idCol),
      size(shingles(col(textCol), n)).cast("long").as("n_shingles"))
    val testSh = test.select(col(idCol),
      explode(shingles(col(textCol), n)).as("s"))
    val trainSh = train.select(explode(shingles(col(textCol), n)).as("s"))
      .distinct()
    val hits = testSh.join(trainSh, Seq("s"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_contaminated"))
    base.join(hits, Seq(idCol), "left")
      .withColumn("n_contaminated", coalesce(col("n_contaminated"), lit(0L)))
      .withColumn("contamination",
        when(col("n_shingles") > 0,
          round(col("n_contaminated") / col("n_shingles"), 6))
          .otherwise(lit(0.0)))
      .withColumn("is_contaminated", col("contamination") >= threshold)
      .orderBy(col(idCol))
  }

  /** SimHash: 64-bit fingerprint = sign-aggregated bit votes of token
    * xxhash64s; near-dups have small Hamming distance. The fingerprint is
    * the native `SimHash64` expression — one tight loop per document, no
    * explode, NO shuffle (the HOF/explode formulation pushed
    * corpus×tokens rows through a 64-column aggregate).
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        graft.functions.Native.simhash64(col(textCol)).as("simhash"))
      .orderBy(col("id"))

  /** Exact duplicated-substring spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * transform, suffix-array semantics re-expressed as dataflow): every
    * character position whose k-gram occurs anywhere else in the corpus
    * — EXCEPT the corpus-global first occurrence, which is the kept copy
    * — is a duplicated position; per document, overlapping/adjacent
    * duplicated k-gram intervals merge into MAXIMAL spans (the
    * gaps-and-islands pass). The output span table is exactly the
    * character ranges ExactSubstr would cut, with first occurrences
    * retained so every duplicated string survives once.
    *
    * Plan: positions explode once (corpus-chars rows — the inherent cost
    * of exact substring dedup; the suffix array pays the same), the
    * k-gram table aggregates on the gram (count + packed-long first
    * occurrence — min over `doc·10⁶+pos`, one BIGINT not a struct), the
    * join back is co-partitioned on the gram, and the island merge is a
    * per-document window (per-doc-bounded). No pairwise joins anywhere.
    * The packed key rides an in-plan fail-loud guard: a document at or
    * beyond 10⁶ chars would alias positions, so it raises instead.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 20): DataFrame = {
    require(k >= 4 && k <= 256, s"duplicatedSpans: k in [4, 256] (got $k)")
    val base = docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("__t"))
      .filter(length(col("__t")) >= k)
      .withColumn("__t",
        when(length(col("__t")) < 1000000, col("__t"))
          .otherwise(raise_error(concat(
            lit("duplicatedSpans: document at or beyond 1e6 chars would " +
              "alias the packed doc*1e6+pos first-occurrence key; chunk " +
              "it first — doc_id: "), col("doc_id").cast("string")))))
    val grams = base
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("__t")) - lit(k - 1)))
          .as("pos"),
        col("__t"))
      .select(col("doc_id"), col("pos"),
        col("__t").substr(col("pos"), lit(k)).as("__gram"))
    // corpus stats as a WINDOW over the gram partition (the sharedSpans
    // df-window pattern): ONE gram shuffle serves count + first
    // occurrence + the filter — no groupBy + join-back, which would
    // shuffle the 20-char gram strings twice more and recompute the
    // explode for each branch
    val gramW = Window.partitionBy("__gram")
    val dup = grams
      .withColumn("__c", count(lit(1)).over(gramW))
      .withColumn("__f",
        min(col("doc_id") * 1000000L + col("pos")).over(gramW))
      .filter(col("__c") >= 2 &&
        col("doc_id") * 1000000L + col("pos") =!= col("__f"))
      .select(col("doc_id"), col("pos"))
    val before = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val upToHere = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dup
      .withColumn("__nf",
        when(col("pos") >
          coalesce(max(col("pos") + lit(k)).over(before), lit(-1)), 1)
          .otherwise(0))
      .withColumn("__isle", sum(col("__nf")).over(upToHere))
      .groupBy(col("doc_id"), col("__isle"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(k)).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"))
      .orderBy("doc_id", "span_start")
  }

  /** Per-document rollup of [[duplicatedSpans]]: how much of each doc is
    * removable duplicated text (spans are disjoint by construction, so
    * the char sum never double-counts). Docs with no duplicated span
    * report 0 — the corpus-wide duplication-ratio readout that decides
    * whether ExactSubstr is worth running. One left join of the doc
    * length table against the span rollup.
    */
  def duplicatedSpanStats(docs: DataFrame, idCol: String, textCol: String,
                          k: Int = 20,
                          spansPinned: Option[DataFrame] = None): DataFrame = {
    // `spansPinned`: a materialized [[duplicatedSpans]] table for the same
    // (docs, k) — the span table IS the production artifact (written by
    // the dedup job, read by the cut stage and this readout alike), so
    // the stats consumer reads it instead of re-mining the gram windows
    val spans = spansPinned.getOrElse(duplicatedSpans(docs, idCol, textCol, k))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("span_len")).as("__dup"))
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        length(col(textCol)).cast("long").as("doc_chars"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("doc_chars"),
        coalesce(col("n_spans"), lit(0L)).cast("long").as("n_spans"),
        coalesce(col("__dup"), lit(0L)).cast("long").as("dup_chars"))
      .withColumn("dup_ratio", when(col("doc_chars") > 0,
        round(col("dup_chars") / col("doc_chars").cast("double"), 6))
        .otherwise(lit(0.0)))
      .orderBy("doc_id")
  }
}
