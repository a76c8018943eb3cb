package graft
package oracle

/** Shared DuckDB-oracle SQL helpers and multi-query CTE definitions,
  * split out of the former 11 K-line OracleSql.scala (round-9 verdict
  * item 6) so each domain's oracle map is reviewable on its own. The
  * authoring/parity rules live on [[graft.OracleSql]]; nothing here
  * changed behavior — the split is byte-identical SQL regrouped by the
  * registry domains.
  */
private[graft] object OracleShared {


  /** Integer-lattice fixed-width binning shared by every `*_binned`
    * oracle — replays [[graft.ops.Drift.latticeBin]] bit-for-bit:
    * centi-lattice commit, exact integer bounds, and floor division
    * (DuckDB `//` ≡ Spark `div` on non-negative longs). `binExpr` is
    * the bin id in [0, bins); `reprExpr` the bin's integer-lattice
    * representative (still in centi units — divide by 100.0 for value
    * units, exactly as the Scala side's `__binv`). */
  def binExpr(vl: String, lo: String, hi: String, bins: Int): String =
    s"((($vl) - $lo) * $bins) // (($hi) - ($lo) + 1)"
  def reprExpr(vl: String, lo: String, hi: String, bins: Int): String =
    s"($lo + ((${binExpr(vl, lo, hi, bins)}) * (($hi) - ($lo) + 1))" +
      s" // $bins)"

  /** The standard binning chain over one source: `lat` commits the
    * value to the centi lattice under `where`, `bnd` takes exact
    * integer bounds, `binned` carries `keep` plus `bin` and `repr`. */
  def latticeBinCtes(src: String, valueExpr: String, where: String,
                     keep: String, bins: Int = 1000): String =
    s"""lat AS (SELECT $keep,
               CAST(round(CAST($valueExpr AS DOUBLE) * 100, 0) AS BIGINT)
                 AS vl
             FROM $src WHERE $where),
      bnd AS (SELECT min(vl) AS lo, max(vl) AS hi FROM lat),
      binned AS (SELECT $keep,
               ${binExpr("vl", "lo", "hi", bins)} AS bin,
               ${reprExpr("vl", "lo", "hi", bins)} AS repr
             FROM lat, bnd)"""

  /** Acklam probit — the EXACT textual twin of `Stats.probit`'s fixed
    * arithmetic tree (same Horner order, same literals), so both
    * engines produce bit-identical doubles from identical p. */
  def probitSql(p: String): String = {
    val a = Seq("-3.969683028665376e+01", "2.209460984245205e+02",
      "-2.759285104469687e+02", "1.383577518672690e+02",
      "-3.066479806614716e+01", "2.506628277459239e+00")
    val b = Seq("-5.447609879822406e+01", "1.615858368580409e+02",
      "-1.556989798598866e+02", "6.680131188771972e+01",
      "-1.328068155288572e+01")
    val c = Seq("-7.784894002430293e-03", "-3.223964580411365e-01",
      "-2.400758277161838e+00", "-2.549732539343734e+00",
      "4.374664141464968e+00", "2.938163982698783e+00")
    val d = Seq("7.784695709041462e-03", "3.224671290700398e-01",
      "2.445134137142996e+00", "3.754408661907416e+00")
    def horner(cs: Seq[String], x: String): String =
      cs.tail.foldLeft(cs.head)((acc, k) => s"($acc * $x + $k)")
    val qc = s"(($p) - 0.5)"
    val rc = s"($qc * $qc)"
    val central = s"(${horner(a, rc)} * $qc" +
      s" / (${horner(b, rc)} * $rc + 1.0))"
    val qlo = s"sqrt(-2.0 * ln($p))"
    val lower = s"(${horner(c, qlo)} / (${horner(d, qlo)} * $qlo + 1.0))"
    val qhi = s"sqrt(-2.0 * ln(1.0 - ($p)))"
    val upper =
      s"(-(${horner(c, qhi)} / (${horner(d, qhi)} * $qhi + 1.0)))"
    s"(CASE WHEN ($p) > 0 AND ($p) < 0.02425 THEN $lower" +
      s" WHEN ($p) >= 0.02425 AND ($p) <= 1.0 - 0.02425 THEN $central" +
      s" WHEN ($p) < 1.0 AND ($p) > 1.0 - 0.02425 THEN $upper END)"
  }

  /** Van der Waerden SQL over a `base(g, v)` CTE chain — mirrors
    * Stats.vdwFold (probit of the midrank fraction on the 1e-6
    * lattice, exact HUGEINT folds). Five-event-type roster. */
  def vdwSql(baseCtes: String): String = {
    val gs = Seq("click", "error", "purchase", "signup", "view")
    val score = probitSql(
      "CAST(r2 AS DOUBLE) / (2.0 * (CAST(N AS DOUBLE) + 1.0))")
    val nn = "CAST(n AS DOUBLE)"
    val s2 = s"(CAST(q AS DOUBLE) / ($nn - 1.0))"
    val num = s"(${gs.indices.map(i =>
      s"CAST(a$i AS DOUBLE) * CAST(a$i AS DOUBLE) / n$i")
      .mkString(" + ")})"
    val ok = (s"n >= 2 AND $s2 > 0 AND " +
      gs.indices.map(i => s"n$i > 0").mkString(" AND "))
    val nCols = gs.zipWithIndex
      .map { case (g, i) => s"n$i AS n_$g" }.mkString(", ")
    s"""
      WITH $baseCtes,
      pv AS (SELECT v,
             ${gs.zipWithIndex.map { case (g, i) =>
               s"CAST(sum(CASE WHEN g = '$g' THEN 1 ELSE 0 END)" +
                 s" AS BIGINT) AS c$i" }.mkString(",\n             ")},
             CAST(count(*) AS BIGINT) AS nv
            FROM base GROUP BY v),
      r AS (SELECT *, CAST(2 * coalesce(sum(nv) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + nv + 1 AS BIGINT) AS r2,
              CAST(sum(nv) OVER () AS BIGINT) AS N
            FROM pv),
      sc AS (SELECT *, CAST(round($score * 1e6, 0) AS BIGINT) AS s
             FROM r),
      f AS (SELECT ${gs.indices.map(i =>
              s"CAST(coalesce(sum(c$i), 0) AS BIGINT) AS n$i," +
                s" coalesce(sum(CAST(c$i AS HUGEINT) * s), 0) AS a$i")
              .mkString(",\n             ")},
             CAST(coalesce(sum(nv), 0) AS BIGINT) AS n,
             coalesce(sum(CAST(nv AS HUGEINT) * s * s), 0) AS q
            FROM sc)
      SELECT n, $nCols,
             round(CASE WHEN $ok THEN $num / $s2 END, 6) AS t_stat,
             CAST(${gs.size - 1} AS INTEGER) AS df
      FROM f"""
  }

  /** Fligner–Killeen SQL over a `base(g, v)` CTE chain — mirrors
    * Stats.fkFold (exact per-group median elections, centi-lattice
    * |deviation|, half-normal probit scores, exact folds). */
  def fkSql(baseCtes: String): String = {
    val gs = Seq("click", "error", "purchase", "signup", "view")
    val score = probitSql(
      "0.5 + CAST(r2 AS DOUBLE) / (4.0 * (CAST(N AS DOUBLE) + 1.0))")
    val nn = "CAST(n AS DOUBLE)"
    val abar = s"(CAST(sa AS DOUBLE) / $nn)"
    val vv = s"((CAST(q AS DOUBLE)" +
      s" - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / $nn)" +
      s" / ($nn - 1.0))"
    val num = s"(${gs.indices.map { i =>
      val dj = s"(CAST(a$i AS DOUBLE) - CAST(n$i AS DOUBLE) * $abar)"
      s"$dj * $dj / n$i" }.mkString(" + ")})"
    val ok = (s"n >= 2 AND $vv > 0 AND " +
      gs.indices.map(i => s"n$i > 0").mkString(" AND "))
    val nCols = gs.zipWithIndex
      .map { case (g, i) => s"n$i AS n_$g" }.mkString(", ")
    s"""
      WITH $baseCtes,
      gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
             FROM base GROUP BY 1, 2),
      cw AS (SELECT g, v,
              sum(c) OVER (PARTITION BY g ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cwv,
              sum(c) OVER (PARTITION BY g) AS tot
            FROM gv),
      m AS (SELECT g, min(v) AS med FROM cw
            WHERE cwv * 2 >= tot GROUP BY g),
      dv AS (SELECT CAST(round(abs(gv.v - m.med) * 100, 0) AS BIGINT)
               AS d,
             ${gs.zipWithIndex.map { case (g, i) =>
               s"CAST(sum(CASE WHEN gv.g = '$g' THEN c ELSE 0 END)" +
                 s" AS BIGINT) AS c$i" }.mkString(",\n             ")},
             CAST(sum(c) AS BIGINT) AS nv
            FROM gv JOIN m ON gv.g = m.g GROUP BY 1),
      r AS (SELECT *, CAST(2 * coalesce(sum(nv) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + nv + 1 AS BIGINT) AS r2,
              CAST(sum(nv) OVER () AS BIGINT) AS N
            FROM dv),
      sc AS (SELECT *, CAST(round($score * 1e6, 0) AS BIGINT) AS s
             FROM r),
      f AS (SELECT ${gs.indices.map(i =>
              s"CAST(coalesce(sum(c$i), 0) AS BIGINT) AS n$i," +
                s" coalesce(sum(CAST(c$i AS HUGEINT) * s), 0) AS a$i")
              .mkString(",\n             ")},
             CAST(coalesce(sum(nv), 0) AS BIGINT) AS n,
             coalesce(sum(CAST(nv AS HUGEINT) * s), 0) AS sa,
             coalesce(sum(CAST(nv AS HUGEINT) * s * s), 0) AS q
            FROM sc)
      SELECT n, $nCols,
             round(CASE WHEN $ok THEN $num / $vv END, 6) AS fk_stat,
             CAST(${gs.size - 1} AS INTEGER) AS df
      FROM f"""
  }

  /** Dunn post-hoc SQL over a `base(g, v)` CTE chain (exact or binned
    * value axis — mirrors Stats.dunnFold): per-value per-group counts,
    * shared-pool 2x-midranks, pooled tie-corrected variance, one z per
    * alphabetical pair, |z| rank appended. Roster fixed to the five
    * event types (the registered queries' roster). */
  def dunnSql(baseCtes: String): String = {
    val gs = Seq("click", "error", "purchase", "signup", "view")
    val nn = "CAST(nt AS DOUBLE)"
    val sig2 = s"(($nn * ($nn + 1.0)" +
      s" - CAST(tsum AS DOUBLE) / ($nn - 1.0)) / 12.0)"
    def njD(i: Int) = s"CAST(n$i AS DOUBLE)"
    def mr(i: Int) = s"(CAST(s$i AS DOUBLE) / (2.0 * ${njD(i)}))"
    val pairs = for {
      i <- gs.indices; j <- (i + 1) until gs.size
    } yield (i, j)
    val pairRows = pairs.map { case (i, j) =>
      val ok = s"n$i > 0 AND n$j > 0 AND $sig2 > 0"
      val z = s"(${mr(i)} - ${mr(j)}) / sqrt($sig2" +
        s" * (1.0 / ${njD(i)} + 1.0 / ${njD(j)}))"
      s"""SELECT '${gs(i)}' AS group_a, '${gs(j)}' AS group_b,
             n$i AS n_a, n$j AS n_b,
             round(CASE WHEN n$i > 0 THEN ${mr(i)} END, 6) AS mean_rank_a,
             round(CASE WHEN n$j > 0 THEN ${mr(j)} END, 6) AS mean_rank_b,
             round(CASE WHEN $ok THEN $z END, 6) AS z
           FROM f"""
    }.mkString("\n      UNION ALL ")
    s"""
      WITH $baseCtes,
      pv AS (SELECT v,
             ${gs.zipWithIndex.map { case (g, i) =>
               s"CAST(sum(CASE WHEN g = '$g' THEN 1 ELSE 0 END)" +
                 s" AS BIGINT) AS c$i" }.mkString(",\n             ")},
             CAST(count(*) AS BIGINT) AS n
            FROM base GROUP BY v),
      r AS (SELECT *, CAST(2 * coalesce(sum(n) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + n + 1 AS BIGINT) AS r2
            FROM pv),
      f AS (SELECT ${gs.indices.map(i =>
              s"CAST(coalesce(sum(c$i), 0) AS BIGINT) AS n$i," +
                s" coalesce(sum(CAST(c$i AS HUGEINT) * r2), 0) AS s$i")
              .mkString(",\n             ")},
             CAST(coalesce(sum(n), 0) AS BIGINT) AS nt,
             CAST(coalesce(sum(n * n * n - n), 0) AS BIGINT) AS tsum
            FROM r),
      p AS ($pairRows)
      SELECT group_a, group_b, n_a, n_b, mean_rank_a, mean_rank_b, z,
             CAST(row_number() OVER (ORDER BY abs(z) DESC NULLS LAST,
               group_a, group_b) AS INTEGER) AS abs_z_rank
      FROM p
      ORDER BY group_a, group_b"""
  }

  /** Uniform-(0,1] hash shared with graft.ops.Gen.u01 (two minstd steps). */
  def uk(key: String, c: Int): String =
    s"(CAST(((($key + ${c}*1000003) % 2147483647) * 48271 % 2147483647)" +
      s" * 48271 % 2147483647 + 1 AS DOUBLE)/2147483647.0)"
  def u(c: Int): String = uk("c_custkey", c)

  val k = "CAST(json_extract_string(props, '$.k') AS BIGINT)"

  /** Naive-Bayes per-test-doc prediction chain (modulus-5 split,
    * Laplace-1 smoothing, unseen-token drop, exact-long argmax with
    * ascending-label tiebreak) — shared by x_naive_bayes and
    * x_nb_confusion so the classifier both read is ONE definition. */
  val nbBestCte = """WITH base AS (SELECT doc_id AS id, lang AS l,
               text AS t
            FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
      tok AS (SELECT id, l,
               unnest(string_split_regex(trim(lower(t)), '\s+')) AS tk
            FROM base),
      tk2 AS (SELECT id, l, tk FROM tok WHERE tk <> ''),
      cnt AS (SELECT l, tk, CAST(count(*) AS BIGINT) AS ct
              FROM tk2 WHERE id % 5 <> 0 GROUP BY 1, 2),
      tot AS (SELECT l, CAST(sum(ct) AS BIGINT) AS tot
              FROM cnt GROUP BY 1),
      voc AS (SELECT DISTINCT tk FROM cnt),
      vs AS (SELECT CAST(count(*) AS BIGINT) AS v FROM voc),
      dense AS (SELECT t2.l, v2.tk,
                 CAST(round(ln((CAST(coalesce(c.ct, 0) AS DOUBLE) + 1.0)
                   / (CAST(t2.tot AS DOUBLE)
                     + 1.0 * CAST(vs.v AS DOUBLE)))
                   * 1e9, 0) AS BIGINT) AS lp
               FROM voc v2 CROSS JOIN tot t2
               LEFT JOIN cnt c ON c.l = t2.l AND c.tk = v2.tk, vs),
      tr AS (SELECT l FROM base WHERE id % 5 <> 0),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM tr),
      pri AS (SELECT l, CAST(round(ln(CAST(count(*) AS DOUBLE)
                / CAST(nd.nd AS DOUBLE)) * 1e9, 0) AS BIGINT) AS lp0
              FROM tr, nd GROUP BY l, nd.nd),
      tf AS (SELECT id, tk, CAST(count(*) AS BIGINT) AS tf
             FROM tk2 WHERE id % 5 = 0 GROUP BY 1, 2),
      sums AS (SELECT tf.id, d.l, CAST(sum(tf.tf * d.lp) AS BIGINT) AS s
               FROM tf JOIN dense d ON tf.tk = d.tk GROUP BY 1, 2),
      td AS (SELECT id, l AS label FROM base WHERE id % 5 = 0),
      scored AS (SELECT td.id, td.label, p.l,
                  coalesce(s.s, 0) + p.lp0 AS score
                 FROM td CROSS JOIN pri p
                 LEFT JOIN sums s ON s.id = td.id AND s.l = p.l),
      best AS (SELECT id, label, l AS predicted, score,
                row_number() OVER (PARTITION BY id
                  ORDER BY score DESC, l) AS rn
               FROM scored)"""

  /** The x_quality_filter verdict query — shared with x_curation_funnel
    * so the rule definitions both read are ONE SQL text. */
  val qualityFilterSql = """
      WITH d AS (
        SELECT doc_id, text,
               string_split_regex(trim(lower(text)), '\s+') AS w
        FROM documents),
      g2 AS (SELECT doc_id, count(DISTINCT s) AS d2 FROM (
        SELECT doc_id, w[kk] || ' ' || w[kk+1] AS s
        FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS kk FROM d))
        GROUP BY doc_id),
      ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
      hist AS (
        SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt
        FROM ch GROUP BY doc_id, c),
      ent AS (
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
               sum(cnt * (ln(CAST(cnt AS DOUBLE)) / ln(2.0))) AS acc
        FROM hist GROUP BY doc_id),
      sig AS (
        SELECT d.doc_id,
               CAST(len(d.w) AS INTEGER) AS n_tokens,
               round(list_aggregate(list_transform(d.w, x -> len(x)), 'sum')
                 / CAST(len(d.w) AS DOUBLE), 6) AS mean_word_len,
               round(len(list_filter(d.w, x -> list_contains(
                   ['the','a','an','and','or','of','to','in','is','on','for'],
                   x))) / CAST(len(d.w) AS DOUBLE), 6) AS stopword_ratio,
               CASE WHEN len(d.w) - 1 > 0 THEN round(1.0 -
                 coalesce(g2.d2, 0) / (CAST(len(d.w) AS DOUBLE) - 1), 6)
                 ELSE 0.0 END AS dup_2gram_ratio,
               round(CASE WHEN e.n IS NULL OR e.n = 0 THEN 0.0
                 ELSE ln(CAST(e.n AS DOUBLE))/ln(2.0) - e.acc/e.n END, 6)
                 AS entropy_bits
        FROM d LEFT JOIN g2 ON d.doc_id = g2.doc_id
               LEFT JOIN ent e ON d.doc_id = e.doc_id)
      SELECT *,
             (r_len AND r_word_len AND r_stopwords AND r_repetition
              AND r_entropy) AS keep
      FROM (SELECT *,
             n_tokens BETWEEN 20 AND 5000 AS r_len,
             mean_word_len BETWEEN 3.0 AND 10.0 AS r_word_len,
             stopword_ratio >= 0.01 AS r_stopwords,
             dup_2gram_ratio <= 0.08 AS r_repetition,
             entropy_bits BETWEEN 2.0 AND 6.0 AS r_entropy
            FROM sig)
      ORDER BY doc_id"""

  /** Kaplan–Meier CTE chain (time-to-first-high-value-purchase, right-
    * censored at last observation) — shared by q_kaplan_meier and
    * q_rmst so the step curve both integrate is ONE definition. */
  val kmChain = """WITH k AS (SELECT user_id, min(ts) AS t0,
               min(CASE WHEN event_type = 'purchase' AND value > 95.0
                        THEN ts END) AS te,
               max(ts) AS tl
            FROM events GROUP BY user_id),
      d AS (SELECT te IS NOT NULL AS obs,
               CAST(floor((epoch_us(coalesce(te, tl)) - epoch_us(t0))
                 / 3600000000.0) AS BIGINT) AS t_hours
            FROM k),
      p AS (SELECT t_hours,
               CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_events,
               CAST(sum(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_censored
            FROM d GROUP BY t_hours),
      r AS (SELECT *,
               sum(n_events + n_censored) OVER ()
                 - coalesce(sum(n_events + n_censored) OVER (ORDER BY t_hours
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n_risk
            FROM p),
      f AS (SELECT *,
               1.0 - n_events / CAST(n_risk AS DOUBLE) AS fac FROM r),
      s AS (SELECT *,
               max(CASE WHEN fac = 0.0 THEN 1 ELSE 0 END)
                 OVER (ORDER BY t_hours
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS hit0,
               sum(CASE WHEN fac > 0 THEN ln(fac) ELSE 0.0 END)
                 OVER (ORDER BY t_hours
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS lsum
            FROM f)"""

  /** Full-history SCD2 — shared by q_scd2 and q_scd2_incremental (the
    * incremental fold's contract is exact equality with this).
    */
  val scd2Sql = """
      WITH r AS (
        SELECT user_id, ts, event_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev
        FROM events),
      b AS (
        SELECT *, sum(CASE WHEN prev IS DISTINCT FROM event_type
                           THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run
        FROM r),
      runs AS (
        SELECT user_id, run, event_type,
               min(ts) AS valid_from, max(ts) AS last_ts,
               count(*) AS n_rows
        FROM b GROUP BY 1, 2, 3)
      SELECT user_id, event_type, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id
               ORDER BY valid_from) AS valid_to,
             last_ts, n_rows,
             (lead(valid_from) OVER (PARTITION BY user_id
               ORDER BY valid_from) IS NULL) AS is_current
      FROM runs ORDER BY user_id, valid_from"""

  /** Shared aggregate list of the flagship clickstream query. */
  val clickAggs: String = s"""
    count(*) AS total_events,
    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click_count,
    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view_count,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_count,
    CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup_count,
    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_count,
    CAST(count(DISTINCT $k) AS BIGINT) AS unique_k,
    round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2) AS total_revenue,
    round(avg(CASE WHEN event_type = 'view' THEN value END), 6) AS avg_view_value,
    min(CASE WHEN event_type = 'click' THEN $k END) AS primary_k,
    round(CASE WHEN sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) <> 0
      THEN CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE)
           / sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) END, 6) AS click_through_rate,
    round(CASE WHEN sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) <> 0
      THEN CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
           / sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) END, 6) AS conversion_rate"""

  /** The reference profile synthesis (G1–G4) — shared by g_profiles and
    * g_weighted_pick; mirrors graft.ops.Gen.profiles exactly.
    */
  lazy val profilesCte: String = s"""
      g AS (
        SELECT c_custkey,
               printf('user_%06d', c_custkey) AS user_id,
               CASE WHEN ${u(1)} <= 0.30 THEN 'US' WHEN ${u(1)} <= 0.42 THEN 'UK'
                    WHEN ${u(1)} <= 0.52 THEN 'DE' WHEN ${u(1)} <= 0.60 THEN 'FR'
                    WHEN ${u(1)} <= 0.68 THEN 'JP' WHEN ${u(1)} <= 0.76 THEN 'IN'
                    WHEN ${u(1)} <= 0.83 THEN 'BR' WHEN ${u(1)} <= 0.90 THEN 'CA'
                    WHEN ${u(1)} <= 0.96 THEN 'AU' ELSE 'OTHER' END AS country,
               CASE WHEN ${u(2)} <= 0.60 THEN 'free' WHEN ${u(2)} <= 0.85 THEN 'basic'
                    WHEN ${u(2)} <= 0.97 THEN 'premium' ELSE 'enterprise' END
                 AS subscription_tier,
               CAST(CASE
                 WHEN ${u(3)} <= 0.15 THEN floor(${u(4)} * 7) + 18
                 WHEN ${u(3)} <= 0.40 THEN floor(${u(4)} * 10) + 25
                 WHEN ${u(3)} <= 0.65 THEN floor(${u(4)} * 10) + 35
                 WHEN ${u(3)} <= 0.85 THEN floor(${u(4)} * 10) + 45
                 WHEN ${u(3)} <= 0.95 THEN floor(${u(4)} * 10) + 55
                 ELSE floor(${u(4)} * 16) + 65 END AS INTEGER) AS age,
               CAST(CAST(floor(-ln(${u(5)}) * 365.0) AS BIGINT) % 1095 AS INTEGER)
                 AS signup_days_ago,
               ${u(6)} AS u6
        FROM customer),
      prof AS (
        SELECT c_custkey, user_id, country, subscription_tier, age,
               signup_days_ago,
               round(least(
                 (CASE WHEN subscription_tier = 'enterprise' THEN 1.5
                       WHEN subscription_tier = 'premium' THEN 1.3
                       WHEN subscription_tier = 'basic' THEN 1.1
                       ELSE 0.9 END)
                 * (CASE WHEN age < 25 THEN 1.2 WHEN age < 35 THEN 1.1
                         WHEN age < 55 THEN 1.0 ELSE 0.8 END)
                 * (u6 + 0.5), 2.0), 6) AS activity_weight
        FROM g)"""

  /** Cluster resolution: DuckDB recursive-CTE transitive closure over the
    * SAME near-dup pair list — one oracle for both distributed CC
    * algorithms (label propagation and large-star/small-star).
    */
  /** Shared recursive-CTE prefix: the <60-doc shingle-Jaccard pair list
    * and its transitive closure `reach(id, r)` — one derivation for the
    * cluster, star-CC, and retention oracles so they can never diverge.
    */
  def clusterReachCteFor(docWhere: String, maxDf: Int,
                                 threshold: Double): String = raw"""
      WITH RECURSIVE d AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        FROM documents $docWhere),
      sh AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, w[kk] || ' ' || w[kk+1] || ' ' || w[kk+2] AS s
          FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS kk FROM d))),
      sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      kept AS (
        SELECT sh.* FROM sh JOIN (
          SELECT s FROM sh GROUP BY s HAVING count(*) <= $maxDf) ok
          ON sh.s = ok.s),
      inter AS (
        SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS i
        FROM kept l JOIN kept r ON l.s = r.s AND l.doc_id < r.doc_id
        GROUP BY l.doc_id, r.doc_id),
      pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sz sa ON id_a = sa.doc_id
        JOIN sz sb ON id_b = sb.doc_id
        WHERE round(CAST(i AS DOUBLE)/(sa.sz + sb.sz - i), 6) >= $threshold),
      nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
      reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.id)"""

  /** The <60-doc probe-subset derivation shared by the original cluster /
    * star / retention oracles.
    */
  val clusterReachCte: String =
    clusterReachCteFor("WHERE doc_id < 60", 30, 0.02)

  val clusterSelect: String = """
      SELECT id, CAST(min(r) AS BIGINT) AS component,
             (id = min(r)) AS is_canonical
      FROM reach GROUP BY id ORDER BY id"""

  val dedupClustersOracle: String = clusterReachCte + clusterSelect

  /** Full-corpus cluster oracle — no doc_id cap; threshold 0.5 / maxDf 50
    * keep the pair list (and so the recursive closure) near-dup-sized.
    */
  val dedupClustersFullOracle: String =
    clusterReachCteFor("", 50, 0.5) + clusterSelect

  /** Retention: clusters from the probe subset, keep-best (longest, ties
    * to lowest id) per cluster, every other doc a kept singleton.
    */
  val dedupRetainOracle: String = clusterReachCte + """
      , comp AS (
        SELECT id, CAST(min(r) AS BIGINT) AS component
        FROM reach GROUP BY id),
      lab AS (
        SELECT dd.doc_id, dd.n_chars AS quality,
               COALESCE(comp.component, dd.doc_id) AS component
        FROM documents dd LEFT JOIN comp ON dd.doc_id = comp.id),
      rk AS (
        SELECT *, row_number() OVER (PARTITION BY component
                 ORDER BY quality DESC, doc_id ASC) AS rn
        FROM lab)
      SELECT doc_id, component, quality, (rn = 1) AS keep
      FROM rk ORDER BY doc_id"""

  /** One oracle for both quota-cap formulations (rank window and
    * priority-histogram selection) — shared so they can never diverge.
    */
  val quotaCapOracle: String = """
      WITH r AS (
        SELECT event_id, user_id, ts,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT event_id, user_id, ts FROM r WHERE rn <= 3 ORDER BY event_id"""

  /** One oracle for both uniform-sample formulations. */
  lazy val uniformSampleOracle: String = s"""
      SELECT c_custkey, c_name FROM (
        SELECT c_custkey, c_name FROM customer
        ORDER BY ${uk("c_custkey", 35)}, c_custkey LIMIT 100)
      ORDER BY c_custkey"""

  val snapshotCte: String = """
    snap AS (
      SELECT * FROM (
        SELECT o_custkey, o_orderdate, o_totalprice, o_orderstatus,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1)"""

  /** One oracle for the as-of join however its inputs are laid out —
    * exchange-planned (q_asof_native) or bucketed-sorted zero-exchange
    * (s_bucketed_asof); both run `Retrieval.asOfJoin`.
    */
  val asofNativeOracle: String = """
      WITH probes AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      feats AS (
        SELECT user_id, ts AS fts, max(value) AS last_purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
      SELECT p.event_id, p.user_id, p.ts,
             CASE WHEN f.fts >= p.ts - INTERVAL '7 days'
               THEN f.last_purchase_value END AS last_purchase_value,
             CASE WHEN f.fts >= p.ts - INTERVAL '7 days'
               THEN f.fts END AS feature_ts
      FROM probes p ASOF LEFT JOIN feats f
        ON p.user_id = f.user_id AND p.ts >= f.fts
      ORDER BY p.event_id"""

  val zorderOracle: String = """
      SELECT count(*) AS n_rows, round(sum(value), 2) AS sum_value,
             min(event_id) AS min_event, max(event_id) AS max_event
      FROM events
      WHERE user_id BETWEEN 100 AND 400 AND value BETWEEN 50.0 AND 200.0"""

  /** Unrolled logistic-GD weight chain `e, w0, g1, w1, g2, w2, g3, w3`
    * over the embeddings table (label ≥ 5 target, intercept at x[1]).
    */
  /** The deterministic Lloyd k-means CTE chain (k=8, 3 supersteps,
    * id-ordered seeds, lowest-cluster tie rule) ending at the final
    * assignment `a3(id, cl, d2)` — shared by x_kmeans and
    * x_cluster_purity so both replay ONE definition. */
  lazy val kmeansCtes: String = {
    def assignFrom(c: String, a: String) =
      s"""$a AS (SELECT id, cl, d2 FROM (
           SELECT id, cl, d2,
                  row_number() OVER (PARTITION BY id ORDER BY d2, cl)
                    AS rn
           FROM (SELECT e.id, c.cl,
                   list_inner_product(e.v, e.v)
                     - 2.0 * list_inner_product(e.v, c.c)
                     + list_inner_product(c.c, c.c) AS d2
                 FROM e, $c c)) WHERE rn = 1)"""
    def updateFrom(a: String, c: String) =
      s"""$c AS (SELECT cl, list(m ORDER BY dim) AS c FROM (
           SELECT x.cl, x.dim, avg(x.comp) AS m FROM (
             SELECT a.cl,
                    CAST(generate_subscripts(e.v, 1) AS INTEGER) AS dim,
                    unnest(e.v) AS comp
             FROM $a a JOIN e ON a.id = e.id) x
           GROUP BY x.cl, x.dim) GROUP BY cl)"""
    s"""
      WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
      c0 AS (SELECT id AS cl, v AS c FROM e ORDER BY id LIMIT 8),
      ${assignFrom("c0", "a1")},
      ${updateFrom("a1", "c1")},
      ${assignFrom("c1", "a2")},
      ${updateFrom("a2", "c2")},
      ${assignFrom("c2", "a3")}"""
  }

  lazy val lrCtes: String = {
    val steps = (1 to 3).map { i =>
      s"""g$i AS (SELECT list(s / n ORDER BY dim) AS g FROM (
           SELECT dim, sum(r * c) AS s, CAST(count(*) AS DOUBLE) AS n
           FROM (
             SELECT 1.0 / (1.0 + exp(-list_inner_product(w.w, e.x)))
                      - CAST(e.y AS DOUBLE) AS r,
                    CAST(generate_subscripts(e.x, 1) AS INTEGER) AS dim,
                    unnest(e.x) AS c
             FROM e, w${i - 1} w) GROUP BY dim)),
      w$i AS (SELECT list_transform(generate_series(1, len(w.w)),
                i -> w.w[i] - 0.5 * g.g[i]) AS w
              FROM w${i - 1} w, g$i g)"""
    }.mkString(",\n      ")
    s"""
      WITH e AS (SELECT vec_id AS id,
          list_prepend(1.0, CAST(embedding AS DOUBLE[])) AS x,
          CAST(label >= 5 AS INT) AS y
        FROM embeddings),
      w0 AS (SELECT list_transform(x, c -> 0.0) AS w
             FROM e ORDER BY id LIMIT 1),
      $steps"""
  }

  /** The interpolated bigram-LM replay (see `x_lm_perplexity`) up to the
    * per-document table `perdoc(doc_id, n_tokens, n_oov, ce_bits)`;
    * `select` continues from there (it may open with another CTE via a
    * leading comma).
    */
  lazy val lmCtes: String = s"""
      toks AS (SELECT doc_id, lang,
              list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                t -> t <> '') AS w
            FROM documents WHERE trim(text) <> ''),
      rtok AS (SELECT doc_id, generate_subscripts(w, 1) AS pos,
                      unnest(w) AS t
               FROM toks WHERE lang = 'en'),
      runi AS (SELECT t, count(*) AS cnt FROM rtok GROUP BY t),
      vocab AS (SELECT t FROM runi ORDER BY cnt DESC, t LIMIT 100),
      rmap AS (SELECT r.doc_id, r.pos,
                      CASE WHEN v.t IS NOT NULL THEN r.t
                           ELSE '<unk>' END AS v
               FROM rtok r LEFT JOIN vocab v ON r.t = v.t),
      uni AS (SELECT v, count(*) AS cu FROM rmap GROUP BY v),
      n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM rmap),
      vn AS (SELECT count(*) + 1.0 AS vp FROM vocab),
      big AS (SELECT pv, v, count(*) AS cb FROM (
                SELECT lag(v) OVER (PARTITION BY doc_id ORDER BY pos) AS pv,
                       v FROM rmap)
              WHERE pv IS NOT NULL GROUP BY pv, v),
      stok AS (SELECT doc_id, generate_subscripts(w, 1) AS pos,
                      unnest(w) AS t FROM toks),
      smap AS (SELECT s.doc_id, s.pos,
                      CASE WHEN v.t IS NOT NULL THEN s.t
                           ELSE '<unk>' END AS v,
                      CASE WHEN v.t IS NULL THEN 1 ELSE 0 END AS oov
               FROM stok s LEFT JOIN vocab v ON s.t = v.t),
      sprev AS (SELECT doc_id, pos, v, oov,
                  lag(v) OVER (PARTITION BY doc_id ORDER BY pos) AS pv
                FROM smap),
      scored AS (SELECT s.doc_id, s.oov,
             (coalesce(u.cu, 0) + 1.0)
               / ((SELECT n FROM n) + (SELECT vp FROM vn)) AS pu,
             s.pv, coalesce(b.cb, 0) AS cb,
             greatest(coalesce(up.cu, 0), 1) AS cup
           FROM sprev s
             LEFT JOIN uni u ON s.v = u.v
             LEFT JOIN uni up ON s.pv = up.v
             LEFT JOIN big b ON s.pv = b.pv AND s.v = b.v),
      perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(oov) AS BIGINT) AS n_oov,
             round(avg(-log2(CASE WHEN pv IS NULL THEN pu
               ELSE 0.5 * CAST(cb AS DOUBLE) / cup + 0.5 * pu END)), 6)
               AS ce_bits
           FROM scored GROUP BY doc_id)"""

  /** The ExactSubstr replay (see `x_dup_substrings`) up to the merged
    * per-doc span table `sp(doc_id, isle, span_start, span_end)`.
    */
  lazy val dupSpanCtes: String = """
      base AS (SELECT doc_id, text AS t FROM documents
               WHERE len(text) >= 20),
      g AS (SELECT doc_id, pos, substr(t, pos, 20) AS gram
            FROM base, LATERAL unnest(generate_series(1, len(t) - 19))
              AS u(pos)),
      s AS (SELECT gram, count(*) AS c,
                   min(doc_id * 1000000 + pos) AS f
            FROM g GROUP BY gram),
      d AS (SELECT g.doc_id, g.pos FROM g JOIN s ON g.gram = s.gram
            WHERE s.c >= 2 AND g.doc_id * 1000000 + g.pos <> s.f),
      isl AS (SELECT doc_id, pos,
               CASE WHEN pos > coalesce(max(pos + 20)
                    OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1) THEN 1 ELSE 0 END AS nf
             FROM d),
      grp AS (SELECT doc_id, pos,
               sum(nf) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isle
             FROM isl),
      sp AS (SELECT doc_id, isle, CAST(min(pos) AS BIGINT) AS span_start,
                    CAST(max(pos) + 20 AS BIGINT) AS span_end
             FROM grp GROUP BY doc_id, isle)"""

  /** The winnowing fingerprint replay (see `x_shared_spans`) up to the
    * df-capped fingerprint table `sel(doc_id, gram)`.
    */
  lazy val spanCtes: String = """
      norm AS (SELECT doc_id,
              regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS s
            FROM documents WHERE trim(text) <> ''),
      p AS (SELECT doc_id, s,
              unnest(generate_series(1, greatest(len(s) - 31, 0))) AS pos
            FROM norm),
      kg AS (SELECT doc_id, pos, substr(s, pos, 32) AS gram,
               list_reduce(list_transform(
                   string_split_regex(substr(s, pos, 32), ''),
                   c -> CAST(ascii(c) AS BIGINT)),
                 (acc, c) -> (acc * 257 + c) % 2147483647) AS h
             FROM p),
      enc AS (SELECT doc_id, pos, h * 10000 + (9999 - pos) AS e FROM kg),
      win AS (SELECT doc_id, pos,
                min(e) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS we
              FROM enc),
      fp0 AS (SELECT DISTINCT doc_id, 9999 - (we % 10000) AS pos
              FROM win WHERE pos >= 16),
      fp AS (SELECT f.doc_id, f.pos, k.gram FROM fp0 f
             JOIN kg k ON f.doc_id = k.doc_id AND f.pos = k.pos),
      gdf AS (SELECT gram, count(DISTINCT doc_id) AS df
              FROM fp GROUP BY gram),
      sel AS (SELECT DISTINCT f.doc_id, f.gram FROM fp f
              JOIN gdf g ON f.gram = g.gram WHERE g.df BETWEEN 2 AND 5)"""

  /** Unrolled power-iteration oracle for `Linalg.pcaPowerTop`: correlation
    * entries once (diagonal is the literal 1.0 in both engines), then per
    * iteration one mat-vec CTE (`w{t}`) and one normalize CTE (`v{t}`),
    * each MATERIALIZED so DuckDB executes the chain instead of inlining it
    * into a d^T-node expression. Dot products are written in the exact
    * left-to-right order the Scala fold computes.
    */
  /** The shared iteration chain: given CTE SQL (ending with a `c` CTE
    * exposing c{i}_{j} off-diagonal correlation columns), unroll the
    * fixed power iteration and emit the 4-row loading table.
    */
  def pcaPowerChainSql(cols: Seq[String], iterations: Int,
                               corrCtes: String): String = {
    val d = cols.size
    def cRef(i: Int, j: Int): String =
      if (i == j) "1.0" else if (i < j) s"c.c${i}_$j" else s"c.c${j}_$i"
    // normalized ramp start vector (see Linalg.powerIterate: the uniform
    // start is orthogonal to the dominant eigenvector of corr = -1 pairs)
    val rampSq = (1 to d).map(j => s"$j.0 * $j.0").mkString(" + ")
    val v0 = (0 until d).map(i =>
      s"${i + 1}.0 / sqrt($rampSq) AS x$i").mkString(", ")
    def matVec(prev: String) = (0 until d).map { i =>
      (0 until d).map(j => s"${cRef(i, j)} * $prev.x$j")
        .mkString(" + ") + s" AS w$i"
    }.mkString(",\n               ")
    val steps = (1 to iterations).map { t =>
      val prev = s"v${t - 1}"
      s"""w$t AS MATERIALIZED (
        SELECT ${matVec(prev)}
        FROM c, $prev),
      v$t AS MATERIALIZED (
        SELECT ${(0 until d).map(i =>
          s"w$i / sqrt(${(0 until d).map(j => s"w$j * w$j")
            .mkString(" + ")}) AS x$i").mkString(",\n               ")}
        FROM w$t)"""
    }.mkString(",\n      ")
    val vf = s"v$iterations"
    val lambda = (0 until d).map(i => s"$vf.x$i * f.w$i").mkString(" + ")
    val rows = (0 until d).map { i =>
      s"SELECT CAST($i AS BIGINT) AS feature_idx, '${cols(i)}' AS feature, " +
        s"round(s.sgn * $vf.x$i, 6) AS loading, " +
        "round(l.lam, 6) AS eigenvalue, " +
        s"round(l.lam / ${d}.0, 6) AS explained_ratio " +
        s"FROM $vf, s, l"
    }.mkString("\n      UNION ALL ")
    s"""
      WITH $corrCtes,
      v0 AS MATERIALIZED (SELECT $v0),
      $steps,
      f AS MATERIALIZED (
        SELECT ${matVec(vf)}
        FROM c, $vf),
      l AS MATERIALIZED (SELECT $lambda AS lam FROM $vf, f),
      s AS MATERIALIZED (
        SELECT CASE WHEN $vf.x0 < 0 THEN -1.0 ELSE 1.0 END AS sgn FROM $vf)
      $rows
      ORDER BY feature_idx"""
  }

  def pcaPowerSql(table: String, cols: Seq[String],
                          iterations: Int): String = {
    val corrSelect = (for { i <- 0 until cols.size; j <- (i + 1) until cols.size }
      yield s"corr(CAST(${cols(i)} AS DOUBLE), CAST(${cols(j)} AS DOUBLE)) " +
        s"AS c${i}_$j").mkString(",\n               ")
    pcaPowerChainSql(cols, iterations,
      s"""c AS MATERIALIZED (
        SELECT $corrSelect
        FROM $table)""")
  }

  /** Incremental-PCA oracle: per-batch raw-moment partials (n, Σx, Σxy)
    * merged by addition, then the SAME raw-moment corr formula
    * Linalg.pcaPowerTopIncremental computes, feeding the shared iteration
    * chain. `exprs` are the (already scaled) column expressions; `splits`
    * are WHERE predicates carving the source into disjoint batches.
    */
  def pcaPowerIncSql(table: String, exprs: Seq[String],
                             names: Seq[String], splits: Seq[String],
                             iterations: Int): String = {
    val d = exprs.size
    val src = exprs.zipWithIndex
      .map { case (e, i) => s"$e AS e$i" }.mkString(", ")
    val partial = (Seq("CAST(count(*) AS DOUBLE) AS n") ++
      (0 until d).map(i => s"sum(e$i) AS s$i") ++
      (for { i <- 0 until d; j <- i until d } yield
        s"sum(e$i * e$j) AS s${i}_$j")).mkString(",\n               ")
    val batches = splits.zipWithIndex.map { case (w, b) =>
      s"""b$b AS (SELECT $partial
             FROM src WHERE $w)"""
    }.mkString(",\n      ")
    val mergeCols = (Seq("n") ++ (0 until d).map(i => s"s$i") ++
      (for { i <- 0 until d; j <- i until d } yield s"s${i}_$j"))
      .map(cn => splits.indices.map(b => s"b$b.$cn").mkString(" + ") +
        s" AS $cn").mkString(",\n               ")
    val corrSelect = (for { i <- 0 until d; j <- (i + 1) until d } yield
      s"(n * s${i}_$j - s$i * s$j) / " +
        s"(sqrt(n * s${i}_$i - s$i * s$i) * " +
        s"sqrt(n * s${j}_$j - s$j * s$j)) AS c${i}_$j")
      .mkString(",\n               ")
    pcaPowerChainSql(names, iterations,
      s"""src AS (SELECT ${src}, * FROM $table),
      $batches,
      m AS MATERIALIZED (
        SELECT $mergeCols
        FROM ${splits.indices.map(b => s"b$b").mkString(", ")}),
      c AS MATERIALIZED (
        SELECT $corrSelect
        FROM m)""")
  }

  /** Unrolled Markov steady-state oracle: transition counts via the
    * lead() replay, exact-integer-division probabilities into a wide
    * 1-row matrix CTE (self-loop completion for rows with no outgoing
    * mass), then one materialized (mat-vec + normalize) CTE pair per
    * power step — Retrieval.markovSteadyState's arithmetic verbatim.
    */
  def markovSql(states: Seq[String], iterations: Int): String = {
    val d = states.size
    def q(s: String) = s.replace("'", "''")
    val pCells = (for { i <- 0 until d; j <- 0 until d } yield {
      val si = q(states(i)); val sj = q(states(j))
      s"""CASE WHEN (SELECT tn FROM tot WHERE f = '$si') IS NULL
           THEN ${if (i == j) "1.0" else "0.0"}
           ELSE coalesce((SELECT CAST(n AS DOUBLE) FROM c
                          WHERE f = '$si' AND t = '$sj'), 0.0)
                / (SELECT tn FROM tot WHERE f = '$si') END AS p${i}_$j"""
    }).mkString(",\n          ")
    val v0 = (0 until d).map(i => s"1.0 / $d.0 AS x$i").mkString(", ")
    def matVec(prev: String) = (0 until d).map { j =>
      (0 until d).map(i => s"P.p${i}_$j * $prev.x$i").mkString(" + ") +
        s" AS w$j"
    }.mkString(",\n            ")
    val steps = (1 to iterations).map { t =>
      val prev = s"v${t - 1}"
      s"""w$t AS MATERIALIZED (
          SELECT ${matVec(prev)}
          FROM P, $prev),
      v$t AS MATERIALIZED (
          SELECT ${(0 until d).map(j =>
        s"w$j / (${(0 until d).map(i => s"w$i").mkString(" + ")}) AS x$j")
        .mkString(",\n            ")}
          FROM w$t)"""
    }.mkString(",\n      ")
    val vf = s"v$iterations"
    val rows = (0 until d).map(i =>
      s"SELECT '${q(states(i))}' AS state, round($vf.x$i, 6) " +
        s"AS stationary FROM $vf").mkString("\n      UNION ALL ")
    s"""
      WITH pairs AS (
        SELECT event_type AS f,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS t
        FROM events),
      c AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM pairs
            WHERE t IS NOT NULL GROUP BY f, t),
      tot AS (SELECT f, CAST(sum(n) AS BIGINT) AS tn FROM c GROUP BY f),
      P AS MATERIALIZED (
        SELECT $pCells),
      v0 AS MATERIALIZED (SELECT $v0),
      $steps
      $rows
      ORDER BY state"""
  }

  /** Entropy-rate oracle: the markovSql prelude + unrolled power steps,
    * then per-state conditional entropies and the πᵢ·Hᵢ fold in the
    * exact ascending orders the Scala driver uses; ln d is the SAME
    * literal [[graft.ops.Retrieval.lnStatesLiteral]] computes.
    */
  def markovEntropySql(states: Seq[String],
                               iterations: Int): String = {
    val d = states.size
    def q(s: String) = s.replace("'", "''")
    val pCells = (for { i <- 0 until d; j <- 0 until d } yield {
      val si = q(states(i)); val sj = q(states(j))
      s"""CASE WHEN (SELECT tn FROM tot WHERE f = '$si') IS NULL
           THEN ${if (i == j) "1.0" else "0.0"}
           ELSE coalesce((SELECT CAST(n AS DOUBLE) FROM c
                          WHERE f = '$si' AND t = '$sj'), 0.0)
                / (SELECT tn FROM tot WHERE f = '$si') END AS p${i}_$j"""
    }).mkString(",\n          ")
    val v0 = (0 until d).map(i => s"1.0 / $d.0 AS x$i").mkString(", ")
    def matVec(prev: String) = (0 until d).map { j =>
      (0 until d).map(i => s"P.p${i}_$j * $prev.x$i").mkString(" + ") +
        s" AS w$j"
    }.mkString(",\n            ")
    val steps = (1 to iterations).map { t =>
      val prev = s"v${t - 1}"
      s"""w$t AS MATERIALIZED (
          SELECT ${matVec(prev)}
          FROM P, $prev),
      v$t AS MATERIALIZED (
          SELECT ${(0 until d).map(j =>
        s"w$j / (${(0 until d).map(i => s"w$i").mkString(" + ")}) AS x$j")
        .mkString(",\n            ")}
          FROM w$t)"""
    }.mkString(",\n      ")
    val vf = s"v$iterations"
    val hCols = (0 until d).map { i =>
      val terms = (0 until d).map(j =>
        s"CASE WHEN p${i}_$j > 0 THEN p${i}_$j * ln(p${i}_$j) " +
          s"ELSE 0.0 END").mkString(" + ")
      s"-($terms) AS h$i"
    }.mkString(",\n            ")
    val rateExpr = (0 until d).map(i => s"$vf.x$i * hs.h$i")
      .mkString(" + ")
    val lnD = graft.ops.Retrieval.lnStatesLiteral(d)
    val rows = (0 until d).map(i =>
      s"SELECT '${q(states(i))}' AS state, round($vf.x$i, 6) " +
        s"AS stationary, round(hs.h$i, 6) AS h_state, " +
        s"round(er.rate, 6) AS entropy_rate, " +
        s"round(1.0 - er.rate / $lnD, 6) AS predictability " +
        s"FROM $vf, hs, er").mkString("\n      UNION ALL ")
    s"""
      WITH pairs AS (
        SELECT event_type AS f,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS t
        FROM events),
      c AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM pairs
            WHERE t IS NOT NULL GROUP BY f, t),
      tot AS (SELECT f, CAST(sum(n) AS BIGINT) AS tn FROM c GROUP BY f),
      P AS MATERIALIZED (
        SELECT $pCells),
      v0 AS MATERIALIZED (SELECT $v0),
      $steps,
      hs AS MATERIALIZED (SELECT $hCols FROM P),
      er AS MATERIALIZED (SELECT ($rateExpr) AS rate FROM $vf, hs)
      $rows
      ORDER BY state"""
  }

  /** Unrolled hitting-steps oracle: the markovSql transition matrix, the
    * target row pinned to 0, one materialized CTE per value-iteration
    * step h ← 1 + P·h.
    */
  def markovHitSql(states: Seq[String], target: String,
                           iterations: Int): String = {
    val d = states.size
    val ti = states.indexOf(target)
    require(ti >= 0, s"markovHitSql: unknown target $target")
    def q(s: String) = s.replace("'", "''")
    val pCells = (for { i <- 0 until d; j <- 0 until d } yield {
      val si = q(states(i)); val sj = q(states(j))
      s"""CASE WHEN (SELECT tn FROM tot WHERE f = '$si') IS NULL
           THEN ${if (i == j) "1.0" else "0.0"}
           ELSE coalesce((SELECT CAST(n AS DOUBLE) FROM c
                          WHERE f = '$si' AND t = '$sj'), 0.0)
                / (SELECT tn FROM tot WHERE f = '$si') END AS p${i}_$j"""
    }).mkString(",\n          ")
    val h0 = (0 until d).map(i => s"0.0 AS x$i").mkString(", ")
    val steps = (1 to iterations).map { t =>
      val prev = s"h${t - 1}"
      s"""h$t AS MATERIALIZED (
          SELECT ${(0 until d).map { i =>
        if (i == ti) s"0.0 AS x$i"
        else "1.0 + (" + (0 until d).map(j =>
          s"P.p${i}_$j * $prev.x$j").mkString(" + ") + s") AS x$i"
      }.mkString(",\n            ")}
          FROM P, $prev)"""
    }.mkString(",\n      ")
    val hf = s"h$iterations"
    val rows = (0 until d).map(i =>
      s"SELECT '${q(states(i))}' AS state, round($hf.x$i, 6) " +
        s"AS expected_steps FROM $hf").mkString("\n      UNION ALL ")
    s"""
      WITH pairs AS (
        SELECT event_type AS f,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS t
        FROM events),
      c AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM pairs
            WHERE t IS NOT NULL GROUP BY f, t),
      tot AS (SELECT f, CAST(sum(n) AS BIGINT) AS tn FROM c GROUP BY f),
      P AS MATERIALIZED (
        SELECT $pCells),
      h0 AS MATERIALIZED (SELECT $h0),
      $steps
      $rows
      ORDER BY state"""
  }

  /** Pinball-loss oracle generator: per-quantile UNION arms with the
    * EXACT Scala-computed q and (1−q) doubles interpolated (forced to
    * DOUBLE so DuckDB's decimal literals never change the arithmetic),
    * losses on the milli-centi lattice like Eval.pinballLoss.
    */
  def pinballSql(quantiles: Seq[Double], season: Int): String = {
    val arms = quantiles.map { q =>
      s"""SELECT CAST($q AS DOUBLE) AS quantile,
             CASE WHEN vc >= fc
               THEN CAST(round(CAST($q AS DOUBLE) * (vc - fc) * 1000, 0)
                    AS BIGINT)
               ELSE CAST(round(CAST(${1.0 - q} AS DOUBLE) * (fc - vc)
                    * 1000, 0) AS BIGINT) END AS lm
           FROM wf"""
    }.mkString("\n      UNION ALL ")
    s"""
      WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
              CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS vc
            FROM orders GROUP BY 1),
      wf AS (SELECT * FROM (
               SELECT day, vc, lag(vc, $season) OVER (ORDER BY day) AS fc
               FROM daily) WHERE fc IS NOT NULL),
      arms AS ($arms)
      SELECT quantile, CAST(count(*) AS BIGINT) AS n_days,
             round(CAST(sum(lm) AS BIGINT) / 100000.0 / count(*), 6)
               AS mean_pinball
      FROM arms GROUP BY quantile ORDER BY quantile"""
  }

  /** JL-projection recall oracle: the IDENTICAL literal ±1 sign matrix
    * (Similarity.jlSigns — one shared constant, not two PRNGs), each
    * vector projected once, then the matryoshka-style recall compare of
    * projected top-k against full-dimension brute force.
    */
  def jlRecallSql(d: Int, p: Int, k: Int): String = {
    val m = graft.ops.Similarity.jlSigns(d, p)
    val mLit = m.map(_.map(x => if (x > 0) "1.0" else "-1.0")
      .mkString("[", ", ", "]")).mkString("[", ",\n            ", "]")
    s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
      pr AS (SELECT vec_id, v,
               list_transform($mLit,
                 r -> list_inner_product(r, v)) AS pv
             FROM e),
      q AS (SELECT vec_id AS query_id, v AS qv, pv AS qpv FROM pr
            WHERE vec_id < 5),
      scored AS (SELECT q.query_id, pr.vec_id AS cand_id,
                        q.qv, pr.v, q.qpv, pr.pv
                 FROM pr CROSS JOIN q WHERE pr.vec_id <> q.query_id),
      truth AS (SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id, row_number() OVER (
              PARTITION BY query_id
              ORDER BY list_inner_product(qv, v)
                / (sqrt(list_inner_product(qv, qv))
                   * sqrt(list_inner_product(v, v))) DESC,
              cand_id ASC) AS rank
          FROM scored) WHERE rank <= $k),
      topp AS (SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id, row_number() OVER (
              PARTITION BY query_id
              ORDER BY list_inner_product(qpv, pv)
                / (sqrt(list_inner_product(qpv, qpv))
                   * sqrt(list_inner_product(pv, pv))) DESC,
              cand_id ASC) AS rank
          FROM scored) WHERE rank <= $k),
      hits AS (SELECT t.query_id,
                 sum(CASE WHEN u.cand_id IS NULL THEN 0 ELSE 1 END)
                   AS n_hits
               FROM topp t LEFT JOIN truth u
                 ON t.query_id = u.query_id AND t.cand_id = u.cand_id
               GROUP BY 1)
      SELECT CAST($p AS INTEGER) AS proj_dims, query_id,
             CAST(n_hits AS BIGINT) AS n_hits,
             round(CAST(n_hits AS DOUBLE) / $k, 6) AS recall
      FROM hits ORDER BY query_id"""
  }

  /** Unrolled removal-effect attribution oracle: journeys truncate at
    * the first purchase and frame as start → touches → conv|null; one
    * absorption chain per variant (full + each channel pinned to 0),
    * every value-iteration step a materialized CTE; removal effects and
    * shares fold in sorted-channel literal order exactly like
    * Eval.removalAttribution's driver fold.
    */
  def removalAttributionSql(channels: Seq[String],
                                    iterations: Int): String = {
    val states = (channels ++ Seq("conv", "null", "start")).sorted
    val d = states.size
    val ci = states.indexOf("conv")
    val ni = states.indexOf("null")
    val si = states.indexOf("start")
    def q(s: String) = s.replace("'", "''")
    val pCells = (for { i <- 0 until d; j <- 0 until d } yield {
      val sti = q(states(i)); val stj = q(states(j))
      s"""CASE WHEN (SELECT tn FROM tot WHERE f = '$sti') IS NULL
           THEN ${if (i == j) "1.0" else "0.0"}
           ELSE coalesce((SELECT CAST(n AS DOUBLE) FROM c
                          WHERE f = '$sti' AND t = '$stj'), 0.0)
                / (SELECT tn FROM tot WHERE f = '$sti') END AS p${i}_$j"""
    }).mkString(",\n          ")
    // one absorption variant per pinned index (-1 = full chain)
    def variant(tag: String, removedIdx: Int): String = {
      val a0 = (0 until d).map(i =>
        s"${if (i == ci) "1.0" else "0.0"} AS x$i").mkString(", ")
      val steps = (1 to iterations).map { t =>
        val prev = s"a${tag}_${t - 1}"
        s"""a${tag}_$t AS MATERIALIZED (
          SELECT ${(0 until d).map { i =>
          if (i == ci) s"1.0 AS x$i"
          else if (i == ni || i == removedIdx) s"0.0 AS x$i"
          else (0 until d).map(j => s"P.p${i}_$j * $prev.x$j")
            .mkString(" + ") + s" AS x$i"
        }.mkString(",\n            ")}
          FROM P, $prev)"""
      }.mkString(",\n      ")
      s"""a${tag}_0 AS MATERIALIZED (SELECT $a0),
      $steps"""
    }
    val chansSorted = channels.sorted
    val variants = (variant("f", -1) +: chansSorted.zipWithIndex.map {
      case (ch, m) => variant(s"r$m", states.indexOf(ch))
    }).mkString(",\n      ")
    val effCols = chansSorted.indices.map { m =>
      s"""CASE WHEN (SELECT x$si FROM af_$iterations) > 0.0
           THEN 1.0 - (SELECT x$si FROM ar${m}_$iterations)
                / (SELECT x$si FROM af_$iterations)
           ELSE 0.0 END AS r$m""" }.mkString(",\n            ")
    val totExpr = chansSorted.indices.map(m => s"r$m").mkString(" + ")
    val rows = chansSorted.zipWithIndex.map { case (ch, m) =>
      s"""SELECT '${q(ch)}' AS channel,
             round((SELECT x$si FROM af_$iterations), 6) AS p_conv_full,
             round((SELECT x$si FROM ar${m}_$iterations), 6)
               AS p_conv_removed,
             round(r$m, 6) AS removal_effect,
             round(CASE WHEN $totExpr > 0.0
               THEN r$m / ($totExpr) ELSE 0.0 END, 6) AS attribution
      FROM eff""" }.mkString("\n      UNION ALL ")
    s"""
      WITH seq AS (SELECT user_id, ts, event_id, event_type,
              sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS cp
            FROM events),
      j AS (SELECT user_id, ts, event_id,
              CASE WHEN event_type = 'purchase' THEN 'conv'
                   ELSE event_type END AS s
            FROM seq
            WHERE cp - (CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  = 0),
      p0 AS (SELECT user_id, s,
              lag(s) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS prev,
              lead(s) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS nxt
            FROM j),
      pairs AS (SELECT 'start' AS f, s AS t FROM p0 WHERE prev IS NULL
        UNION ALL SELECT s, nxt FROM p0 WHERE nxt IS NOT NULL
        UNION ALL SELECT s, 'null' FROM p0
                  WHERE nxt IS NULL AND s <> 'conv'),
      c AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM pairs
            GROUP BY f, t),
      tot AS (SELECT f, CAST(sum(n) AS BIGINT) AS tn FROM c GROUP BY f),
      P AS MATERIALIZED (
        SELECT $pCells),
      $variants,
      eff AS MATERIALIZED (SELECT $effCols)
      $rows
      ORDER BY channel"""
  }

  /** Unrolled absorption oracle: win row pinned 1, lose row pinned 0,
    * a ← P·a per materialized step.
    */
  def markovAbsorbSql(states: Seq[String], win: String,
                              lose: String, iterations: Int): String = {
    val d = states.size
    val wi = states.indexOf(win)
    val li = states.indexOf(lose)
    require(wi >= 0 && li >= 0 && wi != li,
      s"markovAbsorbSql: bad win/lose $win/$lose")
    def q(s: String) = s.replace("'", "''")
    val pCells = (for { i <- 0 until d; j <- 0 until d } yield {
      val si = q(states(i)); val sj = q(states(j))
      s"""CASE WHEN (SELECT tn FROM tot WHERE f = '$si') IS NULL
           THEN ${if (i == j) "1.0" else "0.0"}
           ELSE coalesce((SELECT CAST(n AS DOUBLE) FROM c
                          WHERE f = '$si' AND t = '$sj'), 0.0)
                / (SELECT tn FROM tot WHERE f = '$si') END AS p${i}_$j"""
    }).mkString(",\n          ")
    val a0 = (0 until d).map(i =>
      s"${if (i == wi) "1.0" else "0.0"} AS x$i").mkString(", ")
    val steps = (1 to iterations).map { t =>
      val prev = s"a${t - 1}"
      s"""a$t AS MATERIALIZED (
          SELECT ${(0 until d).map { i =>
        if (i == wi) s"1.0 AS x$i"
        else if (i == li) s"0.0 AS x$i"
        else (0 until d).map(j => s"P.p${i}_$j * $prev.x$j")
          .mkString(" + ") + s" AS x$i"
      }.mkString(",\n            ")}
          FROM P, $prev)"""
    }.mkString(",\n      ")
    val af = s"a$iterations"
    val rows = (0 until d).map(i =>
      s"SELECT '${q(states(i))}' AS state, round($af.x$i, 6) " +
        s"AS p_win_first FROM $af").mkString("\n      UNION ALL ")
    s"""
      WITH pairs AS (
        SELECT event_type AS f,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS t
        FROM events),
      c AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM pairs
            WHERE t IS NOT NULL GROUP BY f, t),
      tot AS (SELECT f, CAST(sum(n) AS BIGINT) AS tn FROM c GROUP BY f),
      P AS MATERIALIZED (
        SELECT $pCells),
      a0 AS MATERIALIZED (SELECT $a0),
      $steps
      $rows
      ORDER BY state"""
  }

  /** Unrolled MMR oracle: cosine pool vs query vec 0, pairwise micro-unit
    * sims, one CTE pair (selection + accumulated set) per greedy step —
    * the election runs in EXACT tenth-micro integers like
    * Similarity.mmrDiversify.
    */
  def mmrSql(poolK: Int, selectK: Int, lamT: Int): String = {
    val steps = (1 to selectK).map { i =>
      val prev = if (i == 1) "" else s"sel${i - 1}"
      val notIn =
        if (i == 1) "" else s"WHERE pm.id NOT IN (SELECT id FROM $prev)"
      val maxSim =
        if (i == 1) "0"
        else s"coalesce((SELECT max(simu) FROM simt WHERE simt.ia = pm.id " +
          s"AND simt.ib IN (SELECT id FROM $prev)), 0)"
      val sel =
        if (i == 1) s"sel1 AS (SELECT id FROM s1)"
        else s"sel$i AS (SELECT id FROM sel${i - 1} " +
          s"UNION ALL SELECT id FROM s$i)"
      s"""s$i AS (
        SELECT id, rel, mmr FROM (
          SELECT pm.id, pm.rel,
                 $lamT * pm.relu - ${10 - lamT} * $maxSim AS mmr
          FROM pm $notIn)
        ORDER BY mmr DESC, id LIMIT 1),
      $sel"""
    }.mkString(",\n      ")
    val out = (1 to selectK).map(i =>
      s"SELECT CAST($i AS BIGINT) AS pick, id AS vec_id, rel AS relevance, " +
        s"CAST(mmr AS BIGINT) AS mmr_score_e7 FROM s$i")
      .mkString("\n      UNION ALL ")
    s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      scored AS (
        SELECT e.vec_id AS id, e.v,
               list_inner_product(q.qv, e.v)
                 / (sqrt(list_inner_product(q.qv, q.qv))
                    * sqrt(list_inner_product(e.v, e.v))) AS cos
        FROM e CROSS JOIN q WHERE e.vec_id <> 0),
      pool AS (SELECT id, v, cos,
                 row_number() OVER (ORDER BY cos DESC, id) AS rnk
               FROM scored QUALIFY rnk <= $poolK),
      pm AS (SELECT id, round(cos, 6) AS rel,
               CAST(round(cos * 1000000) AS BIGINT) AS relu
             FROM pool),
      simt AS (
        SELECT a.id AS ia, b.id AS ib,
               CAST(round(list_inner_product(a.v, b.v)
                 / (sqrt(list_inner_product(a.v, a.v))
                    * sqrt(list_inner_product(b.v, b.v))) * 1000000)
                 AS BIGINT) AS simu
        FROM pool a JOIN pool b ON a.id <> b.id),
      $steps
      $out
      ORDER BY pick"""
  }

  def spanSql(select: String): String =
    s"\n      WITH $spanCtes\n      $select"

  def lmSql(select: String): String =
    s"\n      WITH $lmCtes\n      $select"

  /** BPE training replayed as dynamically-parameterized unrolled
    * supersteps (the PageRank/k-means unrolling precedent, except each
    * superstep's rewrite pattern is COMPUTED by the previous step's
    * argmax): `ws{i}` re-segments the word-frequency table under merge i,
    * `d{i}` applies the same merge to whole documents (word boundaries
    * marked chr(1) — merges are trained per word so no pattern can cross
    * one). The three-`replace` space-doubling chain is byte-identical to
    * `Bpe.applyMerge`; tie-break and pair counting mirror
    * `Bpe.trainMergesLocal` (count desc, pair ascending, overlapping
    * adjacent occurrences).
    */
  lazy val bpeCtes: String = {
    val steps = (1 to graft.ops.Bpe.OracleK).map { i =>
      s"""
      p$i AS (SELECT p[1] AS l, p[2] AS r, sum(freq) AS cnt FROM (
          SELECT unnest(list_zip(syms, syms[2:])) AS p, freq FROM (
            SELECT string_split(trim(s), ' ') AS syms, freq FROM ws${i - 1}))
        WHERE p[2] IS NOT NULL GROUP BY 1, 2),
      m$i AS (SELECT l, r FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
      ws$i AS (SELECT replace(replace(replace(s, ' ', '  '),
          (SELECT ' '||l||'  '||r||' ' FROM m$i),
          (SELECT ' '||l||r||' ' FROM m$i)), '  ', ' ') AS s, freq
        FROM ws${i - 1}),
      d$i AS (SELECT doc_id, n_words, norm,
          replace(replace(replace(s, ' ', '  '),
            (SELECT ' '||l||'  '||r||' ' FROM m$i),
            (SELECT ' '||l||r||' ' FROM m$i)), '  ', ' ') AS s
        FROM d${i - 1})"""
    }.mkString(",")
    s"""
      w0 AS (SELECT w, count(*) AS freq FROM (
          SELECT unnest(list_filter(string_split_regex(trim(lower(text)),
            '\\s+'), t -> t <> '')) AS w FROM documents) GROUP BY w),
      ws0 AS (SELECT ' '||trim(regexp_replace(w, '(.)', '\\1 ', 'g'))||' '
               AS s, freq FROM w0),
      d0 AS (SELECT doc_id,
          CAST(len(list_filter(string_split_regex(trim(lower(text)),
            '\\s+'), t -> t <> '')) AS BIGINT) AS n_words,
          regexp_replace(trim(lower(text)), '\\s+', '', 'g') AS norm,
          ' '||trim(regexp_replace(regexp_replace(trim(lower(text)),
            '\\s+', chr(1), 'g'), '(.)', '\\1 ', 'g'))||' ' AS s
        FROM documents WHERE trim(text) <> ''),$steps"""
  }

  def bpeSql(select: String): String =
    s"\n      WITH $bpeCtes\n      $select"

  /** WordPiece trainer + greedy-maxmatch replay: frequency-ranked
    * vocabulary on the distinct-word grain (top-64 per form + forced
    * single characters; ties freq DESC, piece ASC — mirrors
    * `Bpe.wordPieceVocabDf`), then maxmatch unrolled to a fixed depth
    * of 12 (each step consumes ≥ 1 character; the Spark side fail-loud
    * guards word length ≤ 12, so depth 12 always finishes). The greedy
    * "longest piece matching here" is the correlated
    * max(length(piece)) — single chars are force-included so it never
    * returns NULL.
    */
  lazy val wordPieceCtes: String = {
    val steps = (1 to 12).map { i =>
      s"""wps$i AS (SELECT w,
            CASE WHEN pos >= length(w) THEN pos ELSE pos + (
              SELECT max(length(v.piece)) FROM wpv v
              WHERE v.is_continuation = (pos > 0)
                AND v.piece = substr(w, pos + 1, length(v.piece))) END
              AS pos,
            CASE WHEN pos >= length(w) THEN ntok ELSE ntok + 1 END
              AS ntok
          FROM wps${i - 1})"""
    }.mkString(",\n      ")
    s"""wpw AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS f
            FROM (SELECT unnest(list_filter(string_split_regex(
              trim(lower(text)), '\\s+'), t -> t <> '')) AS w
              FROM documents) GROUP BY w),
      wpp AS (SELECT substr(w, i + 1, l) AS piece,
              i > 0 AS is_continuation, f
            FROM (SELECT w, f, i,
                    unnest(range(1, least(6, length(w) - i) + 1)) AS l
                  FROM (SELECT w, f, unnest(range(0, length(w))) AS i
                        FROM wpw))),
      wpf AS (SELECT piece, is_continuation,
              CAST(sum(f) AS BIGINT) AS freq
            FROM wpp GROUP BY 1, 2),
      wpv AS MATERIALIZED (SELECT piece, is_continuation,
              CAST(max(freq) AS BIGINT) AS freq FROM (
              SELECT piece, is_continuation, freq FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY is_continuation
                  ORDER BY freq DESC, piece) AS rn FROM wpf)
              WHERE rn <= 64
              UNION ALL
              SELECT piece, is_continuation, freq FROM wpf
              WHERE length(piece) = 1) GROUP BY 1, 2),
      wps0 AS (SELECT w, 0 AS pos, 0 AS ntok FROM wpw),
      $steps"""
  }

  def wordPieceSql(select: String): String =
    s"\n      WITH $wordPieceCtes\n      $select"

  /** Unigram-LM trainer + Viterbi replay (the wordPiece precedent taken
    * to the harder tokenizer): seed substring counts on the distinct-word
    * grain, prune to the alphabet + top-200 multi-char pieces (count
    * DESC, piece ASC — mirrors `Unigram.prune`), commit each piece's
    * ln(cnt/total) to the 1e-9 lattice as a BIGINT, then replay the
    * hard-EM rounds: the Viterbi DP is unrolled CELL PER CELL to the
    * fail-loud word-length bound of 12 (each cell picks max score over
    * the ≤4 pieces ending there, ties to the LONGEST piece — `ORDER BY
    * s DESC, k DESC`), carrying the argmax PATH as a list so usage
    * counts re-estimate exactly like the trainer's M-step. All-integer
    * scores make the argmax engine-proof; the only doubles are the ln
    * calls, each committed to the lattice before any comparison.
    */
  lazy val unigramCtes: String = {
    val V = 200; val P = 4; val W = 12
    // one full Viterbi pass under piece table `tab` → useg{tag}
    def viterbi(tag: String, tab: String): String = {
      val cells = (1 to W).map { i =>
        val cands = (1 to math.min(P, i)).map { k =>
          s"""SELECT v.s${i - k} + t.llp AS s,
                  list_append(v.p${i - k}, t.piece) AS p, $k AS k
                FROM $tab t
                WHERE $i <= v.n AND v.s${i - k} IS NOT NULL
                  AND t.piece = substr(v.w, ${i - k + 1}, $k)"""
        }.mkString("\n              UNION ALL\n              ")
        s"""uv${tag}_$i AS (SELECT v.*, b.s AS s$i, b.p AS p$i
            FROM uv${tag}_${i - 1} v LEFT JOIN LATERAL (
              SELECT s, p FROM (
              $cands)
              ORDER BY s DESC, k DESC LIMIT 1) b ON true)"""
      }.mkString(",\n      ")
      s"""uv${tag}_0 AS (SELECT w, freq, length(w) AS n,
            CAST(0 AS BIGINT) AS s0, []::VARCHAR[] AS p0 FROM uw),
      $cells,
      useg$tag AS (SELECT w, freq,
            CASE n ${(1 to W).map(i => s"WHEN $i THEN p$i").mkString(" ")}
              END AS pieces
          FROM uv${tag}_$W)"""
    }
    def pruneLat(tag: String, src: String): String =
      s"""up$tag AS (SELECT piece, cnt FROM $src WHERE length(piece) = 1
            UNION ALL
            SELECT piece, cnt FROM (
              SELECT piece, cnt, row_number() OVER (
                ORDER BY cnt DESC, piece) AS rn
              FROM $src WHERE length(piece) > 1) WHERE rn <= $V),
      ut$tag AS MATERIALIZED (SELECT piece,
            CAST(round(ln(CAST(cnt AS DOUBLE)
              / (SELECT CAST(sum(cnt) AS DOUBLE) FROM up$tag)) * 1e9, 0)
              AS BIGINT) AS llp
          FROM up$tag)"""
    def emRound(r: Int): String =
      s"""${viterbi(s"$r", s"ut$r")},
      uu$r AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
          FROM (SELECT freq, unnest(pieces) AS piece FROM useg$r)
          GROUP BY piece),
      ufl$r AS (SELECT t.piece,
            greatest(CAST(1 AS BIGINT),
              CAST(coalesce(u.cnt, 0) AS BIGINT)) AS cnt
          FROM ut$r t LEFT JOIN uu$r u ON t.piece = u.piece),
      ${pruneLat(s"${r + 1}", s"ufl$r")}"""
    s"""uw AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS freq
          FROM (SELECT unnest(list_filter(string_split_regex(
            trim(lower(text)), '\\s+'), t -> t <> '')) AS w
            FROM documents) GROUP BY w),
      usd AS (SELECT substr(w, i + 1, l) AS piece,
            CAST(sum(freq) AS BIGINT) AS cnt
          FROM (SELECT w, freq, i,
                  unnest(range(1, least($P, length(w) - i) + 1)) AS l
                FROM (SELECT w, freq, unnest(range(0, length(w))) AS i
                      FROM uw))
          GROUP BY piece),
      ${pruneLat("1", "usd")},
      ${emRound(1)},
      ${emRound(2)},
      ${viterbi("f", "ut3")},
      untok AS (SELECT w, CAST(len(pieces) AS INTEGER) AS ntok
          FROM usegf),
      uperdoc AS (SELECT d.doc_id, CAST(count(*) AS INTEGER) AS n_words,
            CAST(sum(t.ntok) AS INTEGER) AS n_tokens
          FROM (SELECT doc_id, unnest(list_filter(string_split_regex(
                  trim(lower(text)), '\\s+'), x -> x <> '')) AS w
                FROM documents) d
          JOIN untok t ON d.w = t.w
          GROUP BY 1)"""
  }

  def unigramSql(select: String): String =
    s"\n      WITH $unigramCtes\n      $select"

  /** MinHash signature + value-band CTE chain over `documents` — replays
    * `Native.MinHashSignature` (word 3-gram shingles → 60-bit md5 fold mod
    * P = 2³¹−1 → per-permutation min of (1103515245+2p)·h + 12345+7919p
    * mod P, sentinel P for docs with < 3 words) and `Dedup.bandBuckets`'
    * collision-free value buckets (the band's component tuple — replayed
    * here as the ':'-joined component string, equality-equivalent to the
    * engine's struct). Yields `sig(doc_id, p, mh)` for EVERY document and
    * `bkt(doc_id, band, bucket)`.
    */
  def minhashCtes(numHashes: Int, bands: Int): String = {
    val rows = numHashes / bands
    s"""d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
             FROM documents),
      shx AS (SELECT DISTINCT doc_id,
                ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS hm
              FROM (SELECT doc_id, w[kk] || ' ' || w[kk+1] || ' ' || w[kk+2] AS s
                    FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS kk
                          FROM d))),
      ps AS (SELECT unnest(range(0, $numHashes)) AS p),
      mh0 AS (SELECT doc_id, p,
                min(((1103515245 + 2*p) * hm + (12345 + 7919*p)) % 2147483647)
                  AS mh
              FROM shx CROSS JOIN ps GROUP BY doc_id, p),
      sig AS (SELECT dd.doc_id, ps.p, coalesce(mh0.mh, 2147483647) AS mh
              FROM (SELECT doc_id FROM documents) dd CROSS JOIN ps
              LEFT JOIN mh0 ON mh0.doc_id = dd.doc_id AND mh0.p = ps.p),
      bkt AS (SELECT doc_id, p // $rows AS band,
                     string_agg(mh::VARCHAR, ':' ORDER BY p) AS bucket
              FROM sig GROUP BY doc_id, p // $rows)"""
  }

  /** Integer-exact Lloyd's codebook replay over `embeddings` — the
    * verbatim twin of `Similarity.lloyds` + `collectSampleLat`: sample =
    * md5-hash-ordered top-`sampleCap` rows committed to the 1e-6 lattice;
    * init = greedy maximin over the
    * hash-ordered sample (c₀ = rank 1, then k−1 exact-integer argmax
    * steps, lowest rank on ties); per iteration an exact
    * integer squared-L2 argmin (lowest-index ties) and a component-sum
    * update rounded back to the lattice half-away-from-zero via
    * TRUNCATING division (`//` in DuckDB ≡ `/` on JVM longs); empty cells
    * keep their previous centroid. `m` subspaces of `subDim` components
    * train side by side (m = 1 is the IVF coarse codebook). Yields
    * `cb_$tag(s, c, cd)` with cd the centroid as DOUBLE[]
    * (`CAST(lattice AS DOUBLE)/1e6`, bit-equal to the JVM's).
    */
  def lloydsCtes(tag: String, m: Int, subDim: Int, k: Int, iters: Int,
                 sampleCap: Int): String = {
    val d1 = subDim + 1
    val head =
      s"""samp0_$tag AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY
                 ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
                 vec_id) AS rn,
               list_transform(CAST(embedding AS DOUBLE[]),
                 x -> CAST(round(x * 1000000.0, 0) AS BIGINT)) AS fv
        FROM embeddings),
      samp_$tag AS MATERIALIZED (
        SELECT rn, ss.s AS s,
               list_transform(range(1 + ss.s * $subDim,
                 1 + (ss.s + 1) * $subDim), i -> fv[i]) AS xv
        FROM samp0_$tag, (SELECT unnest(range(0, $m)) AS s) ss
        WHERE rn <= $sampleCap),
ch1_$tag AS MATERIALIZED (
        SELECT s, 0 AS c, xv AS mv FROM samp_$tag WHERE rn = 1)"""
    // greedy maximin init: ch{j} adds the point farthest from the chosen
    // set (exact integer d², lowest rank on ties) — k−1 argmax steps
    val initSteps = (2 to k).map { j =>
      val p = j - 1
      s"""md${j}_$tag AS MATERIALIZED (
        SELECT sa.s, sa.rn,
               min(list_sum(list_transform(range(1, $d1),
                 i -> (sa.xv[i] - ce.mv[i]) * (sa.xv[i] - ce.mv[i]))))
                 AS dmin
        FROM samp_$tag sa JOIN ch${p}_$tag ce ON sa.s = ce.s
        GROUP BY sa.s, sa.rn),
      ch${j}_$tag AS MATERIALIZED (
        SELECT s, c, mv FROM ch${p}_$tag
        UNION ALL
        SELECT pk.s, $p AS c, sa.xv AS mv
        FROM (SELECT s, rn FROM (
                SELECT s, rn, row_number() OVER (PARTITION BY s
                  ORDER BY dmin DESC, rn ASC) AS rk FROM md${j}_$tag)
              WHERE rk = 1) pk
        JOIN samp_$tag sa ON sa.s = pk.s AND sa.rn = pk.rn)"""
    }
    val centInit =
      s"""cent0_$tag AS MATERIALIZED (
        SELECT s, c, mv FROM ch${k}_$tag)"""
    val steps = (1 to iters).map { t =>
      val p = t - 1
      s"""asg${t}_$tag AS MATERIALIZED (
        SELECT s, rn, xv, c FROM (
          SELECT sa.s, sa.rn, sa.xv, ce.c,
                 row_number() OVER (PARTITION BY sa.s, sa.rn ORDER BY
                   list_sum(list_transform(range(1, $d1),
                     i -> (sa.xv[i] - ce.mv[i]) * (sa.xv[i] - ce.mv[i])))
                     ASC, ce.c ASC) AS rnk
          FROM samp_$tag sa JOIN cent${p}_$tag ce ON sa.s = ce.s)
        WHERE rnk = 1),
      upd${t}_$tag AS MATERIALIZED (
        SELECT a.s, a.c, ii.i, sum(a.xv[ii.i]) AS sv, count(*) AS n
        FROM asg${t}_$tag a, (SELECT unnest(range(1, $d1)) AS i) ii
        GROUP BY 1, 2, 3),
      new${t}_$tag AS MATERIALIZED (
        SELECT s, c,
               list(CAST(CASE WHEN sv >= 0 THEN (2 * sv + n) // (2 * n)
                              ELSE -((2 * (-sv) + n) // (2 * n)) END
                    AS BIGINT) ORDER BY i) AS mv
        FROM upd${t}_$tag GROUP BY s, c),
      cent${t}_$tag AS MATERIALIZED (
        SELECT p.s, p.c, coalesce(nw.mv, p.mv) AS mv
        FROM cent${p}_$tag p
        LEFT JOIN new${t}_$tag nw ON p.s = nw.s AND p.c = nw.c)"""
    }
    val cb =
      s"""cb_$tag AS MATERIALIZED (
        SELECT s, c,
               list_transform(mv, m -> CAST(m AS DOUBLE) / 1000000.0) AS cd
        FROM cent${iters}_$tag)"""
    ((head +: initSteps) ++ (centInit +: steps) :+ cb)
      .mkString(",\n      ")
  }

  /** SimHash fingerprint CTE over `documents` — replays `Native.SimHash64`
    * verbatim: lowercase, whitespace-tokenize (every OCCURRENCE votes, the
    * empty string is one token of an empty doc — DuckDB's split of ''
    * yields [''] exactly like Java's), token hash = top 64 md5 bits
    * big-endian, ±1 vote per bit, fingerprint bit set iff votes > 0.
    * Yields `fp(doc_id, simhash BIGINT)`; bit 63 is reassembled through
    * HUGEINT so the signed BIGINT bit pattern matches the JVM long.
    */
  def simhashCtes(where: String): String =
    s"""t AS (SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
             FROM documents $where),
      hh AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
             FROM t),
      bits AS (SELECT unnest(range(0, 64)) AS i),
      v AS (SELECT doc_id, i,
              sum(CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END) AS vote
            FROM hh CROSS JOIN bits GROUP BY doc_id, i),
      fp AS (SELECT doc_id,
               CAST(sum(CASE WHEN vote > 0 THEN
                      CASE WHEN i = 63 THEN (-9223372036854775808)::HUGEINT
                           ELSE ((1::BIGINT << i))::HUGEINT END
                    ELSE 0::HUGEINT END) AS BIGINT) AS simhash
             FROM v GROUP BY doc_id)"""
}
