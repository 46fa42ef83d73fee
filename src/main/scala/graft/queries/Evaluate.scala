package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Portable.{dsum6, h32, tokens}

/** Statistical-evaluation operators over corpus and behavioral data:
  * the measurement layer a curation pipeline needs AFTER filters and
  * classifiers exist — is the quality signal discriminative (AUC),
  * how do per-source distributions drift (KL, KS), what trends link
  * size signals (OLS), and is the interaction graph degree-mixed
  * (assortativity).
  *
  * Portability contract (same as [[Corpus]]/[[Pipeline]]): every sum
  * that crosses an exchange is exact integer / DECIMAL arithmetic;
  * doubles appear only in FINAL single-row (or per-group) ratios of
  * already-exact integers, so DuckDB replays each result bit-for-bit
  * regardless of partitioning. Counting moments use DECIMAL(38,0),
  * not BIGINT: at 100 TB cross-products like n·Σxy overflow int64,
  * and Spark's long sum wraps silently — the decimal lattice is the
  * overflow-safe path on both engines (DuckDB sums BIGINT into
  * HUGEINT natively; the explicit casts below pin the same widths).
  */
object Evaluate {

  /** q195: DISTRIBUTED ROC-AUC via the rank-sum (Mann–Whitney U)
    * identity — the discriminative-power audit for any quality score
    * (here: does raw length separate English docs?). AUC =
    * P(score⁺ > score⁻) + ½·P(tie); computing it from a global
    * per-row rank window would sort 100 TB in one task. The histogram
    * formulation used here compresses FIRST: group by score value
    * (map-side combine → |distinct scores| rows, a bounded domain for
    * any discretized signal), cumulate negatives over the sorted
    * score histogram, then U·2 = Σ_s pos_s·(2·negBelow_s + neg_s) —
    * doubled so ties stay integer-exact.
    *
    * 100 TB shape: ONE exchange on score value with partial
    * aggregation; the window + final sum run over the histogram
    * (thousands of rows), not the corpus. Moments are DECIMAL(38,0)
    * (n⁺·n⁻ overflows int64 past ~3B rows a side); the only double is
    * the final 1-row ratio of exact integers.
    */
  private val q195AucRank = Q(
    "q195_auc_rank",
    (s, d) => {
      val hist = Tables.documents(s, d)
        .select(col("n_chars").as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("is_pos"))
        .groupBy("score")
        .agg(sum("is_pos").as("p"), sum(lit(1L) - col("is_pos")).as("g"))
      val w = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("negBelow", sum("g").over(w) - col("g"))
      cum.agg(
          sum("p").cast("decimal(38,0)").as("np"),
          sum("g").cast("decimal(38,0)").as("nn"),
          sum((col("p") * (lit(2) * col("negBelow") + col("g")))
            .cast("decimal(38,0)")).as("u2"))
        .select(
          col("np").cast("long").as("n_pos"),
          col("nn").cast("long").as("n_neg"),
          col("u2").cast("double").as("u2"),
          round(col("u2").cast("double") /
            (lit(2).cast("decimal(38,0)") * col("np") * col("nn"))
              .cast("double"), 6).as("auc6"))
    },
    Some("""WITH h AS (SELECT n_chars AS score,
          CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS p,
          CAST(count(*) FILTER (WHERE lang <> 'en') AS BIGINT) AS g
        FROM documents GROUP BY 1),
      c AS (SELECT score, p, g,
          sum(g) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - g AS negBelow
        FROM h)
      SELECT CAST(sum(p) AS BIGINT) AS n_pos,
        CAST(sum(g) AS BIGINT) AS n_neg,
        CAST(sum(CAST(p * (2 * negBelow + g) AS DECIMAL(38,0))) AS DOUBLE) AS u2,
        round(CAST(sum(CAST(p * (2 * negBelow + g) AS DECIMAL(38,0))) AS DOUBLE)
          / CAST(2 * sum(p) * sum(g) AS DOUBLE), 6) AS auc6
      FROM c"""),
    bench = true)

  /** q196: PER-SOURCE OLS TREND (closed-form simple regression) —
    * slope/intercept of doc length (chars) against token count per
    * source, the "are this source's tokens getting longer" drift
    * signal; the same moment kernel serves any (x, y) pair. Both
    * coefficients are RATIONAL in the five raw moments — slope =
    * (nΣxy − ΣxΣy)/(nΣxx − Σx²), intercept = (Σy·den − num·Σx)/
    * (n·den) — so each engine divides the same exact integers and the
    * round-6 doubles agree bit-for-bit; no iterative fitting, no
    * float accumulation across rows.
    *
    * 100 TB shape: x, y and their products are scan-stage codegen;
    * one exchange to |sources| rows with map-side partial moments in
    * DECIMAL(38,0) (Σxy at trillions of rows overflows int64).
    */
  private val q196OlsTrend = Q(
    "q196_ols_trend",
    (s, d) => {
      val base = Tables.documents(s, d).select(col("source"),
        size(tokens(col("text"))).cast("long").as("x"),
        col("n_chars").as("y"))
      base.groupBy("source").agg(
          count(lit(1)).cast("decimal(38,0)").as("n"),
          sum("x").cast("decimal(38,0)").as("sx"),
          sum("y").cast("decimal(38,0)").as("sy"),
          sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
        .select(col("source"), col("n").cast("long").as("n_docs"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
            .as("slope6"),
          round((col("sy") * (col("n") * col("sxx") - col("sx") * col("sx")) -
              (col("n") * col("sxy") - col("sx") * col("sy")) * col("sx"))
              .cast("double") /
            (col("n") * (col("n") * col("sxx") - col("sx") * col("sx")))
              .cast("double"), 6).as("intercept6"))
        .orderBy("source")
    },
    Some("""WITH m AS (SELECT source,
          CAST(count(*) AS DECIMAL(38,0)) AS n,
          CAST(sum(CAST(length(string_split(text, ' ')) AS BIGINT)) AS DECIMAL(38,0)) AS sx,
          CAST(sum(n_chars) AS DECIMAL(38,0)) AS sy,
          CAST(sum(CAST(CAST(length(string_split(text, ' ')) AS BIGINT) * n_chars AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
          CAST(sum(CAST(CAST(length(string_split(text, ' ')) AS BIGINT) * CAST(length(string_split(text, ' ')) AS BIGINT) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx
        FROM documents GROUP BY 1)
      SELECT source, CAST(n AS BIGINT) AS n_docs,
        round(CAST(n * sxy - sx * sy AS DOUBLE)
          / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope6,
        round(CAST(sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx AS DOUBLE)
          / CAST(n * (n * sxx - sx * sx) AS DOUBLE), 6) AS intercept6
      FROM m ORDER BY 1"""))

  /** q197: PER-SOURCE KL DIVERGENCE of the unigram token distribution
    * against the whole-corpus distribution — the data-mixing
    * diagnostic (a source whose KL spikes is off-distribution and
    * gets down-weighted in q107's temperature mix; ties to q156 DSIR,
    * which importance-weights by the same ratio this query audits).
    * KL(pₛ‖p) = Σ_t (c_st/Tₛ)·(ln c_st + ln T − ln Tₛ − ln c_t): each
    * log's argument is an exact integer (q163's c·ln(c) precedent —
    * both engines take libm ln of identical doubles), each term is
    * rounded to DECIMAL(28,6) BEFORE the sum ([[dsum6]] discipline)
    * so summation order cannot leak.
    *
    * 100 TB shape: token counts per (source, token) partial-aggregate
    * map-side (one exchange, uniform token keys); the global token
    * table derives from that same aggregate (second, smaller
    * exchange); the join back is co-keyed on token; per-source totals
    * are |sources| rows, broadcast. No per-row windows anywhere.
    */
  private val q197KlDivergence = Q(
    "q197_kl_divergence",
    (s, d) => {
      val st = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("t"))
        .groupBy("source", "t").agg(count(lit(1)).as("c_st"))
      val tot = st.groupBy("t").agg(sum("c_st").as("c_t"))
      val srcTot = st.groupBy("source").agg(sum("c_st").as("t_s"))
      val grand = srcTot.agg(sum("t_s").as("t_all"))
      val term = st.join(tot, "t")
        .join(broadcast(srcTot), "source")
        .crossJoin(broadcast(grand))
        .select(col("source"), col("t_s"),
          ((col("c_st").cast("double") / col("t_s").cast("double")) *
            (log(col("c_st").cast("double")) + log(col("t_all").cast("double")) -
              log(col("t_s").cast("double")) - log(col("c_t").cast("double"))))
            .cast("decimal(28,6)").as("term"))
      term.groupBy("source").agg(
          max("t_s").as("n_tokens"),
          count(lit(1)).as("n_terms"),
          sum("term").cast("double").as("kl_nats"))
        .orderBy("source")
    },
    Some("""WITH st AS (SELECT source, unnest(string_split(text, ' ')) AS t
        FROM documents),
      g AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c_st
        FROM st GROUP BY 1, 2),
      tot AS (SELECT t, CAST(sum(c_st) AS BIGINT) AS c_t FROM g GROUP BY 1),
      srct AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS t_s FROM g GROUP BY 1),
      term AS (SELECT g.source, srct.t_s,
          CAST((CAST(g.c_st AS DOUBLE) / CAST(srct.t_s AS DOUBLE)) *
            (ln(CAST(g.c_st AS DOUBLE)) + ln(CAST((SELECT sum(t_s) FROM srct) AS DOUBLE))
             - ln(CAST(srct.t_s AS DOUBLE)) - ln(CAST(tot.c_t AS DOUBLE)))
            AS DECIMAL(28,6)) AS term
        FROM g JOIN tot ON g.t = tot.t JOIN srct ON g.source = srct.source)
      SELECT source, max(t_s) AS n_tokens, CAST(count(*) AS BIGINT) AS n_terms,
        CAST(sum(term) AS DOUBLE) AS kl_nats
      FROM term GROUP BY 1 ORDER BY 1"""),
    bench = true)

  /** q198: TWO-SAMPLE KOLMOGOROV–SMIRNOV distance between the 'en'
    * and 'de' length distributions — the distribution-drift gate
    * (release N vs N+1, source A vs B) that needs no binning choice:
    * D = max_x |F₁(x) − F₂(x)|. Same histogram-first trick as q195:
    * per-value counts per arm (map-side), cumulate over the sorted
    * value histogram, and the max of |cum₁·n₂ − cum₂·n₁| stays
    * integer (cross-multiplied; the division happens once, on the
    * final row). Emits the statistic AND its argmax location.
    *
    * 100 TB shape: one exchange to |distinct values| rows; window +
    * max over the histogram only. DECIMAL(38,0) cross-products
    * (cum·n overflows int64 past ~3B rows a side).
    */
  private val q198KsTest = Q(
    "q198_ks_test",
    (s, d) => {
      val hist = Tables.documents(s, d)
        .filter(col("lang").isin("en", "de"))
        .groupBy(col("n_chars").as("v")).agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("a"),
          sum(when(col("lang") === "de", 1L).otherwise(0L)).as("b"))
      val w = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.select(col("v"),
        sum("a").over(w).as("ca"), sum("b").over(w).as("cb"))
      val tot = cum.agg(max("ca").as("na"), max("cb").as("nb"))
      val gap = cum.crossJoin(broadcast(tot))
        .select(col("v"), col("na"), col("nb"),
          abs((col("ca").cast("decimal(38,0)") * col("nb") -
            col("cb").cast("decimal(38,0)") * col("na"))
            .cast("decimal(38,0)")).as("gap"))
      gap.orderBy(col("gap").desc, col("v")).limit(1)
        .select(col("na").as("n_a"), col("nb").as("n_b"),
          col("v").as("argmax_v"),
          round(col("gap").cast("double") /
            (col("na").cast("decimal(38,0)") * col("nb")).cast("double"), 6)
            .as("ks6"))
    },
    Some("""WITH h AS (SELECT n_chars AS v,
          CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS a,
          CAST(count(*) FILTER (WHERE lang = 'de') AS BIGINT) AS b
        FROM documents WHERE lang IN ('en', 'de') GROUP BY 1),
      c AS (SELECT v,
          sum(a) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
          sum(b) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
        FROM h),
      t AS (SELECT max(ca) AS na, max(cb) AS nb FROM c),
      g AS (SELECT c.v, t.na, t.nb,
          abs(CAST(c.ca AS DECIMAL(38,0)) * t.nb
            - CAST(c.cb AS DECIMAL(38,0)) * t.na) AS gap
        FROM c, t)
      SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        v AS argmax_v,
        round(CAST(gap AS DOUBLE) / CAST(CAST(na AS DECIMAL(38,0)) * nb AS DOUBLE), 6) AS ks6
      FROM g ORDER BY gap DESC, v LIMIT 1"""))

  /** q199: DEGREE ASSORTATIVITY of the q149 interaction graph — the
    * Pearson correlation of endpoint degrees across edges, the
    * one-number answer to "do heavy users touch popular event types
    * or niche ones" (negative = hub-and-spoke, the expected shape for
    * a bipartite user/event-type graph; a sign flip flags a data
    * regression). Reuses q149's edge construction exactly (user ↔
    * salted event-type node, weight = interaction count, both
    * directions) so the two graph audits can never diverge on what
    * "the graph" is.
    *
    * Moments n, Σx, Σy, Σxy, Σx², Σy² accumulate in DECIMAL(38,0)
    * (degree products at billions of edges overflow int64); r =
    * num/√(dx·dy) is computed ONCE from the exact moments — sqrt and
    * divide of identical doubles are IEEE-deterministic on both
    * engines.
    *
    * 100 TB shape: degrees are one exchange on node id (uniform —
    * event-type nodes are salted by h32); the two deg joins are
    * co-keyed shuffle joins (or broadcasts when |nodes| is small);
    * the moment aggregate map-side-combines to a single row.
    */
  private val q199Assortativity = Q(
    "q199_assortativity",
    (s, d) => {
      val ue = Tables.events(s, d)
        .groupBy(col("user_id"),
          (lit(2000000000L) + h32(col("event_type")) % 1000000000L).as("tid"))
        .agg(count(lit(1)).as("w"))
      val edges = ue.select(col("user_id").as("src"), col("tid").as("dst"))
        .union(ue.select(col("tid").as("src"), col("user_id").as("dst")))
      val deg = edges.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("deg"))
      val degX = deg.select(col("id").as("xid"), col("deg").as("x"))
      val degY = deg.select(col("id").as("yid"), col("deg").as("y"))
      val xy = edges
        .join(degX, col("src") === col("xid")).drop("xid")
        .join(degY, col("dst") === col("yid")).drop("yid")
      val m = xy.agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("x").cast("decimal(38,0)").as("sx"),
        sum("y").cast("decimal(38,0)").as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
      m.select(col("n").cast("long").as("n_edges"),
        col("sxy").cast("double").as("sxy"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
          .as("assort6"))
    },
    Some(s"""WITH ue AS (SELECT user_id,
          2000000000 + ${Sql.h32("event_type")}
            % 1000000000 AS tid
        FROM events GROUP BY user_id, event_type),
      edges AS (SELECT user_id AS src, tid AS dst FROM ue
                UNION ALL SELECT tid, user_id FROM ue),
      deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
              FROM edges GROUP BY 1),
      xy AS (SELECT dx.deg AS x, dy.deg AS y
        FROM edges e JOIN deg dx ON e.src = dx.id JOIN deg dy ON e.dst = dy.id),
      m AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
          CAST(sum(x) AS DECIMAL(38,0)) AS sx,
          CAST(sum(y) AS DECIMAL(38,0)) AS sy,
          CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
          CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
          CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
        FROM xy)
      SELECT CAST(n AS BIGINT) AS n_edges,
        CAST(sxy AS DOUBLE) AS sxy,
        round(CAST(n * sxy - sx * sy AS DOUBLE)
          / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
            * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS assort6
      FROM m"""))

  /** q200: GINI CONCENTRATION of the token-frequency distribution —
    * "how much of the corpus is a few words": the vocabulary-health
    * companion to q163's per-doc entropy (a Gini drift between
    * releases flags template/boilerplate flooding before any quality
    * model sees it). The naive form ranks every vocabulary entry
    * (a global sort of |V| rows); here the vocabulary compresses to
    * its COUNT-OF-COUNTS histogram first — frequency f occurring m_f
    * times — and the rank-weighted sum telescopes per block: a run of
    * m equal values starting at rank s contributes f·(m·s + m(m−1)/2)
    * exactly. Gini = 2·S/(n·T) − (n+1)/n from exact integers.
    *
    * 100 TB shape: token counts (one uniform exchange, map-side
    * combine), count-of-counts (second exchange, output ≈ thousands
    * of distinct frequencies), window over the tiny histogram only.
    * S and n·T are DECIMAL(38,0) (rank·freq products overflow int64
    * at web scale).
    */
  private val q200GiniTokens = Q(
    "q200_gini_tokens",
    (s, d) => {
      val counts = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("f"))
      val hist = counts.groupBy("f").agg(count(lit(1)).as("m"))
      val w = Window.orderBy("f")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = hist.withColumn("srank", sum("m").over(w) - col("m") + 1)
      ranked.agg(
          sum("m").cast("decimal(38,0)").as("n"),
          sum((col("f") * col("m")).cast("decimal(38,0)")).as("tt"),
          sum(expr("CAST(f AS DECIMAL(38,0)) * " +
            "(CAST(m AS DECIMAL(38,0)) * srank + (m * (m - 1)) div 2)"))
            .cast("decimal(38,0)").as("srw"))
        .select(col("n").cast("long").as("n_types"),
          col("tt").cast("long").as("n_tokens"),
          round(lit(2).cast("double") * col("srw").cast("double") /
            (col("n") * col("tt")).cast("double") -
            (col("n") + 1).cast("double") / col("n").cast("double"), 6)
            .as("gini6"))
    },
    Some("""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS t
        FROM documents),
      c AS (SELECT t, CAST(count(*) AS BIGINT) AS f FROM tk GROUP BY 1),
      h AS (SELECT f, CAST(count(*) AS BIGINT) AS m FROM c GROUP BY 1),
      r AS (SELECT f, m,
          sum(m) OVER (ORDER BY f ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW) - m + 1 AS srank
        FROM h)
      SELECT CAST(sum(m) AS BIGINT) AS n_types,
        CAST(sum(f * m) AS BIGINT) AS n_tokens,
        round(2.0 * CAST(sum(CAST(f AS DECIMAL(38,0))
            * (CAST(m AS DECIMAL(38,0)) * srank + (m * (m - 1)) // 2)) AS DOUBLE)
          / CAST(CAST(sum(m) AS DECIMAL(38,0)) * sum(f * m) AS DOUBLE)
          - CAST(sum(m) + 1 AS DOUBLE) / CAST(sum(m) AS DOUBLE), 6) AS gini6
      FROM r"""))

  /** q201: GOOD–TURING FREQUENCY SMOOTHING — the adjusted-count table
    * r* = (r+1)·N_{r+1}/N_r for the low-frequency band (the 10
    * smallest observed frequencies — an absolute r ≤ 10 cut can be
    * empty when the corpus has no rare tokens) plus
    * the unseen-mass estimate p₀ = N₁/T, from the SAME count-of-counts
    * histogram as q200 (the two vocabulary audits share their heavy
    * pass by construction). This is what a language-model pipeline
    * uses to discount singleton/doubleton token probabilities (q93's
    * bigram LM and q174's backoff are the consumers). Everything is
    * integer: rstar_e6 = (r+1)·N_{r+1}·1e6 div N_r.
    *
    * 100 TB shape: identical to q200 through the histogram; the
    * adjacent-frequency lookup is a self-join of the ≤ thousands-row
    * histogram on f+1 — broadcast, driver-invisible.
    */
  private val q201GoodTuring = Q(
    "q201_good_turing",
    (s, d) => {
      val hist = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("f"))
        .groupBy("f").agg(count(lit(1)).as("m"))
      val tot = hist.agg(sum(expr("f * m")).as("tt"))
      val nxt = hist.select(col("f").as("f1"), col("m").as("m1"))
      hist.orderBy("f").limit(10)
        .join(broadcast(nxt), col("f1") === col("f") + 1, "left")
        .crossJoin(broadcast(tot))
        .select(col("f").as("r"), col("m").as("n_r"),
          expr("(f + 1) * coalesce(m1, CAST(0 AS BIGINT)) * 1000000 div m")
            .as("rstar_e6"),
          expr("(m * 1000000) div tt").as("share_e6"))
        .orderBy("r")
    },
    Some("""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS t
        FROM documents),
      c AS (SELECT t, CAST(count(*) AS BIGINT) AS f FROM tk GROUP BY 1),
      h AS (SELECT f, CAST(count(*) AS BIGINT) AS m FROM c GROUP BY 1),
      t AS (SELECT CAST(sum(f * m) AS BIGINT) AS tt FROM h)
      SELECT h.f AS r, h.m AS n_r,
        (h.f + 1) * COALESCE(n.m, 0) * 1000000 // h.m AS rstar_e6,
        (h.m * 1000000) // t.tt AS share_e6
      FROM (SELECT * FROM h ORDER BY f LIMIT 10) h
      LEFT JOIN h n ON n.f = h.f + 1, t
      ORDER BY 1"""))

  /** q202: CUPED VARIANCE REDUCTION — the experiment-measurement
    * primitive: per-user post-period metric adjusted by the
    * pre-period covariate (θ = cov(y,x)/var(x); adjusted variance
    * shrinks by exactly ρ²). The time split is the midpoint of the
    * observed span ((min+max) div 2 in epoch micros — exact integer,
    * no calendar parsing); per-user sums quantize value to e6
    * fixed-point BEFORE summing (floor(value·1e6) — double sums are
    * merge-order-dependent, quantized longs are not).
    *
    * 100 TB shape: span bounds are one all-reduce row (broadcast
    * back); per-user pre/post sums are ONE exchange on user_id with
    * conditional map-side partials; the moment aggregate collapses to
    * a single row. θ and ρ² are final rationals of DECIMAL(38,0)
    * moments.
    */
  private val q202Cuped = Q(
    "q202_cuped",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * lit(1e6)).cast("long").as("v6"))
      val span = ev.agg(
        ((min("us") + max("us")) / 2).cast("long").as("cut"))
      val per = ev.crossJoin(broadcast(span))
        .groupBy("user_id")
        .agg(sum(when(col("us") < col("cut"), col("v6")).otherwise(0L)).as("x"),
          sum(when(col("us") >= col("cut"), col("v6")).otherwise(0L)).as("y"))
      val m = per.agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("x").cast("decimal(38,0)").as("sx"),
        sum("y").cast("decimal(38,0)").as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).cast("decimal(38,0)")
          .as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).cast("decimal(38,0)")
          .as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).cast("decimal(38,0)")
          .as("syy"))
      // moments exceed the DECIMAL(38) product lattice (sxy² needs ~76
      // digits); both engines therefore cast each EXACT moment to
      // double once and do the final ratios in IEEE double — identical
      // inputs, identical operations, identical rounding.
      val (nD, sxD, syD) =
        (col("n").cast("double"), col("sx").cast("double"),
          col("sy").cast("double"))
      val (sxyD, sxxD, syyD) =
        (col("sxy").cast("double"), col("sxx").cast("double"),
          col("syy").cast("double"))
      val covN = nD * sxyD - sxD * syD
      val varX = nD * sxxD - sxD * sxD
      val varY = nD * syyD - syD * syD
      m.select(col("n").cast("long").as("n_users"),
        round(covN / varX, 6).as("theta6"),
        round(covN * covN / (varX * varY), 6).as("var_reduction6"))
    },
    Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS us,
          CAST(floor(value * 1e6) AS BIGINT) AS v6 FROM events),
      cut AS (SELECT CAST((min(us) + max(us)) // 2 AS BIGINT) AS cut FROM ev),
      per AS (SELECT user_id,
          CAST(sum(CASE WHEN us < cut THEN v6 ELSE 0 END) AS BIGINT) AS x,
          CAST(sum(CASE WHEN us >= cut THEN v6 ELSE 0 END) AS BIGINT) AS y
        FROM ev, cut GROUP BY 1),
      m AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
          CAST(sum(x) AS DECIMAL(38,0)) AS sx,
          CAST(sum(y) AS DECIMAL(38,0)) AS sy,
          CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
          CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
          CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
        FROM per)
      SELECT CAST(n AS BIGINT) AS n_users,
        round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS theta6,
        round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
          AS var_reduction6
      FROM m"""))

  /** q203: CROSS-SOURCE DUPLICATION MATRIX — q23's MinHash-LSH
    * candidate pairs rolled up to (source, source) cells: the
    * provenance view of near-duplication ("mirror sites", "same feed
    * ingested twice") that decides which SOURCE to drop, where
    * doc-level dedup (q67) only decides which DOC. Reuses
    * [[graft.ops.Dedup]] band signatures + bucketed candidates
    * verbatim, so the matrix can never disagree with the dedup run
    * it summarizes; sources attach by joining `documents` twice on
    * doc id; cells key on (least, greatest) so the matrix is
    * symmetric-upper.
    *
    * 100 TB shape: everything up to pairs is q23's audited bucketed
    * path (no all-pairs); the two source joins are co-keyed on doc id
    * (broadcast when the pair set is small — the common case after
    * banding); the final groupBy lands on |sources|² cells.
    */
  private val q203DupMatrix = Q(
    "q203_dup_matrix",
    (s, d) => {
      val doc = Tables.documents(s, d)
        .filter(size(tokens(col("text"))) >= 4)
        .select(col("doc_id"),
          graft.functions.Hash32.shingleHashes(col("text")).as("hs"))
      val pairs = graft.ops.Dedup.candidates(graft.ops.Dedup.bandSignatures(doc))
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val sa = src.select(col("doc_id").as("a_id"), col("source").as("src_a"))
      val sb = src.select(col("doc_id").as("b_id"), col("source").as("src_b"))
      pairs.join(sa, "a_id").join(sb, "b_id")
        .select(least(col("src_a"), col("src_b")).as("src_lo"),
          greatest(col("src_a"), col("src_b")).as("src_hi"),
          col("n_bands"))
        .groupBy("src_lo", "src_hi")
        .agg(count(lit(1)).as("n_pairs"), sum("n_bands").as("sum_bands"))
        .orderBy("src_lo", "src_hi")
    },
    Some(s"""WITH ${Pipeline.shingleCte},
      th AS (SELECT DISTINCT doc_id, ${Sql.h32("s")} AS h FROM sh),
      params(i, a, b) AS (VALUES ${Pipeline.mhParamsSqlValues}),
      mh AS (SELECT doc_id, i, min((a * h + b) % 2147483647) AS mh
             FROM th CROSS JOIN params GROUP BY 1, 2),
      bands AS (SELECT doc_id, i // 2 AS band,
                  string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
                FROM mh GROUP BY 1, 2),
      pairs AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id,
                  CAST(count(*) AS BIGINT) AS n_bands
                FROM bands x JOIN bands y
                  ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
                GROUP BY 1, 2)
      SELECT least(da.source, db.source) AS src_lo,
        greatest(da.source, db.source) AS src_hi,
        CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(p.n_bands) AS BIGINT) AS sum_bands
      FROM pairs p JOIN documents da ON p.a_id = da.doc_id
        JOIN documents db ON p.b_id = db.doc_id
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    bench = true)

  /** q204: PSI DISTRIBUTION DRIFT (population stability index) —
    * the per-bin pre/post drift table over the event-value
    * distribution, the monitoring gate between dataset releases
    * (PSI > 0.2 is the classic "investigate" threshold). Same
    * midpoint time split as q202 (exact integer micros); bins are
    * floor(value); Laplace +1 smoothing keeps empty bins finite
    * deterministically. Each bin's term (p−q)·ln(p/q) takes ln of a
    * quotient of exact integers (q197 discipline) and is emitted
    * per-bin (round-6) — the summary PSI is the dsum6 of the very
    * table being audited.
    *
    * 100 TB shape: one exchange on bin id (bounded domain) with
    * conditional map-side partials; bin-count and half-totals are a
    * broadcast row; no windows, no joins on big sides.
    */
  private val q204PsiDrift = Q(
    "q204_psi_drift",
    (s, d) => {
      val ev = Tables.events(s, d).select(
        unix_micros(col("ts")).as("us"),
        floor(col("value")).cast("long").as("bin"))
      val span = ev.agg(((min("us") + max("us")) / 2).cast("long").as("cut"))
      val bins = ev.crossJoin(broadcast(span))
        .groupBy("bin")
        .agg(sum(when(col("us") < col("cut"), 1L).otherwise(0L)).as("c_pre"),
          sum(when(col("us") >= col("cut"), 1L).otherwise(0L)).as("c_post"))
      val tot = bins.agg(sum("c_pre").as("n_pre"), sum("c_post").as("n_post"),
        count(lit(1)).as("nb"))
      bins.crossJoin(broadcast(tot))
        .select(col("bin"), col("c_pre"), col("c_post"),
          round(((col("c_pre") + 1).cast("double") /
              (col("n_pre") + col("nb")).cast("double") -
            (col("c_post") + 1).cast("double") /
              (col("n_post") + col("nb")).cast("double")) *
            log(((col("c_pre") + 1) * (col("n_post") + col("nb"))).cast("double") /
              ((col("c_post") + 1) * (col("n_pre") + col("nb"))).cast("double")),
            6).as("term6"))
        .orderBy("bin")
    },
    Some("""WITH ev AS (SELECT epoch_us(ts) AS us,
          CAST(floor(value) AS BIGINT) AS bin FROM events),
      cut AS (SELECT CAST((min(us) + max(us)) // 2 AS BIGINT) AS cut FROM ev),
      b AS (SELECT bin,
          CAST(count(*) FILTER (WHERE us < cut) AS BIGINT) AS c_pre,
          CAST(count(*) FILTER (WHERE us >= cut) AS BIGINT) AS c_post
        FROM ev, cut GROUP BY 1),
      t AS (SELECT CAST(sum(c_pre) AS BIGINT) AS n_pre,
          CAST(sum(c_post) AS BIGINT) AS n_post,
          CAST(count(*) AS BIGINT) AS nb FROM b)
      SELECT bin, c_pre, c_post,
        round((CAST(c_pre + 1 AS DOUBLE) / CAST(n_pre + nb AS DOUBLE)
          - CAST(c_post + 1 AS DOUBLE) / CAST(n_post + nb AS DOUBLE))
          * ln(CAST((c_pre + 1) * (n_post + nb) AS DOUBLE)
            / CAST((c_post + 1) * (n_pre + nb) AS DOUBLE)), 6) AS term6
      FROM b, t ORDER BY bin"""))

  /** q206: NDCG@10 RANKING QUALITY — the graded-relevance audit of
    * the q83 BM25 ranker (completing the retrieval-metrics row that
    * q181 opened with recall@10): planted deterministic relevance
    * grades rel ∈ {0..3} = h32("rel:"+doc_id) % 4, gains (2^rel − 1),
    * discounts 1/log₂(rank+1). DCG sums the actual top-10 (score
    * desc, doc_id ties), IDCG the ideal top-10 (rel desc, doc_id
    * ties); both are dsum6 of per-rank round-6 terms ([[dsum6]]
    * discipline — log₂ of exact integers, q163/q197 precedent).
    *
    * 100 TB shape: both rankings are TakeOrdered(10) (bounded heap,
    * no global sort), ranks attach with a 10-row window, the rest is
    * driver-row arithmetic. The BM25 scoring pass itself is q83's
    * audited map-side shape (corpus stats broadcast, no corpus
    * shuffle).
    */
  private val q206Ndcg = Q(
    "q206_ndcg",
    (s, d) => {
      val rel = h32(concat(lit("rel:"), col("doc_id").cast("string"))) % 4
      val scored = Curation.bm25Scored(s, d)
        .select(col("doc_id"), col("score"), rel.as("rel"))
      // gain = 2^rel − 1 over rel ∈ {0..3}, as the same literal CASE
      // in both engines (DuckDB's `**` returns DOUBLE with its own
      // typing; a shared integer CASE cannot diverge)
      val gain = expr(
        "CAST(CASE rel WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END AS DOUBLE)")
      val wTop = Window.orderBy(col("score").desc, col("doc_id"))
      val top = scored.orderBy(col("score").desc, col("doc_id")).limit(10)
        .withColumn("rank", row_number().over(wTop))
      val wIdeal = Window.orderBy(col("rel").desc, col("doc_id"))
      val ideal = scored.orderBy(col("rel").desc, col("doc_id")).limit(10)
        .withColumn("rank", row_number().over(wIdeal))
      def dcg(df: org.apache.spark.sql.DataFrame) = df.select(
        round(gain / log2(col("rank").cast("double") + 1), 6)
          .cast("decimal(28,6)").as("term"))
        .agg(sum("term").as("s"))
      dcg(top).crossJoin(dcg(ideal).withColumnRenamed("s", "si"))
        .select(col("s").cast("double").as("dcg6"),
          col("si").cast("double").as("idcg6"),
          round(col("s").cast("double") / col("si").cast("double"), 6)
            .as("ndcg6"))
    },
    Some(s"""WITH ${Curation.bm25ScoredCtes},
      rel AS (SELECT doc_id, score,
          ${Sql.h32("'rel:' || CAST(doc_id AS VARCHAR)")} % 4 AS rel
        FROM scored),
      top AS (SELECT rel, row_number() OVER (ORDER BY score DESC, doc_id)
            AS rank
          FROM rel ORDER BY score DESC, doc_id LIMIT 10),
      ideal AS (SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id)
            AS rank
          FROM rel ORDER BY rel DESC, doc_id LIMIT 10),
      d AS (SELECT CAST(sum(CAST(round(
            CAST(CASE rel WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END AS DOUBLE)
            / log2(CAST(rank AS DOUBLE) + 1), 6) AS DECIMAL(28,6)))
            AS DOUBLE) AS dcg6 FROM top),
      i AS (SELECT CAST(sum(CAST(round(
            CAST(CASE rel WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END AS DOUBLE)
            / log2(CAST(rank AS DOUBLE) + 1), 6) AS DECIMAL(28,6)))
            AS DOUBLE) AS idcg6 FROM ideal)
      SELECT d.dcg6, i.idcg6, round(d.dcg6 / i.idcg6, 6) AS ndcg6
      FROM d, i"""))

  /** q207: CALIBRATION / RELIABILITY TABLE for the q106 hashed-feature
    * classifier — fixed-width margin bins vs the empirical positive
    * rate per bin, the diagnostic that says whether a filter's scores
    * can be thresholded by probability (and the input to Platt-style
    * recalibration). Uses q106's EXACT weight function (same md5
    * bucket hash, same milli-weights — restated verbatim so the two
    * entries cannot drift), labels = lang='en' (the q195 convention).
    * Everything integer: bin = margin div 5000, pos_e6 = n_pos·1e6
    * div n.
    *
    * 100 TB shape: margin is q106's audited map-side fold (no
    * explode, no shuffle); one exchange to the bounded bin domain
    * with map-side partials.
    */
  private val q207Calibration = Q(
    "q207_calibration",
    (s, d) => {
      // q106's weight function, verbatim (Curation.scala q106)
      Tables.documents(s, d)
        .select(
          graft.functions.Hash32.hashedMarginCol(col("text")).as("margin"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .groupBy(floor(col("margin").cast("double") / lit(5000.0))
          .cast("long").as("bin"))
        .agg(count(lit(1)).as("n_docs"), sum("pos").as("n_pos"),
          sum("margin").as("sum_margin"))
        .select(col("bin"), col("n_docs"), col("n_pos"), col("sum_margin"),
          expr("(n_pos * 1000000) div n_docs").as("pos_e6"))
        .orderBy("bin")
    },
    Some(s"""WITH ws AS (SELECT doc_id, lang,
              unnest(string_split(text, ' ')) AS t
            FROM documents),
      sc AS (SELECT doc_id, max(lang) AS lang,
               CAST(sum(${Sql.tokenWeight("t")}) AS BIGINT)
                 AS margin
             FROM ws GROUP BY doc_id),
      b AS (SELECT CAST(floor(CAST(margin AS DOUBLE) / 5000.0) AS BIGINT) AS bin,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos, margin FROM sc)
      SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(pos) AS BIGINT) AS n_pos,
        CAST(sum(margin) AS BIGINT) AS sum_margin,
        CAST((sum(pos) * 1000000) // count(*) AS BIGINT) AS pos_e6
      FROM b GROUP BY 1 ORDER BY 1"""))

  /** q208: k-CENTER GREEDY CORESET (farthest-point traversal) — the
    * diversity-selection primitive for training-data subset choice
    * ("pick 8 maximally-spread exemplars"): seed at the smallest
    * vec_id, then 7 rounds of argmax-of-min-distance. Distances are
    * EXACT integer squared-L2 over e6-quantized embeddings (diff ≤
    * 4e6 → diff² ≤ 1.6e13 → ×64 dims ≤ ~1e15, inside int64), ties
    * break on vec_id, so the trajectory is engine-exact — no float
    * argmax flapping.
    *
    * 100 TB shape: each round is one scan-stage zip_with/aggregate
    * projection against the NEWEST center (a plan literal — the
    * N-side never shuffles, q47's rule) plus a TakeOrdered(1); dmin
    * folds forward with least(), so round k costs one corpus pass and
    * the driver holds only k rows. k is bounded (8); the oracle
    * unrolls the same rounds as CTEs (q149 precedent).
    */
  private val q208KcenterCoreset = Q(
    "q208_kcenter_coreset",
    (s, d) => {
      val q = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(1e6)).cast("long")).as("qv"))
      def d2(center: Seq[Long]) = {
        val c = typedLit(center)
        aggregate(zip_with(col("qv"), c, (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)
      }
      val seed = q.orderBy("vec_id").limit(1)
        .collect().head
      var picks = Seq((seed.getLong(0), 0L))
      // localCheckpoint per round (the q149/q170 iterative-lineage
      // rule): each of the 8 picks re-executes ONE materialized frame,
      // not a lineage that re-derives every earlier round from the
      // scan — plan depth stays constant across rounds.
      var state = q.withColumn("dmin",
        d2(seed.getSeq[Long](1))).transform(graft.ops.Reuse.pin)
      for (_ <- 1 to 7) {
        val next = state.filter(!col("vec_id").isInCollection(picks.map(_._1)))
          .orderBy(col("dmin").desc, col("vec_id")).limit(1)
          .collect().head
        picks = picks :+ (next.getLong(0), next.getAs[Long]("dmin"))
        val cvec = next.getSeq[Long](1)
        state = state.withColumn("dmin", least(col("dmin"), d2(cvec)))
          .transform(graft.ops.Reuse.pin)
      }
      val rows = picks.zipWithIndex.map { case ((id, dm), i) =>
        (i.toLong, id, dm)
      }
      s.createDataFrame(rows).toDF("sel_order", "vec_id", "d2_at_pick")
    },
    Some {
      val rounds = (1 to 7).map { k =>
        s"""c$k AS MATERIALIZED (SELECT i, q FROM qe
          WHERE vec_id = (SELECT vec_id FROM p$k)),
      d$k AS MATERIALIZED (SELECT a.vec_id,
            least(d${k - 1}.dmin, CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT))
              AS dmin
          FROM qe a JOIN c$k b ON a.i = b.i
          JOIN d${k - 1} ON a.vec_id = d${k - 1}.vec_id
          GROUP BY a.vec_id, d${k - 1}.dmin),
      p${k + 1} AS MATERIALIZED (SELECT vec_id, dmin FROM d$k
          WHERE vec_id NOT IN (SELECT vec_id FROM picked${k})
          ORDER BY dmin DESC, vec_id LIMIT 1),
      picked${k + 1} AS MATERIALIZED (SELECT vec_id FROM picked$k
          UNION ALL SELECT vec_id FROM p${k + 1})"""
      }.mkString(",\n      ")
      val sel = (1 to 8).map { k =>
        s"SELECT CAST(${k - 1} AS BIGINT) AS sel_order, vec_id, " +
          (if (k == 1) "CAST(0 AS BIGINT) AS d2_at_pick" else "dmin AS d2_at_pick") +
          s" FROM p$k"
      }.mkString("\n      UNION ALL ")
      s"""WITH qe AS MATERIALIZED (SELECT vec_id,
          CAST(generate_subscripts(embedding, 1) AS BIGINT) AS i,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
        FROM embeddings),
      p1 AS MATERIALIZED (SELECT min(vec_id) AS vec_id FROM embeddings),
      picked1 AS MATERIALIZED (SELECT vec_id FROM p1),
      c0 AS MATERIALIZED (SELECT i, q FROM qe
        WHERE vec_id = (SELECT vec_id FROM p1)),
      d0 AS MATERIALIZED (SELECT a.vec_id, CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS dmin
        FROM qe a JOIN c0 b ON a.i = b.i
        GROUP BY a.vec_id),
      $rounds
      SELECT * FROM ($sel) ORDER BY sel_order"""
    })

  /** q209: POISSON BOOTSTRAP REPLICATES — hash-deterministic
    * uncertainty for any corpus statistic (here: mean doc length),
    * the resampling complement to q187's jackknife: replicate b
    * weights each row by a deterministic approximate Poisson(1) draw
    * (u = h32("boot:"+id+":"+b) % 1e6 cut against the exact
    * cumulative-Poisson e6 thresholds), so every engine — and every
    * re-run — sees the same 16 resamples. Per-replicate mean =
    * Σw·x·1e6 div Σw, integer end-to-end.
    *
    * 100 TB shape: the 16× explode is a bounded constant factor that
    * partial-aggregates map-side to 16 rows before the one exchange;
    * weights are pure row-local hash arithmetic (no state, no joins).
    * This is the standard production trick precisely BECAUSE the
    * classical resample-n-rows bootstrap cannot be computed in one
    * pass at scale.
    */
  private val q209Bootstrap = Q(
    "q209_bootstrap",
    (s, d) => {
      // cumulative Poisson(1) mass in e6 fixed-point: P(X<=k)·1e6
      val cuts = Seq(367879L, 735759L, 919699L, 981012L, 996340L,
        999406L, 999917L, 999990L)
      val b = explode(sequence(lit(0), lit(15))).as("b")
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), b)
      val u = h32(concat(lit("boot:"), col("doc_id").cast("string"),
        lit(":"), col("b").cast("string"))) % 1000000L
      val w = cuts.zipWithIndex.foldRight(lit(8L): org.apache.spark.sql.Column) {
        case ((cut, k), el) => when(u < cut, k.toLong).otherwise(el)
      }
      base.select(col("b"), col("n_chars"), w.as("w"))
        .groupBy("b")
        .agg(sum("w").as("n_eff"),
          sum(expr("w * n_chars")).as("swx"))
        .select(col("b"), col("n_eff"),
          expr("(swx * 1000000) div n_eff").as("mean_e6"))
        .orderBy("b")
    },
    Some {
      val cuts = Seq(367879L, 735759L, 919699L, 981012L, 996340L,
        999406L, 999917L, 999990L)
      val caseExpr = cuts.zipWithIndex
        .map { case (c, k) => s"WHEN u < $c THEN $k" }
        .mkString("CASE ", " ", " ELSE 8 END")
      s"""WITH base AS (SELECT doc_id, n_chars, b
          FROM documents CROSS JOIN (SELECT unnest(range(16)) AS b)),
      uw AS (SELECT b, n_chars,
          ${Sql.h32("'boot:' || CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)")} % 1000000 AS u
        FROM base),
      ww AS (SELECT b, n_chars, $caseExpr AS w FROM uw)
      SELECT CAST(b AS INT) AS b, CAST(sum(w) AS BIGINT) AS n_eff,
        CAST((CAST(sum(w * n_chars) AS BIGINT) * 1000000) // sum(w) AS BIGINT) AS mean_e6
      FROM ww GROUP BY 1 ORDER BY 1"""
    },
    bench = true)

  /** q211: PRECISION/RECALL/F1 THRESHOLD SWEEP over the q106
    * classifier margin — the operating-point table that turns q195's
    * single AUC number and q207's calibration bins into a deployable
    * threshold choice: per candidate cutoff, the full confusion
    * counts and F1 in exact integer millionths. Thresholds are fixed
    * literals (the release-gate candidates), labels the q195/q207
    * convention (lang='en').
    *
    * 100 TB shape: the margin is q106's map-side fold; the 5× explode
    * against the threshold literals partial-aggregates to 5 rows
    * before the single exchange (the q209 bounded-fan-out trick) —
    * one corpus pass for the whole sweep, not one per threshold.
    */
  private val q211ThresholdSweep = Q(
    "q211_threshold_sweep",
    (s, d) => {
      val scored = Tables.documents(s, d)
        .select(
          graft.functions.Hash32.hashedMarginCol(col("text")).as("margin"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      scored
        .select(col("margin"), col("pos"),
          explode(typedLit(Seq(-10000L, -5000L, 0L, 5000L, 10000L)))
            .as("thr"))
        .groupBy("thr").agg(
          sum(when(col("margin") >= col("thr"), col("pos")).otherwise(0L))
            .as("tp"),
          sum(when(col("margin") >= col("thr"), lit(1L) - col("pos"))
            .otherwise(0L)).as("fp"),
          sum(when(col("margin") < col("thr"), col("pos")).otherwise(0L))
            .as("fn"),
          sum(when(col("margin") < col("thr"), lit(1L) - col("pos"))
            .otherwise(0L)).as("tn"))
        .select(col("thr"), col("tp"), col("fp"), col("fn"), col("tn"),
          expr("(2 * tp * 1000000) div (2 * tp + fp + fn)").as("f1_e6"))
        .orderBy("thr")
    },
    Some(s"""WITH ws AS (SELECT doc_id, lang,
              unnest(string_split(text, ' ')) AS t
            FROM documents),
      sc AS (SELECT doc_id, max(lang) AS lang,
               CAST(sum(${Sql.tokenWeight("t")}) AS BIGINT)
                 AS margin
             FROM ws GROUP BY doc_id),
      lbl AS (SELECT margin,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM sc),
      x AS (SELECT margin, pos, unnest([-10000, -5000, 0, 5000, 10000]) AS thr
        FROM lbl)
      SELECT CAST(thr AS BIGINT) AS thr,
        CAST(sum(CASE WHEN margin >= thr THEN pos ELSE 0 END) AS BIGINT) AS tp,
        CAST(sum(CASE WHEN margin >= thr THEN 1 - pos ELSE 0 END) AS BIGINT) AS fp,
        CAST(sum(CASE WHEN margin < thr THEN pos ELSE 0 END) AS BIGINT) AS fn,
        CAST(sum(CASE WHEN margin < thr THEN 1 - pos ELSE 0 END) AS BIGINT) AS tn,
        CAST((2 * sum(CASE WHEN margin >= thr THEN pos ELSE 0 END) * 1000000)
          // (2 * sum(CASE WHEN margin >= thr THEN pos ELSE 0 END)
            + sum(CASE WHEN margin >= thr THEN 1 - pos ELSE 0 END)
            + sum(CASE WHEN margin < thr THEN pos ELSE 0 END)) AS BIGINT) AS f1_e6
      FROM x GROUP BY thr ORDER BY thr"""))

  /** q212: WATER-FILLING TOKEN-BUDGET ALLOCATION — given a global
    * token budget (60% of the corpus), derive the per-source uniform
    * cap L and allocation min(Tₛ, L) that exactly exhausts it: small
    * sources keep everything, large sources are capped at a SHARED
    * level — the principled version of q73's fixed per-source cap,
    * where the cap is an OUTPUT (solved from the budget), not an
    * input. The breakpoint solves in closed form over the sorted
    * source-size table: for sources sorted ascending, candidate level
    * L_r = (B − cum_{r−1}) div (n − r + 1); the first r with
    * L_r ≤ T_r is the cap (all-integer; if none, the budget covers
    * the corpus and nothing is capped).
    *
    * 100 TB shape: per-source totals are one exchange to |sources|
    * rows; the sort/window/breakpoint all run over that tiny table;
    * applying the allocation downstream is a broadcast (source → cap)
    * map-side filter, exactly q73's shape.
    */
  private val q212WaterFilling = Q(
    "q212_water_filling",
    (s, d) => {
      val sizes = Tables.documents(s, d)
        .select(col("source"), size(tokens(col("text"))).cast("long").as("nt"))
        .groupBy("source").agg(sum("nt").as("t_s"))
      val tot = sizes.agg(sum("t_s").as("tt"), count(lit(1)).as("n"))
      val w = Window.orderBy(col("t_s"), col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = sizes.crossJoin(broadcast(tot))
        .withColumn("r", row_number().over(Window.orderBy(col("t_s"), col("source"))))
        .withColumn("cum", sum("t_s").over(w))
        .withColumn("budget", expr("(tt * 6) div 10"))
        .withColumn("lr", expr("(budget - (cum - t_s)) div (n - r + 1)"))
      val cap = ranked.filter(col("lr") <= col("t_s"))
        .agg(min(struct(col("r"), col("lr"))).as("brk"))
        .select(coalesce(col("brk.lr"), lit(Long.MaxValue)).as("cap"))
      ranked.crossJoin(broadcast(cap))
        .select(col("source"), col("t_s"), col("budget"),
          least(col("t_s"), col("cap")).as("allocated"),
          (col("t_s") > col("cap")).as("capped"))
        .orderBy("source")
    },
    Some("""WITH sizes AS (SELECT source,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t_s
        FROM documents GROUP BY 1),
      tot AS (SELECT CAST(sum(t_s) AS BIGINT) AS tt,
          CAST(count(*) AS BIGINT) AS n FROM sizes),
      ranked AS (SELECT source, t_s, tt, n,
          CAST(row_number() OVER (ORDER BY t_s, source) AS BIGINT) AS r,
          sum(t_s) OVER (ORDER BY t_s, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          (tt * 6) // 10 AS budget
        FROM sizes, tot),
      lv AS (SELECT *, (budget - (cum - t_s)) // (n - r + 1) AS lr FROM ranked),
      cap AS (SELECT COALESCE(arg_min(lr, r), 9223372036854775807) AS cap
        FROM lv WHERE lr <= t_s)
      SELECT source, t_s, budget, CAST(least(t_s, cap) AS BIGINT) AS allocated,
        t_s > cap AS capped
      FROM lv, cap ORDER BY source"""))

  /** q213: MINHASH CONTAINMENT CONFIRM — ASYMMETRIC near-duplication
    * over the q23 candidate pairs: exact shingle containment
    * |A∩B|/|A| and |A∩B|/|B|, the signal that separates "B quotes
    * all of A" (drop A, keep B) from symmetric near-dups (q67 keeps
    * one representative). Jaccard alone cannot see subset inclusion —
    * a short doc fully contained in a long one has low Jaccard but
    * containment 1.0. Reuses [[graft.ops.Dedup]]'s banded candidates
    * verbatim (no all-pairs anywhere) and confirms only those.
    *
    * 100 TB shape: candidates are the audited bucketed path; the
    * intersection attaches by joining the candidate pair list to the
    * distinct (doc, shingle-hash) table twice on uniform keys —
    * pair×shingle work is bounded by |candidates|·shingles-per-doc;
    * set sizes broadcast back from the per-doc count table. Ratios
    * are exact integer millionths.
    */
  private val q213ContainmentConfirm = Q(
    "q213_containment_confirm",
    (s, d) => {
      // Pinned ONCE (round 17, the q22 move): `doc` feeds the banded
      // candidate generator AND the exploded shingle table `sh` (whose
      // distinct exchange fans out to four consumers) — the shingle
      // scan re-ran per subtree without the pin.
      val doc = Tables.documents(s, d)
        .filter(size(tokens(col("text"))) >= 4)
        .select(col("doc_id"),
          graft.functions.Hash32.shingleHashes(col("text")).as("hs"))
        .transform(graft.ops.Reuse.pin)
      val pairs = graft.ops.Dedup.candidates(graft.ops.Dedup.bandSignatures(doc))
        .select("a_id", "b_id")
      val sh = doc.select(col("doc_id"), explode(col("hs")).as("h")).distinct()
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      // intersection: shingles of a that b also has — h-keyed join
      val aSh = pairs.join(sh.select(col("doc_id").as("a_id"), col("h")), "a_id")
      val ints = aSh
        .join(sh.select(col("doc_id").as("b_id"), col("h")), Seq("b_id", "h"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_int"))
      // merge-pinned: ints has one row per candidate PAIR, i.e. it
      // GROWS with the corpus — broadcast is wrong at scale, and
      // leaving the choice to AQE is wrong at any scale here because
      // the runtime SMJ→BHJ conversion races stage scheduling
      // (measured: 4 identical sf1 runs split 3/1 between the two
      // strategies), which no exact plan census can gate
      pairs.join(ints.hint("merge"), Seq("a_id", "b_id"), "left")
        .na.fill(0L, Seq("n_int"))
        .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("n_a")), "a_id")
        .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("n_b")), "b_id")
        .select(col("a_id"), col("b_id"), col("n_int"), col("n_a"), col("n_b"),
          expr("(n_int * 1000000) div n_a").as("cont_ab_e6"),
          expr("(n_int * 1000000) div n_b").as("cont_ba_e6"))
        .orderBy("a_id", "b_id")
    },
    Some(s"""WITH ${Pipeline.shingleCte},
      th AS (SELECT DISTINCT doc_id, ${Sql.h32("s")} AS h FROM sh),
      params(i, a, b) AS (VALUES ${Pipeline.mhParamsSqlValues}),
      mh AS (SELECT doc_id, i, min((a * h + b) % 2147483647) AS mh
             FROM th CROSS JOIN params GROUP BY 1, 2),
      bands AS (SELECT doc_id, i // 2 AS band,
                  string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
                FROM mh GROUP BY 1, 2),
      pairs AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                FROM bands x JOIN bands y
                  ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
      sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
        FROM th GROUP BY 1),
      ints AS (SELECT p.a_id, p.b_id, CAST(count(*) AS BIGINT) AS n_int
        FROM pairs p JOIN th a ON p.a_id = a.doc_id
        JOIN th b ON p.b_id = b.doc_id AND a.h = b.h
        GROUP BY 1, 2)
      SELECT p.a_id, p.b_id, COALESCE(i.n_int, 0) AS n_int,
        sa.n_sh AS n_a, sb.n_sh AS n_b,
        (COALESCE(i.n_int, 0) * 1000000) // sa.n_sh AS cont_ab_e6,
        (COALESCE(i.n_int, 0) * 1000000) // sb.n_sh AS cont_ba_e6
      FROM pairs p LEFT JOIN ints i ON p.a_id = i.a_id AND p.b_id = i.b_id
      JOIN sizes sa ON p.a_id = sa.doc_id
      JOIN sizes sb ON p.b_id = sb.doc_id
      ORDER BY 1, 2"""),
    bench = true)

  /** q216: PARETO FRONTIER SELECTION — the multi-objective data-
    * selection primitive: documents that are undominated on
    * (length ↓, classifier margin ↑), i.e. no other doc is both
    * shorter and better-scored — the skyline a budgeted curation run
    * picks from when quality and cost trade off. The naive skyline is
    * an all-pairs domination test; here the frontier collapses to a
    * HISTOGRAM sweep: per length value, the best margin (one bounded
    * exchange, map-side partials); a prefix-max window over the sorted
    * length histogram keeps exactly the strictly-improving steps.
    * Representatives tie-break deterministically (min doc_id among the
    * per-length argmax rows — a join, not max_by, whose tie order is
    * engine-defined).
    *
    * 100 TB shape: one exchange to the bounded length domain, window
    * over that histogram only, representative join co-keyed on
    * (length, margin). No all-pairs, no global row sort.
    */
  private val q216ParetoFrontier = Q(
    "q216_pareto_frontier",
    (s, d) => {
      val rows = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").as("x"),
          graft.functions.Hash32.hashedMarginCol(col("text")).as("y"))
      val g = rows.groupBy("x").agg(max("y").as("ymax"))
        .select(col("x").as("gx"), col("ymax"))
      val rep = rows
        .join(g, col("x") === col("gx") && col("y") === col("ymax"))
        .groupBy("x", "ymax").agg(min("doc_id").as("doc_id"))
      val w = Window.orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
      rep.withColumn("prefmax", max("ymax").over(w))
        .filter(col("prefmax").isNull || col("ymax") > col("prefmax"))
        .select(col("x").as("n_chars"), col("ymax").as("margin"),
          col("doc_id"))
        .orderBy("n_chars")
    },
    Some(s"""WITH ws AS (SELECT doc_id, n_chars,
              unnest(string_split(text, ' ')) AS t
            FROM documents),
      sc AS (SELECT doc_id, max(n_chars) AS x,
               CAST(sum(${Sql.tokenWeight("t")}) AS BIGINT)
                 AS y
             FROM ws GROUP BY doc_id),
      g AS (SELECT x, max(y) AS ymax FROM sc GROUP BY 1),
      rep AS (SELECT s.x, g.ymax, min(s.doc_id) AS doc_id
        FROM sc s JOIN g ON s.x = g.x AND s.y = g.ymax GROUP BY 1, 2),
      f AS (SELECT x, ymax, doc_id,
          max(ymax) OVER (ORDER BY x
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prefmax
        FROM rep)
      SELECT x AS n_chars, ymax AS margin, doc_id
      FROM f WHERE prefmax IS NULL OR ymax > prefmax
      ORDER BY 1"""))

  /** q217: SEQUENTIAL A/B TEST (SPRT trajectory) — the day-by-day
    * log-likelihood-ratio path of Wald's sequential probability ratio
    * test over the treatment arm's conversion rate (H₀ p=0.19 vs H₁
    * p=0.21, α=β=0.05 ⇒ decision walls ±ln 19): the experiment
    * monitor that says WHEN a test can stop, not just whether it
    * passed — the sequential complement to q202's fixed-horizon CUPED.
    * Each day's term c·ln(p₁/p₀) + (n−c)·ln(q₁/q₀) takes ln of
    * literal-ratio doubles (identical on both engines), rounds to 6,
    * and cumulates through a DECIMAL(28,6) window sum, so the
    * trajectory — and the day the boundary is crossed — is
    * engine-exact.
    *
    * 100 TB shape: one exchange to the day panel with conditional
    * map-side partials; the cumulative window runs over |days| rows.
    */
  private val q217SprtTrajectory = Q(
    "q217_sprt_trajectory",
    (s, d) => {
      val daily = Tables.events(s, d)
        .filter(pmod(col("user_id"), lit(2)) === 1)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("c"))
      val llr = round(
        col("c").cast("double") * log(lit(0.21) / lit(0.19)) +
          (col("n") - col("c")).cast("double") * log(lit(0.79) / lit(0.81)),
        6).cast("decimal(28,6)")
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.withColumn("llr_day", llr)
        .withColumn("cum", sum("llr_day").over(w))
        .select(col("day"), col("n"), col("c"),
          col("llr_day").cast("double").as("llr_day6"),
          col("cum").cast("double").as("cum_llr6"),
          when(col("cum").cast("double") >= math.log(19.0), "accept_h1")
            .when(col("cum").cast("double") <= -math.log(19.0), "accept_h0")
            .otherwise("continue").as("decision"))
        .orderBy("day")
    },
    Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS c
        FROM events WHERE user_id % 2 = 1 GROUP BY 1),
      t AS (SELECT day, n, c,
          CAST(round(CAST(c AS DOUBLE) * ln(0.21 / 0.19)
            + CAST(n - c AS DOUBLE) * ln(0.79 / 0.81), 6)
            AS DECIMAL(28,6)) AS llr_day
        FROM daily),
      cu AS (SELECT day, n, c, llr_day,
          sum(llr_day) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t)
      SELECT day, n, c, CAST(llr_day AS DOUBLE) AS llr_day6,
        CAST(cum AS DOUBLE) AS cum_llr6,
        CASE WHEN CAST(cum AS DOUBLE) >= ln(19.0) THEN 'accept_h1'
             WHEN CAST(cum AS DOUBLE) <= -ln(19.0) THEN 'accept_h0'
             ELSE 'continue' END AS decision
      FROM cu ORDER BY day"""))

  /** q218: PER-SLICE AUC — q195's rank-sum AUC computed per subgroup
    * (source), the fairness/robustness audit that catches a filter
    * which discriminates well overall but fails on one slice (the
    * aggregate AUC hides it; the slice table can't). Same histogram
    * formulation with the window PARTITIONED by slice, so the per-
    * value compression and the cumulate both stay slice-local — the
    * grouped generalization is literally one `partitionBy` away,
    * which is the point of the histogram design.
    *
    * 100 TB shape: one exchange on (slice, score) with map-side
    * partials; windows run per-slice over bounded histograms in
    * parallel (no single-partition window — q195's only local-mode
    * concession disappears in the grouped form).
    */
  private val q218SlicedAuc = Q(
    "q218_sliced_auc",
    (s, d) => {
      val hist = Tables.documents(s, d)
        .select(col("source"), col("n_chars").as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("is_pos"))
        .groupBy("source", "score")
        .agg(sum("is_pos").as("p"), sum(lit(1L) - col("is_pos")).as("g"))
      val w = Window.partitionBy("source").orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("negBelow", sum("g").over(w) - col("g"))
      cum.groupBy("source").agg(
          sum("p").as("np"), sum("g").as("nn"),
          sum((col("p") * (lit(2) * col("negBelow") + col("g")))
            .cast("decimal(38,0)")).as("u2"))
        .filter(col("np") > 0 && col("nn") > 0)
        .select(col("source"), col("np").as("n_pos"), col("nn").as("n_neg"),
          round(col("u2").cast("double") /
            (lit(2).cast("decimal(38,0)") * col("np") * col("nn"))
              .cast("double"), 6).as("auc6"))
        .orderBy("source")
    },
    Some("""WITH h AS (SELECT source, n_chars AS score,
          CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS p,
          CAST(count(*) FILTER (WHERE lang <> 'en') AS BIGINT) AS g
        FROM documents GROUP BY 1, 2),
      c AS (SELECT source, score, p, g,
          sum(g) OVER (PARTITION BY source ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - g AS negBelow
        FROM h),
      a AS (SELECT source, CAST(sum(p) AS BIGINT) AS np,
          CAST(sum(g) AS BIGINT) AS nn,
          CAST(sum(CAST(p * (2 * negBelow + g) AS DECIMAL(38,0)))
            AS DECIMAL(38,0)) AS u2
        FROM c GROUP BY 1)
      SELECT source, np AS n_pos, nn AS n_neg,
        round(CAST(u2 AS DOUBLE)
          / CAST(2 * CAST(np AS DECIMAL(38,0)) * nn AS DOUBLE), 6) AS auc6
      FROM a WHERE np > 0 AND nn > 0 ORDER BY 1"""))

  /** q219: EXACT TRIMMED MEAN per source — the robust location
    * estimate (drop the k = ⌊5%·n⌋ smallest and largest lengths,
    * average the rest) computed WITHOUT any per-row rank: the per-
    * source value HISTOGRAM cumulates once, and each value's kept
    * multiplicity is the exact overlap of its rank interval
    * [cum−m, cum) with the kept band [k, n−k) — boundary values
    * contribute PARTIALLY, which integer interval arithmetic handles
    * exactly where a filter-on-rank formulation would drop whole
    * ties. Mean is integer millionths.
    *
    * 100 TB shape: one exchange to the (source, value) histogram
    * with map-side partials; windows run per-source over bounded
    * histograms; no global sort, no row-level window.
    */
  private val q219TrimmedMean = Q(
    "q219_trimmed_mean",
    (s, d) => {
      val hist = Tables.documents(s, d)
        .groupBy(col("source"), col("n_chars").as("v"))
        .agg(count(lit(1)).as("m"))
      val w = Window.partitionBy("source").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum("m").over(w))
      val tot = cum.groupBy("source").agg(max("cum").as("n"))
        .withColumn("k", expr("(n * 5) div 100"))
      cum.join(broadcast(tot), "source")
        .withColumn("kept", expr(
          "greatest(CAST(0 AS BIGINT), least(cum, n - k) - greatest(cum - m, k))"))
        .groupBy("source").agg(
          max("n").as("n_docs"), max("k").as("k_trim"),
          sum(expr("kept * v")).as("kept_sum"),
          sum("kept").as("kept_n"))
        .select(col("source"), col("n_docs"), col("k_trim"),
          expr("(kept_sum * 1000000) div kept_n").as("trimmed_mean_e6"))
        .orderBy("source")
    },
    Some("""WITH h AS (SELECT source, n_chars AS v,
          CAST(count(*) AS BIGINT) AS m
        FROM documents GROUP BY 1, 2),
      c AS (SELECT source, v, m,
          sum(m) OVER (PARTITION BY source ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM h),
      t AS (SELECT source, max(cum) AS n, (max(cum) * 5) // 100 AS k
        FROM c GROUP BY 1),
      kp AS (SELECT c.source, c.v,
          greatest(0, least(c.cum, t.n - t.k) - greatest(c.cum - c.m, t.k))
            AS kept, t.n, t.k
        FROM c JOIN t ON c.source = t.source)
      SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
        CAST(max(k) AS BIGINT) AS k_trim,
        CAST((sum(kept * v) * 1000000) // sum(kept) AS BIGINT)
          AS trimmed_mean_e6
      FROM kp GROUP BY 1 ORDER BY 1"""))

  /** q220: PREFERENCE-PAIR CONSTRUCTION — the DPO/RLHF data-prep
    * primitive: within each prompt group (source stands in for the
    * prompt cluster), pair the best-scored document (chosen) against
    * the worst (rejected) and keep pairs whose margin gap clears a
    * floor — the contrastive training table distilled from a scalar
    * quality signal. Argmax/argmin tie-break deterministically via
    * the q216 join construction (min doc_id among extremum rows),
    * never an engine-defined max_by.
    *
    * 100 TB shape: extrema are one exchange to |groups| rows with
    * map-side partials; representative joins are co-keyed on
    * (group, extremum value); the pair table is |groups| rows.
    */
  private val q220PreferencePairs = Q(
    "q220_preference_pairs",
    (s, d) => {
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          graft.functions.Hash32.hashedMarginCol(col("text")).as("m"))
      val ext = scored.groupBy("source")
        .agg(max("m").as("mhi"), min("m").as("mlo"))
      val hi = scored.join(ext.select(col("source"), col("mhi")),
          Seq("source")).filter(col("m") === col("mhi"))
        .groupBy("source", "mhi").agg(min("doc_id").as("chosen_id"))
      val lo = scored.join(ext.select(col("source"), col("mlo")),
          Seq("source")).filter(col("m") === col("mlo"))
        .groupBy("source", "mlo").agg(min("doc_id").as("rejected_id"))
      hi.join(lo, "source")
        .select(col("source"), col("chosen_id"), col("mhi").as("chosen_m"),
          col("rejected_id"), col("mlo").as("rejected_m"),
          (col("mhi") - col("mlo")).as("gap"))
        .filter(col("gap") >= 500)
        .orderBy("source")
    },
    Some(s"""WITH ws AS (SELECT doc_id, source,
              unnest(string_split(text, ' ')) AS t
            FROM documents),
      sc AS (SELECT doc_id, max(source) AS source,
               CAST(sum(${Sql.tokenWeight("t")}) AS BIGINT)
                 AS m
             FROM ws GROUP BY doc_id),
      ext AS (SELECT source, max(m) AS mhi, min(m) AS mlo
        FROM sc GROUP BY 1),
      hi AS (SELECT s.source, e.mhi, min(s.doc_id) AS chosen_id
        FROM sc s JOIN ext e ON s.source = e.source AND s.m = e.mhi
        GROUP BY 1, 2),
      lo AS (SELECT s.source, e.mlo, min(s.doc_id) AS rejected_id
        FROM sc s JOIN ext e ON s.source = e.source AND s.m = e.mlo
        GROUP BY 1, 2)
      SELECT h.source, h.chosen_id, h.mhi AS chosen_m,
        l.rejected_id, l.mlo AS rejected_m, h.mhi - l.mlo AS gap
      FROM hi h JOIN lo l ON h.source = l.source
      WHERE h.mhi - l.mlo >= 500
      ORDER BY 1"""))

  /** q221: k-ANONYMITY GENERALIZATION LADDER — q173 told you WHETHER
    * a release passes at one quasi-identifier granularity; this finds
    * the MINIMAL generalization that does: the same audit at hour /
    * day / week time buckets in ONE corpus pass (the q209/q211
    * bounded-fan-out trick: each event explodes into its 3 ladder
    * keys, one exchange on the composite (level, type, bucket)
    * domain), reporting per level the class floor and the
    * re-identifiable row count, with the pass flag a release gate
    * reads off directly.
    *
    * 100 TB shape: 3× bounded fan-out, map-side partials to the
    * bucket domain, then a 3-row rollup. No joins.
    */
  private val q221GeneralizationLadder = Q(
    "q221_generalization_ladder",
    (s, d) => {
      val base = Tables.events(s, d).select(col("event_type"),
        unix_micros(col("ts")).as("us"))
      val leveled = base.select(col("event_type"), col("us"),
          explode(typedLit(Seq(0, 1, 2))).as("level"))
        .withColumn("bucket", expr("""CASE level
          WHEN 0 THEN us div 3600000000
          WHEN 1 THEN us div 86400000000
          ELSE us div 604800000000 END"""))
      val classes = leveled.groupBy("level", "event_type", "bucket")
        .agg(count(lit(1)).as("n"))
      classes.groupBy("level").agg(
          count(lit(1)).as("n_classes"),
          min("n").as("min_class"),
          sum(when(col("n") < 5, col("n")).otherwise(0L))
            .as("n_violating_rows"))
        .withColumn("passes", col("n_violating_rows") === 0L)
        .orderBy("level")
    },
    Some("""WITH lv AS (SELECT event_type, epoch_us(ts) AS us,
          unnest([0, 1, 2]) AS level FROM events),
      b AS (SELECT level, event_type,
          CASE level WHEN 0 THEN us // 3600000000
            WHEN 1 THEN us // 86400000000
            ELSE us // 604800000000 END AS bucket
        FROM lv),
      cl AS (SELECT level, event_type, bucket,
          CAST(count(*) AS BIGINT) AS n
        FROM b GROUP BY 1, 2, 3)
      SELECT CAST(level AS INT) AS level,
        CAST(count(*) AS BIGINT) AS n_classes,
        CAST(min(n) AS BIGINT) AS min_class,
        CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
          AS n_violating_rows,
        sum(CASE WHEN n < 5 THEN n ELSE 0 END) = 0 AS passes
      FROM cl GROUP BY 1 ORDER BY 1"""))

  /** q225: FREQUENT TOKEN-PAIR MINING (distributed Apriori, level 2)
    * — co-occurrence ANYWHERE in a document (q113's collocations see
    * only ADJACENT bigrams): L1 = tokens whose document frequency
    * clears the support floor; candidate pairs are generated per
    * document from its L1-filtered DISTINCT tokens only (the Apriori
    * prune — a pair of infrequent tokens cannot be frequent, so the
    * per-doc self-join is bounded by |L1 ∩ doc|², not |doc|²); L2 =
    * pairs clearing the same floor, with lift in integer millionths.
    *
    * 100 TB shape: L1 is one uniform-key exchange and broadcasts
    * back as a semi-join filter in the scan stage; pair generation is
    * per-doc local (explode of the bounded filtered token set);
    * support counts partial-aggregate on uniform pair keys. The
    * classic SON/Apriori production shape.
    */
  private val q225FrequentPairs = Q(
    "q225_frequent_pairs",
    (s, d) => {
      val minsup = 40L
      val dt = Tables.documents(s, d)
        .select(col("doc_id"), explode(array_distinct(tokens(col("text"))))
          .as("t"))
      val l1 = dt.groupBy("t").agg(count(lit(1)).as("df"))
        .filter(col("df") >= minsup)
      val ft = dt.join(broadcast(l1.select("t")), "t")
      val fa = ft.select(col("doc_id"), col("t").as("a"))
      val fb = ft.select(col("doc_id"), col("t").as("b"))
      val pairs = fa.join(fb, "doc_id").filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
        .filter(col("support") >= minsup)
      val tot = Tables.documents(s, d).count()
      val dfA = l1.select(col("t").as("a"), col("df").as("df_a"))
      val dfB = l1.select(col("t").as("b"), col("df").as("df_b"))
      pairs.join(broadcast(dfA), "a").join(broadcast(dfB), "b")
        .select(col("a"), col("b"), col("support"), col("df_a"), col("df_b"),
          expr(s"(support * $tot * 1000000) div (df_a * df_b)")
            .as("lift_e6"))
        .orderBy("a", "b")
    },
    Some("""WITH dt AS (SELECT DISTINCT doc_id,
          unnest(string_split(text, ' ')) AS t FROM documents),
      l1 AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM dt
        GROUP BY 1 HAVING count(*) >= 40),
      ft AS (SELECT dt.doc_id, dt.t FROM dt JOIN l1 ON dt.t = l1.t),
      p AS (SELECT x.t AS a, y.t AS b, CAST(count(*) AS BIGINT) AS support
        FROM ft x JOIN ft y ON x.doc_id = y.doc_id AND x.t < y.t
        GROUP BY 1, 2 HAVING count(*) >= 40),
      n AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM documents)
      SELECT p.a, p.b, p.support, da.df AS df_a, db.df AS df_b,
        CAST((p.support * n.tot * 1000000) // (da.df * db.df) AS BIGINT)
          AS lift_e6
      FROM p JOIN l1 da ON p.a = da.t JOIN l1 db ON p.b = db.t, n
      ORDER BY 1, 2"""))

  /** q226: EXPERIMENT POWER ANALYSIS — required sample size per arm
    * to detect each candidate effect size at α=0.05, β=0.2 (the
    * classic n = (z_α/2 + z_β)²·2p̂(1−p̂)/δ² two-proportion formula),
    * with the baseline rate p̂ measured from the control arm — the
    * BEFORE-the-experiment table that q217's SPRT and q202's CUPED
    * assume someone computed. The z constants are literals; p̂ is a
    * ratio of exact counts; per-δ math is one final double chain.
    *
    * 100 TB shape: one all-reduce row for p̂, then a 4-row literal
    * fan-out — driver-invisible.
    */
  private val q226PowerAnalysis = Q(
    "q226_power_analysis",
    (s, d) => {
      val base = Tables.events(s, d)
        .filter(pmod(col("user_id"), lit(2)) === 0)
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("c"))
      base.select(col("n"), col("c"),
          explode(typedLit(Seq(5000L, 10000L, 20000L, 50000L))).as("delta_e6"))
        .select(col("n").as("n_control"), col("c").as("n_conv"),
          col("delta_e6"),
          round((pow(lit(1.959964) + lit(0.841621), 2) * lit(2.0) *
            (col("c").cast("double") / col("n").cast("double")) *
            (lit(1.0) - col("c").cast("double") / col("n").cast("double"))) /
            pow(col("delta_e6").cast("double") / lit(1e6), 2), 0)
            .cast("long").as("n_required"))
        .orderBy("delta_e6")
    },
    Some("""WITH b AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS c
        FROM events WHERE user_id % 2 = 0),
      g AS (SELECT n, c, unnest([5000, 10000, 20000, 50000]) AS delta_e6
        FROM b)
      SELECT n AS n_control, c AS n_conv, CAST(delta_e6 AS BIGINT) AS delta_e6,
        CAST(round((pow(1.959964 + 0.841621, 2) * 2.0
            * (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
            * (1.0 - CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))
          / pow(CAST(delta_e6 AS DOUBLE) / 1e6, 2), 0) AS BIGINT)
          AS n_required
      FROM g ORDER BY delta_e6"""))

  /** q227: FEATURE-HASH COLLISION AUDIT — how much signal the q106
    * classifier's 4096-bucket hashing destroys: per-bucket distinct-
    * token load from the REAL vocabulary, the occupancy histogram
    * (count-of-counts again), and the collision rate (tokens sharing
    * a bucket with another token) — read against the birthday-problem
    * expectation to decide when to widen the table. One row.
    *
    * 100 TB shape: vocabulary → bucket is a uniform-key exchange of
    * |V| rows; everything after runs on the ≤4096-row bucket table.
    */
  private val q227HashCollisionAudit = Q(
    "q227_hash_collision_audit",
    (s, d) => {
      val vocab = Tables.documents(s, d)
        .select(explode(array_distinct(tokens(col("text")))).as("t"))
        .distinct()
      val buckets = vocab
        .select(pmod(h32(col("t")), lit(4096L)).as("bkt"))
        .groupBy("bkt").agg(count(lit(1)).as("load"))
      buckets.agg(
          sum("load").as("n_tokens"),
          count(lit(1)).as("n_used_buckets"),
          max("load").as("max_load"),
          sum(when(col("load") > 1, col("load")).otherwise(0L))
            .as("n_colliding_tokens"))
        .select(col("n_tokens"), col("n_used_buckets"), col("max_load"),
          col("n_colliding_tokens"),
          expr("(n_colliding_tokens * 1000000) div n_tokens")
            .as("collision_rate_e6"))
    },
    Some(s"""WITH v AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS t
        FROM documents),
      b AS (SELECT ${Sql.h32("t")} % 4096 AS bkt,
          CAST(count(*) AS BIGINT) AS load
        FROM v GROUP BY 1)
      SELECT CAST(sum(load) AS BIGINT) AS n_tokens,
        CAST(count(*) AS BIGINT) AS n_used_buckets,
        CAST(max(load) AS BIGINT) AS max_load,
        CAST(sum(CASE WHEN load > 1 THEN load ELSE 0 END) AS BIGINT)
          AS n_colliding_tokens,
        CAST((sum(CASE WHEN load > 1 THEN load ELSE 0 END) * 1000000)
          // sum(load) AS BIGINT) AS collision_rate_e6
      FROM b"""))

  /** q230: IPF RAKING (iterative proportional fitting, 3 unrolled
    * rounds) — the survey-weighting / data-mixing solver: find cell
    * weights over the (source, lang) contingency table whose row
    * margins hit a TARGET (equal share per source) while column
    * margins stay at the observed language totals. Each round scales
    * rows then columns by exact-rational factors in e6 fixed point
    * (round-to-nearest via (2·num + den) div (2·den) — one rounding
    * per scale, so both engines walk the identical trajectory); three
    * rounds on a dense table converge to sub-percent margin error,
    * and the emitted margin-error columns PROVE the convergence
    * instead of asserting it.
    *
    * 100 TB shape: the contingency table is one corpus exchange;
    * every round is arithmetic over |sources|·|langs| cells with
    * broadcast margins. The q149/q208 unrolled-iteration oracle
    * pattern.
    */
  private val q230IpfRaking = Q(
    "q230_ipf_raking",
    (s, d) => {
      val ct = Tables.documents(s, d)
        .groupBy("source", "lang").agg(count(lit(1)).as("n"))
      val tot = ct.agg(sum("n").as("tt"),
        count_distinct(col("source")).as("ns"))
      // e6-scaled products widen to DECIMAL(38,0) before the integer
      // division: tt*1e6 and 2*w*target wrap int64 silently in Spark at
      // real scale; the oracle widens the same products with explicit
      // HUGEINT casts — DuckDB does NOT auto-promote BIGINT*BIGINT, it
      // throws on overflow (the sf1 probe hit 2.16e9 * 2.06e10 in round
      // 1's row scale) — the q195/q196/q198 discipline; `div` on
      // decimals returns BIGINT
      var w = ct.crossJoin(broadcast(tot))
        .withColumn("w", col("n") * lit(1000000L))
        .withColumn("row_target",
          expr("(cast(tt as decimal(38,0)) * 1000000) div ns"))
      val colTarget = ct.groupBy("lang")
        .agg((sum("n") * lit(1000000L)).as("col_target"))
      for (_ <- 1 to 3) {
        val rowSum = w.groupBy("source").agg(sum("w").as("rs"))
        w = w.join(broadcast(rowSum), "source")
          .withColumn("w",
            expr("(cast(w as decimal(38,0)) * 2 * row_target + rs)" +
              " div (cast(rs as decimal(38,0)) * 2)"))
        val colSum = w.groupBy("lang").agg(sum("w").as("cs"))
        w = w.join(broadcast(colSum), "lang")
          .join(broadcast(colTarget), "lang")
          .withColumn("w",
            expr("(cast(w as decimal(38,0)) * 2 * col_target + cs)" +
              " div (cast(cs as decimal(38,0)) * 2)"))
          .drop("rs", "cs", "col_target")
      }
      val rowErr = w.groupBy("source")
        .agg(max("row_target").as("rt"), sum("w").as("rs"))
        .select(max(abs(col("rs") - col("rt"))).as("max_row_err"))
      w.select(col("source"), col("lang"), col("n"), col("w").as("w_e6"))
        .crossJoin(broadcast(rowErr))
        .orderBy("source", "lang")
    },
    Some {
      val rounds = (1 to 3).map { k =>
        s"""rs$k AS (SELECT source, CAST(sum(w) AS BIGINT) AS rs
          FROM w${k - 1} GROUP BY 1),
      wr$k AS (SELECT w.source, w.lang, w.n, w.row_target,
          (2 * CAST(w.w AS HUGEINT) * w.row_target + r.rs)
            // (2 * CAST(r.rs AS HUGEINT)) AS w
        FROM w${k - 1} w JOIN rs$k r ON w.source = r.source),
      cs$k AS (SELECT lang, CAST(sum(w) AS BIGINT) AS cs
          FROM wr$k GROUP BY 1),
      w$k AS (SELECT w.source, w.lang, w.n, w.row_target,
          (2 * CAST(w.w AS HUGEINT) * ct.col_target + c.cs)
            // (2 * CAST(c.cs AS HUGEINT)) AS w
        FROM wr$k w JOIN cs$k c ON w.lang = c.lang
        JOIN coltarget ct ON w.lang = ct.lang)"""
      }.mkString(",\n      ")
      s"""WITH ct AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS tt,
          CAST(count(DISTINCT source) AS BIGINT) AS ns FROM ct),
      coltarget AS (SELECT lang, CAST(sum(n) * 1000000 AS BIGINT)
          AS col_target FROM ct GROUP BY 1),
      w0 AS (SELECT source, lang, n, n * 1000000 AS w,
          (tt * 1000000) // ns AS row_target FROM ct, tot),
      $rounds,
      re AS (SELECT CAST(max(abs(rs - rt)) AS BIGINT) AS max_row_err
        FROM (SELECT source, max(row_target) AS rt, sum(w) AS rs
          FROM w3 GROUP BY 1) t)
      SELECT source, lang, n, CAST(w AS BIGINT) AS w_e6, re.max_row_err
      FROM w3, re ORDER BY 1, 2"""
    })

  /** q231: SELF-NORMALIZED IPS (off-policy evaluation) — estimate a
    * TARGET policy's value from logged interactions weighted by
    * inverse propensities: the counterfactual-measurement primitive
    * behind every "would the new ranker have done better" question
    * answered without an A/B test. Logged propensities are
    * deterministic per-user rationals (h32-derived, e6 fixed point);
    * weights 1e9 div p_e6 (scaled to keep Σw·r inside int64) and rewards (quantized value for
    * purchases) stay exact integers; SNIPS = Σw·r / Σw per action is
    * the single final double ratio — the self-normalized form, which
    * kills the raw-IPS variance blowup on small propensities.
    *
    * 100 TB shape: weights are scan-stage hash arithmetic; one
    * exchange to the |actions| domain with map-side partials.
    */
  private val q231SnipsOffPolicy = Q(
    "q231_snips_off_policy",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        (lit(100000L) + h32(concat(lit("prop:"),
          col("user_id").cast("string"))) % 800000L).as("p_e6"),
        when(col("event_type") === "purchase",
          floor(col("value") * lit(1e6)).cast("long")).otherwise(0L)
          .as("r_v6"))
      ev.withColumn("w", expr("1000000000 div p_e6"))
        .groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum("w").as("sum_w"),
          sum(expr("w * r_v6")).as("sum_wr"))
        .select(col("event_type"), col("n"), col("sum_w"), col("sum_wr"),
          round(col("sum_wr").cast("double") / col("sum_w").cast("double"), 6)
            .as("snips_v6"))
        .orderBy("event_type")
    },
    Some(s"""WITH ev AS (SELECT event_type,
          100000 + ${Sql.h32("'prop:' || CAST(user_id AS VARCHAR)")} % 800000 AS p_e6,
          CASE WHEN event_type = 'purchase'
            THEN CAST(floor(value * 1e6) AS BIGINT) ELSE 0 END AS r_v6
        FROM events),
      w AS (SELECT event_type, 1000000000 // p_e6 AS w, r_v6 FROM ev)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(w) AS BIGINT) AS sum_w,
        CAST(sum(w * r_v6) AS BIGINT) AS sum_wr,
        round(CAST(sum(w * r_v6) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6)
          AS snips_v6
      FROM w GROUP BY 1 ORDER BY 1"""))

  /** q233: QUANTILE NORMALIZATION across sources — map each source's
    * length distribution onto the GLOBAL distribution (the
    * cross-source score-calibration op: after it, "length 300 in
    * src3" and "length 300 in src9" mean the same percentile), the
    * batch sibling of q78/q95's quantile work. For each (source,
    * value): its within-source cumulative fraction looks up the
    * smallest global value whose global fraction reaches it —
    * integer-exact via cross-multiplied fractions (cumS·nG ≤ cumG·nS
    * avoids any division), the q195/q198 histogram discipline.
    *
    * 100 TB shape: both cumulative tables are histogram-sized (value
    * domain × sources); the lookup is a min-over-qualifying-rows
    * aggregation on the joined bounded histograms — at an unbounded
    * value domain this becomes q159's sketch split points or q80's
    * range join; the audit emits per (source, value) rows.
    */
  private val q233QuantileNorm = Q(
    "q233_quantile_norm",
    (s, d) => {
      val hist = Tables.documents(s, d)
        .groupBy(col("source"), col("n_chars").as("v"))
        .agg(count(lit(1)).as("m"))
      val ws = Window.partitionBy("source").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cumS = hist.withColumn("cums", sum("m").over(ws))
        .withColumn("ns", sum("m").over(Window.partitionBy("source")))
      val ghist = Tables.documents(s, d)
        .groupBy(col("n_chars").as("gv")).agg(count(lit(1)).as("gm"))
      val wg = Window.orderBy("gv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cumG = ghist.withColumn("cumg", sum("gm").over(wg))
        .withColumn("ng", sum("gm").over(Window.partitionBy()))
      cumS.join(cumG, col("cums") * col("ng") <= col("cumg") * col("ns"))
        .groupBy("source", "v", "cums", "ns")
        .agg(min("gv").as("v_norm"))
        .select(col("source"), col("v"), col("cums"), col("ns"),
          col("v_norm"))
        .orderBy("source", "v")
    },
    Some("""WITH h AS (SELECT source, n_chars AS v,
          CAST(count(*) AS BIGINT) AS m FROM documents GROUP BY 1, 2),
      cs AS (SELECT source, v, m,
          sum(m) OVER (PARTITION BY source ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cums,
          sum(m) OVER (PARTITION BY source) AS ns
        FROM h),
      g AS (SELECT n_chars AS gv, CAST(count(*) AS BIGINT) AS gm
        FROM documents GROUP BY 1),
      cg AS (SELECT gv,
          sum(gm) OVER (ORDER BY gv
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumg,
          sum(gm) OVER () AS ng
        FROM g)
      SELECT cs.source, cs.v, CAST(cs.cums AS BIGINT) AS cums,
        CAST(cs.ns AS BIGINT) AS ns, CAST(min(cg.gv) AS BIGINT) AS v_norm
      FROM cs JOIN cg ON cs.cums * cg.ng <= cg.cumg * cs.ns
      GROUP BY 1, 2, 3, 4 ORDER BY 1, 2"""))

  /** q234: RENDEZVOUS-HASH REBALANCE AUDIT — what fraction of the
    * corpus MOVES when the shard count grows from 8 to 9, mod-hash vs
    * rendezvous (highest-random-weight) placement: the partitioner
    * choice audit for any growing storage/serving tier. Rendezvous
    * shard = argmax over shards of h32(key:shard) (greatest-of-9
    * scan-stage expressions, ties impossible on distinct hash
    * inputs); mod shard = h32 % n. The law the audit demonstrates:
    * HRW moves ≈ 1/9 of keys (only those whose new shard's hash tops
    * their old max), mod moves ≈ 8/9 — the output row carries both
    * fractions in integer millionths.
    *
    * 100 TB shape: every placement is row-local hash arithmetic in
    * the scan stage; ONE single-row aggregate. Nothing shuffles but
    * the final count.
    */
  private val q234RendezvousRebalance = Q(
    "q234_rendezvous_rebalance",
    (s, d) => {
      def hrw(n: Int): org.apache.spark.sql.Column = {
        val weighted = (0 until n).map { sh =>
          struct(h32(concat(lit(s"shard:$sh:"),
            col("doc_id").cast("string"))).as("w"), lit(sh.toLong).as("sh"))
        }
        greatest(weighted: _*).getField("sh")
      }
      val placed = Tables.documents(s, d).select(col("doc_id"),
        hrw(8).as("hrw8"), hrw(9).as("hrw9"),
        (h32(concat(lit("mod:"), col("doc_id").cast("string"))) % 8)
          .as("mod8"),
        (h32(concat(lit("mod:"), col("doc_id").cast("string"))) % 9)
          .as("mod9"))
      placed.agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("hrw8") =!= col("hrw9"), 1L).otherwise(0L))
            .as("hrw_moved"),
          sum(when(col("mod8") =!= col("mod9"), 1L).otherwise(0L))
            .as("mod_moved"))
        .select(col("n_docs"), col("hrw_moved"), col("mod_moved"),
          expr("(hrw_moved * 1000000) div n_docs").as("hrw_moved_e6"),
          expr("(mod_moved * 1000000) div n_docs").as("mod_moved_e6"))
    },
    Some {
      // DuckDB formulation: greatest-of-structs via list_max over
      // (weight, shard) pairs — struct comparison is lexicographic in
      // both engines
      val mk = (n: Int) => (0 until n).map { sh =>
        s"{'w': ${Sql.h32(s"'shard:$sh:' || CAST(doc_id AS VARCHAR)")}, 'sh': CAST($sh AS BIGINT)}"
      }.mkString("[", ", ", "]")
      s"""WITH placed AS (SELECT doc_id,
          list_max(${mk(8)})['sh'] AS hrw8,
          list_max(${mk(9)})['sh'] AS hrw9,
          ${Sql.h32("'mod:' || CAST(doc_id AS VARCHAR)")} % 8 AS mod8,
          ${Sql.h32("'mod:' || CAST(doc_id AS VARCHAR)")} % 9 AS mod9
        FROM documents)
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN hrw8 <> hrw9 THEN 1 ELSE 0 END) AS BIGINT)
          AS hrw_moved,
        CAST(sum(CASE WHEN mod8 <> mod9 THEN 1 ELSE 0 END) AS BIGINT)
          AS mod_moved,
        CAST((sum(CASE WHEN hrw8 <> hrw9 THEN 1 ELSE 0 END) * 1000000)
          // count(*) AS BIGINT) AS hrw_moved_e6,
        CAST((sum(CASE WHEN mod8 <> mod9 THEN 1 ELSE 0 END) * 1000000)
          // count(*) AS BIGINT) AS mod_moved_e6
      FROM placed"""
    })

  /** q235: SLIDING-WINDOW HLL DISTINCT — trailing-7-day distinct
    * users per day through MERGEABLE register tables, the composition
    * q164 (grouped HLL) and q114 (stream windows) point at but
    * neither performs: per-day registers are a plain (day, idx,
    * max-rho) table — built RELATIONALLY (groupBy max), no custom
    * aggregate needed, which is exactly why HLL wins at scale: the
    * window merge is just another max over the 7-day offset fan-out,
    * never a re-scan of raw events. The exact distinct rides along
    * for the audit (q164's convention); production drops it — THAT
    * is the point of the sketch.
    *
    * 100 TB shape: raw events compress to ≤512 register rows per day
    * map-side; the 7× offset explode fans out register rows (bounded:
    * 512·days), not events; estimates use the shared [[Hll]]
    * estimator formula (identical on both engines).
    */
  private val q235SlidingHll = Q(
    "q235_sliding_hll",
    (s, d) => {
      val ev = Tables.events(s, d).select(to_date(col("ts")).as("day"),
        h32(concat(lit("u:"), col("user_id").cast("string"))).as("h"))
      val reg = ev.select(col("day"), (col("h") % 512).as("idx"),
          expr("""CASE WHEN h div 512 = 0 THEN 24
            ELSE bit_count(((h div 512) & -(h div 512)) - 1) + 1 END""")
            .as("rho"))
        .groupBy("day", "idx").agg(max("rho").as("mx"))
      val fan = reg.select(col("day"), col("idx"), col("mx"),
          explode(sequence(lit(0), lit(6))).as("off"))
        .select(date_add(col("day"), col("off")).as("wday"),
          col("idx"), col("mx"))
      val days = reg.select("day").distinct()
      val merged = fan.join(days, fan("wday") === days("day")).drop("day")
        .groupBy("wday", "idx").agg(max("mx").as("mx"))
      val agg = merged.groupBy("wday").agg(
          count(lit(1)).as("n_used"),
          sum(expr("CAST(1 AS BIGINT) << (24 - mx)")).as("t_used"))
        .select(col("wday").as("day"),
          (lit(512L) - col("n_used")).as("v_zero"),
          (col("t_used") + (lit(512L) - col("n_used")) * lit(16777216L))
            .as("t_total"))
        .withColumn("est",
          expr(graft.functions.Hll.estimateSql("v_zero", "t_total")))
      val exact = Tables.events(s, d)
        .select(to_date(col("ts")).as("eday"), col("user_id"))
        .withColumn("off", explode(sequence(lit(0), lit(6))))
        .select(date_add(col("eday"), col("off")).as("day"), col("user_id"))
        .join(days.withColumnRenamed("day", "dday"),
          col("day") === col("dday")).drop("dday")
        .groupBy("day").agg(count_distinct(col("user_id")).as("exact_distinct"))
      agg.join(exact, "day").orderBy("day")
    },
    Some(s"""WITH ev AS (SELECT CAST(ts AS DATE) AS day,
          ${Sql.h32("'u:' || CAST(user_id AS VARCHAR)")} AS h
        FROM events),
      reg AS (SELECT day, h % 512 AS idx,
          max(CASE WHEN h // 512 = 0 THEN 24
            ELSE bit_count(((h // 512) & -(h // 512)) - 1) + 1 END) AS mx
        FROM ev GROUP BY 1, 2),
      days AS (SELECT DISTINCT day FROM reg),
      fan AS (SELECT r.day + CAST(o.off AS INT) AS wday, r.idx, r.mx
        FROM reg r, (SELECT unnest(range(7)) AS off) o),
      merged AS (SELECT f.wday, f.idx, max(f.mx) AS mx
        FROM fan f JOIN days d ON f.wday = d.day GROUP BY 1, 2),
      agg AS (SELECT wday AS day,
          512 - count(*) AS v_zero,
          CAST(sum(CAST(1 AS BIGINT) << (24 - mx))
            + (512 - count(*)) * 16777216 AS BIGINT) AS t_total
        FROM merged GROUP BY 1),
      ex AS (SELECT e.day + CAST(o.off AS INT) AS day,
          count(DISTINCT CASE WHEN TRUE THEN e.user_id END) AS exact_distinct
        FROM (SELECT CAST(ts AS DATE) AS day, user_id FROM events) e,
          (SELECT unnest(range(7)) AS off) o
        WHERE e.day + CAST(o.off AS INT) IN (SELECT day FROM days)
        GROUP BY 1)
      SELECT a.day, CAST(a.v_zero AS BIGINT) AS v_zero, a.t_total,
        """ + graft.functions.Hll.estimateSql("a.v_zero", "a.t_total") +
      """ AS est,
        CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
      FROM agg a JOIN ex ON a.day = ex.day ORDER BY 1"""),
    bench = true)

  /** q236: VECTOR OUTLIER FLAGGING — per-cell z-test on the own-
    * centroid cosine: vectors far below their cell's mean similarity
    * are garbage/poisoning candidates (the index-hygiene gate between
    * q186's cell-balance audit and q191's cluster-quality score).
    * The z > 2 predicate is evaluated in PURE INTEGERS by squaring
    * the cross-multiplied form — (S1 − n·x)² > 4·(n·S2 − S1²) with a
    * positivity guard — so no square root, no float threshold, and
    * the flags replay exactly (DECIMAL(38,0) squares for the 100 TB
    * cell sizes). The FULL per-vector flag table is emitted (not just
    * the flagged tail) so the oracle verifies real content even when
    * a slice has no outliers.
    *
    * 100 TB shape: own-centroid cosine is the scan-stage codegen
    * assignment pass (plan-bound codebook); per-cell moments are one
    * bounded exchange; flags evaluate in a second scan joined to the
    * broadcast cell-stats table.
    */
  private val q236VectorOutliers = Q(
    "q236_vector_outliers",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val cb = graft.search.Ivf.codebook(e,
        graft.search.Ivf.adaptiveMod(e.count()))
      import graft.functions.Portable.toDouble
      val top = graft.functions.IvfOps.top2Col(
        toDouble(col("embedding")), cb)
      val scored = e.select(col("vec_id"),
          top.getField("cell").as("cell"),
          round(top.getField("cs1") * 1e6, 0).cast("long").as("x"))
        .filter(col("cell").isNotNull)
      val stats = scored.groupBy("cell").agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("x").cast("decimal(38,0)").as("s1"),
        sum(col("x").cast("decimal(38,0)") * col("x")).cast("decimal(38,0)")
          .as("s2"))
      scored.join(broadcast(stats), "cell")
        .withColumn("dev", col("s1") - col("n") * col("x"))
        .withColumn("flag", col("dev") > 0 &&
          col("dev") * col("dev") > lit(4) *
            (col("n") * col("s2") - col("s1") * col("s1")))
        .select(col("vec_id"), col("cell"), col("x").as("cos_e6"),
          col("n").cast("long").as("cell_n"), col("flag"))
        .orderBy("vec_id")
    },
    Some(s"""WITH ${Sql.ivfAssignCtes()},
      scored AS (SELECT vid AS vec_id, cell,
          CAST(round(cs * 1e6, 0) AS BIGINT) AS x FROM assign),
      st AS (SELECT cell, CAST(count(*) AS DECIMAL(38,0)) AS n,
          CAST(sum(x) AS DECIMAL(38,0)) AS s1,
          CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS s2
        FROM scored GROUP BY 1)
      SELECT s.vec_id, s.cell, s.x AS cos_e6, CAST(st.n AS BIGINT) AS cell_n,
        (st.s1 - st.n * s.x > 0
          AND (st.s1 - st.n * s.x) * (st.s1 - st.n * s.x)
            > 4 * (st.n * st.s2 - st.s1 * st.s1)) AS flag
      FROM scored s JOIN st ON s.cell = st.cell
      ORDER BY s.vec_id"""))

  /** q237: DEDUP PRECISION/RECALL vs PLANTED TRUTH — close the loop
    * on the near-dup stack: plant one-token-mutated shadow copies
    * (doc_id%11, +2e7 ids), run the EXACT q23 machinery over the
    * augmented corpus, and score candidate pairs against the planted
    * truth at every band threshold — the threshold-selection table a
    * dedup rollout reads (q179 estimated pair QUALITY; this measures
    * RETRIEVAL of known duplicates). Natural near-dups count as false
    * positives uniformly across thresholds, so the CURVE shape is
    * unbiased even though absolute precision is a lower bound —
    * stated here because silently conflating the two is how dedup
    * evals lie.
    *
    * 100 TB shape: q23's audited banded path over the augmented
    * corpus; the threshold sweep is a 4× bounded fan-out over the
    * candidate pair table (q209/q211 trick), one corpus pass total.
    */
  private val q237DedupPrEval = Q(
    "q237_dedup_pr_eval",
    (s, d) => {
      val base = Tables.documents(s, d)
        .filter(size(tokens(col("text"))) >= 4)
        .select(col("doc_id"), col("text"))
      val shadows = base.filter(pmod(col("doc_id"), lit(11)) === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"),
          expr("concat('zzzq', substr(text, instr(text, ' ')))").as("text"))
      val nTruth = shadows.count()
      val aug = base.union(shadows)
        .select(col("doc_id"),
          graft.functions.Hash32.shingleHashes(col("text")).as("hs"))
      val pairs = graft.ops.Dedup.candidates(graft.ops.Dedup.bandSignatures(aug))
        .withColumn("planted",
          col("b_id") === col("a_id") + 20000000L &&
            pmod(col("a_id"), lit(11)) === 0)
      pairs.select(col("n_bands"), col("planted"),
          explode(typedLit(Seq(1L, 2L, 3L, 4L))).as("t"))
        .filter(col("n_bands") >= col("t"))
        .groupBy("t").agg(
          count(lit(1)).as("n_pred"),
          sum(when(col("planted"), 1L).otherwise(0L)).as("tp"))
        .select(col("t"), col("n_pred"), col("tp"),
          (col("n_pred") - col("tp")).as("fp"),
          (lit(nTruth) - col("tp")).as("fn"),
          expr("(tp * 1000000) div n_pred").as("precision_e6"),
          expr(s"(tp * 1000000) div $nTruth").as("recall_e6"))
        .orderBy("t")
    },
    Some(s"""WITH base AS (SELECT doc_id, text FROM documents
        WHERE len(string_split(text, ' ')) >= 4),
      shadows AS (SELECT doc_id + 20000000 AS doc_id,
          'zzzq' || substr(text, instr(text, ' ')) AS text
        FROM base WHERE doc_id % 11 = 0),
      aug AS (SELECT * FROM base UNION ALL SELECT * FROM shadows),
      ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM aug),
      sh AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 2),
          i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3]))) AS s FROM ws),
      th AS (SELECT DISTINCT doc_id, ${Sql.h32("s")} AS h FROM sh),
      params(i, a, b) AS (VALUES ${Pipeline.mhParamsSqlValues}),
      mh AS (SELECT doc_id, i, min((a * h + b) % 2147483647) AS mh
             FROM th CROSS JOIN params GROUP BY 1, 2),
      bands AS (SELECT doc_id, i // 2 AS band,
                  string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
                FROM mh GROUP BY 1, 2),
      pairs AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id,
                  CAST(count(*) AS BIGINT) AS n_bands,
                  (y.doc_id = x.doc_id + 20000000 AND x.doc_id % 11 = 0)
                    AS planted
                FROM bands x JOIN bands y
                  ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
                GROUP BY 1, 2, 4),
      truth AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM shadows),
      sweep AS (SELECT p.n_bands, p.planted, t.t
        FROM pairs p, (SELECT unnest([1, 2, 3, 4]) AS t) t
        WHERE p.n_bands >= t.t)
      SELECT CAST(t AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS n_pred,
        CAST(sum(CASE WHEN planted THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(count(*) - sum(CASE WHEN planted THEN 1 ELSE 0 END) AS BIGINT)
          AS fp,
        CAST(truth.nt - sum(CASE WHEN planted THEN 1 ELSE 0 END) AS BIGINT)
          AS fn,
        CAST((sum(CASE WHEN planted THEN 1 ELSE 0 END) * 1000000)
          // count(*) AS BIGINT) AS precision_e6,
        CAST((sum(CASE WHEN planted THEN 1 ELSE 0 END) * 1000000)
          // truth.nt AS BIGINT) AS recall_e6
      FROM sweep, truth GROUP BY t, truth.nt ORDER BY t"""))

  /** q238: VOCABULARY COVERAGE CURVE — what share of token
    * OCCURRENCES the top-k types cover, for a grid of k: the
    * tokenizer/vocab-sizing table (pairs with q200's Gini and q201's
    * tail mass; this is the head view). A per-type rank would sort
    * |V| rows; the count-of-counts histogram + q219's interval
    * arithmetic instead takes whole frequency blocks while they fit
    * in k and a PARTIAL block at the boundary — exact at every k with
    * no per-type window anywhere.
    *
    * 100 TB shape: vocabulary → count-of-counts (two bounded
    * exchanges), 3× k fan-out over the tiny histogram.
    */
  private val q238VocabCoverage = Q(
    "q238_vocab_coverage",
    (s, d) => {
      val hist = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("f"))
        .groupBy("f").agg(count(lit(1)).as("m"))
      val w = Window.orderBy(col("f").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("ct", sum("m").over(w))
        .withColumn("tot", sum(expr("f * m")).over(Window.partitionBy()))
      cum.select(col("f"), col("m"), col("ct"), col("tot"),
          explode(typedLit(Seq(10L, 100L, 1000L))).as("k"))
        .withColumn("take",
          expr("greatest(CAST(0 AS BIGINT), least(m, k - (ct - m)))"))
        .groupBy("k").agg(
          max("tot").as("n_tokens"),
          sum(expr("take * f")).as("covered"),
          sum("take").as("n_types_used"))
        .select(col("k"), col("n_types_used"), col("covered"), col("n_tokens"),
          expr("(covered * 1000000) div n_tokens").as("share_e6"))
        .orderBy("k")
    },
    Some("""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS t
        FROM documents),
      c AS (SELECT t, CAST(count(*) AS BIGINT) AS f FROM tk GROUP BY 1),
      h AS (SELECT f, CAST(count(*) AS BIGINT) AS m FROM c GROUP BY 1),
      cu AS (SELECT f, m,
          sum(m) OVER (ORDER BY f DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct,
          sum(f * m) OVER () AS tot
        FROM h),
      sw AS (SELECT f, m, ct, tot, k,
          greatest(0, least(m, k - (ct - m))) AS take
        FROM cu, (SELECT unnest([10, 100, 1000]) AS k) ks)
      SELECT CAST(k AS BIGINT) AS k,
        CAST(sum(take) AS BIGINT) AS n_types_used,
        CAST(sum(take * f) AS BIGINT) AS covered,
        CAST(max(tot) AS BIGINT) AS n_tokens,
        CAST((sum(take * f) * 1000000) // max(tot) AS BIGINT) AS share_e6
      FROM sw GROUP BY k ORDER BY k"""))

  /** q239: HARD-NEGATIVE MINING — the contrastive-retrieval training
    * table: each q23 near-dup pair is an (anchor, positive); hard
    * negatives come from the anchor's COARSE SIMHASH BUCKET
    * (top-6-bit prefix — textually close but not duplicate), ranked
    * by a deterministic per-(anchor, candidate) hash and capped at 2.
    * In-batch random negatives are free at train time; the hard ones
    * are what the miner must precompute — this is that precompute,
    * with q220 (preference pairs) as the pointwise sibling.
    *
    * 100 TB shape: the bucket join keys on the uniform coarse simhash
    * prefix, whose WIDTH GROWS WITH THE CORPUS — B =
    * clamp(floor(log2(N/16)), 4, 16) bits, the q169 adaptive-bits
    * sizing. N is the UNFILTERED corpus count (a metadata-only
    * parquet count — no tokenize pass; the oracle's prm CTE uses the
    * same count), so plan construction costs one footer read, not a
    * second scan. The 16-bit cap is the simhash width budget (the
    * fingerprint is 32-bit; a longer prefix stops being "coarse"), so
    * bucket size is ~16–32 only up to N ≈ 2^20 — past that it grows
    * as N/65536 again and the blowup guard is NativeTopK's BOUNDED
    * per-anchor state (3 rows, map-side combine), not small buckets;
    * at 100 TB the fingerprint widens to simhash-64 (q152's setting)
    * and the cap moves with it. (A fixed 6-bit prefix made bucket
    * size N/64: the first full-registry sf1 run caught this entry
    * sort-spilling 10 GB on a pairs×(N/64) blowup — the same
    * fixed-constant class as the round-9 codebook bug.)
    * Ranking runs per ANCHOR through [[graft.plans.NativeTopK]]
    * (bounded state, map-side combine, no sort of the candidate
    * stream); the per-(anchor,pos) re-rank is a window over ≤3-row
    * partitions. Everything upstream is q23's audited path.
    */
  private val q239HardNegatives = Q(
    "q239_hard_negatives",
    (s, d) => {
      // sizing count: unfiltered corpus rows — parquet-footer
      // metadata, not a tokenizing scan of `base` (which would read
      // the text column twice per run)
      val nDocs = Tables.documents(s, d).count()
      val base = Tables.documents(s, d)
        .filter(size(tokens(col("text"))) >= 4)
      val nBits = math.min(16, math.max(4,
        63 - java.lang.Long.numberOfLeadingZeros(nDocs / 16)))
      val doc = base
        .select(col("doc_id"),
          graft.functions.Hash32.shingleHashes(col("text")).as("hs"),
          shiftright(graft.functions.Hash32.simhashCol(col("text")),
            32 - nBits).as("bkt"))
      val pairs = graft.ops.Dedup
        .candidates(graft.ops.Dedup.bandSignatures(doc.select("doc_id", "hs")))
        .select(col("a_id").as("anchor_id"), col("b_id").as("pos_id"))
      // hk depends only on (anchor, cand), so rank candidates once PER
      // ANCHOR — the per-(anchor,pos) top-2 is exactly the anchor's
      // top-3 minus at most one excluded pos. NativeTopK's partial
      // aggregate consumes the anchor×bucket-mate stream pipelined
      // (bounded 3-row state per anchor, map-side combine, ONE
      // exchange) where the old pairs×bucket window SORTED the whole
      // candidate blowup: with simhash-prefix skew a hot bucket holds
      // a double-digit corpus share, and the sf1 run spilled 10 GB.
      // Residual skew in the bkt equi-join is AQE skew-split territory
      // (join output, not aggregate state).
      val anchors = pairs.select("anchor_id").distinct()
        .join(doc.select(col("doc_id").as("anchor_id"), col("bkt")),
          "anchor_id")
      val perAnchor = anchors
        .join(doc.select(col("doc_id").as("cand_id"), col("bkt")), "bkt")
        .filter(col("cand_id") =!= col("anchor_id"))
        .withColumn("hk", h32(concat(lit("neg:"),
          col("anchor_id").cast("string"), lit(":"),
          col("cand_id").cast("string"))))
      val top3 = graft.plans.NativeTopK.topK(
        perAnchor.select("anchor_id", "hk", "cand_id"),
        Seq("anchor_id"), Seq("hk" -> true, "cand_id" -> true), 3)
      val w = Window.partitionBy("anchor_id", "pos_id")
        .orderBy(col("hk"), col("cand_id"))
      pairs.join(top3, "anchor_id")
        .filter(col("cand_id") =!= col("pos_id"))
        .withColumn("neg_rank", row_number().over(w))
        .filter(col("neg_rank") <= 2)
        .select(col("anchor_id"), col("pos_id"),
          col("neg_rank").cast("long").as("neg_rank"),
          col("cand_id").as("neg_id"))
        .orderBy("anchor_id", "pos_id", "neg_rank")
    },
    Some(s"""WITH ${Pipeline.shingleCte},
      th AS (SELECT DISTINCT doc_id, ${Sql.h32("s")} AS h FROM sh),
      params(i, a, b) AS (VALUES ${Pipeline.mhParamsSqlValues}),
      mh AS (SELECT doc_id, i, min((a * h + b) % 2147483647) AS mh
             FROM th CROSS JOIN params GROUP BY 1, 2),
      bands AS (SELECT doc_id, i // 2 AS band,
                  string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
                FROM mh GROUP BY 1, 2),
      pairs AS (SELECT DISTINCT x.doc_id AS anchor_id, y.doc_id AS pos_id
                FROM bands x JOIN bands y
                  ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
      tok AS (SELECT DISTINCT doc_id, w FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
          ) raw
        WHERE doc_id IN (SELECT doc_id FROM ws WHERE len(w) >= 4)),
      sth AS (SELECT DISTINCT doc_id,
          ${Sql.h32("w")} AS h FROM tok),
      bits AS (SELECT doc_id, j,
          sum(CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1
            THEN 1 ELSE -1 END) AS sgn
        FROM sth CROSS JOIN (SELECT unnest(range(0, 32)) AS j) js
        GROUP BY 1, 2),
      shh AS (SELECT doc_id,
          CAST(sum((CASE WHEN sgn >= 0 THEN 1 ELSE 0 END)
            * CAST(pow(2, j) AS BIGINT)) AS BIGINT) AS simhash
        FROM bits GROUP BY 1),
      prm AS (SELECT least(16, greatest(4, length(printf('%b',
            (SELECT count(*) FROM documents) // 16)) - 1))
          AS nbits),
      bkt AS (SELECT doc_id,
          simhash >> (32 - (SELECT nbits FROM prm)) AS bkt FROM shh),
      cand AS (SELECT p.anchor_id, p.pos_id, c.doc_id AS cand_id,
          ${Sql.h32("'neg:' || CAST(p.anchor_id AS VARCHAR) || ':' || CAST(c.doc_id AS VARCHAR)")} AS hk
        FROM pairs p JOIN bkt a ON p.anchor_id = a.doc_id
        JOIN bkt c ON a.bkt = c.bkt
        WHERE c.doc_id <> p.anchor_id AND c.doc_id <> p.pos_id),
      rk AS (SELECT *, row_number() OVER (PARTITION BY anchor_id, pos_id
          ORDER BY hk, cand_id) AS neg_rank FROM cand)
      SELECT anchor_id, pos_id, CAST(neg_rank AS BIGINT) AS neg_rank,
        cand_id AS neg_id
      FROM rk WHERE neg_rank <= 2
      ORDER BY 1, 2, 3"""))

  /** q240: CLASSIFIER AGREEMENT (Cohen's κ) — do the two quality
    * gates agree beyond chance? The q106 hashed classifier's keep
    * verdict against the surface-length gate (n_chars ≥ 200, a q28-
    * style rule): observed agreement pₒ and chance agreement pₑ from
    * the 2×2 confusion marginals, κ = (pₒ − pₑ)/(1 − pₑ) as a final
    * ratio of exact counts (κ·1e6 via cross-multiplied integers — no
    * intermediate fractions). Low κ means the gates disagree on WHICH
    * docs to keep even if their keep-rates match — the signal that an
    * ensemble (or an audit) is needed, invisible to accuracy alone.
    *
    * 100 TB shape: both verdicts are scan-stage expressions; ONE
    * single-row aggregate of four cells.
    */
  private val q240ClassifierKappa = Q(
    "q240_classifier_kappa",
    (s, d) => {
      val verdicts = Tables.documents(s, d).select(
        (graft.functions.Hash32.hashedMarginCol(col("text")) > 0L)
          .as("ka"),
        (col("n_chars") >= 200L).as("kb"))
      verdicts.agg(
          count(lit(1)).as("n"),
          sum(when(col("ka") && col("kb"), 1L).otherwise(0L)).as("yy"),
          sum(when(col("ka") && !col("kb"), 1L).otherwise(0L)).as("yn"),
          sum(when(!col("ka") && col("kb"), 1L).otherwise(0L)).as("ny"),
          sum(when(!col("ka") && !col("kb"), 1L).otherwise(0L)).as("nn"))
        .select(col("n"), col("yy"), col("yn"), col("ny"), col("nn"),
          expr("((yy + nn) * 1000000) div n").as("agree_e6"),
          // kappa = (n*(yy+nn) - (yy+yn)*(yy+ny) - (ny+nn)*(yn+nn))
          //       / (n*n        - (yy+yn)*(yy+ny) - (ny+nn)*(yn+nn))
          round((col("n") * (col("yy") + col("nn")) -
              ((col("yy") + col("yn")) * (col("yy") + col("ny")) +
                (col("ny") + col("nn")) * (col("yn") + col("nn"))))
              .cast("double") /
            (col("n") * col("n") -
              ((col("yy") + col("yn")) * (col("yy") + col("ny")) +
                (col("ny") + col("nn")) * (col("yn") + col("nn"))))
              .cast("double"), 6).as("kappa6"))
    },
    Some(s"""WITH ws AS (SELECT doc_id, n_chars,
              unnest(string_split(text, ' ')) AS t
            FROM documents),
      sc AS (SELECT doc_id, max(n_chars) AS n_chars,
               sum(${Sql.tokenWeight("t")}) > 0 AS ka
             FROM ws GROUP BY doc_id),
      v AS (SELECT ka, n_chars >= 200 AS kb FROM sc),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) FILTER (WHERE ka AND kb) AS BIGINT) AS yy,
          CAST(count(*) FILTER (WHERE ka AND NOT kb) AS BIGINT) AS yn,
          CAST(count(*) FILTER (WHERE NOT ka AND kb) AS BIGINT) AS ny,
          CAST(count(*) FILTER (WHERE NOT ka AND NOT kb) AS BIGINT) AS nn
        FROM v)
      SELECT n, yy, yn, ny, nn,
        ((yy + nn) * 1000000) // n AS agree_e6,
        round(CAST(n * (yy + nn)
            - ((yy + yn) * (yy + ny) + (ny + nn) * (yn + nn)) AS DOUBLE)
          / CAST(n * n
            - ((yy + yn) * (yy + ny) + (ny + nn) * (yn + nn)) AS DOUBLE), 6)
          AS kappa6
      FROM m"""))

  /** q241: CROSS-VALIDATION FOLD TABLE — the third leg of the
    * resampling triad (q187 jackknife, q209 bootstrap): 5 hash-
    * deterministic folds (h32-salted, independent of the q70
    * train/val/test hash — the q84 independence rule), per-fold mean
    * of the statistic in exact millionths, and the between-fold
    * variance of fold means from DECIMAL moments — the number that
    * says whether a quality metric is stable enough to gate releases.
    * The variance is emitted as an exact half-up INTEGER (then one
    * correctly-rounded int64→double conversion): fold means are e6
    * integers ~3e8, so the variance sits at ~2.5e12 where
    * `round(double, 6)` needs 19 significant digits — engine-
    * divergent by construction (the q224/q105 sf1 finding), and
    * sub-unit decimals of an e12 variance carry no information.
    * num = k·s2 − s1² ≥ 0 (Cauchy–Schwarz) keeps div == floor ==
    * half-up under the (2·num + den) div (2·den) form.
    *
    * 100 TB shape: fold id is scan-stage hash arithmetic; one
    * exchange to 5 rows; the variance combines the 5-row frame.
    */
  private val q241CvFolds = Q(
    "q241_cv_folds",
    (s, d) => {
      val folds = Tables.documents(s, d).select(
        (h32(concat(lit("cv:"), col("doc_id").cast("string"))) % 5)
          .as("fold"), col("n_chars"))
      val per = folds.groupBy("fold").agg(
          count(lit(1)).as("n_docs"), sum("n_chars").as("sx"))
        .withColumn("mean_e6", expr("(sx * 1000000) div n_docs"))
      val varr = per.agg(
        count(lit(1)).cast("decimal(38,0)").as("k"),
        sum("mean_e6").cast("decimal(38,0)").as("s1"),
        sum(col("mean_e6").cast("decimal(38,0)") * col("mean_e6"))
          .cast("decimal(38,0)").as("s2"))
        .select(expr("(2 * (k * s2 - s1 * s1) + k * k) div (2 * k * k)")
          .cast("double").as("between_fold_var"))
      per.crossJoin(broadcast(varr))
        .select(col("fold"), col("n_docs"), col("mean_e6"),
          col("between_fold_var"))
        .orderBy("fold")
    },
    Some(s"""WITH f AS (SELECT
          ${Sql.h32("'cv:' || CAST(doc_id AS VARCHAR)")} % 5 AS fold, n_chars
        FROM documents),
      per AS (SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
          (CAST(sum(n_chars) AS BIGINT) * 1000000) // count(*) AS mean_e6
        FROM f GROUP BY 1),
      v AS (SELECT CAST(CAST(
          (2 * (CAST(count(*) AS HUGEINT)
              * sum(CAST(mean_e6 AS HUGEINT) * mean_e6)
            - sum(CAST(mean_e6 AS HUGEINT))
              * sum(CAST(mean_e6 AS HUGEINT)))
            + CAST(count(*) AS HUGEINT) * count(*))
          // (2 * CAST(count(*) AS HUGEINT) * count(*))
          AS BIGINT) AS DOUBLE) AS between_fold_var FROM per)
      SELECT CAST(per.fold AS BIGINT) AS fold, per.n_docs,
        CAST(per.mean_e6 AS BIGINT) AS mean_e6, v.between_fold_var
      FROM per, v ORDER BY 1"""))

  /** q246: LANGUAGE-ID METRICS — the per-class precision/recall/F1
    * layer over q27's confusion matrix (the same relationship q237
    * has to q23: the old heuristic finally gets SCORED against the
    * labels it always had). Per language: support, tp from the
    * diagonal, fp from the prediction column, fn = support − tp,
    * metrics in exact integer millionths with zero-denominator
    * guards — the per-slice table that decides which languages the
    * stopword heuristic is safe to route on.
    *
    * 100 TB shape: the matrix is one exchange on the bounded
    * (lang, pred) domain; everything after runs on ≤ |langs|² rows.
    */
  private val q246LangIdMetrics = Q(
    "q246_lang_id_metrics",
    (s, d) => {
      val padded = concat(lit(" "), col("text"), lit(" "))
      val pred = when(padded.contains(" der ") || padded.contains(" und "), "de")
        .when(padded.contains(" le ") || padded.contains(" la "), "fr")
        .when(padded.contains(" el ") || padded.contains(" los "), "es")
        .when(padded.contains(" the ") || padded.contains(" a "), "en")
        .otherwise("und")
      val m = Tables.documents(s, d)
        .select(col("lang"), pred.as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      val sup = m.groupBy("lang").agg(sum("n").as("support"),
        sum(when(col("pred") === col("lang"), col("n")).otherwise(0L))
          .as("tp"))
      val fps = m.filter(col("pred") =!= col("lang"))
        .groupBy(col("pred").as("lang")).agg(sum("n").as("fp"))
      sup.join(fps, Seq("lang"), "left")
        .na.fill(0L, Seq("fp"))
        .withColumn("fn", col("support") - col("tp"))
        .select(col("lang"), col("support"), col("tp"), col("fp"), col("fn"),
          expr("CASE WHEN tp + fp = 0 THEN 0 ELSE (tp * 1000000) div (tp + fp) END")
            .as("precision_e6"),
          expr("(tp * 1000000) div support").as("recall_e6"),
          expr("CASE WHEN 2 * tp + fp + fn = 0 THEN 0 " +
            "ELSE (2 * tp * 1000000) div (2 * tp + fp + fn) END").as("f1_e6"))
        .orderBy("lang")
    },
    Some("""WITH m AS (SELECT lang, CASE
        WHEN contains(' ' || text || ' ', ' der ') OR contains(' ' || text || ' ', ' und ') THEN 'de'
        WHEN contains(' ' || text || ' ', ' le ') OR contains(' ' || text || ' ', ' la ') THEN 'fr'
        WHEN contains(' ' || text || ' ', ' el ') OR contains(' ' || text || ' ', ' los ') THEN 'es'
        WHEN contains(' ' || text || ' ', ' the ') OR contains(' ' || text || ' ', ' a ') THEN 'en'
        ELSE 'und' END AS pred, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2),
      sup AS (SELECT lang, CAST(sum(n) AS BIGINT) AS support,
          CAST(sum(CASE WHEN pred = lang THEN n ELSE 0 END) AS BIGINT) AS tp
        FROM m GROUP BY 1),
      fps AS (SELECT pred AS lang, CAST(sum(n) AS BIGINT) AS fp
        FROM m WHERE pred <> lang GROUP BY 1)
      SELECT s.lang, s.support, s.tp, COALESCE(f.fp, 0) AS fp,
        s.support - s.tp AS fn,
        CASE WHEN s.tp + COALESCE(f.fp, 0) = 0 THEN 0
          ELSE (s.tp * 1000000) // (s.tp + COALESCE(f.fp, 0)) END
          AS precision_e6,
        (s.tp * 1000000) // s.support AS recall_e6,
        CASE WHEN 2 * s.tp + COALESCE(f.fp, 0) + s.support - s.tp = 0 THEN 0
          ELSE (2 * s.tp * 1000000)
            // (2 * s.tp + COALESCE(f.fp, 0) + s.support - s.tp) END AS f1_e6
      FROM sup s LEFT JOIN fps f ON s.lang = f.lang
      ORDER BY 1"""))

  /** q263: SPLIT-CONFORMAL COVERAGE AUDIT — the distribution-free
    * prediction-interval machinery (Vovk; Angelopoulos & Bates 2021
    * tutorial form) over the event metric: the CALIBRATION split
    * (event_id%2=0) fixes, per event type, the conformal quantile
    * q̂ = the k-th smallest nonconformity score with k =
    * ⌈0.9·(n+1)⌉ (exact integer arithmetic: k = (9(n+1)+9) div 10),
    * where the score is |v6 − μ_type| around the calibration
    * floor-divided mean; the TEST split then measures achieved
    * coverage — guaranteed ≥ 90% in expectation by exchangeability,
    * and this table is the empirical check of that promise.
    *
    * 100 TB shape: scores are scan-stage integers; the order
    * statistic is one bounded-key window per type (q172's bounded
    * event-type domain); coverage is a conditional partial-agg. All
    * arithmetic exact until the final millionth share.
    */
  private val q263ConformalCoverage = Q(
    "q263_conformal_coverage",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        col("event_id"), floor(col("value") * lit(1e6)).cast("long").as("v6"),
        (pmod(col("event_id"), lit(2)) === 0).as("is_cal"))
      val mu = ev.filter(col("is_cal")).groupBy("event_type")
        .agg(sum("v6").as("sv"), count(lit(1)).as("n_cal"))
        .select(col("event_type"), col("n_cal"),
          expr(Sql.floorDiv("sv", "n_cal")).as("mu"))
      val scored = ev.join(broadcast(mu), "event_type")
        .withColumn("score", abs(col("v6") - col("mu")))
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("score"), col("event_id"))
      val qhat = scored.filter(col("is_cal"))
        .withColumn("rn", row_number().over(wr).cast("long"))
        .filter(col("rn") === expr("(9 * (n_cal + 1) + 9) div 10"))
        .select(col("event_type"), col("score").as("qhat_v6"))
      scored.filter(!col("is_cal"))
        .join(broadcast(qhat), "event_type")
        .groupBy("event_type")
        .agg(max("n_cal").as("n_cal"), count(lit(1)).as("n_test"),
          max("qhat_v6").as("qhat_v6"),
          sum(when(col("score") <= col("qhat_v6"), 1L).otherwise(0L))
            .as("n_covered"))
        .withColumn("coverage_e6",
          expr("(cast(n_covered as decimal(38,0)) * 1000000) div n_test"))
        .withColumn("meets_target", col("coverage_e6") >= 900000L)
        .orderBy("event_type")
    },
    Some("""WITH ev AS (SELECT event_type, event_id,
          CAST(floor(value * 1e6) AS BIGINT) AS v6,
          event_id % 2 = 0 AS is_cal FROM events),
      mu AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal,
          CAST(sum(v6) AS BIGINT) // count(*) AS mu
        FROM ev WHERE is_cal GROUP BY 1),
      sc AS (SELECT e.event_type, e.event_id, e.is_cal,
          abs(e.v6 - m.mu) AS score, m.n_cal
        FROM ev e JOIN mu m USING (event_type)),
      rk AS (SELECT event_type, score, n_cal,
          CAST(row_number() OVER (PARTITION BY event_type
            ORDER BY score, event_id) AS BIGINT) AS rn
        FROM sc WHERE is_cal),
      qh AS (SELECT event_type, score AS qhat_v6 FROM rk
        WHERE rn = (9 * (n_cal + 1) + 9) // 10),
      tst AS (SELECT s.event_type, s.n_cal, q.qhat_v6,
          CAST(count(*) AS BIGINT) AS n_test,
          CAST(sum(CASE WHEN s.score <= q.qhat_v6 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_covered
        FROM sc s JOIN qh q USING (event_type)
        WHERE NOT s.is_cal GROUP BY 1, 2, 3)
      SELECT event_type, n_cal, n_test, qhat_v6, n_covered,
        CAST((n_covered * 1000000) // n_test AS BIGINT) AS coverage_e6,
        (n_covered * 1000000) // n_test >= 900000 AS meets_target
      FROM tst ORDER BY event_type"""))

  val queries: Seq[Q] = Seq(
    q195AucRank, q196OlsTrend, q197KlDivergence, q198KsTest,
    q199Assortativity, q200GiniTokens, q201GoodTuring, q202Cuped,
    q203DupMatrix, q204PsiDrift, q206Ndcg, q207Calibration,
    q208KcenterCoreset, q209Bootstrap, q211ThresholdSweep,
    q212WaterFilling, q213ContainmentConfirm, q216ParetoFrontier,
    q217SprtTrajectory, q218SlicedAuc, q219TrimmedMean,
    q220PreferencePairs, q221GeneralizationLadder, q225FrequentPairs,
    q226PowerAnalysis, q227HashCollisionAudit, q230IpfRaking,
    q231SnipsOffPolicy, q233QuantileNorm, q234RendezvousRebalance,
    q235SlidingHll, q236VectorOutliers, q237DedupPrEval,
    q238VocabCoverage, q239HardNegatives, q240ClassifierKappa,
    q241CvFolds, q246LangIdMetrics, q263ConformalCoverage)
}
