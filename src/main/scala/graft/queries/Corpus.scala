package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VecSum
import graft.functions.Portable.{dsum6, tokens}

/** Corpus-preparation operators for training-data pipelines: whole-
  * vector centroid aggregation, deterministic training-order shuffle +
  * sharding, per-user event-sequence reconstruction (secondary sort),
  * and zero-shuffle word-entropy scoring.
  *
  * Same portability contract as [[Pipeline]]/[[ScaleOps]]: hashes are
  * md5-derived ([[graft.functions.Portable.h32]]), sums that cross an
  * exchange are exact integer/decimal arithmetic, so every DuckDB
  * oracle replays the result bit-for-bit regardless of partitioning.
  */
object Corpus {

  /** q160: PER-LABEL EMBEDDING CENTROIDS through the whole-vector
    * [[VecSum]] aggregate — mean-pooling over an embedding column, the
    * centroid step of any clustering / class-prototype build (the
    * reference's Annoy index build averages nothing, but its kmeans
    * sibling in PICO_search.py:28-38 does; this is that step as a
    * first-class aggregate).
    *
    * 100 TB shape — and the reason this exists next to q77's
    * posexplode formulation: explode materializes N·D (group, dim,
    * value) rows in the scan stage before partial aggregation can
    * compress them (a D× row blow-up; D=1024 turns 100 TB into
    * 100k TB of intermediate rows). [[VecSum]] keeps the vector whole:
    * O(D) buffer per group per task, map-side combine, the exchange
    * carries exactly one D-long array per group per task. Quantization
    * (`floor(x·1e6)` longs, IvfKmeans.scala:27) keeps every sum exact,
    * so merge order cannot leak into the result.
    *
    * The output explodes the FINAL centroids (groups·D rows — tiny) so
    * the oracle compares scalars, not nested arrays.
    */
  private val q160VectorCentroids = Q(
    "q160_vector_centroids",
    (s, d) => {
      val q = Tables.embeddings(s, d).select(col("label"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(1e6)).cast("long")).as("q"))
      q.groupBy("label").agg(VecSum.vecSum(col("q")).as("vs"))
        .select(col("label"), col("vs.n").as("n_members"),
          posexplode(col("vs.s")))
        .select(col("label"), col("pos").cast("int").as("dim"),
          floor(col("col").cast("double") / col("n_members"))
            .cast("long").as("cval"),
          col("n_members"))
        .orderBy("label", "dim")
    },
    Some("""WITH el AS (SELECT label,
        CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
      FROM embeddings)
      SELECT label, dim,
        CAST(floor(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT) AS cval,
        CAST(count(*) AS BIGINT) AS n_members
      FROM el GROUP BY 1, 2 ORDER BY 1, 2"""),
    bench = true)

  /** q161: DETERMINISTIC TRAINING-ORDER SHUFFLE + SHARDING — the
    * global permutation every pre-training run needs (fixed seed →
    * identical epoch order on any cluster). Order is
    * `(h32(doc_id‖':shuf'), doc_id)`; shard = h % 8; position =
    * row_number within the shard. A loader consuming shards
    * round-robin reads the full permutation without any single
    * machine ever holding a global order.
    *
    * 100 TB shape: one map-side hash projection, ONE exchange on the
    * uniform shard key, an in-partition sort — no global sort, no
    * driver-side state, no skew (the key is a hash). Shard count
    * scales with the cluster (here 8; at 100 TB, thousands), and
    * per-shard positions + round-robin give a loader the exact global
    * order without a second pass, so nothing here changes shape with
    * corpus size.
    */
  private val q161GlobalShuffle = Q(
    "q161_global_shuffle",
    (s, d) => {
      val h = Tables.documents(s, d).select(col("doc_id"),
        graft.functions.Portable.h32(
          concat(col("doc_id").cast("string"), lit(":shuf"))).as("h"))
      val w = Window.partitionBy(col("h") % 8).orderBy("h", "doc_id")
      h.select(col("doc_id"), (col("h") % 8).as("shard"),
          row_number().over(w).cast("long").as("pos"))
        .orderBy("shard", "pos")
    },
    Some(s"""WITH h AS (SELECT doc_id,
        ${Sql.h32("CAST(doc_id AS VARCHAR) || ':shuf'")} AS h
      FROM documents)
      SELECT doc_id, h % 8 AS shard,
        CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
          AS BIGINT) AS pos
      FROM h ORDER BY shard, pos"""))

  /** q162: PER-USER EVENT-SEQUENCE RECONSTRUCTION (secondary sort) —
    * the behavioral-sequence / session-corpus build: each user's
    * events in (ts, event_id) order collapsed to an ordered
    * event-type string. The GROUP-AND-SORT-WITHIN shape: one exchange
    * on user_id, `array_sort` of per-group structs (ts first, then
    * event_id — the struct field order IS the sort key, giving a
    * deterministic tie-break) — no window function, no second
    * shuffle.
    *
    * 100 TB note: per-group state is one user's events (bounded by
    * user activity, not corpus size). For genuinely unbounded groups
    * the same operator becomes repartition(user_id) +
    * sortWithinPartitions(user_id, ts, event_id) + mapPartitions
    * streaming emit — same single-exchange plan, O(1) memory; the
    * collect_list form is the right default while groups fit a task.
    */
  private val q162UserSequences = Q(
    "q162_user_sequences",
    (s, d) => {
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          array_join(
            transform(
              array_sort(collect_list(
                struct(col("ts"), col("event_id"), col("event_type")))),
              x => x.getField("event_type")),
            "|").as("seq"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        string_agg(event_type, '|' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id ORDER BY user_id"""),
    bench = true)

  /** q163: WORD-DISTRIBUTION ENTROPY per document with ZERO shuffle —
    * the information-density quality signal (low-entropy docs are
    * boilerplate/spam; complements q68's repetition ratios). Shannon
    * entropy needs per-word counts; the naive shape explodes tokens
    * and re-aggregates (two shuffles on doc_id at 100 TB). Here the
    * whole computation stays inside one projection: sort the token
    * array, find run starts (`filter` over indices where w[i] ≠
    * w[i-1]), run lengths = adjacent start differences (`zip_with`),
    * then Σ c·ln(c) with each term cast to DECIMAL(28,6) before the
    * sum ([[graft.functions.Portable.dsum6]] discipline — summation
    * order cannot leak, so DuckDB's group-by-word order and our
    * sorted-run order agree exactly). Emits the sum, not the entropy
    * ratio, for the q93-documented reason: `ln(n) − slnc/n` can land
    * on a decimal rounding tie; the filter predicate `H ≤ τ` is the
    * same as `slnc ≥ (ln(n) − τ)·n`, which stays in exact arithmetic.
    *
    * O(L log L) per row, map-side, codegen-adjacent (native
    * higher-order expressions, no UDF) — at 100 TB this runs in the
    * scan stage and shuffles nothing.
    */
  private val q163WordEntropy = Q(
    "q163_word_entropy",
    (s, d) => {
      val ws = sort_array(split(col("text"), " "))
      val withWs = Tables.documents(s, d).select(col("doc_id"), ws.as("ws"))
      val starts = filter(
        sequence(lit(0), size(col("ws")) - 1),
        i => (i === lit(0)) ||
          element_at(col("ws"), i + 1) =!= element_at(col("ws"), i))
      val withStarts = withWs.select(col("doc_id"), col("ws"),
        starts.as("starts"))
      val ends = concat(
        slice(col("starts"), lit(2), greatest(size(col("starts")) - 1, lit(0))),
        array(size(col("ws"))))
      val counts = zip_with(col("starts"), ends, (a, b) => b - a)
      withStarts.select(col("doc_id"),
          size(col("ws")).cast("long").as("n_words"),
          size(col("starts")).cast("long").as("n_distinct"),
          aggregate(
            transform(counts, c =>
              (c.cast("double") * log(c.cast("double")))
                .cast("decimal(28,6)")),
            lit(0).cast("decimal(28,6)"),
            (acc, x) => (acc + x).cast("decimal(28,6)"))
            .cast("double").as("slnc"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents),
      g AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1, 2)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        CAST(count(*) AS BIGINT) AS n_distinct,
        CAST(SUM(CAST(c * ln(c) AS DECIMAL(28,6))) AS DOUBLE) AS slnc
      FROM g GROUP BY 1 ORDER BY 1"""),
    bench = true)

  /** q164: HYPERLOGLOG DISTINCT COUNT per group through the portable
    * trailing-zero [[graft.functions.Hll]] aggregate — the fixed-
    * memory COUNT(DISTINCT) GROUP BY: 512 byte registers per group per
    * task vs exact distinct's shuffle of every distinct value. The
    * query estimates distinct words per source and carries the exact
    * count alongside, so the oracle checks BOTH the bit-exact sketch
    * evidence (v_zero, t_total — pure integer algebra both engines
    * replay) AND the shared closed-form estimate, AND the accuracy
    * claim is visible in the row itself.
    *
    * 100 TB shape: the token explode feeds a partial aggregate whose
    * state is O(512) bytes per (source) group per task — map-side
    * combine collapses any token volume before the one exchange;
    * register-max merge is associative/commutative, so AQE can
    * coalesce or split freely. (The exact count rides along here for
    * audit; a production 100 TB run would drop it — THAT is the point
    * of the sketch.)
    */
  private val q164HllDistinct = Q(
    "q164_hll_distinct",
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
      t.groupBy("source")
        .agg(graft.functions.Hll.hll(
            graft.functions.Portable.h32(col("w"))).as("sk"),
          count_distinct(col("w")).as("exact_distinct"))
        .select(col("source"), col("sk.v_zero").as("v_zero"),
          col("sk.t_total").as("t_total"), col("exact_distinct"))
        .withColumn("est",
          expr(graft.functions.Hll.estimateSql("v_zero", "t_total")))
        .select("source", "v_zero", "t_total", "est", "exact_distinct")
        .orderBy("source")
    },
    Some(s"""WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents),
      h AS (SELECT source, w,
          ${Sql.h32("w")} AS h FROM t),
      r AS (SELECT source, h % 512 AS idx,
          CASE WHEN h // 512 = 0 THEN 24
               ELSE bit_count(((h // 512) & -(h // 512)) - 1) + 1 END AS rho
        FROM h),
      mreg AS (SELECT source, idx, max(rho) AS mx FROM r GROUP BY 1, 2),
      agg AS (SELECT source, count(*) AS n_used,
          sum(CAST(power(2, 24 - mx) AS BIGINT)) AS t_used
        FROM mreg GROUP BY 1),
      ex AS (SELECT source, count(DISTINCT w) AS exact_distinct
        FROM t GROUP BY 1)
      SELECT a.source,
        CAST(512 - n_used AS BIGINT) AS v_zero,
        CAST(t_used + (512 - n_used) * 16777216 AS BIGINT) AS t_total,
        ${graft.functions.Hll.estimateSql(
          "(512 - n_used)", "(t_used + (512 - n_used) * 16777216)")} AS est,
        CAST(exact_distinct AS BIGINT) AS exact_distinct
      FROM agg a JOIN ex ON a.source = ex.source ORDER BY a.source"""),
    bench = true)

  /** q165: CONTAMINATION OVERLAP FRACTION per document — the graded
    * form of decontamination (q72 flags docs sharing ANY benchmark
    * shingle; real pipelines THRESHOLD on the overlap fraction, e.g.
    * "drop if >20% of 4-gram shingles appear in the eval set"). Same
    * benchmark partition (doc_id % 97 = 0) and md5 shingles as
    * q72/q86; LEFT join keeps zero-overlap docs so the output is a
    * score for EVERY candidate, and the threshold flag is the
    * integer-exact predicate `5·n_hit ≥ n_shingles`, never a float
    * ratio.
    *
    * 100 TB shape: benchmark shingles broadcast (eval sets are small
    * by definition — q72's documented contract), probe is map-side,
    * one groupBy(doc_id) exchange on the uniform key.
    */
  private val q165ContamFrac = Q(
    "q165_contam_frac",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .filter(size(graft.functions.Portable.tokens(col("text"))) >= 4)
        .select(col("doc_id"),
          array_distinct(
            graft.functions.Hash32.shingleHashes(col("text"))).as("hs"))
      val bench = docs.filter(col("doc_id") % 97 === 0)
        .select(explode(col("hs")).as("h")).distinct()
        .withColumn("hit", lit(1L))
      docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), size(col("hs")).cast("long").as("n_shingles"),
          explode(col("hs")).as("h"))
        .join(broadcast(bench), Seq("h"), "left")
        .groupBy("doc_id", "n_shingles")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("doc_id"), col("n_shingles"), col("n_hit"),
          (col("n_hit") * 5 >= col("n_shingles")).as("contaminated"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ${Pipeline.shingleCte},
      th AS (SELECT DISTINCT doc_id,
          ${Sql.h32("s")} AS h FROM sh),
      cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
        FROM th GROUP BY 1),
      bench AS (SELECT DISTINCT h FROM th WHERE doc_id % 97 = 0),
      hits AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hit
        FROM th t JOIN bench b ON t.h = b.h
        WHERE t.doc_id % 97 <> 0 GROUP BY 1)
      SELECT c.doc_id, c.n_shingles, COALESCE(h.n_hit, 0) AS n_hit,
        COALESCE(h.n_hit, 0) * 5 >= c.n_shingles AS contaminated
      FROM cnt c LEFT JOIN hits h ON c.doc_id = h.doc_id
      WHERE c.doc_id % 97 <> 0 ORDER BY c.doc_id"""))

  /** q166: QUALITY-FILTER FUNNEL — the ablation accounting every
    * curation pipeline publishes (how many documents each stage
    * drops, applied in order): token floor → language gate → stopword
    * ratio → mean word length, with the q28 threshold definitions.
    * ONE scan computes all stage flags as map-side conditionals, one
    * single-row aggregate takes the four cumulative sums, and `stack`
    * unpivots it to the funnel table — no per-stage re-scan, no
    * shuffle beyond the 1-row partial-agg exchange, a shape that is
    * identical at 100 TB.
    */
  private val q166QualityFunnel = Q(
    "q166_quality_funnel",
    (s, d) => {
      val toks = graft.functions.Portable.tokens(col("text"))
      val nT = size(toks).cast("long")
      val nStop = size(filter(toks, t => t.isin("the", "a"))).cast("long")
      val stopRatio = round(nStop.cast("double") / nT, 6)
      val avgLen = round(
        length(regexp_replace(col("text"), " ", "")).cast("double") / nT, 6)
      val f1 = nT >= 25
      val f2 = f1 && col("lang") === "en"
      val f3 = f2 && stopRatio <= 0.08
      val f4 = f3 && avgLen <= 8.0
      Tables.documents(s, d)
        .agg(count(lit(1)).as("n0"),
          sum(f1.cast("long")).as("s1"), sum(f2.cast("long")).as("s2"),
          sum(f3.cast("long")).as("s3"), sum(f4.cast("long")).as("s4"))
        .selectExpr("""stack(4,
            1, 'tokens',    n0, s1,
            2, 'lang',      s1, s2,
            3, 'stopwords', s2, s3,
            4, 'wordlen',   s3, s4)
          AS (stage_idx, stage, n_in, n_out)""")
        .orderBy("stage_idx")
    },
    Some("""WITH m AS (SELECT
          len(string_split(text, ' ')) AS nt,
          lang,
          round(CAST(len(list_filter(string_split(text, ' '),
              t -> t IN ('the', 'a'))) AS DOUBLE)
            / len(string_split(text, ' ')), 6) AS stop_ratio,
          round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
            / len(string_split(text, ' ')), 6) AS avg_len
        FROM documents),
      g AS (SELECT nt >= 25 AS f1,
          nt >= 25 AND lang = 'en' AS f2,
          nt >= 25 AND lang = 'en' AND stop_ratio <= 0.08 AS f3,
          nt >= 25 AND lang = 'en' AND stop_ratio <= 0.08
            AND avg_len <= 8.0 AS f4
        FROM m),
      s AS (SELECT CAST(count(*) AS BIGINT) AS n0,
          CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
          CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
          CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
          CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS s4
        FROM g)
      SELECT 1 AS stage_idx, 'tokens' AS stage, n0 AS n_in, s1 AS n_out FROM s
      UNION ALL SELECT 2, 'lang', s1, s2 FROM s
      UNION ALL SELECT 3, 'stopwords', s2, s3 FROM s
      UNION ALL SELECT 4, 'wordlen', s3, s4 FROM s
      ORDER BY stage_idx"""))

  /** q167: INT8 EMBEDDING QUANTIZATION with per-dimension abs-max
    * scales — the storage/serving compression pass before an ANN
    * index ships (4× smaller than float32; PQ (q96) is the
    * multi-codebook big sibling, this is the per-dim linear baseline).
    * Two passes, both whole-vector: [[graft.functions.VecSum
    * .vecAbsMax]] computes the 1×D scale vector with O(D) state and
    * no explode (the q160 argument), the D-long scale row broadcasts
    * back, and `zip_with` quantizes map-side: q = floor(v·127 /
    * scale). Output is the per-dimension audit (scale, Σq, min q,
    * max q — all exact integers), which pins every quantized value
    * through the sum without emitting N·D rows.
    *
    * 100 TB shape: pass 1 exchanges one D-long buffer per task; pass
    * 2 is scan-stage projection against the broadcast scales; the
    * audit groupBy is D rows. Nothing grows with N except the scans.
    */
  private val q167Int8Quant = Q(
    "q167_int8_quant",
    (s, d) => {
      val q = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(1e6)).cast("long")).as("q"))
      val scales = q.agg(graft.functions.VecSum.vecAbsMax(col("q")).as("vm"))
        .select(col("vm.s").as("scales"))
      q.crossJoin(broadcast(scales))
        .select(col("vec_id"),
          posexplode(zip_with(col("q"), col("scales"),
            (v, m) => when(m === 0L, lit(0L)).otherwise(
              floor(v.cast("double") * 127 / m).cast("long")))))
        .groupBy(col("pos").cast("int").as("dim"))
        .agg(sum("col").as("q_sum"), min("col").as("q_min"),
          max("col").as("q_max"))
        .join(
          scales.select(posexplode(col("scales")))
            .select(col("pos").cast("int").as("dim"), col("col").as("scale")),
          Seq("dim"))
        .select("dim", "scale", "q_sum", "q_min", "q_max")
        .orderBy("dim")
    },
    Some("""WITH el AS (SELECT vec_id,
          CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
        FROM embeddings),
      sc AS (SELECT dim, max(abs(qv)) AS scale FROM el GROUP BY 1),
      q8 AS (SELECT e.dim,
          CASE WHEN s.scale = 0 THEN 0
               ELSE CAST(floor(CAST(e.qv AS DOUBLE) * 127 / s.scale) AS BIGINT)
          END AS q
        FROM el e JOIN sc s ON e.dim = s.dim)
      SELECT q8.dim, CAST(sc.scale AS BIGINT) AS scale,
        CAST(sum(q) AS BIGINT) AS q_sum, CAST(min(q) AS BIGINT) AS q_min,
        CAST(max(q) AS BIGINT) AS q_max
      FROM q8 JOIN sc ON q8.dim = sc.dim
      GROUP BY q8.dim, sc.scale ORDER BY q8.dim"""))

  /** q176: TF-IDF KEYTERM EXTRACTION — top-3 terms per document by
    * tf·idf, the classic keyword/topic-tagging pass (q83's BM25 ranks
    * DOCS for a query; this ranks TERMS within each doc — metadata
    * enrichment, dataset cards, topic routing). Scoring is
    * integer-exact end to end: idf quantizes ONCE per term as
    * `floor(ln(N/df)·1e6)` (same double, same floor, both engines),
    * so `score_e6 = tf · idf_e6` and the (score_e6 desc, term) rank
    * order are pure BIGINT — no float comparison anywhere near the
    * ranking (the q106/q113 discipline).
    *
    * 100 TB shape: tf partial-aggregates on the uniform (doc_id,
    * term) key — one exchange; df reduces the tf AGGREGATE (never the
    * raw token stream — docs contribute 1 per term, so the df pass's
    * map-side combine collapses to vocabulary size) and broadcasts
    * back (bounded vocabulary; past broadcast size it takes q93's
    * documented threshold/MG seam). The plan deliberately RECOMPUTES
    * the tf aggregation for the df branch rather than materializing
    * corpus-scale tf state (two scans beat caching a corpus-sized
    * intermediate); the per-doc top-3 is one window on doc_id with a
    * 3-bounded heap (WindowGroupLimit partial+final in the plan, or
    * the q151 native top-k operator for the sort-free alternative).
    */
  private val q176TfidfKeyterms = Q(
    "q176_tfidf_keyterms",
    (s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val nd = Tables.documents(s, d).agg(count(lit(1)).as("nd"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score_e6").desc, col("w"))
      tf.join(broadcast(df), "w").crossJoin(broadcast(nd))
        .select(col("doc_id"), col("w"), col("tf"),
          (col("tf") * floor(log(col("nd").cast("double") / col("df"))
            * lit(1e6)).cast("long")).as("score_e6"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("w").as("term"),
          col("tf"), col("score_e6"))
        .orderBy("doc_id", "rank")
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents),
      tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1, 2),
      df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS nd FROM documents),
      sc AS (SELECT tf.doc_id, tf.w, tf.tf,
          tf.tf * CAST(floor(ln(CAST(nd AS DOUBLE) / df) * 1000000)
            AS BIGINT) AS score_e6
        FROM tf JOIN df USING (w) CROSS JOIN n),
      rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY score_e6 DESC, w) AS rank FROM sc)
      SELECT doc_id, rank, w AS term, tf, score_e6
      FROM rk WHERE rank <= 3 ORDER BY doc_id, rank"""),
    bench = true)

  /** q177: CORPUS NOVELTY CURVE — per document, how many of its
    * 4-gram shingles appear here FIRST (min doc_id owns the shingle),
    * the data-ordering diagnostic behind curriculum/dedup decisions:
    * a corpus slice whose docs contribute no novel shingles is
    * redundant with what precedes it (q109 measures within-corpus
    * duplication symmetrically; this attributes it to arrival order,
    * and q175 is its streaming sibling). The flag is the integer
    * predicate `2·n_novel ≥ n_shingles`, never a ratio.
    *
    * 100 TB shape: ONE exchange on the uniform shingle hash computes
    * both first-owner (min doc_id) and the per-doc shingle counts
    * hang off the scan side; novel counts come from re-aggregating
    * the ALREADY-REDUCED first-owner table by its owning doc (tiny),
    * and the final doc-level join is between two doc-keyed aggregates
    * — the raw shingle stream is never joined back to itself.
    */
  private val q177NgramNovelty = Q(
    "q177_ngram_novelty",
    (s, d) => {
      val th = Tables.documents(s, d)
        .filter(size(split(col("text"), " ")) >= 4)
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.Hash32.shingleHashes(col("text")))).as("h"))
      val perDoc = th.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val novel = th.groupBy("h").agg(min("doc_id").as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
      perDoc.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .withColumn("mostly_novel", col("n_novel") * 2 >= col("n_shingles"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ${Pipeline.shingleCte},
      th AS (SELECT DISTINCT doc_id,
          ${Sql.h32("s")} AS h FROM sh),
      pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
        FROM th GROUP BY 1),
      fo AS (SELECT h, min(doc_id) AS doc_id FROM th GROUP BY 1),
      nv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel
        FROM fo GROUP BY 1)
      SELECT pd.doc_id, pd.n_shingles,
        COALESCE(nv.n_novel, 0) AS n_novel,
        COALESCE(nv.n_novel, 0) * 2 >= pd.n_shingles AS mostly_novel
      FROM pd LEFT JOIN nv ON pd.doc_id = nv.doc_id
      ORDER BY pd.doc_id"""))

  /** q179: MINHASH ESTIMATE vs EXACT JACCARD — the sketch-accuracy
    * audit for the near-dup pipeline (the q164 pattern applied to
    * q23): for every LSH candidate pair, emit BOTH the 8-slot MinHash
    * agreement estimate (`n_match·125000` millionths) and the exact
    * shingle-set Jaccard (`n_inter·1e6 DIV n_union`) so threshold
    * calibration reads collision behavior off real data instead of
    * the Broder bound. All integers; no float ever ranks or compares.
    *
    * 100 TB shape: candidates come from the shared single-shuffle
    * [[graft.ops.Dedup.bucketPairs]] path (never all-pairs); the
    * verify stage joins the per-doc sketch+shingle arrays on uniform
    * ids — bounded per-doc arrays riding two hash joins, the standard
    * LSH-verify shape (at open-web doc lengths the exact-set side
    * caps via q155 chunking; the estimate side is fixed 8 longs).
    */
  private val q179MinhashEstimate = Q(
    "q179_minhash_estimate",
    (s, d) => {
      import graft.ops.Dedup
      val docs = Tables.documents(s, d)
        .filter(size(graft.functions.Portable.tokens(col("text"))) >= 4)
        .select(col("doc_id"),
          array_distinct(
            graft.functions.Hash32.shingleHashes(col("text"))).as("hs"))
      def mhCol(i: Int) = {
        val (_, a, b) = Dedup.mhParams(i)
        array_min(transform(col("hs"), h => (lit(a) * h + lit(b)) % 2147483647L))
      }
      val sk = docs.select(col("doc_id"), col("hs"),
        array((0 until 8).map(mhCol): _*).as("mh"))
      val pairs = Dedup.candidates(Dedup.bandSignatures(docs))
        .select("a_id", "b_id")
      pairs
        .join(sk.select(col("doc_id").as("a_id"), col("hs").as("hsa"),
          col("mh").as("mha")), "a_id")
        .join(sk.select(col("doc_id").as("b_id"), col("hs").as("hsb"),
          col("mh").as("mhb")), "b_id")
        .select(col("a_id"), col("b_id"),
          size(filter(zip_with(col("mha"), col("mhb"), (x, y) => x === y),
            bv => bv)).cast("long").as("n_match"),
          size(array_intersect(col("hsa"), col("hsb"))).cast("long")
            .as("n_inter"),
          (size(col("hsa")) + size(col("hsb"))).cast("long").as("n_sum"))
        .select(col("a_id"), col("b_id"), col("n_match"), col("n_inter"),
          (col("n_sum") - col("n_inter")).as("n_union"),
          (col("n_match") * 125000).as("est_e6"),
          expr("(n_inter * 1000000) DIV (n_sum - n_inter)").as("jac_e6"))
        .orderBy("a_id", "b_id")
    },
    Some(s"""WITH ${Pipeline.shingleCte},
      th AS (SELECT DISTINCT doc_id,
          ${Sql.h32("s")} AS h FROM sh),
      params(i, a, b) AS (VALUES ${Pipeline.mhParamsSqlValues}),
      mh AS (SELECT doc_id, i, min((a * h + b) % 2147483647) AS mh
        FROM th CROSS JOIN params GROUP BY 1, 2),
      bands AS (SELECT doc_id, i // 2 AS band,
          string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
        FROM mh GROUP BY 1, 2),
      pairs AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
      slots AS (SELECT p.a_id, p.b_id,
          CAST(sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS BIGINT)
            AS n_match
        FROM pairs p JOIN mh ma ON ma.doc_id = p.a_id
        JOIN mh mb ON mb.doc_id = p.b_id AND mb.i = ma.i
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        FROM th GROUP BY 1),
      inter AS (SELECT p.a_id, p.b_id, CAST(count(*) AS BIGINT) AS n_inter
        FROM pairs p JOIN th ta ON ta.doc_id = p.a_id
        JOIN th tb ON tb.doc_id = p.b_id AND tb.h = ta.h
        GROUP BY 1, 2)
      SELECT s.a_id, s.b_id, s.n_match,
        COALESCE(i.n_inter, 0) AS n_inter,
        sa.n + sb.n - COALESCE(i.n_inter, 0) AS n_union,
        s.n_match * 125000 AS est_e6,
        (COALESCE(i.n_inter, 0) * 1000000)
          // (sa.n + sb.n - COALESCE(i.n_inter, 0)) AS jac_e6
      FROM slots s
      LEFT JOIN inter i ON s.a_id = i.a_id AND s.b_id = i.b_id
      JOIN sizes sa ON sa.doc_id = s.a_id
      JOIN sizes sb ON sb.doc_id = s.b_id
      ORDER BY s.a_id, s.b_id"""))

  /** q182: DATASET CARD — the per-source summary block every corpus
    * release publishes (HuggingFace dataset cards, Datasheets for
    * Datasets): document and token volume, language mix, exact-dup
    * rate, and short-doc rate, in one report. Composes the primitives
    * (q21 exact dedup keys, q29 token stats, q166 quality gates) into
    * the release artifact itself. All counts are exact integers.
    *
    * 100 TB shape: one scan computes every per-doc statistic map-side
    * (token count, md5, short flag); the card is one groupBy on the
    * low-cardinality source key with algebraic partials, plus a dup
    * sub-aggregation on the uniform (source, md5) key whose result
    * re-aggregates to |sources| rows. Two exchanges total, both
    * map-combined; output is card-sized regardless of corpus size.
    */
  private val q182DatasetCard = Q(
    "q182_dataset_card",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        md5(col("text")).as("h"))
      val base = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        count_distinct(col("lang")).as("n_langs"),
        sum((col("lang") === "en").cast("long")).as("n_en"),
        sum((col("n_tok") < 25).cast("long")).as("n_short"))
      val dups = docs.groupBy("source", "h").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
        .groupBy("source").agg(sum("c").as("n_exact_dup"))
      base.join(dups, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_langs"), col("n_en"), col("n_short"),
          coalesce(col("n_exact_dup"), lit(0L)).as("n_exact_dup"))
        .orderBy("source")
    },
    Some("""WITH m AS (SELECT source, lang,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
          md5(text) AS h
        FROM documents),
      base AS (SELECT source,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n_tok) AS BIGINT) AS n_tokens,
          CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
          CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_en,
          CAST(sum(CASE WHEN n_tok < 25 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_short
        FROM m GROUP BY 1),
      g AS (SELECT source, h, count(*) AS c FROM m GROUP BY 1, 2),
      dup AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_exact_dup
        FROM g WHERE c >= 2 GROUP BY 1)
      SELECT b.source, b.n_docs, b.n_tokens, b.n_langs, b.n_en, b.n_short,
        COALESCE(d.n_exact_dup, 0) AS n_exact_dup
      FROM base b LEFT JOIN dup d ON b.source = d.source
      ORDER BY b.source"""))

  /** q184: SEQUENCE-PACKING ABLATION — the padding-vs-contamination
    * tradeoff table behind every pre-training data layout decision,
    * swept over context lengths (128/256/512) in ONE pass: the
    * concat-and-chunk scheme (q71) wastes zero tokens but splits
    * documents across sequence boundaries (cross-attention
    * contamination — `n_cross_docs`), while boundary-respecting
    * padding keeps documents whole at `ceil(nt/C)·C − nt` pad tokens
    * each. All quantities are closed-form integer arithmetic off the
    * SAME shard cumulative sum q71 emits (the offsets are context-
    * independent), so the ablation costs one window pass + a 3-way
    * explode + a 3-row aggregate, at any corpus size.
    */
  private val q184PackingAblation = Q(
    "q184_packing_ablation",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val nt = size(split(col("text"), " ")).cast("long")
      val shard = graft.functions.Portable.h32(col("doc_id").cast("string")) % 8
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), shard.as("shard"), nt.as("nt"))
        .withColumn("off", sum(col("nt")).over(w) - col("nt"))
        .select(col("nt"), col("off"),
          explode(array(lit(128L), lit(256L), lit(512L))).as("ctx"))
        .groupBy("ctx")
        .agg(count(lit(1)).as("n_docs"),
          sum((expr("off DIV ctx") =!= expr("(off + nt - 1) DIV ctx"))
            .cast("long")).as("n_cross_docs"),
          sum(expr("(nt + ctx - 1) DIV ctx")).as("n_seqs_padded"),
          sum(expr("((nt + ctx - 1) DIV ctx) * ctx - nt")).as("pad_tokens"))
        .orderBy("ctx")
    },
    Some(s"""WITH d AS (SELECT doc_id,
          ${Sql.h32("CAST(doc_id AS VARCHAR)")}
            % 8 AS shard,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        FROM documents),
      c AS (SELECT doc_id, shard, nt,
          CAST(sum(nt) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) - nt AS off
        FROM d),
      x AS (SELECT c.*, ctx FROM c
        CROSS JOIN (VALUES (CAST(128 AS BIGINT)), (256), (512)) v(ctx))
      SELECT ctx, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN off // ctx <> (off + nt - 1) // ctx
          THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_docs,
        CAST(sum((nt + ctx - 1) // ctx) AS BIGINT) AS n_seqs_padded,
        CAST(sum(((nt + ctx - 1) // ctx) * ctx - nt) AS BIGINT) AS pad_tokens
      FROM x GROUP BY 1 ORDER BY 1"""))

  /** q187: JACKKNIFE REPLICATES — leave-one-shard-out estimates of a
    * corpus statistic (mean tokens/doc), the uncertainty-quantification
    * step for any number a dataset card (q182) publishes: if the
    * replicate means swing, the statistic is dominated by a shard and
    * shouldn't ship without a caveat. Delete-a-group jackknife over
    * the 8 deterministic h32 shards; each replicate's mean is exact
    * integer millionths `(S − Sᵢ)·1e6 DIV (n − nᵢ)` — the classic
    * formulation needs only the per-shard (nᵢ, Sᵢ) partials and the
    * grand totals, never a second data pass.
    *
    * 100 TB shape: ONE groupBy on the 8-way shard key (8-row result),
    * a 1-row total broadcast, and the replicate table is 8 rows.
    * This is why delete-a-group jackknife (Kott 2001) is the survey-
    * statistics standard: variance machinery entirely in aggregate
    * space.
    */
  private val q187JackknifeReplicates = Q(
    "q187_jackknife_replicates",
    (s, d) => {
      val perShard = Tables.documents(s, d)
        .select((graft.functions.Portable.h32(col("doc_id").cast("string"))
          % 8).as("shard"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_i"), sum("nt").as("sum_i"))
      val tot = perShard.agg(sum("n_i").as("n"), sum("sum_i").as("s"))
      perShard.crossJoin(broadcast(tot))
        .select(col("shard"), col("n_i"), col("sum_i"),
          expr("((s - sum_i) * 1000000) DIV (n - n_i)").as("loo_mean_e6"),
          expr("(s * 1000000) DIV n").as("mean_e6"))
        .orderBy("shard")
    },
    Some(s"""WITH d AS (SELECT
          ${Sql.h32("CAST(doc_id AS VARCHAR)")}
            % 8 AS shard,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        FROM documents),
      ps AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_i,
          CAST(sum(nt) AS BIGINT) AS sum_i FROM d GROUP BY 1),
      tot AS (SELECT CAST(sum(n_i) AS BIGINT) AS n,
          CAST(sum(sum_i) AS BIGINT) AS s FROM ps)
      SELECT shard, n_i, sum_i,
        ((s - sum_i) * 1000000) // (n - n_i) AS loo_mean_e6,
        (s * 1000000) // n AS mean_e6
      FROM ps CROSS JOIN tot ORDER BY shard"""))

  /** q192: ENCODING-NOISE (MOJIBAKE) AUDIT — the ingest-hygiene gate
    * beside q166's quality thresholds: web-scale corpora arrive with a
    * measurable fraction of double-encoded UTF-8 (bytes decoded as
    * Latin-1 then re-encoded — the "Ã¡ for á" signature), control
    * bytes, and replacement characters, and a training pipeline drops
    * or re-decodes them BEFORE tokenization (mojibake shreds BPE
    * merges into byte soup). The synthetic corpus is clean, so the
    * query first plants the classic signature deterministically
    * (doc_id % 7 == 0 docs get the Latin-1-mangled 'a'), then runs the
    * detector the planting cannot see: count of the 'Ã' lead byte
    * (the UTF-8-as-Latin-1 tell — legitimate Western text has it only
    * in rare words, never dozens per document) and the
    * non-printable-ASCII character share.
    *
    * 100 TB shape: injection, detection, and ratio are all codegen'd
    * scan-stage string expressions; the only exchange is the final
    * per-source rollup (sources ≪ partitions, map-side partials).
    */
  private val q192MojibakeAudit = Q(
    "q192_mojibake_audit",
    (s, d) => {
      val corrupted = when(col("doc_id") % 7 === 0,
        replace(col("text"), lit("a"), lit("Ã¡")))
        .otherwise(col("text"))
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), corrupted.as("c"))
        .select(col("doc_id"), col("source"),
          (length(col("c")) -
            length(replace(col("c"), lit("Ã"), lit("")))).as("moji_hits"),
          round(length(regexp_replace(col("c"), "[ -~]", ""))
            .cast("double") / length(col("c")), 6).as("nonprint_ratio"))
      base.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("moji_hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum(col("moji_hits").cast("long")).as("tot_moji"),
        round(dsum6(col("nonprint_ratio")) / count(lit(1)), 6)
          .as("mean_nonprint"))
        .orderBy("source")
    },
    Some("""WITH c AS (SELECT doc_id, source,
          CASE WHEN doc_id % 7 = 0
               THEN replace(text, 'a', 'Ã¡') ELSE text END AS c
        FROM documents),
      m AS (SELECT doc_id, source,
          length(c) - length(replace(c, 'Ã', '')) AS moji_hits,
          round(CAST(length(regexp_replace(c, '[ -~]', '', 'g')) AS DOUBLE)
            / length(c), 6) AS nonprint_ratio
        FROM c)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(count(*) FILTER (WHERE moji_hits > 0) AS BIGINT) AS n_flagged,
        CAST(sum(moji_hits) AS BIGINT) AS tot_moji,
        round(CAST(sum(CAST(nonprint_ratio AS DECIMAL(28,6))) AS DOUBLE)
          / count(*), 6) AS mean_nonprint
      FROM m GROUP BY 1 ORDER BY 1"""))

  /** q193: READABILITY SCORING (Flesch reading ease over proxy
    * counts) — the document-difficulty signal used both as a quality
    * gate (near-zero readability flags tables/code/boilerplate
    * mis-scraped as prose) and as the ordering key for curriculum
    * schedules (q194). Sentences are punctuation runs `[.!?]+`
    * (floored at 1), syllables are vowel-group runs `[aeiouy]+` of the
    * lowercased text — the standard cheap proxies; the exact Flesch
    * constants (206.835, 1.015, 84.6) over words/sentence and
    * syllables/word, per-document rounded to 4.
    *
    * 100 TB shape: all three counts and the score are codegen'd
    * scan-stage regex/array expressions (one pass over each doc); the
    * per-source summary is the only exchange, with map-side partials
    * reducing each task to |sources| rows.
    */
  private val q193Readability = Q(
    "q193_readability",
    (s, d) => {
      val w = size(tokens(col("text"))).cast("double")
      val sent = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
        .cast("double")
      val syl = regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("double")
      val flesch = round(lit(206.835) - lit(1.015) * (w / sent) -
        lit(84.6) * (syl / w), 4)
      Tables.documents(s, d)
        .select(col("source"), flesch.as("flesch"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          round(dsum6(col("flesch")) / count(lit(1)), 6).as("mean_flesch"),
          min(col("flesch")).as("min_flesch"),
          max(col("flesch")).as("max_flesch"))
        .orderBy("source")
    },
    Some("""WITH f AS (SELECT source,
          round(CAST(206.835 AS DOUBLE)
            - CAST(1.015 AS DOUBLE) * (CAST(length(string_split(text, ' ')) AS DOUBLE)
                / greatest(length(regexp_extract_all(text, '[.!?]+')), 1))
            - CAST(84.6 AS DOUBLE) * (CAST(length(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
                / length(string_split(text, ' '))), 4) AS flesch
        FROM documents)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        round(CAST(sum(CAST(flesch AS DECIMAL(28,6))) AS DOUBLE)
          / count(*), 6) AS mean_flesch,
        min(flesch) AS min_flesch, max(flesch) AS max_flesch
      FROM f GROUP BY 1 ORDER BY 1"""),
    bench = true)

  /** q194: CURRICULUM PHASE ASSIGNMENT — order each language's docs
    * by a difficulty key (average word length in exact e6 fixed-point,
    * doc_id tiebreak) and cut them into 4 equal phases (ntile), the
    * easy-to-hard schedule curriculum pretraining feeds batches from;
    * emitted as the per-(lang, phase) manifest (doc count, token
    * budget, difficulty range) a batch scheduler consumes.
    *
    * 100 TB shape: the q78 per-group-sort precedent — the rank is
    * per-LANGUAGE (Window.partitionBy(lang)), so languages sort in
    * parallel and no global order exists anywhere. One huge language
    * still range-sorts within itself; the production composition is
    * q159's sketch-driven range partitioner (split points from a
    * LogDigest) or q133's quantile cutpoints replacing ntile with a
    * broadcast-threshold map-side phase id. The manifest aggregate is
    * 4·|langs| rows.
    */
  private val q194CurriculumPhases = Q(
    "q194_curriculum_phases",
    (s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("nt"), col("n_chars"))
        .withColumn("diff_e6", expr("(n_chars * 1000000) div nt"))
      val w = Window.partitionBy("lang").orderBy(col("diff_e6"), col("doc_id"))
      base.withColumn("phase", ntile(4).over(w))
        .groupBy("lang", "phase").agg(
          count(lit(1)).as("n_docs"),
          sum("nt").as("sum_tokens"),
          min("diff_e6").as("min_diff_e6"),
          max("diff_e6").as("max_diff_e6"))
        .orderBy("lang", "phase")
    },
    Some("""WITH b AS (SELECT doc_id, lang,
          CAST(length(string_split(text, ' ')) AS BIGINT) AS nt, n_chars
        FROM documents),
      p AS (SELECT lang, (n_chars * 1000000) // nt AS diff_e6, nt,
          ntile(4) OVER (PARTITION BY lang
            ORDER BY (n_chars * 1000000) // nt, doc_id) AS phase
        FROM b)
      SELECT lang, CAST(phase AS INT) AS phase,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(nt) AS BIGINT) AS sum_tokens,
        min(diff_e6) AS min_diff_e6, max(diff_e6) AS max_diff_e6
      FROM p GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** q264: HILL TAIL-INDEX ESTIMATOR — the heavy-tail diagnostic for
    * the document-length distribution (the number that says whether
    * q71 packing / q159 range partitioning must plan for extreme
    * outliers): α̂ = k / Σ_{i≤k} ln(x_(i)/x_(k+1)) over the top
    * k = 100 order statistics. Selection is a TakeOrdered (never a
    * full sort); each log term is round₆(ln of a ratio of exact
    * integers) and the sum is DECIMAL(28,6) — the q163/q197 ln
    * discipline — so both engines agree bit-for-bit.
    *
    * 100 TB shape: one map-side length projection; the only ordered
    * work is a 101-row distributed TakeOrderedAndProject.
    */
  private val q264HillTail = Q(
    "q264_hill_tail",
    (s, d) => {
      val k = 100
      val lens = Tables.documents(s, d)
        .select(col("doc_id"), size(split(col("text"), " "))
          .cast("long").as("x"))
        .filter(col("x") >= 1L)
        .orderBy(col("x").desc, col("doc_id"))
        .limit(k + 1)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("x").desc, col("doc_id"))).cast("long"))
      val xk1 = lens.filter(col("rn") === (k + 1).toLong)
        .select(col("x").as("xk1"))
      lens.filter(col("rn") <= k.toLong)
        .crossJoin(broadcast(xk1))
        .select(round(log(col("x").cast("double") /
          col("xk1").cast("double")), 6).cast("decimal(28,6)").as("t"),
          col("xk1"))
        .groupBy("xk1")
        .agg(count(lit(1)).as("k"), sum("t").as("hs"))
        .select(col("k"), col("xk1").as("x_kplus1"),
          col("hs").cast("double").as("hill_sum6"),
          when(col("hs") > 0,
            round(col("k").cast("double") / col("hs").cast("double"), 6))
            .otherwise(lit(null)).as("alpha6"))
    },
    Some("""WITH lens AS (SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS x
        FROM documents WHERE len(string_split(text, ' ')) >= 1),
      top AS (SELECT x, CAST(row_number() OVER (ORDER BY x DESC, doc_id)
            AS BIGINT) AS rn
        FROM (SELECT * FROM lens ORDER BY x DESC, doc_id LIMIT 101)),
      xk AS (SELECT x AS xk1 FROM top WHERE rn = 101),
      terms AS (SELECT CAST(round(ln(CAST(t.x AS DOUBLE)
            / CAST(xk.xk1 AS DOUBLE)), 6) AS DECIMAL(28,6)) AS t, xk.xk1
        FROM top t CROSS JOIN xk WHERE t.rn <= 100),
      agg AS (SELECT xk1, CAST(count(*) AS BIGINT) AS k,
          CAST(sum(t) AS DECIMAL(28,6)) AS hs
        FROM terms GROUP BY 1)
      SELECT k, xk1 AS x_kplus1, CAST(hs AS DOUBLE) AS hill_sum6,
        CASE WHEN hs > 0 THEN round(CAST(k AS DOUBLE) / CAST(hs AS DOUBLE),
          6) ELSE NULL END AS alpha6
      FROM agg"""))

  /** q265: TOP-K DRIFT — "trending terms": the entrant/dropout/moved
    * census between the two corpus halves' top-20 token rankings
    * (doc_id parity split — at production this is yesterday-vs-today).
    * Complements q90/q136 (heavy hitters WITHIN a window) with the
    * BETWEEN-window comparison an ops dashboard actually shows. The
    * full-outer join runs on two 20-row frames.
    *
    * 100 TB shape: token counts partial-aggregate map-side per half
    * (one uniform-key exchange); each half's top-20 is a
    * TakeOrdered; everything downstream is ≤40 rows.
    */
  private val q265TopkDrift = Q(
    "q265_topk_drift",
    (s, d) => {
      def top(half: Int) = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(2)) === half)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w"))
        .limit(20)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("c").desc, col("w"))).cast("long"))
      val a = top(0).select(col("w"), col("rank").as("rank_a"),
        col("c").as("c_a"))
      val b = top(1).select(col("w").as("wb"), col("rank").as("rank_b"),
        col("c").as("c_b"))
      a.join(b, col("w") === col("wb"), "full_outer")
        .select(coalesce(col("w"), col("wb")).as("w"),
          col("rank_a"), col("rank_b"),
          coalesce(col("c_a"), lit(0L)).as("c_a"),
          coalesce(col("c_b"), lit(0L)).as("c_b"),
          when(col("rank_a").isNull, "new")
            .when(col("rank_b").isNull, "dropped")
            .when(col("rank_a") === col("rank_b"), "held")
            .otherwise("moved").as("status"))
        .orderBy(coalesce(col("rank_b"), lit(99L)),
          coalesce(col("rank_a"), lit(99L)), col("w"))
        .select("w", "rank_a", "rank_b", "c_a", "c_b", "status")
    },
    Some("""WITH tok AS (SELECT doc_id % 2 AS half,
          unnest(string_split(text, ' ')) AS w FROM documents),
      cnt AS (SELECT half, w, CAST(count(*) AS BIGINT) AS c
        FROM tok WHERE length(w) > 0 GROUP BY 1, 2),
      rk AS (SELECT half, w, c, CAST(row_number() OVER (PARTITION BY half
            ORDER BY c DESC, w) AS BIGINT) AS rank
        FROM cnt),
      a AS (SELECT w, rank AS rank_a, c AS c_a FROM rk
        WHERE half = 0 AND rank <= 20),
      b AS (SELECT w, rank AS rank_b, c AS c_b FROM rk
        WHERE half = 1 AND rank <= 20)
      SELECT COALESCE(a.w, b.w) AS w, a.rank_a, b.rank_b,
        CAST(COALESCE(a.c_a, 0) AS BIGINT) AS c_a,
        CAST(COALESCE(b.c_b, 0) AS BIGINT) AS c_b,
        CASE WHEN a.rank_a IS NULL THEN 'new'
          WHEN b.rank_b IS NULL THEN 'dropped'
          WHEN a.rank_a = b.rank_b THEN 'held'
          ELSE 'moved' END AS status
      FROM a FULL OUTER JOIN b ON a.w = b.w
      ORDER BY COALESCE(b.rank_b, 99), COALESCE(a.rank_a, 99),
        COALESCE(a.w, b.w)"""))

  /** q253: HEAPS-LAW VOCABULARY GROWTH — the corpus-growth curve
    * V(N) ≈ k·N^β and its fitted exponent, the capacity-planning
    * number behind tokenizer vocab sizing and dedup-rate forecasts
    * ("how much NEW vocabulary does the next 10 TB bring"). The
    * curve is NOT computed by re-scanning prefixes: cumulative
    * distinct at prefix p equals the count of tokens whose FIRST
    * owner doc ≤ p (the q177 first-occurrence trick), so one
    * token-key exchange yields the whole curve; β comes from the
    * q196 OLS moment lattice over floor(ln·1e6) fixed-point logs of
    * the 8 checkpoints.
    *
    * 100 TB shape: histogram-first (#16.2-1) — the token stream
    * reduces to per-doc counts and a first-owner histogram BEFORE
    * the 8× checkpoint fan-out, which then joins doc-sized frames,
    * never tokens. The fit is an 8-row aggregate.
    */
  private val q253HeapsLaw = Q(
    "q253_heaps_law",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val docTok = toks.groupBy("doc_id").agg(count(lit(1)).as("nt"))
      val firstHist = toks.groupBy("w").agg(min("doc_id").as("fd"))
        .groupBy("fd").agg(count(lit(1)).as("nv"))
      val cps = Tables.documents(s, d).agg(max("doc_id").as("mx"))
        .select(explode(expr("sequence(1L, 8L)")).as("k"), col("mx"))
        .select(col("k"), expr("(k * mx) div 8").as("p"))
      val nTok = broadcast(cps).join(docTok, col("doc_id") <= col("p"))
        .groupBy("k").agg(count(lit(1)).as("n_docs"),
          sum("nt").as("n_tokens"))
      val nVoc = broadcast(cps).join(firstHist, col("fd") <= col("p"))
        .groupBy("k").agg(sum("nv").as("v_distinct"))
      val curve = nTok.join(nVoc, "k")
        .withColumn("x6",
          expr("cast(floor(ln(cast(n_tokens as double)) * 1000000) as bigint)"))
        .withColumn("y6",
          expr("cast(floor(ln(cast(v_distinct as double)) * 1000000) as bigint)"))
      val fit = curve.agg(
          count(lit(1)).cast("decimal(38,0)").as("n"),
          sum("x6").cast("decimal(38,0)").as("sx"),
          sum("y6").cast("decimal(38,0)").as("sy"),
          sum((col("x6") * col("y6")).cast("decimal(38,0)")).as("sxy"),
          sum((col("x6") * col("x6")).cast("decimal(38,0)")).as("sxx"))
        .select(round(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("beta6"))
      curve.select(col("k"), col("n_docs"), col("n_tokens"),
          col("v_distinct"))
        .crossJoin(broadcast(fit))
        .orderBy("k")
    },
    Some("""WITH tk AS MATERIALIZED (SELECT doc_id,
          unnest(string_split(text, ' ')) AS w FROM documents),
      t2 AS MATERIALIZED (SELECT doc_id, w FROM tk WHERE length(w) > 0),
      dt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt
        FROM t2 GROUP BY 1),
      fd AS (SELECT min(doc_id) AS fd FROM t2 GROUP BY w),
      fh AS (SELECT fd, CAST(count(*) AS BIGINT) AS nv FROM fd GROUP BY 1),
      ks AS (SELECT CAST(unnest(range(1, 9)) AS BIGINT) AS k),
      mxd AS (SELECT max(doc_id) AS mx FROM documents),
      cps AS (SELECT k, (k * mx) // 8 AS p FROM ks, mxd),
      ntk AS (SELECT c.k, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(d.nt) AS BIGINT) AS n_tokens
        FROM cps c JOIN dt d ON d.doc_id <= c.p GROUP BY 1),
      nvc AS (SELECT c.k, CAST(sum(f.nv) AS BIGINT) AS v_distinct
        FROM cps c JOIN fh f ON f.fd <= c.p GROUP BY 1),
      curve AS (SELECT n.k, n.n_docs, n.n_tokens, v.v_distinct,
          CAST(floor(ln(CAST(n.n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
            AS x6,
          CAST(floor(ln(CAST(v.v_distinct AS DOUBLE)) * 1000000) AS BIGINT)
            AS y6
        FROM ntk n JOIN nvc v USING (k)),
      m AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
          CAST(sum(x6) AS DECIMAL(38,0)) AS sx,
          CAST(sum(y6) AS DECIMAL(38,0)) AS sy,
          CAST(sum(CAST(x6 * y6 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
          CAST(sum(CAST(x6 * x6 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx
        FROM curve),
      f AS (SELECT round(CAST(n * sxy - sx * sy AS DOUBLE)
          / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS beta6 FROM m)
      SELECT c.k, c.n_docs, c.n_tokens, c.v_distinct, f.beta6
      FROM curve c CROSS JOIN f ORDER BY c.k"""),
    bench = true)

  /** q247: HLL SET ALGEBRA — sketch-level union and inclusion–
    * exclusion overlap between per-source vocabularies, WITHOUT
    * rescanning the data per pair: the q164 register table (source,
    * idx, max rho) is built once in the scan stage, and every
    * source-pair union is a register-wise max over that tiny table —
    * the "how much do two crawls overlap" question answered from
    * mergeable state. Output per pair: the union's integer register
    * evidence, both members' estimates, the union estimate, the
    * inclusion–exclusion overlap estimate, and the exact overlap for
    * audit (a production 100 TB run drops the exact column — that is
    * the point of the sketch).
    *
    * 100 TB shape: the token explode partial-aggregates map-side into
    * ≤ 512·K register rows (K = #sources); all pair algebra —
    * broadcast-nested-loop contribution join included — runs on that
    * sketch-sized frame, never on data. Exact overlap is a
    * vocab-bounded distinct join, audit-only like q164's
    * exact_distinct.
    */
  private val q247HllSetops = Q(
    "q247_hll_setops",
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
      val regs = t
        .select(col("source"), graft.functions.Portable.h32(col("w")).as("h"))
        .select(col("source"), (col("h") % 512L).as("idx"),
          expr("""CASE WHEN h div 512 = 0 THEN 24
            ELSE bit_count(((h div 512) & -(h div 512)) - 1) + 1 END""")
            .as("rho"))
        .groupBy("source", "idx").agg(max("rho").as("mx"))
      def evidence(grp: Seq[String], vz: String, tt: String)(
          df: org.apache.spark.sql.DataFrame) =
        df.groupBy(grp.map(col): _*)
          .agg(count(lit(1)).as("n_used"),
            sum(expr("shiftleft(cast(1 as bigint), 24 - mx)")).as("t_used"))
          .select(grp.map(col) ++ Seq(
            (lit(512L) - col("n_used")).as(vz),
            (col("t_used") + (lit(512L) - col("n_used")) * lit(16777216L))
              .as(tt)): _*)
      val per = evidence(Seq("source"), "vz", "tt")(regs)
        .withColumn("est", expr(graft.functions.Hll.estimateSql("vz", "tt")))
      val srcs = regs.select("source").distinct()
      val pairs = srcs.toDF("sa").crossJoin(srcs.toDF("sb"))
        .filter(col("sa") < col("sb"))
      val contrib = broadcast(pairs).join(regs.toDF("s", "idx", "mx"),
        col("s") === col("sa") || col("s") === col("sb"))
      val uagg = evidence(Seq("sa", "sb"), "v_zero_u", "t_total_u")(
          contrib.groupBy("sa", "sb", "idx").agg(max("mx").as("mx")))
        .withColumn("est_union",
          expr(graft.functions.Hll.estimateSql("v_zero_u", "t_total_u")))
      val dw = t.distinct()
      val exact = dw.toDF("sa", "w").join(dw.toDF("sb", "w2"),
          col("w") === col("w2") && col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("eo"))
      uagg
        .join(broadcast(per.select(col("source").as("sa"),
          col("est").as("est_a"))), "sa")
        .join(broadcast(per.select(col("source").as("sb"),
          col("est").as("est_b"))), "sb")
        .join(exact, Seq("sa", "sb"), "left")
        .select(col("sa"), col("sb"), col("v_zero_u"), col("t_total_u"),
          col("est_a"), col("est_b"), col("est_union"),
          round(col("est_a") + col("est_b") - col("est_union"), 6)
            .as("est_overlap"),
          coalesce(col("eo"), lit(0L)).as("exact_overlap"))
        .orderBy("sa", "sb")
    },
    Some(s"""WITH t AS MATERIALIZED (SELECT source,
          unnest(string_split(text, ' ')) AS w FROM documents),
      h AS (SELECT source, ${Sql.h32("w")} AS h
        FROM t),
      r AS (SELECT source, h % 512 AS idx,
          CASE WHEN h // 512 = 0 THEN 24
               ELSE bit_count(((h // 512) & -(h // 512)) - 1) + 1 END AS rho
        FROM h),
      mreg AS MATERIALIZED (SELECT source, idx, max(rho) AS mx
        FROM r GROUP BY 1, 2),
      per AS (SELECT source, CAST(512 - count(*) AS BIGINT) AS vz,
          CAST(sum(CAST(power(2, 24 - mx) AS BIGINT))
            + (512 - count(*)) * 16777216 AS BIGINT) AS tt
        FROM mreg GROUP BY 1),
      pest AS MATERIALIZED (SELECT source, vz, tt,
          ${graft.functions.Hll.estimateSql("vz", "tt")} AS est FROM per),
      srcs AS (SELECT DISTINCT source FROM mreg),
      pairs AS (SELECT a.source AS sa, b.source AS sb
        FROM srcs a, srcs b WHERE a.source < b.source),
      contrib AS (SELECT p.sa, p.sb, m.idx, m.mx
        FROM pairs p JOIN mreg m ON m.source = p.sa OR m.source = p.sb),
      ureg AS (SELECT sa, sb, idx, max(mx) AS mx
        FROM contrib GROUP BY 1, 2, 3),
      uagg AS (SELECT sa, sb, CAST(512 - count(*) AS BIGINT) AS v_zero_u,
          CAST(sum(CAST(power(2, 24 - mx) AS BIGINT))
            + (512 - count(*)) * 16777216 AS BIGINT) AS t_total_u
        FROM ureg GROUP BY 1, 2),
      ue AS (SELECT sa, sb, v_zero_u, t_total_u,
          ${graft.functions.Hll.estimateSql("v_zero_u", "t_total_u")}
            AS est_union FROM uagg),
      dw AS (SELECT DISTINCT source, w FROM t),
      eo AS (SELECT a.source AS sa, b.source AS sb,
          CAST(count(*) AS BIGINT) AS eo
        FROM dw a JOIN dw b ON a.w = b.w AND a.source < b.source
        GROUP BY 1, 2)
      SELECT u.sa, u.sb, u.v_zero_u, u.t_total_u,
        pa.est AS est_a, pb.est AS est_b, u.est_union,
        round(pa.est + pb.est - u.est_union, 6) AS est_overlap,
        CAST(coalesce(eo.eo, 0) AS BIGINT) AS exact_overlap
      FROM ue u JOIN pest pa ON u.sa = pa.source
      JOIN pest pb ON u.sb = pb.source
      LEFT JOIN eo ON u.sa = eo.sa AND u.sb = eo.sb
      ORDER BY 1, 2"""),
    bench = true)

  val queries: Seq[Q] = Seq(
    q160VectorCentroids, q161GlobalShuffle, q162UserSequences,
    q163WordEntropy, q164HllDistinct, q165ContamFrac, q166QualityFunnel,
    q167Int8Quant, q176TfidfKeyterms, q177NgramNovelty, q179MinhashEstimate,
    q182DatasetCard, q184PackingAblation, q187JackknifeReplicates,
    q192MojibakeAudit, q193Readability, q194CurriculumPhases,
    q247HllSetops, q253HeapsLaw, q264HillTail, q265TopkDrift)
}
