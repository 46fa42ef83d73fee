package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Portable._

/** Training-data curation operators beyond the pair-finding primitives
  * in [[Pipeline]]: cluster resolution for dedup (q67), intra-document
  * repetition scoring (q68), the skew-robust ascending-df variant of
  * prefix-filtered Jaccard join (q69), and deterministic hash-bucket
  * dataset splitting (q70).
  *
  * Same portability contract as Pipeline: all hashes go through
  * Portable.h32 (md5-derived) and every ratio is rounded to 6 decimals,
  * so the DuckDB oracles compute bit-identical values.
  */
object Training {

  /** q67: near-dup CLUSTER RESOLUTION — connected components over the
    * MinHash-LSH candidate pairs (q23's exact edge set), electing the
    * min doc id of each component as the canonical survivor. This is
    * the step a real dedup pipeline needs between "pairs found" and
    * "rows dropped": a≈b and b≈c must collapse to ONE survivor even
    * when (a,c) never shared a band bucket (the sf0.01 corpus contains
    * such a transitive triple). Plan shape: label propagation in
    * [[graft.ops.Cluster]] — one uniform-key shuffle per round,
    * rounds = component diameter (small by LSH construction). The
    * oracle computes the same fixpoint via a recursive CTE.
    */
  private val q67DedupClusters = Q(
    "q67_dedup_clusters",
    (s, d) => {
      val doc = Tables.documents(s, d)
        .filter(size(tokens(col("text"))) >= 4)
        .select(col("doc_id"), graft.functions.Hash32.shingleHashes(col("text")).as("hs"))
      val pairs = graft.ops.Dedup
        .candidates(graft.ops.Dedup.bandSignatures(doc))
        .select(col("a_id"), col("b_id"))
      val comp = graft.ops.Cluster.connectedComponents(pairs)
      val sizes = comp.groupBy(col("cluster"))
        .agg(count(lit(1)).as("cluster_size"))
      comp.join(sizes, "cluster")
        .select(col("id").as("doc_id"), col("cluster"), col("cluster_size"),
          (col("id") === col("cluster")).as("is_survivor"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE ${Training.clusterCtes},
      sizes AS (SELECT cluster, count(*) AS cluster_size FROM comp GROUP BY 1)
      SELECT c.id AS doc_id, c.cluster, z.cluster_size,
        (c.id = c.cluster) AS is_survivor
      FROM comp c JOIN sizes z ON c.cluster = z.cluster
      ORDER BY 1"""))

  /** MinHash-LSH candidate pairs → connected components (`comp(id,
    * cluster)`), shared by q67 and q88's quality-aware survivor
    * election.
    */
  private[queries] def clusterCtes: String =
    s"""${Pipeline.shingleCte},
      th AS (SELECT DISTINCT doc_id, ${Sql.h32("s")} AS h FROM sh),
      params(i, a, b) AS (VALUES ${Pipeline.mhParamsSqlValues}),
      mh AS (SELECT doc_id, i, min((a * h + b) % 2147483647) AS mh
             FROM th CROSS JOIN params GROUP BY 1, 2),
      bands AS (SELECT doc_id, i // 2 AS band,
                  string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
                FROM mh GROUP BY 1, 2),
      pairs AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id
                FROM bands x JOIN bands y
                  ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
                GROUP BY 1, 2),
      sym AS (SELECT a_id AS src, b_id AS dst FROM pairs
              UNION ALL SELECT b_id AS src, a_id AS dst FROM pairs),
      reach AS (SELECT src AS id, src AS lab FROM sym
                UNION
                SELECT s2.src, r.lab FROM sym s2 JOIN reach r ON s2.dst = r.id),
      comp AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY 1)"""

  /** q68: intra-document REPETITION scoring (Gopher-style quality
    * rule): per doc, the fraction of bigram occurrences belonging to
    * repeated bigrams (`dup_frac`) and to the single most frequent
    * bigram (`top_frac`); `repetitive` flags dup_frac ≥ 0.08.
    * Complements q28 (which scores surface statistics): boilerplate and
    * template text shows up as repetition, not as odd token lengths.
    * Plan shape: ZERO shuffles before the output sort — the per-doc
    * bigram counting runs in the codegen'd
    * [[graft.functions.BigramStats32]] expression, one pass per row
    * inside the scan's WholeStageCodegen span (the explode + double
    * aggregation formulation shuffled every bigram string twice and
    * scaled 5.5x worse; see SCALING.md).
    */
  private val q68Repetition = Q(
    "q68_repetition",
    (s, d) => {
      val st = graft.functions.Hash32.bigramStatsCol(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), st.as("st"))
        .filter(col("st.n_bigrams") >= 1)
        .select(col("doc_id"),
          col("st.n_bigrams").as("n_bigrams"),
          col("st.n_distinct").as("n_distinct"),
          round(col("st.top_cnt").cast("double") / col("st.n_bigrams"), 6).as("top_frac"),
          round(col("st.dup_occ").cast("double") / col("st.n_bigrams"), 6).as("dup_frac"))
        .withColumn("repetitive", col("dup_frac") >= 0.08)
        .orderBy("doc_id")
    },
    Some("""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
               i -> concat_ws(' ', w[i], w[i+1]))) AS g
             FROM ws WHERE len(w) >= 2),
      c AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
      st AS (SELECT doc_id, sum(c) AS n_bigrams, count(*) AS n_distinct,
               round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_frac,
               round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c), 6) AS dup_frac
             FROM c GROUP BY 1)
      SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, n_distinct,
        top_frac, dup_frac, dup_frac >= 0.08 AS repetitive
      FROM st ORDER BY doc_id"""),
    bench = true)

  /** q69: ascending-DF prefix-filtered Jaccard join — the classic
    * ppjoin feature order. q22 orders the feature space by the uniform
    * h32 value so the prefix is computable map-side; under HEAVY
    * feature skew the classic variant orders features rarest-first,
    * which shrinks candidate buckets (rare features index far fewer
    * docs). Shape (the MapReduce set-similarity-join pattern of
    * broadcasting the token ordering — Vernica et al., SIGMOD 2010):
    * document frequency is a partial-agg groupBy (map-side combine
    * collapses hot features BEFORE the exchange — deliberately NOT a
    * count window over w, which would pin a hot feature's rows to one
    * task with no skew escape); the df ≥ 2 slice of the ordering rides
    * a `SparkContext.broadcast` [[graft.functions.FeatureDfMap]] capped
    * at [[graft.functions.FeatureDfMap.MaxEntries]] top-df entries
    * (TakeOrdered fetch, truncation audited, and SOUND — any shared
    * total order keeps the prefix filter exact, see
    * [[graft.functions.Prefix.broadcastDfMap]]) and the rarest-first
    * prefix is ONE codegen'd sort per row. No
    * feature⋈df join, no rank window: the earlier join+window
    * formulation shuffled every exploded feature twice (2.07 s at
    * sf0.1; this form 1.2 s, within noise of q22's uniform-order
    * 0.9 s). Same prefix bound, same exact verification, same output
    * as q22 — the oracle IS q22's all-pairs definition, so the driver
    * proves both orderings compute identical pairs.
    */
  private val q69JaccardDfOrder = Q(
    "q69_jaccard_df_order",
    (s, d) => Pipeline.prefixJaccardPairs(s, d) { docs =>
      val dfRows = docs.select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2)
      val (dfm, _) = graft.functions.Prefix.broadcastDfMap(dfRows)
      graft.functions.Prefix.prefixCol(col("toks"), dfm)
    },
    Some(Pipeline.jaccardPairsOracle),
    bench = true)

  /** q70: deterministic hash-bucket dataset SPLIT (train/val/test
    * 80/10/10) — the standard leakage-safe way to split a training
    * corpus: membership depends only on the row's own id (md5 bucket),
    * so it is stable under re-ingestion, insertion of new docs, and
    * any partitioning/order change. Reported stratified by source to
    * show the split is unbiased per stratum. Pure map-side expressions
    * plus one small aggregation.
    */
  private val q70HashSplit = Q(
    "q70_hash_split",
    (s, d) => {
      val bucket = h32(col("doc_id").cast("string")) % 100
      val split = when(bucket < 80, "train").when(bucket < 90, "val")
        .otherwise("test")
      Tables.documents(s, d)
        .select(col("source"), split.as("split"),
          size(tokens(col("text"))).cast("long").as("nt"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
        .orderBy("source", "split")
    },
    Some(s"""SELECT source,
        CASE WHEN ${Sql.h32("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
             WHEN ${Sql.h32("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
             ELSE 'test' END AS split,
        count(*) AS n_docs,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** q71: SEQUENCE PACKING — map each document onto contiguous token
    * offsets of fixed-size training sequences (budget 256 tokens),
    * GPT-style (documents may straddle a sequence boundary; packing is
    * dense, no padding waste). Layout must be deterministic AND
    * distributed: a single global running sum would serialize on one
    * partition, so documents are first routed to a hash SHARD (md5 of
    * doc_id — same leakage-safe determinism as q70) and the running
    * offset is a window cumsum WITHIN the shard; each shard becomes an
    * independent output stream of sequences (at 100 TB: one shard per
    * writer task, thousands of shards). Output: each doc's shard,
    * token offset, and first/last sequence index it lands in.
    */
  private val q71SeqPack = Q(
    "q71_seq_pack",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val nt = size(tokens(col("text"))).cast("long")
      val shard = h32(col("doc_id").cast("string")) % 8
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), shard.as("shard"), nt.as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          (col("cum") - col("n_tokens")).as("offset"),
          ((col("cum") - col("n_tokens")) / lit(256L)).cast("long").as("seq_first"),
          ((col("cum") - lit(1L)) / lit(256L)).cast("long").as("seq_last"))
        .orderBy("doc_id")
    },
    Some(s"""WITH d AS (SELECT doc_id,
        ${Sql.h32("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
      c AS (SELECT doc_id, shard, n_tokens,
        CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM d)
      SELECT doc_id, shard, n_tokens, cum - n_tokens AS offset,
        (cum - n_tokens) // 256 AS seq_first, (cum - 1) // 256 AS seq_last
      FROM c ORDER BY doc_id"""))

  /** q72: benchmark DECONTAMINATION — flag training documents sharing
    * any 4-gram shingle with a (small) held-out benchmark set, the
    * standard n-gram-overlap contamination test run before training.
    * The benchmark side of the join is tiny by nature (benchmarks are
    * KBs, the corpus is TBs), so its distinct shingle set is BROADCAST:
    * the corpus side never shuffles — each scan task probes the
    * broadcast hash set and only the (rare) matches enter the per-doc
    * count aggregation. Shingles, not unigrams, so overlap means a
    * shared 4-token span rather than a shared word.
    */
  private val q72Decontam = Q(
    "q72_decontam",
    (s, d) => decontam(s, d)(),
    Some(Training.decontamOracle),
    bench = true)

  /** q72's core, shared by its bloom-prefiltered twin q86: per training
    * doc (doc_id % 97 <> 0, at least 4 tokens), how many of its distinct
    * 4-gram shingle hashes are in the 1/97 benchmark slice's shingle
    * set, confirmed by a broadcast join. `prep` sees the benchmark set
    * first and returns the set to join and a prefilter on the training
    * shingles.
    */
  private[queries] def decontam(s: SparkSession, d: String)(
      prep: DataFrame => (DataFrame, Column) = b => (b, lit(true))): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(size(tokens(col("text"))) >= 4)
      .select(col("doc_id"),
        array_distinct(graft.functions.Hash32.shingleHashes(col("text"))).as("hs"))
    val (benchSh, keep) = prep(docs.filter(col("doc_id") % 97 === 0)
      .select(explode(col("hs")).as("h")).distinct())
    docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .filter(keep)
      .join(broadcast(benchSh), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_shingles"))
      .orderBy("doc_id")
  }

  /** Shared by q72 and its bloom-prefiltered twin q86 (the bloom is a
    * pure prefilter whose false positives are removed by the exact
    * confirm join, so both compute the same closed form).
    */
  private[queries] def decontamOracle: String =
    s"""WITH ${Pipeline.shingleCte},
      th AS (SELECT DISTINCT doc_id, ${Sql.h32("s")} AS h FROM sh),
      bench AS (SELECT DISTINCT h FROM th WHERE doc_id % 97 = 0)
      SELECT t.doc_id, count(*) AS n_shared_shingles
      FROM th t JOIN bench b ON t.h = b.h
      WHERE t.doc_id % 97 <> 0
      GROUP BY 1 ORDER BY 1"""

  /** q73: token-budget data MIXING — cap each source's contribution to
    * the training mixture at a fixed token budget (3,000), taking
    * documents in deterministic doc_id order until the budget is
    * exhausted (the first doc crossing the budget is excluded; docs are
    * atomic here, unlike q71's packing). One window cumsum partitioned
    * by source + one small aggregation. Scale note: partitioning the
    * window by source makes a dominant source a hot partition; the
    * 100 TB variant splits the budget across q71-style hash shards
    * (budget/n_shards per shard — same result in expectation, fully
    * parallel) — at report granularity the global window is exact and
    * is what the oracle pins.
    */
  private val q73MixCap = Q(
    "q73_mix_cap",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val nt = size(tokens(col("text"))).cast("long")
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"), nt.as("nt"))
        .withColumn("cum", sum(col("nt")).over(w))
        .filter(col("cum") <= 3000L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs_kept"),
          sum(col("nt")).as("n_tokens_kept"),
          max(col("doc_id")).as("last_doc_id"))
        .orderBy("source")
    },
    Some("""WITH d AS (SELECT source, doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
      c AS (SELECT source, doc_id, nt,
        CAST(sum(nt) OVER (PARTITION BY source ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM d)
      SELECT source, count(*) AS n_docs_kept,
        CAST(sum(nt) AS BIGINT) AS n_tokens_kept, max(doc_id) AS last_doc_id
      FROM c WHERE cum <= 3000 GROUP BY 1 ORDER BY 1"""))

  /** Composite quality score (alpha-density minus stopword penalty,
    * rounded to 6dp) shared by q78/q95 here and q88's survivor
    * election — ONE definition so the scoring rule cannot
    * de-synchronize across its consumers.
    */
  private[queries] def qualityScore: org.apache.spark.sql.Column = {
    val toks = tokens(col("text"))
    val nt = size(toks).cast("long")
    val nStop = size(filter(toks, t => t.isin("the", "a"))).cast("long")
    val nAlpha = length(regexp_replace(col("text"), " ", "")).cast("long")
    round(
      nAlpha.cast("double") / nt - lit(10.0) * (nStop.cast("double") / nt), 6)
  }

  /** DuckDB twin of [[qualityScore]] (an expression over `text`). */
  private[queries] val qualityScoreSql: String =
    """round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
            / len(string_split(text, ' '))
          - 10.0 * (CAST(len(list_filter(string_split(text, ' '),
              t -> t IN ('the', 'a'))) AS DOUBLE)
            / len(string_split(text, ' '))), 6)"""

  /** q78: per-language QUALITY-QUANTILE thresholds — the cutoff-
    * selection step of a quality-filtered curation pipeline ("keep the
    * top X% per language"). Exact DISCRETE quantiles by rank pick
    * (value at row ceil(p·n) in (score, doc_id) order): total order +
    * integer ranks means no cross-engine float interpolation to match,
    * and the oracle is the same closed form. Plan: one shuffle by
    * lang, per-group sort, then the pivot to p10/p50/p90 folds into
    * the same aggregation. At 100 TB the per-language sort is the
    * documented cost of EXACTNESS; the scale alternative (t-digest /
    * approx_percentile) trades that for mergeable sketches and is
    * deliberately not the oracle path.
    */
  private val q78QualityQuantiles = Q(
    "q78_quality_quantiles",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byLang = Window.partitionBy(col("lang"))
      val ranked = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), qualityScore.as("score"))
        .withColumn("rn", row_number().over(byLang.orderBy(col("score"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(byLang))
      def pick(p: Double) =
        max(when(col("rn") === ceil(lit(p) * col("n")).cast("long"), col("score")))
      ranked.groupBy("lang")
        .agg(max(col("n")).as("n_docs"), pick(0.1).as("p10"),
          pick(0.5).as("p50"), pick(0.9).as("p90"))
        .orderBy("lang")
    },
    Some(s"""WITH sc AS (SELECT doc_id, lang,
        $qualityScoreSql AS score
        FROM documents),
      r AS (SELECT lang, score,
          row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) AS rn,
          count(*) OVER (PARTITION BY lang) AS n FROM sc)
      SELECT lang, max(n) AS n_docs,
        max(CASE WHEN rn = CAST(ceil(0.1 * n) AS BIGINT) THEN score END) AS p10,
        max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN score END) AS p50,
        max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN score END) AS p90
      FROM r GROUP BY 1 ORDER BY 1"""))

  /** q95: the documented SCALE PATH beside q78's exact per-language
    * sort — quantile thresholds from a 3-decimal HISTOGRAM. The corpus
    * pays only a map-side-combinable (lang, bin) count (bins =
    * `floor(score·1000)` in exact DECIMAL arithmetic, so the binning
    * is bit-identical cross-engine); the cumulative-sum window then
    * runs over HISTOGRAM rows (hundreds per language), not documents —
    * at 100 TB that is the difference between sorting every row per
    * language (q78) and shuffling a bounded histogram. Thresholds come
    * out as integer bins (p = smallest bin whose cumulative count
    * reaches ceil(p·n)) — by construction `p_bin = floor(p_exact·1000)`
    * for q78's discrete quantiles, and no float leaves the plan.
    */
  private val q95BinnedQuantiles = Q(
    "q95_binned_quantiles",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val bin = floor(qualityScore.cast("decimal(28,6)") * 1000).cast("long")
      val hist = Tables.documents(s, d)
        .select(col("lang"), bin.as("bin"))
        .groupBy("lang", "bin").agg(count(lit(1)).as("c"))
      val byLang = Window.partitionBy(col("lang"))
      val cum = hist
        .withColumn("cum", sum(col("c")).over(
          byLang.orderBy(col("bin"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("c")).over(byLang))
      def pick(p: Double) =
        min(when(col("cum") >= ceil(lit(p) * col("n")).cast("long"), col("bin")))
      cum.groupBy("lang")
        .agg(max(col("n")).as("n_docs"), pick(0.1).as("p10_bin"),
          pick(0.5).as("p50_bin"), pick(0.9).as("p90_bin"))
        .orderBy("lang")
    },
    Some(s"""WITH sc AS (SELECT doc_id, lang,
        $qualityScoreSql AS score
        FROM documents),
      b AS (SELECT lang,
          CAST(floor(CAST(score AS DECIMAL(28,6)) * 1000) AS BIGINT) AS bin
        FROM sc),
      h AS (SELECT lang, bin, count(*) AS c FROM b GROUP BY 1, 2),
      cw AS (SELECT lang, bin, c,
          sum(c) OVER (PARTITION BY lang ORDER BY bin
            ROWS UNBOUNDED PRECEDING) AS cum,
          sum(c) OVER (PARTITION BY lang) AS n FROM h)
      SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
        min(CASE WHEN cum >= ceil(0.1 * n) THEN bin END) AS p10_bin,
        min(CASE WHEN cum >= ceil(0.5 * n) THEN bin END) AS p50_bin,
        min(CASE WHEN cum >= ceil(0.9 * n) THEN bin END) AS p90_bin
      FROM cw GROUP BY 1 ORDER BY 1"""))

  /** Quantile extraction from per-language LogDigest sketch structs
    * (`lang`, `sk: struct<bins, counts>`): the q95 cumulative-window
    * pick over exploded SKETCH rows, each bin reconstructed to its
    * integer-exact lower bound. Shared by q133 (batch aggregation)
    * and q138 (the same sketch maintained by a streaming aggregation)
    * — identical extraction is what lets both pin to one oracle.
    */
  private[queries] def digestQuantiles(
      sk: org.apache.spark.sql.DataFrame, S: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = sk
      .select(col("lang"),
        explode(arrays_zip(col("sk.bins"), col("sk.counts"))).as("bc"))
      .select(col("lang"), col("bc.bins").as("bin"), col("bc.counts").as("c"))
      // integer-exact reconstruction: base = 2^(bin div S) (pow is
      // exact on these magnitudes), lb = base + ceildiv(sub*base, S)
      .withColumn("base",
        pow(lit(2.0), floor(col("bin") / S).cast("long")).cast("long"))
    val byLang = Window.partitionBy("lang")
    val cum = rows
      .withColumn("lb", col("base") +
        floor(((col("bin") % S) * col("base") + (S - 1)) / S).cast("long"))
      .withColumn("cum", sum(col("c")).over(byLang.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(byLang))
    def pick(p: Double) =
      min(when(col("cum") >= ceil(lit(p) * col("n")).cast("long"), col("lb")))
    cum.groupBy("lang")
      .agg(max(col("n")).as("n_docs"), pick(0.5).as("p50_lb"),
        pick(0.9).as("p90_lb"), pick(0.99).as("p99_lb"))
      .orderBy("lang")
  }

  /** ONE closed form pins the log-digest quantiles on both execution
    * paths — q133 (batch) and q138 (streamed sketch) share this SQL by
    * reference, so a binning fix can never drift the two entries
    * apart (the SQL-side twin of the shared [[digestQuantiles]]).
    * Declared before both entries: object vals initialize in order.
    */
  private val logdigestQuantilesOracleSql =
    """WITH x AS (SELECT lang,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS x FROM documents),
      p AS (SELECT lang, x, CAST(length(bin(x)) - 1 AS BIGINT) AS e
            FROM x WHERE x >= 1),
      b AS (SELECT lang, e * 16 +
            ((x - CAST(power(2, e) AS BIGINT)) * 16)
              // CAST(power(2, e) AS BIGINT) AS bin FROM p),
      h AS (SELECT lang, bin, count(*) AS c FROM b GROUP BY 1, 2),
      l AS (SELECT lang, bin, c,
            CAST(power(2, bin // 16) AS BIGINT)
              + ((bin % 16) * CAST(power(2, bin // 16) AS BIGINT) + 15) // 16
              AS lb FROM h),
      cw AS (SELECT lang, lb, c,
          sum(c) OVER (PARTITION BY lang ORDER BY bin
            ROWS UNBOUNDED PRECEDING) AS cum,
          sum(c) OVER (PARTITION BY lang) AS n FROM l)
      SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
        min(CASE WHEN cum >= ceil(0.5 * n) THEN lb END) AS p50_lb,
        min(CASE WHEN cum >= ceil(0.9 * n) THEN lb END) AS p90_lb,
        min(CASE WHEN cum >= ceil(0.99 * n) THEN lb END) AS p99_lb
      FROM cw GROUP BY 1 ORDER BY 1"""

  /** q133: MERGEABLE SKETCH quantiles — the scale rung ABOVE q95's
    * exact decimal histogram, and the drop-in q78/q95's scaladoc
    * promised (the t-digest seat, filled by the replayable family
    * member — see [[graft.functions.LogDigest]] for why a t-digest
    * proper cannot be oracle-gated: its centroids depend on merge
    * order). Per-document token counts sketch into a bounded
    * bin→count map per language via ONE typed-Aggregator aggregation
    * (partials collapse map-side, merge is bin-wise addition, state
    * ≤ S·octaves entries ≈ a few KB — q78 sorts every row per
    * language, q95 still shuffles an unbounded linear histogram on
    * heavy tails; the log sketch caps bins by construction).
    * Quantile extraction then runs entirely on exploded SKETCH rows
    * (hundreds per language) via [[digestQuantiles]]: the q95
    * cumulative-window pick, with each bin reconstructed to its
    * integer-exact lower bound — relative error ≤ 1/S, pinned by
    * LogDigestSpec against exact quantiles. No float crosses the
    * engine boundary: octave via bit position (Spark) =
    * length(bin(x))-1 (DuckDB), everything after is integer
    * arithmetic.
    */
  private val q133LogdigestQuantiles = Q(
    "q133_logdigest_quantiles",
    (s, d) => {
      val S = 16
      val sk = Tables.documents(s, d)
        .select(col("lang"), size(tokens(col("text"))).cast("long").as("x"))
        .filter(col("x") >= 1)
        .groupBy("lang")
        .agg(graft.functions.LogDigest.sketch(S)(col("x")).as("sk"))
      digestQuantiles(sk, S)
    },
    Some(logdigestQuantilesOracleSql),
    bench = true)

  /** q138: the SAME log-digest sketch maintained by a STREAMING
    * aggregation — the property that makes [[graft.functions.LogDigest]]
    * the oracle-gateable digest pays off here: bin counts are
    * order-INSENSITIVE (deterministic binning + bin-wise merge), so
    * unlike q136's Misra–Gries (which needs a batch confirm pass to
    * become deterministic) the streamed sketch itself is bit-equal to
    * the batch sketch, micro-batch boundaries invisible. Two
    * token-count file batches drive a Complete-mode groupBy(lang)
    * aggregation whose per-group O(bins) buffer rides the state store;
    * extraction is q133's shared [[digestQuantiles]] and the oracle is
    * q133's verbatim — one closed form pins batch AND streaming.
    */
  private val q138StreamLogdigest = Q(
    "q138_stream_logdigest",
    (s, d) => {
      val S = 16
      val root = java.nio.file.Files
        .createTempDirectory("graft-sld-").toString
      val landing = new java.io.File(root, "landing")
      landing.mkdirs()
      val xs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(tokens(col("text"))).cast("long").as("x"))
        .filter(col("x") >= 1)
      Seq(0, 1).foreach { half =>
        Scratch.landFile(
          xs.filter(pmod(col("doc_id"), lit(2)) === half).select("lang", "x"),
          landing.toString, s"${half}_x.parquet")
      }
      val sketches = s.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "lang STRING, x BIGINT"))
        .option("maxFilesPerTrigger", "1")
        .parquet(landing.toString)
        .groupBy("lang")
        .agg(graft.functions.LogDigest.sketch(S)(col("x")).as("sk"))
      val out = digestQuantiles(
        Scratch.drainToMemory(sketches, "q138_sld", s"$root/ckpt",
          outputMode = "complete"), S)
      Scratch.sealAndClean(out, root)
    },
    Some(logdigestQuantilesOracleSql))

  /** q107: TEMPERATURE-RESAMPLED language mix — the mC4/XLM-R rule for
    * balancing a multilingual corpus: sampling weight q_l ∝ p_l^α
    * (token share p_l, here α = 1/2 so the power is IEEE-exact sqrt in
    * both engines), which up-samples tail languages and down-samples
    * the head. Plan: ONE map-side-combinable per-language token count
    * (the corpus's only pass), then all arithmetic runs on the
    * |languages|-row result — the cross-language normalizer is a
    * whole-frame window over those few rows, NOT over documents.
    * Float discipline (the q93 lesson): each sqrt rounds into
    * DECIMAL(10,6) before the exact decimal normalizer sum, so
    * accumulation order cannot leak; final rates divide once and round
    * to 6dp; the token allocation floors (truncating casts round-half
    * differently across engines, floor does not).
    */
  private val q107TempMix = Q(
    "q107_temp_mix",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val whole = Window.partitionBy()
      val perLang = Tables.documents(s, d)
        .select(col("lang"), size(tokens(col("text"))).cast("long").as("nt"))
        .groupBy("lang").agg(sum(col("nt")).as("n_tokens"))
      perLang
        .withColumn("total", sum(col("n_tokens")).over(whole))
        .withColumn("p", col("n_tokens").cast("double") / col("total").cast("double"))
        .withColumn("sq", round(sqrt(col("p")), 6).cast("decimal(10,6)"))
        .withColumn("tot_sq", sum(col("sq")).over(whole))
        .withColumn("q_rate",
          round(col("sq").cast("double") / col("tot_sq").cast("double"), 6))
        .select(col("lang"), col("n_tokens"), round(col("p"), 6).as("p_share"),
          col("q_rate"),
          round(col("q_rate") / col("p"), 6).as("boost"),
          floor(col("q_rate") * col("total").cast("double")).cast("long")
            .as("alloc_tokens"))
        .orderBy("lang")
    },
    Some("""WITH lt AS (SELECT lang,
              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY 1),
      t AS (SELECT lang, n_tokens,
              CAST(sum(n_tokens) OVER () AS BIGINT) AS total FROM lt),
      s AS (SELECT lang, n_tokens, total,
              CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS p,
              CAST(round(sqrt(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE)), 6)
                AS DECIMAL(10,6)) AS sq
            FROM t),
      z AS (SELECT *, sum(sq) OVER () AS tot_sq FROM s),
      r AS (SELECT lang, n_tokens, total, p,
              round(CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE), 6) AS q_rate
            FROM z)
      SELECT lang, n_tokens, round(p, 6) AS p_share, q_rate,
        round(q_rate / p, 6) AS boost,
        CAST(floor(q_rate * CAST(total AS DOUBLE)) AS BIGINT) AS alloc_tokens
      FROM r ORDER BY lang"""))

  /** q126: INCREMENTAL corpus dedup — the continuous-ingest form of
    * q23: a NEW batch of documents (doc_id % 5 = 0) is deduplicated
    * AGAINST THE EXISTING corpus, not within itself — the decision a
    * nightly pipeline actually makes ("is this incoming doc a near-dup
    * of anything we already hold?"). Both sides compute MinHash band
    * signatures map-side (q23's codegen'd shingle-hash seam); the join
    * keys new bands against existing bands only (no existing×existing
    * pairs — the standing corpus was already deduplicated, that work
    * must not be redone), and each new doc reports its existing-
    * partner count and the keep verdict. At 100 TB the existing side's
    * band table is PERSISTED and bucketed by (band, sig) — the
    * incremental batch probes it like an index; only new-side
    * signatures are computed per run.
    */
  private val q126IncrementalDedup = Q(
    "q126_incremental_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .filter(size(tokens(col("text"))) >= 4)
        .select(col("doc_id"),
          graft.functions.Hash32.shingleHashes(col("text")).as("hs"))
      val bands = graft.ops.Dedup.bandSignatures(docs)
      val newBands = bands.filter(col("doc_id") % 5 === 0)
      val oldBands = bands.filter(col("doc_id") % 5 =!= 0)
        .select(col("band"), col("sig"), col("doc_id").as("partner_id"))
      val partners = newBands.join(oldBands, Seq("band", "sig"))
        .select(col("doc_id"), col("partner_id")).distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_existing_partners"))
      docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"))
        .join(partners, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_existing_partners"), lit(0L))
            .as("n_existing_partners"))
        .withColumn("kept", col("n_existing_partners") === 0L)
        .orderBy("doc_id")
    },
    Some(s"""WITH ${Pipeline.shingleCte},
      th AS (SELECT DISTINCT doc_id, ${Sql.h32("s")} AS h FROM sh),
      params(i, a, b) AS (VALUES ${Pipeline.mhParamsSqlValues}),
      mh AS (SELECT doc_id, i, min((a * h + b) % 2147483647) AS mh
             FROM th CROSS JOIN params GROUP BY 1, 2),
      bands AS (SELECT doc_id, i // 2 AS band,
                  string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
                FROM mh GROUP BY 1, 2),
      pr AS (SELECT DISTINCT n.doc_id, o.doc_id AS partner
             FROM bands n JOIN bands o
               ON n.band = o.band AND n.sig = o.sig
             WHERE n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0),
      pc AS (SELECT doc_id, count(*) AS n_existing_partners FROM pr GROUP BY 1)
      SELECT w.doc_id, coalesce(pc.n_existing_partners, 0) AS n_existing_partners,
        coalesce(pc.n_existing_partners, 0) = 0 AS kept
      FROM (SELECT DISTINCT doc_id FROM th WHERE doc_id % 5 = 0) w
      LEFT JOIN pc ON w.doc_id = pc.doc_id
      ORDER BY w.doc_id"""))

  /** q141: STREAMING incremental near-dup dedup — q126's nightly probe
    * run CONTINUOUSLY, the near-dup family's streaming rung beside
    * q135's exact-fingerprint one: documents arrive in ordered
    * micro-batches, each batch probes the STANDING band table of
    * previously-ACCEPTED docs, survivors append their bands, rejected
    * docs' bands are dropped (greedy first-wins acceptance — the
    * incremental regime where the standing corpus is already
    * deduplicated). `foreachBatch` is the right Spark shape here, NOT
    * keyed state: the band table grows with the accepted corpus, so
    * parking it in the state store would rewrite O(corpus) state every
    * batch — on disk it stays bucketable by (band, sig) and the small
    * incoming batch broadcasts against it (q126's 100 TB story,
    * executed incrementally). Within one micro-batch docs probe only
    * the standing table, not each other — intra-batch near-dups
    * resolve downstream via q67's components (same granularity trade
    * as q126's new-side semantics, documented there). Exactly-once
    * without a log: each batch writes verdicts and accepted bands to a
    * batch-id-named subdir with Overwrite, so a retried batch rewrites
    * the same files. Oracle: the 3-batch greedy fold unrolled in SQL
    * over q126's band CTEs.
    */
  private val q141StreamNeardup = Q(
    "q141_stream_neardup",
    (s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft-snd-").toString
      val landing = new java.io.File(root, "landing")
      landing.mkdirs()
      val docs = Tables.documents(s, d)
        .filter(size(tokens(col("text"))) >= 4)
        .select(col("doc_id"), col("text"))
      for (b <- 0 until 3)
        Scratch.landFile(docs.filter(pmod(col("doc_id"), lit(3)) === b),
          landing.toString, s"${b}_docs.parquet", modTime = 60000L * (b + 1))
      val bandsRoot = new java.io.File(root, "bands")
      val outRoot = new java.io.File(root, "verdicts")
      val step: (org.apache.spark.sql.DataFrame, Long) => Unit =
        (batch, id) =>
          graft.stream.StreamNeardup.step(s, batch,
            graft.ops.Dedup.bandSignatures(
              batch.select(col("doc_id"),
                graft.functions.Hash32.shingleHashes(col("text")).as("hs"))),
            id, bandsRoot, outRoot)
      val docsIn = s.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, text STRING"))
        .option("maxFilesPerTrigger", "1")
        .parquet(landing.toString)
      Scratch.drainEachBatch(docsIn, s"$root/ckpt")(step)
      Scratch.sealAndClean(
        s.read.parquet(graft.stream.StreamNeardup.subdirs(outRoot): _*)
          .orderBy("doc_id"), root)
    },
    Some(s"""WITH ${Pipeline.shingleCte},
      th AS (SELECT DISTINCT doc_id, ${Sql.h32("s")} AS h FROM sh),
      params(i, a, b) AS (VALUES ${Pipeline.mhParamsSqlValues}),
      mh AS (SELECT doc_id, i, min((a * h + b) % 2147483647) AS mh
             FROM th CROSS JOIN params GROUP BY 1, 2),
      bands AS (SELECT doc_id, i // 2 AS band,
                  string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
                FROM mh GROUP BY 1, 2),
      u AS (SELECT DISTINCT doc_id FROM th),
      pr1 AS (SELECT DISTINCT n.doc_id, o.doc_id AS partner
              FROM bands n JOIN bands o
                ON n.band = o.band AND n.sig = o.sig
              WHERE n.doc_id % 3 = 1 AND o.doc_id % 3 = 0),
      p1 AS (SELECT doc_id, count(*) AS np FROM pr1 GROUP BY 1),
      a01 AS (SELECT doc_id FROM u WHERE doc_id % 3 = 0
              UNION ALL
              SELECT doc_id FROM u WHERE doc_id % 3 = 1
                AND doc_id NOT IN (SELECT doc_id FROM p1)),
      pr2 AS (SELECT DISTINCT n.doc_id, o.doc_id AS partner
              FROM bands n JOIN bands o
                ON n.band = o.band AND n.sig = o.sig
              WHERE n.doc_id % 3 = 2
                AND o.doc_id IN (SELECT doc_id FROM a01)),
      p2 AS (SELECT doc_id, count(*) AS np FROM pr2 GROUP BY 1),
      np AS (SELECT doc_id, np FROM p1 UNION ALL SELECT doc_id, np FROM p2)
      SELECT u.doc_id, coalesce(np.np, 0) AS n_existing_partners,
        coalesce(np.np, 0) = 0 AS kept
      FROM u LEFT JOIN np ON u.doc_id = np.doc_id
      ORDER BY u.doc_id"""))

  /** q142: PERCENTILE-RANK normalization via the LogDigest sketch as a
    * broadcast dimension — the pipeline step after q133 computes the
    * distribution: score every document's token count into its
    * per-language corpus rank (`cum_le` of `n_lang`, the quality-
    * percentile feature mixing/filtering rules consume). The exact
    * formulation is `percent_rank() OVER (PARTITION BY lang ORDER BY
    * x)` — a TOTAL SORT of the corpus per language, the q78 shape that
    * cannot survive 100 TB. This plan has NO window and no sort: the
    * per-language sketch (≤ a few hundred bins each) aggregates with
    * map-side partials, broadcast-joins back onto the documents, and
    * the rank is a per-row `aggregate(zip_with(...))` fold over the
    * sketch arrays inside the scan stage. Rank is EXACT at bin
    * granularity (the sketch holds exact bin counts; docs sharing a
    * bin share a rank — resolution 1/S relative, the documented
    * trade). Integer-exact on both engines: octave via `length(bin(x))
    * − 1`, sub-bin by integer division, rank a sum of Long counts.
    */
  private val q142PctRank = Q(
    "q142_pct_rank",
    (s, d) => {
      val S = 16
      val xs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(tokens(col("text"))).cast("long").as("x"))
        .filter(col("x") >= 1)
        .withColumn("e", (length(bin(col("x"))) - 1).cast("long"))
        .withColumn("base",
          expr("cast(pow(2.0d, cast(e as double)) as bigint)"))
        .withColumn("bin_id", expr(s"e * $S + (x - base) * $S div base"))
      val sk = xs.groupBy(col("lang").as("sk_lang"))
        .agg(graft.functions.LogDigest.sketch(S)(col("x")).as("sk"))
      xs.join(broadcast(sk), col("lang") === col("sk_lang"))
        .select(col("doc_id"), col("lang"), col("x"), col("bin_id"),
          aggregate(
            zip_with(col("sk.bins"), col("sk.counts"),
              (bn, c) => when(bn <= col("bin_id"), c).otherwise(lit(0L))),
            lit(0L), (acc, v) => acc + v).as("cum_le"),
          aggregate(col("sk.counts"), lit(0L), (acc, v) => acc + v)
            .as("n_lang"))
        .orderBy("doc_id")
    },
    Some("""WITH x AS (SELECT doc_id, lang,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS x FROM documents),
      p AS (SELECT doc_id, lang, x,
            CAST(length(bin(x)) - 1 AS BIGINT) AS e FROM x WHERE x >= 1),
      b AS (SELECT doc_id, lang, x, e * 16 +
            ((x - CAST(power(2, e) AS BIGINT)) * 16)
              // CAST(power(2, e) AS BIGINT) AS bin_id FROM p)
      SELECT doc_id, lang, x, bin_id,
        CAST(count(*) OVER (PARTITION BY lang ORDER BY bin_id
          RANGE UNBOUNDED PRECEDING) AS BIGINT) AS cum_le,
        CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
      FROM b ORDER BY doc_id"""),
    bench = true)

  /** q132: connected components under an ADVERSARIAL diameter — the
    * large-star/small-star escalation q67's scaladoc promised, run for
    * real. The fixture chains consecutive doc ids within 64-id
    * segments (lead() over a per-segment window), producing eight
    * diameter-63 path components: min-label propagation would need 63
    * shuffle rounds; [[graft.ops.Cluster.connectedComponentsStar]]
    * must finish in O(log n) alternations, and the entry REQUIREs
    * that bound live (≤ 16) so a round-count regression fails the
    * driver gate, not just a spec. The oracle is the closed form the
    * chain construction guarantees: every segment is one component
    * whose label is its min doc id.
    */
  private val q132CcStar = Q(
    "q132_cc_star",
    (s, d) => {
      val seg = Tables.documents(s, d)
        .select(col("doc_id"), expr("doc_id div 64").as("seg"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("seg").orderBy("doc_id")
      val edges = seg
        .withColumn("nxt", lead(col("doc_id"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("doc_id").as("a_id"), col("nxt").as("b_id"))
      val r = graft.ops.Cluster.connectedComponentsStar(edges)
      require(r.rounds <= 16,
        s"large-star/small-star took ${r.rounds} alternations on a " +
          "diameter-63 chain — the O(log n) bound regressed")
      r.labels.select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, doc_id // 64 AS seg FROM documents),
      c AS (SELECT seg, count(*) AS n, min(doc_id) AS m FROM d GROUP BY 1)
      SELECT d.doc_id, c.m AS cluster FROM d JOIN c USING (seg)
      WHERE c.n >= 2 ORDER BY d.doc_id"""))

  /** q147: SPLIT-LEAKAGE AUDIT — the composition a training pipeline
    * runs before shipping a dataset: near-dup candidate pairs (q23's
    * LSH bands, via [[graft.ops.Dedup.candidates]]) crossed with the
    * q70 hash-bucket split assignment, reporting how many near-dup
    * pairs STRADDLE split boundaries (a val/test document with a
    * training-set near-duplicate is evaluation contamination — the
    * within-corpus twin of q72's benchmark decontamination). Output is
    * the per-split-pair-class count plus an exact membership checksum
    * (sum of packed pair ids), so the oracle pins WHICH pairs leak,
    * not just how many. Split class is order-normalized
    * (least/greatest) since pairs are unordered.
    *
    * Scale shape: pair generation is the ONE banded shuffle
    * (`bucketPairs`, flood-capped — never all-pairs); the split label
    * is a pure per-row hash function computed inside the same stage
    * (no join against a split table — q70's leakage-safe determinism
    * means the label derives from the id anywhere it's needed), and
    * the audit aggregate has 6 possible groups — map-side partials
    * collapse it to nothing.
    */
  private val q147SplitLeakage = Q(
    "q147_split_leakage",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .filter(size(tokens(col("text"))) >= 4)
        .select(col("doc_id"),
          graft.functions.Hash32.shingleHashes(col("text")).as("hs"))
      val pairs = graft.ops.Dedup
        .candidates(graft.ops.Dedup.bandSignatures(docs))
        .select(col("a_id"), col("b_id"))
      def splitOf(c: org.apache.spark.sql.Column) = {
        val bucket = h32(c.cast("string")) % 100
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
      }
      pairs
        .withColumn("sa", splitOf(col("a_id")))
        .withColumn("sb", splitOf(col("b_id")))
        .select(least(col("sa"), col("sb")).as("split_lo"),
          greatest(col("sa"), col("sb")).as("split_hi"),
          col("a_id"), col("b_id"))
        .groupBy("split_lo", "split_hi")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("a_id") * 1000000L + col("b_id")).as("pair_sum"))
        .withColumn("leaks", col("split_lo") =!= col("split_hi"))
        .orderBy("split_lo", "split_hi")
    },
    Some(s"""WITH ${Pipeline.shingleCte},
      th AS (SELECT DISTINCT doc_id, ${Sql.h32("s")} AS h FROM sh),
      params(i, a, b) AS (VALUES ${Pipeline.mhParamsSqlValues}),
      mh AS (SELECT doc_id, i, min((a * h + b) % 2147483647) AS mh
             FROM th CROSS JOIN params GROUP BY 1, 2),
      bands AS (SELECT doc_id, i // 2 AS band,
                  string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
                FROM mh GROUP BY 1, 2),
      pr AS (SELECT DISTINCT n.doc_id AS a_id, o.doc_id AS b_id
             FROM bands n JOIN bands o
               ON n.band = o.band AND n.sig = o.sig AND n.doc_id < o.doc_id),
      sp AS (SELECT a_id, b_id,
          CASE WHEN ${Sql.h32("CAST(a_id AS VARCHAR)")} % 100 < 80 THEN 'train'
               WHEN ${Sql.h32("CAST(a_id AS VARCHAR)")} % 100 < 90 THEN 'val'
               ELSE 'test' END AS sa,
          CASE WHEN ${Sql.h32("CAST(b_id AS VARCHAR)")} % 100 < 80 THEN 'train'
               WHEN ${Sql.h32("CAST(b_id AS VARCHAR)")} % 100 < 90 THEN 'val'
               ELSE 'test' END AS sb
        FROM pr)
      SELECT LEAST(sa, sb) AS split_lo, GREATEST(sa, sb) AS split_hi,
        count(*) AS n_pairs,
        CAST(sum(a_id * 1000000 + b_id) AS BIGINT) AS pair_sum,
        LEAST(sa, sb) <> GREATEST(sa, sb) AS leaks
      FROM sp GROUP BY 1, 2 ORDER BY 1, 2"""),
    bench = true)

  /** q149: WEIGHTED PAGERANK — iterative link-analysis centrality over
    * the user↔event-type interaction graph (edge weight = interaction
    * count; the bipartite "engagement influence" ranking an activity
    * pipeline derives), joining q67/q132's connected components as the
    * iterative-graph family's second member. All arithmetic is EXACT
    * integer: ranks are e12-scaled longs, per-edge contributions are
    * `(r * w) div totw`, damping is `(85 * Σ) div 100` — deterministic
    * division order on both engines, no float accumulation anywhere,
    * so 5 unrolled rounds replay bit-for-bit in the oracle's CTE
    * chain. Type nodes live at a hash-derived id offset (replayable in
    * SQL); bidirectional edges mean no dangling mass by construction.
    *
    * Scale shape per round: ranks join edges co-partitioned on src
    * (edges persist bucketed at scale and never re-shuffle), then ONE
    * aggregation keyed by dst — the canonical two-exchange PageRank
    * step. Rounds are eagerly `localCheckpoint`ed (the q132 reason:
    * iterative lineage grows exponentially under self-reference), and
    * edges checkpoint once so the band of 5 rounds re-reads a
    * materialized edge list instead of re-deriving it.
    */
  private val q149Pagerank = Q(
    "q149_pagerank",
    (s, d) => {
      val ue = Tables.events(s, d)
        .groupBy(col("user_id"),
          (lit(2000000000L) + h32(col("event_type")) % 1000000000L).as("tid"))
        .agg(count(lit(1)).as("w"))
      val edges = ue.select(col("user_id").as("src"), col("tid").as("dst"), col("w"))
        .union(ue.select(col("tid").as("src"), col("user_id").as("dst"), col("w")))
        .transform(graft.ops.Reuse.pin)
      val nodes = edges.select(col("src").as("id")).distinct()
      val deg = edges.groupBy("src").agg(sum(col("w")).as("totw"))
      var ranks = nodes.select(col("id"), lit(1000000000000L).as("r"))
      for (_ <- 1 to 5) {
        val contribs = edges
          .join(ranks, edges("src") === ranks("id")).drop("id")
          .join(deg, "src")
          .select(col("dst").as("id"), expr("(r * w) div totw").as("contrib"))
          .groupBy("id").agg(sum(col("contrib")).as("c"))
        ranks = nodes.join(contribs, Seq("id"), "left")
          .select(col("id"), (lit(150000000000L) +
            expr("(85 * coalesce(c, CAST(0 AS BIGINT))) div 100")).as("r"))
          .transform(graft.ops.Reuse.pin)
      }
      ranks.join(deg.withColumnRenamed("src", "id"), "id")
        .select(col("id").as("node_id"), col("totw"), col("r").as("rank_e12"))
        .orderBy(col("rank_e12").desc, col("node_id"))
        .limit(20)
    },
    Some {
      val rounds = (1 to 5).map { r =>
        s"""ct$r AS (SELECT e.dst AS id,
          CAST(sum((r${r - 1}.r * e.w) // d.totw) AS BIGINT) AS c
          FROM edges e JOIN r${r - 1} ON e.src = r${r - 1}.id
          JOIN deg d ON e.src = d.id GROUP BY 1),
      r$r AS (SELECT n.id, 150000000000 + (85 * COALESCE(ct$r.c, 0)) // 100 AS r
          FROM nodes n LEFT JOIN ct$r ON n.id = ct$r.id)"""
      }.mkString(",\n      ")
      s"""WITH ue AS (SELECT user_id,
          2000000000 + ${Sql.h32("event_type")}
            % 1000000000 AS tid,
          count(*) AS w
        FROM events GROUP BY 1, 2),
      edges AS (SELECT user_id AS src, tid AS dst, w FROM ue
                UNION ALL SELECT tid, user_id, w FROM ue),
      nodes AS (SELECT DISTINCT src AS id FROM edges),
      deg AS (SELECT src AS id, CAST(sum(w) AS BIGINT) AS totw
              FROM edges GROUP BY 1),
      r0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS r FROM nodes),
      $rounds
      SELECT n.id AS node_id, d.totw, r5.r AS rank_e12 FROM nodes n
      JOIN deg d ON n.id = d.id JOIN r5 ON n.id = r5.id
      ORDER BY rank_e12 DESC, node_id LIMIT 20"""
    })

  /** q255: OVERLAP-SPAN DECONTAMINATION — the published contiguous-run
    * rule (the GPT-3/PaLM-style "drop documents sharing an N-token
    * span with an eval set" test) that q72's any-shingle flag
    * over-approximates: a training document is contaminated only if
    * its matched benchmark shingles form a CONSECUTIVE run of ≥ 3
    * shingle positions (= a ≥ 6-token contiguous span at 4-gram
    * shingles), not merely scattered single matches. Matched
    * positions → maximal runs via the gaps-and-islands key
    * `pos − row_number()` (q248's machinery applied to decontam);
    * output per doc: matched-position count, longest run, the flag.
    *
    * 100 TB shape: q72's exactly — benchmark shingles broadcast, the
    * corpus side probes in the scan stage and only the (rare) hits
    * reach the per-doc window; the island pass runs over hit
    * positions, a frame bounded by contamination volume, not corpus
    * size.
    */
  private val q255OverlapSpans = Q(
    "q255_overlap_spans",
    (s, d) => {
      val sh = Tables.documents(s, d)
        .filter(size(tokens(col("text"))) >= 4)
        .select(col("doc_id"),
          posexplode(graft.functions.Hash32.shingleHashes(col("text"))))
        .toDF("doc_id", "p0", "h")
        .select(col("doc_id"), (col("p0") + 1L).as("p"), col("h"))
      val bench = sh.filter(col("doc_id") % 97 === 0).select("h").distinct()
      val hits = sh.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), "h")
        .select("doc_id", "p")
      val wi = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("p")
      hits.withColumn("g", col("p") - row_number().over(wi))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("run"))
        .groupBy("doc_id")
        .agg(sum("run").as("n_hit_pos"), max("run").as("max_run"))
        .select(col("doc_id"), col("n_hit_pos"), col("max_run"),
          (col("max_run") >= 3L).as("contaminated"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
        FROM documents),
      pos AS (SELECT doc_id, CAST(unnest(range(1, len(w) - 2)) AS BIGINT)
          AS p, w FROM ws),
      sh AS (SELECT doc_id, p,
          concat_ws(' ', w[p], w[p+1], w[p+2], w[p+3]) AS s FROM pos),
      th AS (SELECT doc_id, p,
          ${Sql.h32("s")} AS h FROM sh),
      bench AS (SELECT DISTINCT h FROM th WHERE doc_id % 97 = 0),
      hits AS (SELECT t.doc_id, t.p FROM th t JOIN bench b USING (h)
        WHERE t.doc_id % 97 <> 0),
      isl AS (SELECT doc_id, p, p - row_number() OVER (PARTITION BY doc_id
          ORDER BY p) AS g FROM hits),
      runs AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS run
        FROM isl GROUP BY 1, 2)
      SELECT doc_id, CAST(sum(run) AS BIGINT) AS n_hit_pos,
        CAST(max(run) AS BIGINT) AS max_run,
        max(run) >= 3 AS contaminated
      FROM runs GROUP BY 1 ORDER BY 1"""),
    bench = true)

  val queries: Seq[Q] = Seq(
    q67DedupClusters, q68Repetition, q69JaccardDfOrder, q70HashSplit,
    q71SeqPack, q72Decontam, q73MixCap, q78QualityQuantiles,
    q95BinnedQuantiles, q107TempMix, q126IncrementalDedup, q132CcStar,
    q133LogdigestQuantiles, q138StreamLogdigest, q141StreamNeardup,
    q142PctRank, q147SplitLeakage, q149Pagerank, q255OverlapSpans)
}
