package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.multimodal.Multimodal
import graft.search.Ivf
import graft.functions.Portable.{cos6, toDouble}

/** Extension-layer CORRECTNESS entries: IVF approximate-nearest-
  * neighbor search (the indexed scale path beside brute-force q26) and
  * multimodal binary-column handling.
  */
object Extensions {

  /** IVF ANN top-10 for query vec 0: √N sampled centroids
    * ([[Ivf.adaptiveMod]] — a fixed modulus would grow C linearly with
    * the corpus and the N×C assignment quadratically), nprobe=4 probed
    * cells, exact rerank inside cells. The oracle mirrors the whole
    * index construction including the modulus arithmetic (`prm` CTE).
    * (Planted-cluster recall is asserted in IvfSpec — on clustered
    * data recall@10 ≥ 0.9; on this isotropic synthetic table ANY
    * sublinear index scans ~nprobe/ncells of the corpus by design.)
    */
  private val q47AnnIvf = Q(
    "q47_ann_ivf",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      Ivf.search(s, e, queryId = 0L,
        centroidMod = Ivf.adaptiveMod(e.count()), nprobe = 4, k = 10)
    },
    Some("""WITH prm AS (SELECT greatest(1, CAST(count(*) AS BIGINT) //
          least(4096, greatest(16, CAST(floor(sqrt(count(*))) AS BIGINT)))) AS md
        FROM embeddings),
      el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
          CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
      nrm AS (SELECT vec_id, sum(x * x) AS n2 FROM el GROUP BY 1),
      cent AS (SELECT vec_id AS cid, i, x FROM el
               WHERE vec_id % (SELECT md FROM prm) = 1),
      cn AS (SELECT vec_id AS cid, n2 AS cn2 FROM nrm
             WHERE vec_id % (SELECT md FROM prm) = 1),
      cdot AS (SELECT el.vec_id AS vid, cent.cid, sum(el.x * cent.x) AS dp
               FROM el JOIN cent ON el.i = cent.i GROUP BY 1, 2),
      sims AS (SELECT vid, cid, round(dp / sqrt(n.n2 * cn2), 6) AS cs
               FROM cdot JOIN nrm n ON vid = n.vec_id JOIN cn USING (cid)),
      assign AS (SELECT vid, cid AS cell FROM (
          SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY cs DESC, cid) AS rn
          FROM sims) t WHERE rn = 1),
      qprobe AS (SELECT cid AS cell FROM (
          SELECT cid, row_number() OVER (ORDER BY cs DESC, cid) AS rn
          FROM sims WHERE vid = 0) t WHERE rn <= 4),
      cand AS (SELECT vid FROM assign JOIN qprobe USING (cell) WHERE vid <> 0),
      qel AS (SELECT i, x FROM el WHERE vec_id = 0),
      qn AS (SELECT n2 AS qn2 FROM nrm WHERE vec_id = 0),
      dp AS (SELECT el.vec_id AS vid, sum(el.x * qel.x) AS dp
             FROM el JOIN qel ON el.i = qel.i JOIN cand c ON el.vec_id = c.vid
             GROUP BY 1)
      SELECT vid AS vec_id, round(dp / sqrt(n.n2 * qn2), 6) AS cos_sim
      FROM dp JOIN nrm n ON vid = n.vec_id CROSS JOIN qn
      ORDER BY cos_sim DESC, vec_id LIMIT 10"""),
    bench = true)

  /** Multimodal metadata over the opaque binary payload — all
    * codegen'd expressions (byte length, content digest, magic bytes,
    * format routing).
    */
  private val q48MultimodalMeta = Q(
    "q48_multimodal_meta",
    (s, d) => {
      val bin = Multimodal.binarize(Tables.documents(s, d))
      val firstByte = conv(substring(lower(hex(col("content"))), 1, 2), 16, 10)
        .cast("int")
      bin.select(col("doc_id"),
          length(col("content")).cast("long").as("n_bytes"),
          md5(col("content")).as("content_md5"),
          substring(lower(hex(col("content"))), 1, 16).as("magic_hex"),
          when(firstByte % 3 === 0, "png")
            .when(firstByte % 3 === 1, "jpeg")
            .otherwise("webp").as("format"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        md5(text) AS content_md5,
        substr(lower(hex(encode(text))), 1, 16) AS magic_hex,
        CASE CAST('0x' || substr(lower(hex(encode(text))), 1, 2) AS INT) % 3
          WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format
      FROM documents ORDER BY doc_id"""))

  /** Partition-batched stub decode/feature-extraction (mapPartitions
    * with a per-partition handle); the deterministic stub formulas are
    * reproduced by the oracle, pinning the whole binary→features path.
    */
  private val q49MultimodalFeatures = Q(
    "q49_multimodal_features",
    (s, d) =>
      Multimodal.extractFeatures(Multimodal.binarize(Tables.documents(s, d)))
        .toDF()
        .orderBy("doc_id"),
    Some("""WITH m AS (SELECT doc_id, md5(text) AS h FROM documents)
      SELECT doc_id,
        CAST(64 + CAST('0x' || substr(h, 1, 4) AS BIGINT) % 1024 AS INT) AS width,
        CAST(64 + CAST('0x' || substr(h, 5, 4) AS BIGINT) % 1024 AS INT) AS height,
        CAST(CAST('0x' || substr(md5(h || '_0'), 1, 8) AS BIGINT) % 1000 AS DOUBLE) / 1000.0 AS f0,
        CAST(CAST('0x' || substr(md5(h || '_1'), 1, 8) AS BIGINT) % 1000 AS DOUBLE) / 1000.0 AS f1,
        CAST(CAST('0x' || substr(md5(h || '_2'), 1, 8) AS BIGINT) % 1000 AS DOUBLE) / 1000.0 AS f2,
        CAST(CAST('0x' || substr(md5(h || '_3'), 1, 8) AS BIGINT) % 1000 AS DOUBLE) / 1000.0 AS f3
      FROM m ORDER BY doc_id"""))

  /** q74: the pure-SQL surface, end-to-end through the driver gate —
    * graft's native expressions resolved by the SQL parser (registered
    * on the live session by [[graft.functions.GraftFunctions.register]];
    * `spark.sql.extensions=graft.GraftExtensions` injects the same list
    * at session build), computing q24's simhash plus shingle
    * fingerprint counts with NO Column-API construction at all. Proves
    * a spark.sql-only user gets the same codegen'd operators (and the
    * same values: the oracle is the SQL-side definition).
    */
  private val q74SqlApi = Q(
    "q74_sql_api",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      Tables.documents(s, d).createOrReplaceTempView("graft_sql_docs")
      s.sql("""SELECT doc_id, simhash32(text) AS simhash,
          CAST(size(shingle_h32(text)) AS BIGINT) AS n_shingles,
          CAST(size(array_distinct(shingle_h32(text))) AS BIGINT) AS n_distinct
        FROM graft_sql_docs WHERE size(split(text, ' ')) >= 4
        ORDER BY doc_id""")
    },
    Some(s"""WITH ${Pipeline.shingleCte},
      hs AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS h FROM sh),
      fp AS (SELECT doc_id, count(*) AS n_shingles, count(DISTINCT h) AS n_distinct
             FROM hs GROUP BY 1),
      tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      th AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS h FROM tok),
      bits AS (SELECT doc_id, j,
          sum(CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS sgn
        FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS j) js
        GROUP BY 1, 2),
      sim AS (SELECT doc_id,
          CAST(sum((CASE WHEN sgn >= 0 THEN 1 ELSE 0 END) * CAST(pow(2, j) AS BIGINT)) AS BIGINT) AS simhash
        FROM bits GROUP BY 1)
      SELECT f.doc_id, s.simhash, f.n_shingles, f.n_distinct
      FROM fp f JOIN sim s ON f.doc_id = s.doc_id
      ORDER BY 1"""))

  /** q77: k-means (Lloyd) TRAINING of the IVF coarse codebook — the
    * real "train" step behind q47's sampled-centroid shortcut, in the
    * PRODUCTION build shape: K ≈ √N adaptive (the q47/q89 sizing, not
    * a fixed cap) and the Lloyd loop over a BOUNDED TRAIN SAMPLE of
    * ~32·K vectors (vec_id % sampleMod == 0) — per-iteration cost
    * O(32·K²·D) at ANY corpus size, where the earlier full-N variant
    * paid O(N·K·D) passes per iteration for a codebook whose quality
    * only needs a constant number of members per cell. Two unrolled
    * iterations, all arithmetic in quantized integers (floor(x*1e6))
    * so assignment and centroid update are summation-order-proof and
    * the DuckDB oracle replays both iterations exactly, with the prm
    * CTE re-deriving K, the seed modulus, and the sample modulus from
    * count(*) the same way [[graft.search.IvfKmeans.adaptiveParams]]
    * does.
    * Output: final centroid matrix (cell, dim, cval) + each cell's
    * member count over the train sample under the assignment that
    * produced it; empty cells keep their previous centroid with 0
    * members.
    */
  private val q77IvfKmeans = Q(
    "q77_ivf_kmeans",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val (seedMod, sampleMod) =
        graft.search.IvfKmeans.adaptiveParams(e.count())
      graft.search.IvfKmeans
        .train(e, centroidMod = seedMod, iters = 2,
          sampleMod = sampleMod)
        .orderBy("cell", "dim")
    },
    Some("""WITH prm AS (SELECT
          greatest(1, count(*) // least(4096, greatest(16,
            CAST(floor(sqrt(count(*))) AS BIGINT)))) AS seedmod,
          greatest(1, count(*) // (32 * least(4096, greatest(16,
            CAST(floor(sqrt(count(*))) AS BIGINT))))) AS smod
        FROM embeddings),
      el AS (SELECT vec_id,
          CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS q
        FROM embeddings),
      tr AS (SELECT * FROM el
             WHERE vec_id % (SELECT smod FROM prm) = 0),
      c0 AS (SELECT vec_id AS cell, dim, q AS c FROM el
             WHERE vec_id % (SELECT seedmod FROM prm) = 1),
      d1 AS (SELECT e.vec_id, c.cell, sum((e.q - c.c) * (e.q - c.c)) AS d2
             FROM tr e JOIN c0 c ON e.dim = c.dim GROUP BY 1, 2),
      a1 AS (SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
          FROM d1) t WHERE rn = 1),
      u1 AS (SELECT a.cell, e.dim,
               CAST(floor(CAST(sum(e.q) AS DOUBLE) / count(*)) AS BIGINT) AS c
             FROM a1 a JOIN tr e ON a.vec_id = e.vec_id GROUP BY 1, 2),
      c1 AS (SELECT c0.cell, c0.dim, COALESCE(u1.c, c0.c) AS c
             FROM c0 LEFT JOIN u1 ON c0.cell = u1.cell AND c0.dim = u1.dim),
      d2_ AS (SELECT e.vec_id, c.cell, sum((e.q - c.c) * (e.q - c.c)) AS d2
              FROM tr e JOIN c1 c ON e.dim = c.dim GROUP BY 1, 2),
      a2 AS (SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
          FROM d2_) t WHERE rn = 1),
      u2 AS (SELECT a.cell, e.dim,
               CAST(floor(CAST(sum(e.q) AS DOUBLE) / count(*)) AS BIGINT) AS c
             FROM a2 a JOIN tr e ON a.vec_id = e.vec_id GROUP BY 1, 2),
      c2 AS (SELECT c1.cell, c1.dim, COALESCE(u2.c, c1.c) AS c
             FROM c1 LEFT JOIN u2 ON c1.cell = u2.cell AND c1.dim = u2.dim),
      nn AS (SELECT cell, count(*) AS n FROM a2 GROUP BY 1)
      SELECT c2.cell, c2.dim, c2.c AS cval,
        COALESCE(nn.n, 0) AS n_members
      FROM c2 LEFT JOIN nn ON c2.cell = nn.cell
      ORDER BY 1, 2"""),
    bench = true)

  /** q89: SemDeDup-style SEMANTIC near-dup pruning — the published
    * cluster-then-prune recipe for embedding-level dedup at corpus
    * scale (Abbas et al. 2023, "SemDeDup"): all-pairs cosine is
    * O(N²) and dead on arrival; clustering first bounds the pair
    * space to O(Σ cᵢ²) with cᵢ capped by the codebook size choice
    * (K ≈ N/target-cluster-size at 100 TB).
    *
    * Plan shape: cell assignment is the q47 seam — ONE codegen'd
    * argmax projection per row against the plan-bound codebook (no
    * join, no exchange); within-cell pairing is the
    * [[graft.ops.Dedup.bucketPairs]] shape WITH the vector payload:
    * one groupBy(cell) collects each cluster (bounded by construction
    * — the SemDeDup premise), member counts fall out of the same
    * aggregation, and two pipelined generators emit the pairs — ONE
    * corpus scan and ONE cell-keyed exchange, where the earlier
    * two-sided self-join re-scanned and re-assigned the corpus three
    * times. Pruning keeps the smallest vec_id of each ≥τ-similar pair
    * (deterministic id-order greedy — the SQL-replayable variant of
    * SemDeDup's keep-one-per-group).
    *
    * Output pins exact membership per cell: member count, removed
    * count, and the removed-id checksum.
    *
    * Flood robustness (same two-layer story as [[graft.ops.Dedup]]):
    * BYTE-IDENTICAL embeddings all land in one cell regardless of K,
    * and within-cell pairing is quadratic in the cell — so the
    * pipeline ordering runs exact vector dedup (a groupBy on the
    * vector hash, q21's move) BEFORE SemDeDup; identical copies
    * collapse to one representative and the residual cell sizes are
    * bounded by the codebook choice. DedupRobustnessSpec pins that
    * composition on a 500-copy flood.
    */
  private val q89SemDedup = Q(
    "q89_semdedup",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val cb = graft.search.Ivf.codebook(e,
        centroidMod = graft.search.Ivf.adaptiveMod(e.count()))
      val av = e.select(col("vec_id"), toDouble(col("embedding")).as("v"))
        .select(col("vec_id"), col("v"),
          graft.functions.IvfOps.nearestCol(col("v"), cb).as("cell"))
        .filter(col("cell").isNotNull)
      val cells = av.groupBy("cell")
        .agg(collect_list(struct(col("vec_id"), col("v"))).as("ms"))
      val members = cells
        .select(col("cell"), size(col("ms")).cast("long").as("n_members"))
      val removed = cells
        .select(col("cell"), explode(col("ms")).as("a"), col("ms"))
        .select(col("cell"), col("a"), explode(col("ms")).as("b"))
        .filter(col("a.vec_id") < col("b.vec_id"))
        .filter(cos6(col("a.v"), col("b.v")) >= 0.35)
        .select(col("cell"), col("b.vec_id").as("b_id")).distinct()
      val prunes = removed.groupBy("cell")
        .agg(count(lit(1)).as("n_removed"), sum(col("b_id")).as("removed_id_sum"))
      members.join(prunes, Seq("cell"), "left")
        .select(col("cell"), col("n_members"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"),
          coalesce(col("removed_id_sum"), lit(0L)).as("removed_id_sum"))
        .orderBy("cell")
    },
    Some("""WITH prm AS (SELECT greatest(1, CAST(count(*) AS BIGINT) //
          least(4096, greatest(16, CAST(floor(sqrt(count(*))) AS BIGINT)))) AS md
        FROM embeddings),
      el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
          CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
      nrm AS (SELECT vec_id, sum(x * x) AS n2 FROM el GROUP BY 1),
      cent AS (SELECT vec_id AS cid, i, x FROM el
               WHERE vec_id % (SELECT md FROM prm) = 1),
      cn AS (SELECT vec_id AS cid, n2 AS cn2 FROM nrm
             WHERE vec_id % (SELECT md FROM prm) = 1),
      cdot AS (SELECT el.vec_id AS vid, cent.cid, sum(el.x * cent.x) AS dp
               FROM el JOIN cent ON el.i = cent.i GROUP BY 1, 2),
      sims AS (SELECT vid, cid, round(dp / sqrt(n.n2 * cn2), 6) AS cs
               FROM cdot JOIN nrm n ON vid = n.vec_id JOIN cn USING (cid)),
      assign AS (SELECT vid, cid AS cell FROM (
          SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY cs DESC, cid) AS rn
          FROM sims) t WHERE rn = 1),
      m AS (SELECT a1.cell, a1.vid AS a_id, a2.vid AS b_id
            FROM assign a1 JOIN assign a2
            ON a1.cell = a2.cell AND a1.vid < a2.vid),
      pd AS (SELECT m.cell, m.a_id, m.b_id, sum(x1.x * x2.x) AS dp
             FROM m JOIN el x1 ON x1.vec_id = m.a_id
             JOIN el x2 ON x2.vec_id = m.b_id AND x1.i = x2.i
             GROUP BY 1, 2, 3),
      rm AS (SELECT DISTINCT cell, b_id
             FROM pd JOIN nrm na ON a_id = na.vec_id
             JOIN nrm nb ON b_id = nb.vec_id
             WHERE round(dp / sqrt(na.n2 * nb.n2), 6) >= 0.35),
      mem AS (SELECT cell, count(*) AS n_members FROM assign GROUP BY 1),
      rs AS (SELECT cell, count(*) AS n_removed,
               CAST(sum(b_id) AS BIGINT) AS removed_id_sum
             FROM rm GROUP BY 1)
      SELECT mem.cell, mem.n_members,
        COALESCE(rs.n_removed, 0) AS n_removed,
        COALESCE(rs.removed_id_sum, 0) AS removed_id_sum
      FROM mem LEFT JOIN rs USING (cell) ORDER BY cell"""),
    bench = true)

  /** q96: PRODUCT-QUANTIZATION ANN with asymmetric-distance scan — the
    * memory-compression rung of the similarity-search ladder (q26
    * brute force → q47 IVF → q77 trained IVF → PQ): each 64-dim vector
    * is encoded as M=8 one-byte-ish codes, its nearest sub-centroid
    * per 8-dim subspace, so the scan side shrinks ~32× (8 codes vs 64
    * floats) and the query never touches raw vectors — distance is
    * ADC: the query precomputes its exact distance to every
    * sub-centroid (an M×K lookup table, K ≈ √N via adaptiveMod, riding
    * the plan as map literals) and each row's estimate is 8 lookups.
    *
    * Plan shape: encoding is M map-side codegen argmin projections per
    * row against plan-bound sub-codebooks ([[graft.functions
    * .NearestCentroidL2]], the q77 seam — no join, no exchange); the
    * ADC scan is a pure projection + TakeOrderedAndProject. At 100 TB
    * codes are persisted once and combined with IVF cells (IVF-PQ):
    * probe prunes cells, ADC ranks inside them.
    *
    * Determinism: quantized-integer L2 end to end (floor(x·1e6), the
    * q77 contract) — sub-centroid assignment ties to the smallest cid,
    * distances are exact integer sums, so the oracle replays encode +
    * LUT + scan bit-for-bit.
    */
  private val q96PqAdc = Q(
    "q96_pq_adc",
    (s, d) => {
      // Sub-codebooks sized C ≈ √N (adaptiveMod, the q97 conversion):
      // a fixed modulus grows every subspace's K linearly with N and
      // the encode argmin quadratically.
      val e = Tables.embeddings(s, d)
      graft.search.Pq.search(e, queryId = 0L,
        centroidMod = graft.search.Ivf.adaptiveMod(e.count()), m = 8, k = 10)
    },
    Some("""WITH prm AS (SELECT greatest(1, CAST(count(*) AS BIGINT) //
          least(4096, greatest(16, CAST(floor(sqrt(count(*))) AS BIGINT)))) AS md
        FROM embeddings),
      el AS (SELECT vec_id,
          CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS q
        FROM embeddings),
      es AS (SELECT vec_id, i // 8 AS m, i % 8 AS j, q FROM el),
      cent AS (SELECT vec_id AS cid, m, j, q AS c FROM es
        WHERE vec_id % (SELECT md FROM prm) = 1),
      d2 AS (SELECT e.vec_id, c.m, c.cid, sum((e.q - c.c) * (e.q - c.c)) AS d2
             FROM es e JOIN cent c ON e.m = c.m AND e.j = c.j
             GROUP BY 1, 2, 3),
      enc AS (SELECT vec_id, m, cid FROM (
          SELECT vec_id, m, cid,
            row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
          FROM d2) t WHERE rn = 1),
      qd AS (SELECT m, cid, d2 FROM d2 WHERE vec_id = 0),
      dist AS (SELECT enc.vec_id, CAST(sum(qd.d2) AS BIGINT) AS adc_d2
               FROM enc JOIN qd ON enc.m = qd.m AND enc.cid = qd.cid
               WHERE enc.vec_id <> 0 GROUP BY 1)
      SELECT vec_id, adc_d2 FROM dist ORDER BY adc_d2, vec_id LIMIT 10"""),
    bench = true)

  /** q97: IVF-PQ — the cell-pruning (q47) and code-compression (q96)
    * stages COMPOSED, the layout a production vector index ships:
    * assignment + quantization + M codes in one map-side projection
    * pass, probed cells broadcast in, ADC top-k over the survivors'
    * codes only. The oracle is the two entries' CTE machinery joined:
    * q47's cosine assignment/probe replay feeding q96's encode/LUT
    * replay.
    */
  private val q97IvfPq = Q(
    "q97_ivf_pq",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.search.Pq.searchIvf(e, queryId = 0L,
        centroidMod = graft.search.Ivf.adaptiveMod(e.count()),
        nprobe = 4, m = 8, k = 10)
    },
    Some("""WITH prm AS (SELECT greatest(1, CAST(count(*) AS BIGINT) //
          least(4096, greatest(16, CAST(floor(sqrt(count(*))) AS BIGINT)))) AS md
        FROM embeddings),
      eld AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
          CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
      nrm AS (SELECT vec_id, sum(x * x) AS n2 FROM eld GROUP BY 1),
      cent AS (SELECT vec_id AS cid, i, x FROM eld
               WHERE vec_id % (SELECT md FROM prm) = 1),
      cn AS (SELECT vec_id AS cid, n2 AS cn2 FROM nrm
             WHERE vec_id % (SELECT md FROM prm) = 1),
      cdot AS (SELECT eld.vec_id AS vid, cent.cid, sum(eld.x * cent.x) AS dp
               FROM eld JOIN cent ON eld.i = cent.i GROUP BY 1, 2),
      sims AS (SELECT vid, cid, round(dp / sqrt(n.n2 * cn2), 6) AS cs
               FROM cdot JOIN nrm n ON vid = n.vec_id JOIN cn USING (cid)),
      assign AS (SELECT vid, cid AS cell FROM (
          SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY cs DESC, cid) AS rn
          FROM sims) t WHERE rn = 1),
      qprobe AS (SELECT cid AS cell FROM (
          SELECT cid, row_number() OVER (ORDER BY cs DESC, cid) AS rn
          FROM sims WHERE vid = 0) t WHERE rn <= 4),
      cand AS (SELECT vid FROM assign JOIN qprobe USING (cell) WHERE vid <> 0),
      elq AS (SELECT vec_id,
          CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
          CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS q
        FROM embeddings),
      es AS (SELECT vec_id, i // 8 AS m, i % 8 AS j, q FROM elq),
      centq AS (SELECT vec_id AS cid, m, j, q AS c FROM es
                WHERE vec_id % (SELECT md FROM prm) = 1),
      d2 AS (SELECT e.vec_id, c.m, c.cid, sum((e.q - c.c) * (e.q - c.c)) AS d2
             FROM es e JOIN centq c ON e.m = c.m AND e.j = c.j
             GROUP BY 1, 2, 3),
      enc AS (SELECT vec_id, m, cid FROM (
          SELECT vec_id, m, cid,
            row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
          FROM d2) t WHERE rn = 1),
      qd AS (SELECT m, cid, d2 FROM d2 WHERE vec_id = 0),
      dist AS (SELECT enc.vec_id, CAST(sum(qd.d2) AS BIGINT) AS adc_d2
               FROM enc JOIN cand ON enc.vec_id = cand.vid
               JOIN qd ON enc.m = qd.m AND enc.cid = qd.cid
               GROUP BY 1)
      SELECT vec_id, adc_d2 FROM dist ORDER BY adc_d2, vec_id LIMIT 10"""),
    bench = true)

  /** q146: STREAMING ANN — the retrieval family's streaming rung
    * (beside batch-exact q26, IVF q47, PQ q96/q97): query vectors
    * arrive in ordered micro-batches and each batch probes the
    * STANDING IVF index (codebook + cell assignment over the corpus).
    * `foreachBatch` is the right shape, as with q141: the index is
    * corpus-sized — at 100 TB the assignment lives as a table
    * persisted bucketed by cell, the tiny query batch broadcasts
    * against the probed cells only (partition pruning on cell), and
    * NOTHING rides the state store. The probe is stateless per query
    * row, so the streamed union across batches is row-equal to the
    * batch closed form over the same query set — one oracle pins
    * both (the q138 order-insensitivity argument, no confirm pass).
    * Per-batch retries are idempotent: results land in batch-id
    * subdirs with Overwrite (the q141 convention). Windows inside a
    * batch partition by qid — bounded by batch size, not corpus.
    */
  private val q146StreamAnn = Q(
    "q146_stream_ann",
    (s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft-san-").toString
      val landing = new java.io.File(root, "landing")
      landing.mkdirs()
      val emb = Tables.embeddings(s, d)
      val mod = Ivf.adaptiveMod(emb.count())
      val vecs = emb.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val cents = vecs.filter(col("vec_id") % mod === 1)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding"))
      Seq(0, 1).foreach { b =>
        Scratch.landFile(queries.filter(pmod(col("qid"), lit(100)) === b * 50),
          landing.toString, s"${b}_queries.parquet", modTime = 60000L * (b + 1))
      }
      val assigns = Ivf.assignments(emb, mod)
      val outRoot = new java.io.File(root, "results")
      val step: (org.apache.spark.sql.DataFrame, Long) => Unit = (batch, id) => {
        val q = batch.select(col("qid"), toDouble(col("embedding")).as("qv"))
        val wProbe = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("cs").desc, col("cid"))
        val probes = q.crossJoin(broadcast(cents))
          .select(col("qid"), col("cid"), cos6(col("qv"), col("cv")).as("cs"))
          .withColumn("rn", row_number().over(wProbe))
          .filter(col("rn") <= 4)
          .select(col("qid"), col("cid").as("cell"))
        val wTop = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id"))
        assigns.join(broadcast(probes), "cell")
          .filter(col("vec_id") =!= col("qid"))
          .join(vecs, "vec_id")
          .join(broadcast(q), "qid")
          .select(col("qid"), col("vec_id"),
            cos6(col("v"), col("qv")).as("cos_sim"))
          .withColumn("rank", row_number().over(wTop).cast("long"))
          .filter(col("rank") <= 10)
          .select(col("qid"), col("rank"), col("vec_id"), col("cos_sim"))
          .write.mode("overwrite")
          .parquet(new java.io.File(outRoot, s"batch-$id").toString)
      }
      val query = s.readStream.schema(queries.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing.toString)
        .writeStream
        .foreachBatch(step)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
      val parts = outRoot.listFiles().filter(_.isDirectory).map(_.toString)
      Scratch.sealAndClean(
        s.read.parquet(parts.toIndexedSeq: _*).orderBy("qid", "rank"), root)
    },
    Some("""WITH prm AS (SELECT greatest(1, CAST(count(*) AS BIGINT) //
          least(4096, greatest(16, CAST(floor(sqrt(count(*))) AS BIGINT)))) AS md
        FROM embeddings),
      el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
          CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
      nrm AS (SELECT vec_id, sum(x * x) AS n2 FROM el GROUP BY 1),
      cent AS (SELECT vec_id AS cid, i, x FROM el
               WHERE vec_id % (SELECT md FROM prm) = 1),
      cn AS (SELECT vec_id AS cid, n2 AS cn2 FROM nrm
             WHERE vec_id % (SELECT md FROM prm) = 1),
      cdot AS (SELECT el.vec_id AS vid, cent.cid, sum(el.x * cent.x) AS dp
               FROM el JOIN cent ON el.i = cent.i GROUP BY 1, 2),
      sims AS (SELECT vid, cid, round(dp / sqrt(n.n2 * cn2), 6) AS cs
               FROM cdot JOIN nrm n ON vid = n.vec_id JOIN cn USING (cid)),
      assign AS (SELECT vid, cid AS cell FROM (
          SELECT vid, cid, row_number() OVER (PARTITION BY vid
            ORDER BY cs DESC, cid) AS rn FROM sims) t WHERE rn = 1),
      qprobe AS (SELECT vid AS qid, cid AS cell FROM (
          SELECT vid, cid, row_number() OVER (PARTITION BY vid
            ORDER BY cs DESC, cid) AS rn
          FROM sims WHERE vid % 50 = 0) t WHERE rn <= 4),
      cand AS (SELECT p.qid, a.vid FROM assign a JOIN qprobe p USING (cell)
               WHERE a.vid <> p.qid),
      dp AS (SELECT c.qid, c.vid, sum(ev.x * eq.x) AS dp
             FROM cand c JOIN el ev ON ev.vec_id = c.vid
             JOIN el eq ON eq.vec_id = c.qid AND eq.i = ev.i
             GROUP BY 1, 2),
      scored AS (SELECT d.qid, d.vid,
          round(d.dp / sqrt(nv.n2 * nq.n2), 6) AS cos_sim
        FROM dp d JOIN nrm nv ON nv.vec_id = d.vid
        JOIN nrm nq ON nq.vec_id = d.qid)
      SELECT qid, CAST(rank AS BIGINT) AS rank, vid AS vec_id, cos_sim FROM (
        SELECT qid, vid, cos_sim, row_number() OVER (PARTITION BY qid
          ORDER BY cos_sim DESC, vid) AS rank FROM scored) t
      WHERE rank <= 10 ORDER BY qid, rank"""))

  val queries: Seq[Q] =
    Seq(q47AnnIvf, q48MultimodalMeta, q49MultimodalFeatures, q74SqlApi,
      q77IvfKmeans, q89SemDedup, q96PqAdc, q97IvfPq, q146StreamAnn)
}
