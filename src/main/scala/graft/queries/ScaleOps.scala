package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Portable._

/** Operators whose POINT is the 100 TB execution shape: fingerprint
  * near-dup joins that never go all-pairs, data-layout clustering for
  * scan pruning, skew-proof join salting, and corpus chunking for
  * training/RAG prep.
  *
  * Same portability contract as [[Pipeline]]: every hash routes
  * through md5-derived [[graft.functions.Portable]] helpers and all
  * bucket arithmetic is integer-exact, so the DuckDB oracles replay
  * each result bit-for-bit.
  */
object ScaleOps {

  /** Shared CTE: per-doc 32-bit SimHash, identical to the q24 oracle
    * (distinct-token h32 sign-sum per bit, ties up).
    */
  private[queries] def simhashCte: String =
    s"""tok AS (SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) raw),
      th AS (SELECT DISTINCT doc_id, ${Sql.h32("w")} AS h FROM tok),
      bits AS (SELECT doc_id, j,
          sum(CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS sgn
        FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS j) js
        GROUP BY 1, 2),
      sh AS (SELECT doc_id,
          CAST(sum((CASE WHEN sgn >= 0 THEN 1 ELSE 0 END) * CAST(pow(2, j) AS BIGINT)) AS BIGINT) AS simhash
        FROM bits GROUP BY 1)"""

  /** q152: SIMHASH HAMMING-DISTANCE NEAR-DUP JOIN via ADAPTIVE
    * pigeonhole blocking (Manku, Jain & Sarma, WWW'07 §3 — the
    * simhash dedup design; q24 only COMPUTES fingerprints, this finds
    * the pairs). A pair within Hamming distance k damages at most k
    * of b disjoint bit blocks, so it agrees on the fingerprint masked
    * by one of the C(b, k) leave-k-out masks
    * ([[graft.ops.Dedup.pigeonholeMasks]]); candidates are pairs
    * sharing a (mask_idx, masked_value) bucket — ONE shuffle through
    * [[graft.ops.Dedup.bucketPairs]], never an all-pairs join — and
    * an exact popcount-of-xor verify keeps true pairs only. The BLOCK
    * COUNT is sized from the corpus count
    * ([[graft.ops.Dedup.pigeonholeBlocksFor]]: matched width
    * 32·(b−1)/b ≥ min(30, log2 N + 4): 2 blocks/16 bits to ~2^12
    * docs, 4/24 to ~2^20 — sf1's 50k sits here — 8/28 to ~2^24,
    * 16/30 beyond): the historical FIXED 2×16 split made expected
    * candidates grow N²/2^16 — the suite's worst decade ratio
    * (4.18×) in round 12 and the last fixed-width pair key in the
    * repo — where the adaptive width keeps expected random
    * collisions ≲ N/16 up to the 32-bit fingerprint's 30-bit cap
    * (past N ≈ 2^26, the move is a 64-bit fingerprint: same masks,
    * 60+ matched bits, the WWW'07 8B-doc setting). The
    * blocking is EXACT at EVERY block count (pigeonhole, not
    * probabilistic), which is why the all-pairs oracle needs no
    * sizing CTE: output is invariant to b, and a wrong mask set
    * would LOSE pairs and fail the compare at every scale. Bucket
    * keys are uniform fingerprint slices, so the single shuffle has
    * no skew, and the fingerprint PACKS into the id long that rides
    * through the bucket shuffle, so the verify popcount needs no
    * join back to a signature table — one scan, one shuffle, zero
    * verify-stage joins.
    */
  private val q152SimhashHamming = Q(
    "q152_simhash_hamming",
    (s, d) => {
      // the 32-bit fingerprint PACKS with its doc_id into one long
      // (id << 32 | sh), so the signature rides through bucketPairs
      // beside the id: ONE scan of documents, no verify-stage joins
      // back to a signature table (pair order on the packed value ≡
      // order on doc_id — distinct ids dominate the high bits)
      val nBlocks = graft.ops.Dedup.pigeonholeBlocksFor(
        Tables.documents(s, d).count(), bits = 32, k = 1,
        choices = Seq(2, 4, 8, 16))
      val masks = graft.ops.Dedup.pigeonholeMasks(32, nBlocks, k = 1)
      val packed = Tables.documents(s, d)
        .select((shiftleft(col("doc_id"), 32) +
          graft.functions.Hash32.simhashCol(col("text"))).as("id_sh"))
      // masks cover the low 32 bits only, so id_sh & mask is the
      // masked FINGERPRINT (the doc_id half never leaks into keys)
      val blocks = packed.select(col("id_sh"),
          posexplode(array(masks.map(m =>
            col("id_sh").bitwiseAND(lit(m))): _*)))
        .toDF("id_sh", "blk", "bv")
      graft.ops.Dedup.bucketPairs(blocks, "id_sh", Seq("blk", "bv"))
        .distinct()
        .select(shiftright(col("a_id"), 32).as("a_id"),
          shiftright(col("b_id"), 32).as("b_id"),
          bit_count(col("a_id").bitwiseXOR(col("b_id"))
            .bitwiseAND(lit(4294967295L))).cast("long").as("hamming"))
        .filter(col("hamming") <= 1)
        .orderBy("a_id", "b_id")
    },
    Some(s"""WITH $simhashCte
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
      ORDER BY 1, 2"""),
    bench = true)

  /** q153: Z-ORDER LAYOUT AUDIT — the space-filling-curve clustering
    * behind lakehouse `OPTIMIZE ZORDER BY`: interleaving the bits of
    * two bucketed dimensions gives a 1-D sort key whose fixed-width
    * ranges ("files") stay tight in BOTH dimensions, so min/max file
    * stats prune scans on either predicate. Events are range-bucketed
    * to 16 levels per dimension (integer arithmetic on the global
    * min/max — one broadcast row), the 8-bit z-value is the 4+4 bit
    * interleave, and the audit reports each of 8 fixed z-ranges' row
    * count and per-dimension bounding box NEXT TO the same stats for a
    * time-ordered layout: z tiles bound user-buckets ≤4 AND days ≤8,
    * where time tiles nail days but leave user unbounded (span 16) —
    * the pruning tradeoff made visible. Everything below the one
    * broadcast is map-side integer math + one 16-key aggregation; at
    * 100 TB the tile id becomes the `repartitionByRange(z)` write key
    * and the bounding boxes are the parquet footer stats this audit
    * predicts.
    */
  private val q153ZorderLayout = Q(
    "q153_zorder_layout",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("day"))
      val bounds = ev.agg(
        min("user_id").as("u0"), max("user_id").as("u1"),
        min("day").as("d0"), max("day").as("d1"))
      val bucketed = ev.crossJoin(broadcast(bounds))
        .withColumn("ub", expr("(user_id - u0) * 16 DIV (u1 - u0 + 1)"))
        .withColumn("db", expr("(day - d0) * 16 DIV (d1 - d0 + 1)"))
      // z = interleave(ub, db): ub bit i -> z bit 2i+1, db bit i -> z bit 2i
      val zExpr = (0 until 4).map { i =>
        s"((ub DIV ${1 << i}) % 2) * ${1 << (2 * i + 1)} + ((db DIV ${1 << i}) % 2) * ${1 << (2 * i)}"
      }.mkString(" + ")
      val z = bucketed.withColumn("z", expr(zExpr))
      def audit(layout: String, tile: org.apache.spark.sql.Column) =
        z.withColumn("tile", tile)
          .groupBy("tile")
          .agg(count(lit(1)).as("n"),
            min("ub").as("ub_min"), max("ub").as("ub_max"),
            min("db").as("db_min"), max("db").as("db_max"))
          .select(lit(layout).as("layout"), col("tile"), col("n"),
            (col("ub_max") - col("ub_min") + 1).as("u_span"),
            (col("db_max") - col("db_min") + 1).as("d_span"))
      audit("zorder", expr("z DIV 32"))
        .unionByName(audit("time", expr("db DIV 2")))
        .orderBy("layout", "tile")
    },
    Some("""WITH b AS (SELECT min(user_id) AS u0, max(user_id) AS u1,
          min(epoch_us(ts) // 86400000000) AS d0, max(epoch_us(ts) // 86400000000) AS d1
        FROM events),
      e AS (SELECT (user_id - u0) * 16 // (u1 - u0 + 1) AS ub,
          ((epoch_us(ts) // 86400000000) - d0) * 16 // (d1 - d0 + 1) AS db
        FROM events CROSS JOIN b),
      z AS (SELECT ub, db,
          ((ub // 1) % 2) * 2 + ((db // 1) % 2) * 1 +
          ((ub // 2) % 2) * 8 + ((db // 2) % 2) * 4 +
          ((ub // 4) % 2) * 32 + ((db // 4) % 2) * 16 +
          ((ub // 8) % 2) * 128 + ((db // 8) % 2) * 64 AS z
        FROM e),
      zt AS (SELECT 'zorder' AS layout, z // 32 AS tile, count(*) AS n,
          max(ub) - min(ub) + 1 AS u_span, max(db) - min(db) + 1 AS d_span
        FROM z GROUP BY 1, 2),
      tt AS (SELECT 'time' AS layout, db // 2 AS tile, count(*) AS n,
          max(ub) - min(ub) + 1 AS u_span, max(db) - min(db) + 1 AS d_span
        FROM z GROUP BY 1, 2)
      SELECT layout, tile, n, u_span, d_span FROM zt
      UNION ALL SELECT layout, tile, n, u_span, d_span FROM tt
      ORDER BY layout, tile"""))

  /** q154: SKEW-SALTED EQUI-JOIN — the manual fix for the join AQE's
    * skew splitting can't always save (one hot key flooding a single
    * reduce task): the fact side gets a uniform salt derived from a
    * per-row id, the (small) dimension side is replicated once per
    * salt value, and the join key becomes (key, salt) — the hot key's
    * rows now land on S reducers instead of one. Salting is
    * RESULT-INVARIANT, which is exactly what the oracle checks: the
    * plain unsalted DuckDB join must produce the identical aggregate.
    * Events route to a customer shard by modular key (the synthetic
    * stand-in for a genuinely skewed foreign key); S=8 here, sized at
    * 100 TB to hot-key-rows / healthy-partition-rows, and the
    * replicated dimension costs S× a side that is broadcast-sized by
    * construction — the classic trade (Kwon et al., SkewTune's
    * motivating pattern).
    */
  private val q154SaltedJoin = Q(
    "q154_salted_join",
    (s, d) => {
      val S = 8
      val fact = Tables.events(s, d)
        .select((pmod(col("user_id"), lit(1500L)) + 1L).as("ck"),
          col("value"),
          pmod(col("event_id"), lit(S.toLong)).as("salt"))
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))
        .withColumn("salt", explode(sequence(lit(0L), lit(S.toLong - 1))))
      // the merge hint pins the SHUFFLE-join regime: salting only
      // matters when the dim exceeds the broadcast threshold (a
      // broadcast join has no reduce-side skew to fix), and without
      // the hint local-mode auto-broadcast would leave the salt inert
      fact.join(dim.hint("shuffle_merge"),
          fact("ck") === dim("c_custkey") && fact("salt") === dim("salt"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_events"), dsum6(col("value")).as("total_value"))
        .orderBy("c_nationkey")
    },
    Some("""SELECT c_nationkey, count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
      FROM (SELECT user_id % 1500 + 1 AS ck, value FROM events) e
      JOIN customer ON ck = c_custkey
      GROUP BY 1 ORDER BY 1"""),
    bench = true)

  /** q155: SLIDING-WINDOW DOCUMENT CHUNKING — the corpus-prep step
    * between cleaning and tokenization for both training sequence
    * packing (q71 packs CHUNKS, not whole docs, when docs exceed the
    * context length) and RAG indexing: fixed 64-token windows with
    * stride 48 (16-token overlap so no boundary sentence is lost to
    * both sides). Chunk COUNT is closed-form integer arithmetic
    * (1 + ceil((n-64)/48), floor-division form, so both engines agree
    * on every edge: n ≤ 64 → one chunk, the tail chunk may run
    * short), the token slice is engine-native array slicing, and the
    * chunk is fingerprinted (md5 of the re-joined slice) rather than
    * materialized — the downstream exact-dedup key (q21 runs on
    * chunks at this point of the pipeline). Entirely map-side: one
    * codegen'd pass per document, output rows ∝ corpus tokens /
    * stride; nothing shuffles until the consumer.
    */
  private val q155ChunkDocs = Q(
    "q155_chunk_docs",
    (s, d) => {
      val W = 64
      val St = 48
      val base = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .withColumn("n", size(col("tk")).cast("long"))
        .withColumn("nc", lit(1L) + expr(s"greatest(0L, n - $W + $St - 1) DIV $St"))
      base
        .select(col("doc_id"), col("tk"),
          posexplode(expr("sequence(0, nc - 1)")))
        .toDF("doc_id", "tk", "pos", "k")
        .select(col("doc_id"), col("k").as("chunk_idx"),
          (col("k") * St + 1).as("start_tok"),
          slice(col("tk"), (col("k") * St + 1).cast("int"), lit(W)).as("sl"))
        .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
          size(col("sl")).cast("long").as("n_tok"),
          md5(concat_ws(" ", col("sl"))).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS tk,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
      nc AS (SELECT doc_id, tk, n,
          1 + greatest(0, n - 64 + 48 - 1) // 48 AS nc FROM base),
      ch AS (SELECT doc_id, tk, unnest(range(0, nc)) AS k FROM nc)
      SELECT doc_id, k AS chunk_idx, k * 48 + 1 AS start_tok,
        CAST(len(tk[(k * 48 + 1):(k * 48 + 64)]) AS BIGINT) AS n_tok,
        md5(array_to_string(tk[(k * 48 + 1):(k * 48 + 64)], ' ')) AS chunk_md5
      FROM ch ORDER BY doc_id, chunk_idx"""))

  /** q156: DSIR IMPORTANCE WEIGHTS — Data Selection via Importance
    * Resampling (Xie et al., NeurIPS'23): score every raw document by
    * the log-likelihood ratio of its hashed n-gram features under a
    * TARGET domain's feature distribution vs the raw corpus's, the
    * principled replacement for hand-tuned quality filters when
    * curating toward a domain (here: the English slice as target).
    * Features are bigram h32s folded into 256 buckets (the paper's
    * hashed n-gram trick — model size is FIXED at B buckets no matter
    * the corpus, so both distributions are broadcast-sized at any
    * scale); both distributions are Laplace-smoothed (+1 / +B); each
    * bucket's log-ratio is rounded into DECIMAL(28,6) ONCE in the
    * model (q93's determinism pattern) so the per-doc exact decimal
    * sum is order-insensitive and engine-identical. Shape at 100 TB:
    * two fixed-width aggregations (uniform hash keys, map-side
    * partials), model broadcast into the scan stage, one per-doc
    * aggregation — no shuffle wider than B=256 rows except the final
    * doc rollup. Resampling then draws via q143's A-ES machinery with
    * these weights.
    */
  private val q156DsirWeights = Q(
    "q156_dsir_weights",
    (s, d) => {
      val B = 256
      val bg = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(graft.functions.Hash32.bigramHashes(col("text"))).as("h"))
        .withColumn("b", pmod(col("h"), lit(B.toLong)))
      val raw = bg.groupBy("b").agg(count(lit(1)).as("cr"))
      val tgt = bg.filter(col("lang") === "en").groupBy("b").agg(count(lit(1)).as("ct"))
      val totals = bg.agg(
        count(lit(1)).as("nr"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("nt"))
      val model = raw.join(tgt, Seq("b"), "left")
        .crossJoin(broadcast(totals))
        .select(col("b"),
          (log((coalesce(col("ct"), lit(0L)) + 1L).cast("double") /
              (col("nt") + B).cast("double")) -
            log((col("cr") + 1L).cast("double") /
              (col("nr") + B).cast("double")))
            .cast("decimal(28,6)").as("delta"))
      bg.join(broadcast(model), Seq("b"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bg"),
          sum(col("delta")).cast("double").as("logw"))
        .orderBy("doc_id")
    },
    Some(s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
      tok AS (SELECT doc_id, lang, CAST(generate_subscripts(t, 1) AS INT) AS i,
              unnest(t) AS u FROM w),
      bg AS (SELECT a.doc_id, a.lang,
               ${Sql.h32("a.u || ' ' || b.u")} % 256 AS b
             FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.lang = b.lang
               AND b.i = a.i + 1),
      raw AS (SELECT b, count(*) AS cr FROM bg GROUP BY 1),
      tgt AS (SELECT b, count(*) AS ct FROM bg WHERE lang = 'en' GROUP BY 1),
      tot AS (SELECT count(*) AS nr,
              sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt FROM bg),
      model AS (SELECT raw.b,
              CAST(ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE) / (nt + 256)) -
                   ln(CAST(cr + 1 AS DOUBLE) / (nr + 256)) AS DECIMAL(28,6)) AS delta
             FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot)
      SELECT bg.doc_id, count(*) AS n_bg,
        CAST(sum(delta) AS DOUBLE) AS logw
      FROM bg JOIN model ON bg.b = model.b
      GROUP BY 1 ORDER BY 1"""))

  /** q157: PARTITION-PRUNED LAYOUT — the Hive-style `partitionBy`
    * write + pruned read that turns a 100 TB fact table into a
    * directory tree where a day predicate reads ONE directory's files
    * and the planner proves it (`PartitionFilters` in the scan,
    * `ScaleOpsSpec` asserts exactly one of the table's partitions
    * survives pruning). The probe day is min(day)+1, fetched by one
    * tiny driver-side aggregate (the Ivf-codebook precedent: a
    * scalar, not a table) so the filter is a LITERAL — static pruning
    * at plan time, no runtime subquery. The oracle replays the same
    * day's aggregate straight off the raw events table, proving the
    * layout is a pure reorganization. Write side: `partitionBy(day)`
    * is itself the scale pattern — one task per (input-partition ×
    * day) file, no shuffle — and the scratch tree is sealed and
    * deleted before return (q131's hygiene).
    */
  private val q157PartitionPruning = Q(
    "q157_partition_pruning",
    (s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft-part-").toString
      val ev = Tables.events(s, d)
        .withColumn("day", expr("unix_micros(ts) DIV 86400000000"))
      ev.write.partitionBy("day").parquet(s"$root/t")
      val probeDay = ev.agg(min("day")).head().getLong(0) + 1L
      val pruned = s.read.parquet(s"$root/t")
        .filter(col("day") === probeDay)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum6(col("value")).as("total_value"))
        .orderBy("event_type")
      Scratch.sealAndClean(pruned, root)
    },
    Some("""WITH m AS (SELECT min(epoch_us(ts) // 86400000000) + 1 AS pd FROM events)
      SELECT event_type, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
      FROM events CROSS JOIN m
      WHERE epoch_us(ts) // 86400000000 = pd
      GROUP BY 1 ORDER BY 1"""))

  /** q158: MEDIA RESIZE + FRAME SAMPLING — the remaining multimodal
    * preprocessing rungs beside q48's metadata and q49's features
    * ([[graft.multimodal.Multimodal]]): letterbox-resize every image
    * to a 224×224 model input (integer-exact aspect-preserving scale
    * + centered padding — the arithmetic a real resize plans with
    * before touching pixels) and sample every 10th frame (≤8 samples)
    * of each stub-"video", fingerprinting each sampled frame. The
    * IMPERATIVE seam stops at the header probe
    * ([[graft.multimodal.Multimodal.extractMeta]], partition-batched
    * like a real demuxer); resize math, the frame EXPLOSION
    * (`posexplode(sequence(...))` — a Catalyst Generate the optimizer
    * sees and pipelines, not a per-row loop), and per-frame h32
    * fingerprints stay declarative codegen. Scale: frame sampling is
    * the row-multiplying stage of a video pipeline (here ≤8×,
    * real pipelines 100-1000×) — keeping it a Generate means no
    * shuffle, output partitions inherit the input's, and the sample
    * cap bounds the blowup per item.
    */
  private val q158MediaFrames = Q(
    "q158_media_frames",
    (s, d) => {
      val meta = graft.multimodal.Multimodal.extractMeta(
        graft.multimodal.Multimodal.binarize(Tables.documents(s, d))).toDF()
      meta
        .withColumn("out_w", expr("width * 224 DIV greatest(width, height)"))
        .withColumn("out_h", expr("height * 224 DIV greatest(width, height)"))
        .withColumn("pad_x", expr("(224 - out_w) DIV 2"))
        .withColumn("pad_y", expr("(224 - out_h) DIV 2"))
        .withColumn("n_frames", expr("dur_ms * fps DIV 1000"))
        .select(col("doc_id"), col("md5_hex"), col("out_w"), col("out_h"),
          col("pad_x"), col("pad_y"), col("fps"),
          posexplode(expr("sequence(0, least(7, (n_frames - 1) DIV 10))")))
        .withColumn("frame_idx", col("col") * 10)
        .select(col("doc_id"), col("out_w"), col("out_h"),
          col("pad_x"), col("pad_y"), col("frame_idx"),
          expr("frame_idx * 1000 DIV fps").as("frame_t_ms"),
          (h32(concat(col("md5_hex"), lit(":"), col("frame_idx"))) % 1000L)
            .cast("double").divide(lit(1000.0)).as("ffeat"))
        .orderBy("doc_id", "frame_idx")
    },
    Some(s"""WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents),
      hdr AS (SELECT doc_id, hex,
          64 + CAST('0x' || substr(hex, 1, 4) AS BIGINT) % 1024 AS w,
          64 + CAST('0x' || substr(hex, 5, 4) AS BIGINT) % 1024 AS h,
          1000 + CAST('0x' || substr(hex, 9, 4) AS BIGINT) % 60000 AS dur_ms,
          10 + CAST('0x' || substr(hex, 13, 2) AS BIGINT) % 20 AS fps
        FROM m),
      rs AS (SELECT doc_id, hex, fps,
          w * 224 // greatest(w, h) AS out_w,
          h * 224 // greatest(w, h) AS out_h,
          dur_ms * fps // 1000 AS n_frames
        FROM hdr),
      fr AS (SELECT doc_id, hex, fps, out_w, out_h,
          (224 - out_w) // 2 AS pad_x, (224 - out_h) // 2 AS pad_y,
          unnest(range(0, least(7, (n_frames - 1) // 10) + 1)) * 10 AS frame_idx
        FROM rs)
      SELECT doc_id, out_w, out_h, pad_x, pad_y, frame_idx,
        frame_idx * 1000 // fps AS frame_t_ms,
        CAST(${Sql.h32("hex || ':' || frame_idx")} % 1000
          AS DOUBLE) / 1000.0 AS ffeat
      FROM fr ORDER BY doc_id, frame_idx"""))

  /** q159: SKETCH-DRIVEN BALANCED RANGE PARTITIONER — the
    * deterministic replacement for `repartitionByRange`'s
    * RangePartitioner SAMPLING (whose split points vary run-to-run
    * and cannot merge across pre-computed statistics): the global
    * LogDigest sketch (q133's mergeable O(bins) state, map-side
    * partials) yields 7 split bins at the ceil(k·N/8) cumulative
    * targets, fetched as ONE tiny driver row (the Ivf-codebook
    * precedent — the sketch IS the table statistics a warehouse
    * stores), and every row's partition is a literal bin-threshold
    * sum evaluated in the scan stage. Balance is exact at bin
    * granularity (heavy single bins can't split — the documented
    * sketch trade; a production writer follows with the q154 salt
    * WITHIN oversized partitions). Output: per-partition row counts
    * and value bounds — ranges provably non-overlapping
    * (ScaleOpsSpec), the property that makes the layout a total
    * order for merge-join / file-skipping consumers.
    */
  private val q159SketchRangePartition = Q(
    "q159_sketch_range_partition",
    (s, d) => {
      val S = 16
      val P = 8
      val xs = Tables.documents(s, d)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("x"))
        .filter(col("x") >= 1)
        .withColumn("e", (length(bin(col("x"))) - 1).cast("long"))
        .withColumn("base", expr("cast(pow(2.0d, cast(e as double)) as bigint)"))
        .withColumn("bin_id", expr(s"e * $S + (x - base) * $S div base"))
      val sk = xs.agg(graft.functions.LogDigest.sketch(S)(col("x")).as("sk"))
        .select(col("sk.bins"), col("sk.counts")).head()
      val bins = sk.getSeq[Long](0)
      val counts = sk.getSeq[Long](1)
      val n = counts.sum
      val cum = counts.scanLeft(0L)(_ + _).tail
      val splits = (1 until P).map { k =>
        val target = (k * n + P - 1) / P
        bins(cum.indexWhere(_ >= target))
      }
      val part = splits.map(t =>
        when(col("bin_id") >= lit(t), 1L).otherwise(lit(0L)): org.apache.spark.sql.Column)
        .reduce(_ + _)
      xs.groupBy(part.as("part"))
        .agg(count(lit(1)).as("n"), min(col("x")).as("x_min"), max(col("x")).as("x_max"))
        .orderBy("part")
    },
    Some("""WITH x AS (SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS x FROM documents),
      p AS (SELECT doc_id, x, CAST(length(bin(x)) - 1 AS BIGINT) AS e
            FROM x WHERE x >= 1),
      b AS (SELECT doc_id, x, e * 16 +
            ((x - CAST(power(2, e) AS BIGINT)) * 16)
              // CAST(power(2, e) AS BIGINT) AS bin_id FROM p),
      bc AS (SELECT bin_id, count(*) AS c FROM b GROUP BY 1),
      cum AS (SELECT bin_id, sum(c) OVER (ORDER BY bin_id) AS cum,
              (SELECT count(*) FROM b) AS n FROM bc),
      splits AS (SELECT k, min(bin_id) AS sbin
                 FROM cum CROSS JOIN (SELECT unnest(range(1, 8)) AS k) ks
                 WHERE cum >= (k * n + 7) // 8 GROUP BY k),
      pa AS (SELECT b.doc_id, b.x,
               CAST(sum(CASE WHEN b.bin_id >= s.sbin THEN 1 ELSE 0 END)
                 AS BIGINT) AS part
             FROM b CROSS JOIN splits s GROUP BY 1, 2)
      SELECT part, count(*) AS n, min(x) AS x_min, max(x) AS x_max
      FROM pa GROUP BY 1 ORDER BY 1"""))

  /** q214: PERCEPTUAL-HASH MEDIA DEDUP — near-duplicate detection
    * over the OPAQUE binary payload (the multimodal column of
    * q48/q49): a 60-bit locality-sensitive signature whose bit i is a
    * hash parity of payload BLOCK i (equal slices), so a local edit
    * perturbs only the blocks it touches — the average-hash/pHash
    * property, with the pixel-mean threshold stubbed by the
    * deterministic block-hash parity (the q49 stub discipline: a real
    * pHash drops its per-block bits into the same signature layout).
    * The fixture PLANTS shadow copies (doc_id%13 docs, first
    * character mutated → ≤ 2 block bits flip) and the operator finds
    * them blind.
    *
    * 100 TB shape: q152's exact machinery one size up — signatures
    * are scan-stage expressions; candidates come from
    * [[graft.ops.Dedup.bucketPairs]] on the C(b, 3) leave-3-out
    * signature masks ([[graft.ops.Dedup.pigeonholeMasks]]: hamming
    * ≤ 3 ⇒ the pair agrees on some mask — NEVER all-pairs), with the
    * block count b sized from the corpus count exactly like q152's
    * (matched width 60·(b−3)/b ≥ min(42, log2 N + 4): 4 blocks/15
    * bits at the 500-doc scales, 5 blocks/24 bits from ~4k docs —
    * sf0.1 and sf1 — 6/30 past N ≈ 2^21, 10/42 past N ≈ 2^26; output
    * is invariant to b because the blocking is exact, so the
    * all-pairs oracle needs no sizing CTE); exact Hamming confirms
    * on the bounded candidate set.
    */
  private val q214MediaPhashDedup = Q(
    "q214_media_phash_dedup",
    (s, d) => {
      // NULL-text guard (round-15 advisory, the pigeonhole analog of
      // q25's unusable-vector filter): a null text yields a null
      // 60-bit signature, and since this entry's bucket id is a
      // non-null (doc_id, sig) STRUCT, every null-text doc would land
      // in the same (blk, NULL) buckets and pair QUADRATICALLY —
      // candidate work only (the null hamming fails the <= 3 filter),
      // but one degenerate collect_list row per mask at 100 TB. The
      // oracle's equi-join drops null bv on its own (SQL null
      // semantics); this filter gives the engine the same shape.
      // (q152 needs no guard: its packed id is itself null for null
      // text and collect_list drops null ids before pair generation.)
      val base = Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val shadows = base.filter(pmod(col("doc_id"), lit(13)) === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(lit("Z"), col("text").substr(lit(2), length(col("text"))))
            .as("text"))
      val all = base.union(shadows)
      // native fused pass (graft.functions.BlockSig60) — the HOF
      // formulation (transform+aggregate over sequence(0,59)) ran 60
      // interpreted lambda steps per row and was the 5.7x sf0.1 tail
      // in SCALING.md
      val sigs = all.select(col("doc_id"),
        graft.functions.Hash32.blockSigCol(col("text")).as("sig"))
      // the 60-bit signature won't fit beside the shadow-offset ids in
      // one packed long (q152's move), so it rides bucketPairs as a
      // (doc_id, sig) STRUCT key — struct `<` orders on doc_id first
      // (unique), so pair order matches the oracle's doc_id order.
      // One signature pass, one bucket exchange, ZERO verify-stage
      // joins: the previous sa/sb join-backs re-derived the 60-block
      // md5 signature over the whole corpus twice more (the sf1 stage
      // profile's 6.3 s no-shuffle stage).
      val nRows = Tables.documents(s, d).count()
      val nBlocks = graft.ops.Dedup.pigeonholeBlocksFor(
        nRows + nRows / 13 + 1, bits = 60, k = 3,
        choices = Seq(4, 5, 6, 10))
      val masks = graft.ops.Dedup.pigeonholeMasks(60, nBlocks, k = 3)
      val blocks = sigs
        .select(struct(col("doc_id"), col("sig")).as("id"),
          posexplode(array(masks.map(m =>
            col("sig").bitwiseAND(lit(m))): _*)))
        .toDF("id", "blk", "bv")
      graft.ops.Dedup.bucketPairs(blocks, "id", Seq("blk", "bv"))
        .distinct()
        .select(col("a_id.doc_id").as("a_id"), col("b_id.doc_id").as("b_id"),
          bit_count(col("a_id.sig").bitwiseXOR(col("b_id.sig"))).cast("long")
            .as("hamming"))
        .filter(col("hamming") <= 3)
        .orderBy("a_id", "b_id")
    },
    Some(s"""WITH shadows AS (SELECT doc_id + 10000000 AS doc_id,
          'Z' || substr(text, 2) AS text
        FROM documents WHERE doc_id % 13 = 0 AND text IS NOT NULL),
      al AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL
             UNION ALL SELECT doc_id, text FROM shadows),
      bl AS (SELECT doc_id, text,
          greatest(length(text) // 60, 1) AS L,
          unnest(range(60)) AS i FROM al),
      sigs AS (SELECT doc_id,
          CAST(sum((${Sql.h32("substr(text, CAST(1 + i * L AS INT), CAST(L AS INT))")} % 2)
            * (CAST(1 AS BIGINT) << CAST(i AS INT))) AS BIGINT) AS sig
        FROM bl GROUP BY 1),
      blocks AS (SELECT doc_id, j AS blk,
          (sig >> CAST(15 * j AS INT)) & 32767 AS bv
        FROM sigs, (SELECT unnest(range(4)) AS j)),
      pairs AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        FROM blocks x JOIN blocks y
          ON x.blk = y.blk AND x.bv = y.bv AND x.doc_id < y.doc_id)
      SELECT p.a_id, p.b_id,
        CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      FROM pairs p JOIN sigs a ON p.a_id = a.doc_id
      JOIN sigs b ON p.b_id = b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 3
      ORDER BY 1, 2"""),
    bench = true)

  /** q223: JOIN-SKEW AUDIT + SALT SIZING — the shuffle-health table
    * that DECIDES when q154's salting is needed and with how many
    * salts, instead of leaving both to folklore: per-key frequency
    * histogram (one exchange), then the skew diagnostics — hottest
    * key's share, hot/mean ratio, p99 frequency (from the count-of-
    * counts cumsum, q200's trick — no per-key rank), and the
    * recommended salt count ⌈max_freq / (4·mean)⌉ that caps any salted
    * sub-key at ~4× the mean. All integer millionths.
    *
    * 100 TB shape: key frequencies partial-aggregate map-side; the
    * count-of-counts histogram is tiny; the audit is one row. This is
    * exactly the statistics pass a production job runs BEFORE choosing
    * the q154 plan.
    */
  private val q223JoinSkewAudit = Q(
    "q223_join_skew_audit",
    (s, d) => {
      val freq = Tables.events(s, d).groupBy("user_id")
        .agg(count(lit(1)).as("f"))
      val hist = freq.groupBy("f").agg(count(lit(1)).as("m"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("f").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val cum = hist.withColumn("cumdesc", sum("m").over(w))
        .withColumn("nk", sum("m").over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
      cum.agg(
          sum("m").as("n_keys"),
          sum(expr("f * m")).as("total"),
          max("f").as("max_freq"),
          min(when(col("cumdesc") * 100 >= col("nk"), col("f")))
            .as("p99_freq"))
        // products widen to DECIMAL(38,0) before the integer division:
        // max_freq * n_keys * 1e6 wraps int64 silently in Spark at real
        // scale while DuckDB evaluates the same product in HUGEINT (the
        // q195/q196/q198 moment-lattice discipline); `div` on decimals
        // still returns BIGINT
        .select(col("n_keys"), col("total"), col("max_freq"), col("p99_freq"),
          expr("(cast(max_freq as decimal(38,0)) * 1000000) div total")
            .as("top_share_e6"),
          expr("(cast(max_freq as decimal(38,0)) * n_keys * 1000000)" +
            " div total").as("skew_x_e6"),
          expr("""CASE WHEN cast(max_freq as decimal(38,0)) * n_keys
              <= cast(total as decimal(38,0)) * 4 THEN cast(1 as bigint)
            ELSE (cast(max_freq as decimal(38,0)) * n_keys
              + cast(total as decimal(38,0)) * 4 - 1)
              div (cast(total as decimal(38,0)) * 4) END""")
            .as("salt_n"))
    },
    Some("""WITH freq AS (SELECT user_id, CAST(count(*) AS BIGINT) AS f
        FROM events GROUP BY 1),
      h AS (SELECT f, CAST(count(*) AS BIGINT) AS m FROM freq GROUP BY 1),
      c AS (SELECT f, m,
          sum(m) OVER (ORDER BY f DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumdesc,
          sum(m) OVER () AS nk
        FROM h)
      SELECT CAST(sum(m) AS BIGINT) AS n_keys,
        CAST(sum(f * m) AS BIGINT) AS total,
        CAST(max(f) AS BIGINT) AS max_freq,
        CAST(min(CASE WHEN cumdesc * 100 >= nk * 1 THEN f END) AS BIGINT)
          AS p99_freq,
        CAST((max(f) * 1000000) // sum(f * m) AS BIGINT) AS top_share_e6,
        CAST((max(f) * sum(m) * 1000000) // sum(f * m) AS BIGINT) AS skew_x_e6,
        CAST(CASE WHEN max(f) * sum(m) <= 4 * sum(f * m) THEN 1
          ELSE (max(f) * sum(m) + 4 * sum(f * m) - 1) // (4 * sum(f * m)) END
          AS BIGINT) AS salt_n
      FROM c"""))

  /** q243: BYTE-WINDOW MEDIA FEATURES — the audio-style framing pass
    * over the OPAQUE binary payload (256-byte windows ≈ fixed-length
    * PCM frames): per-window feature extraction with the decode
    * stubbed by the window-hash (the q49/q158 stub rule — a real
    * frame-energy/MFCC extractor drops its value into the same
    * (doc, window, feature) shape), plus the per-doc rollup (window
    * count, mean feature, peak window) a clip-selection stage reads.
    * Unlike q158 (METADATA-derived frames), the windows here slice
    * the actual payload BYTES — the plumbing a real extractor needs:
    * boundary handling (final partial window), byte-count
    * conservation, per-window slicing in the scan stage (windows slice the hex
    * encoding — 2 chars per byte — because BLOB substring is not
    * portable across engines; byte boundaries are preserved exactly).
    *
    * 100 TB shape: the window fan-out is bounded by payload size /
    * 256 and is pure scan-stage binary slicing + hashing; the per-doc
    * rollup partial-aggregates map-side. No shuffle carries payload
    * bytes — only (ids, features).
    */
  private val q243MediaWindows = Q(
    "q243_media_windows",
    (s, d) => {
      val bin = graft.multimodal.Multimodal.binarize(Tables.documents(s, d))
      val wins = bin
        .withColumn("n_win", expr("(octet_length(content) + 255) div 256"))
        // n_win = 0 (empty payload) must yield ZERO windows: Spark's
        // sequence(0, -1) is the descending [0, -1], not DuckDB's
        // empty range(0) — filter before the explode so the engines
        // match by construction, not by fixture luck
        .filter(col("n_win") > 0)
        .select(col("doc_id"), col("content"), col("n_win"),
          explode(expr("sequence(CAST(0 AS BIGINT), n_win - 1)")).as("w"))
        .withColumn("win_hex",
          expr("substring(hex(content), CAST(w * 512 + 1 AS INT), 512)"))
        .select(col("doc_id"), col("n_win"), col("w"),
          expr("length(win_hex) div 2").as("win_len"),
          (h32(col("win_hex")) % 1000L).as("feat_e3"))
      val rollup = wins.groupBy("doc_id").agg(
        max("n_win").as("nw"), sum("win_len").as("total_bytes"),
        max(struct(col("feat_e3"), (-col("w")).as("nw2"))).as("pk"))
      wins.join(rollup.select(col("doc_id"), col("nw"), col("total_bytes"),
          col("pk.feat_e3").as("peak_feat"), (-col("pk.nw2")).as("peak_w")),
          "doc_id")
        .select(col("doc_id"), col("w"), col("win_len"), col("feat_e3"),
          col("total_bytes"), col("peak_w"))
        .orderBy("doc_id", "w")
    },
    Some(s"""WITH bin AS (SELECT doc_id, encode(text) AS content
        FROM documents),
      nw AS (SELECT doc_id, content,
          (octet_length(content) + 255) // 256 AS n_win FROM bin),
      ex AS (SELECT doc_id, content, n_win,
          CAST(unnest(range(n_win)) AS BIGINT) AS w FROM nw),
      sl AS (SELECT doc_id, n_win, w,
          substr(hex(content), CAST(w * 512 + 1 AS INT), 512) AS win_hex
        FROM ex),
      wins AS (SELECT doc_id, n_win, w,
          CAST(length(win_hex) // 2 AS BIGINT) AS win_len,
          ${Sql.h32("win_hex")} % 1000
            AS feat_e3
        FROM sl),
      roll AS (SELECT doc_id, CAST(sum(win_len) AS BIGINT) AS total_bytes,
          max(feat_e3) AS mxf FROM wins GROUP BY 1),
      peak AS (SELECT w.doc_id, min(w.w) AS peak_w
        FROM wins w JOIN roll r ON w.doc_id = r.doc_id AND w.feat_e3 = r.mxf
        GROUP BY 1)
      SELECT w.doc_id, w.w, w.win_len, w.feat_e3,
        r.total_bytes, p.peak_w
      FROM wins w JOIN roll r ON w.doc_id = r.doc_id
      JOIN peak p ON w.doc_id = p.doc_id
      ORDER BY 1, 2"""))

  /** q248: ACTIVITY-SEGMENT DETECTION over the byte-window features —
    * the VAD / scene-cut primitive on the multimodal seam: q243's
    * per-window feature stream (decode stubbed by the window hash, the
    * q49/q158 rule — a real energy/embedding score drops into the
    * same (doc, window, feature) shape) thresholded into ACTIVE
    * windows, then maximal runs of consecutive active windows become
    * segments via the gaps-and-islands key `w − row_number()` —
    * start/end/length/peak per segment, exactly what a clip-extraction
    * stage consumes downstream of q243's rollup.
    *
    * 100 TB shape: window features are scan-stage binary slicing
    * (q243); the island key is ONE window function partitioned by
    * doc_id — per-doc work, no global ordering, no self-join of
    * adjacent windows; segments partial-aggregate on (doc, grp).
    * Payload bytes never cross an exchange — only (ids, features).
    */
  private val q248VadSegments = Q(
    "q248_vad_segments",
    (s, d) => {
      val bin = graft.multimodal.Multimodal.binarize(Tables.documents(s, d))
      val wins = bin
        .withColumn("n_win", expr("(octet_length(content) + 255) div 256"))
        // empty-payload guard: see q243 — sequence(0, -1) ≠ range(0)
        .filter(col("n_win") > 0)
        .select(col("doc_id"), col("content"),
          explode(expr("sequence(CAST(0 AS BIGINT), n_win - 1)")).as("w"))
        .withColumn("win_hex",
          expr("substring(hex(content), CAST(w * 512 + 1 AS INT), 512)"))
        .select(col("doc_id"), col("w"),
          (h32(col("win_hex")) % 1000L).as("feat_e3"))
      val wd = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("w")
      wins.filter(col("feat_e3") >= 500L)
        .withColumn("grp", col("w") - row_number().over(wd))
        .groupBy("doc_id", "grp")
        .agg(min("w").as("seg_start"), max("w").as("seg_end"),
          count(lit(1)).as("n_win"), max("feat_e3").as("peak_feat"),
          sum("feat_e3").as("sum_feat"))
        .select(col("doc_id"), col("seg_start"), col("seg_end"),
          col("n_win"), col("peak_feat"), col("sum_feat"))
        .orderBy("doc_id", "seg_start")
    },
    Some(s"""WITH bin AS (SELECT doc_id, encode(text) AS content
        FROM documents),
      nw AS (SELECT doc_id, content,
          (octet_length(content) + 255) // 256 AS n_win FROM bin),
      ex AS (SELECT doc_id, content,
          CAST(unnest(range(n_win)) AS BIGINT) AS w FROM nw),
      wins AS (SELECT doc_id, w,
          ${Sql.h32("substr(hex(content), CAST(w * 512 + 1 AS INT), 512)")} % 1000 AS feat_e3
        FROM ex),
      act AS (SELECT doc_id, w, feat_e3,
          w - row_number() OVER (PARTITION BY doc_id ORDER BY w) AS grp
        FROM wins WHERE feat_e3 >= 500)
      SELECT doc_id, min(w) AS seg_start, max(w) AS seg_end,
        CAST(count(*) AS BIGINT) AS n_win, max(feat_e3) AS peak_feat,
        CAST(sum(feat_e3) AS BIGINT) AS sum_feat
      FROM act GROUP BY doc_id, grp ORDER BY 1, 2"""),
    bench = true)

  /** q250: SENTENCE-BUDGET CHUNKING — the RAG-style chunker that
    * respects sentence boundaries where q155 slices mid-sentence:
    * sentences (split on `[.!?]+`) are assigned whole to chunks by the
    * token-budget bin of their starting offset (`(cum − n_tok) div
    * 64`), so chunks never cut a sentence and the assignment is a
    * closed form over the per-doc token cumsum — no greedy sequential
    * loop, no UDF, identical in both engines. Per chunk: sentence
    * span, token count, and an order-free integer signature
    * (Σ h32(sentence) — exact, so the oracle pins membership, not
    * just counts).
    *
    * 100 TB shape: sentence explode + one per-doc window cumsum (the
    * only exchange, on uniform doc_id) + a partial-aggregating
    * (doc, chunk) rollup. Chunk fan-out is bounded by tokens/64.
    */
  private val q250SentenceChunks = Q(
    "q250_sentence_chunks",
    (s, d) => {
      val wi = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("i0")
      // renumber AFTER dropping empty fragments (leading/trailing
      // punctuation yields empties) so sentence ids are contiguous —
      // the oracle renumbers identically
      val sen = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), "[.!?]+")))
        .toDF("doc_id", "i0", "s0")
        .select(col("doc_id"), col("i0"), trim(col("s0")).as("sen"))
        .filter(length(col("sen")) > 0)
        .withColumn("i", row_number().over(wi).cast("long"))
        .withColumn("n_tok", size(split(col("sen"), " ")).cast("long"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("i")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      sen.withColumn("cum", sum("n_tok").over(w))
        .withColumn("chunk_id", expr("(cum - n_tok) div 64"))
        .groupBy("doc_id", "chunk_id")
        .agg(count(lit(1)).as("n_sentences"), sum("n_tok").as("n_tokens"),
          min("i").as("first_s"), max("i").as("last_s"),
          sum(h32(col("sen"))).as("sig_sum"))
        .orderBy("doc_id", "chunk_id")
    },
    Some(s"""WITH a AS (SELECT doc_id,
          regexp_split_to_array(text, '[.!?]+') AS arr FROM documents),
      ex AS (SELECT doc_id, arr,
          CAST(unnest(range(1, len(arr) + 1)) AS BIGINT) AS i FROM a),
      sen0 AS (SELECT doc_id, i, trim(arr[i]) AS sen FROM ex),
      sen AS (SELECT doc_id,
          CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i)
            AS BIGINT) AS i,
          sen, CAST(len(string_split(sen, ' ')) AS BIGINT) AS n_tok
        FROM sen0 WHERE length(sen) > 0),
      c AS (SELECT doc_id, i, sen, n_tok,
          sum(n_tok) OVER (PARTITION BY doc_id ORDER BY i
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM sen)
      SELECT doc_id, CAST((cum - n_tok) // 64 AS BIGINT) AS chunk_id,
        CAST(count(*) AS BIGINT) AS n_sentences,
        CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        min(i) AS first_s, max(i) AS last_s,
        CAST(sum(${Sql.h32("sen")}) AS BIGINT)
          AS sig_sum
      FROM c GROUP BY 1, 2 ORDER BY 1, 2"""),
    bench = true)

  val queries: Seq[Q] = Seq(
    q152SimhashHamming, q153ZorderLayout, q154SaltedJoin, q155ChunkDocs,
    q156DsirWeights, q157PartitionPruning, q158MediaFrames,
    q159SketchRangePartition, q214MediaPhashDedup, q223JoinSkewAudit,
    q243MediaWindows, q248VadSegments, q250SentenceChunks)
}
