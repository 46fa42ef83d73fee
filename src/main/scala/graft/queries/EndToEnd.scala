package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.annotate.Annotator
import graft.domain.Calibration
import graft.io.PubmedXml
import graft.query.Pico
import graft.query.Pico.PicoTerm
import graft.stream.TableStore
import graft.Tables
import graft.functions.Portable.tokens
import Sql.quote

/** q62: the COMPOSED end-to-end nightly pipeline, one flow over STORED
  * tables (SURVEY §7.3; reference: pubmed.py main update path):
  *
  *   gz PubMed XML update files (S1/S2)
  *     → deterministic classifier score + calibration flags (P6/P7)
  *     → routing on is_rct_sensitive into `pubmed` (full record) vs
  *       `pubmed_excludes` (slim record, the negative cache —
  *       pubmed.py:518-531, the one reference behavior with no direct
  *       single-operator artifact)
  *     → TableStore CDC MERGE per update file, DeleteCitation
  *       tombstones applied to BOTH tables (pubmed.py:533-538), plus an
  *       exactly-once re-apply probe (T2)
  *     → annotate-new over the stored snapshot (P8 anti-join + batched
  *       enrichment, pubmed.py:561-635)
  *     → picosearch containment predicate (P3, subtree-expanded — the
  *       C5 query term matches documents only through child C11, so
  *       expansion is load-bearing) + ranked score over the STORED
  *       tables (cnxapp.py:187-219).
  *
  * Every stage passes in isolation elsewhere (q45, q60, q44, q54, q40);
  * this entry is the composition proof: schema drift between stages or
  * merge-then-query staleness breaks the hash.
  *
  * Reference quirk pinned: the update path never cross-deletes on a
  * classification flip — a record whose revision re-classifies
  * include→exclude is UPSERTED into pubmed_excludes while its stale row
  * REMAINS in pubmed (and vice versa); only DeleteCitation removes from
  * both (pubmed.py:533-546). The fixture exercises both flip directions
  * (pmid 10005 include→exclude, 10004 exclude→include).
  *
  * The DuckDB oracle starts from hand-derived parsed VALUES of the same
  * fixture (independently re-verifying the XML read against q45's
  * pinned semantics) and computes the identical closed form: md5-derived
  * score → threshold flags → routed last-writer-wins CDC with
  * tombstone cutoff → md5-derived annotation stub → word-hash mesh
  * containment.
  *
  * Scale: each per-file batch is one map-side classify projection; the
  * merge is TableStore's broadcast-delta snapshot rewrite; annotation is
  * partition-batched; search is a codegen'd predicate over the stored
  * parquet — no stage collects the corpus to the driver.
  */
object EndToEnd {

  /** One fixture article: f = update-file ordinal (1-based), im = None
    * omits the IndexingMethod attribute (parses to "Human").
    */
  private final case class Art(f: Int, pmid: String, status: String,
      im: Option[String], ti: String, year: Int, ab: Option[String])

  // Titles chosen so clf_score = (h32(ti) % 12) / 2.0 lands in specific
  // calibration buckets (h32 = big-endian first-8-hex of md5, the
  // repo-wide portable hash):
  //   10001 4.0 ptyp include (deleted by file 2's DeleteCitation)
  //   10002 2.0 no-ptyp include → rev 3.0 include (value overwrite)
  //   10003 0.5 no-ptyp include (later the already-annotated doc)
  //   10004 0.0 ptyp EXCLUDE   → rev 2.5 include (flip: stale exclude row)
  //   10005 0.5 ptyp include   → rev 0.0 EXCLUDE (flip: stale include row)
  //   10006 0.0 no-ptyp EXCLUDE
  //   10007 4.5 ptyp include, precise (new in file 2)
  private val articles = Seq(
    Art(1, "10001", "MEDLINE", Some("Human"),
      "Aspirin versus placebo after myocardial infarction follow-up.", 2015,
      Some("Aspirin background.")),
    Art(1, "10002", "MEDLINE", Some("Automated"),
      "Metformin for type 2 diabetes prevention trial.", 2016,
      Some("Metformin background.")),
    Art(1, "10003", "In-Process", None,
      "Cognitive therapy for chronic insomnia trial pilot.", 2017, None),
    Art(1, "10004", "MEDLINE", Some("Human"),
      "Vitamin D supplementation in older adults cohort.", 2018, None),
    Art(1, "10005", "MEDLINE", Some("Curated"),
      "Exercise training for heart failure randomized.", 2019, None),
    Art(1, "10006", "PubMed-not-MEDLINE", Some("Human"),
      "Acupuncture for lower back pain.", 2020, None),
    Art(2, "10002", "MEDLINE", Some("Automated"),
      "Metformin for type 2 diabetes prevention and remission in adults.", 2022,
      Some("Revised metformin background.")),
    Art(2, "10004", "MEDLINE", Some("Human"),
      "Vitamin D supplementation in frail older adults study.", 2023, None),
    Art(2, "10005", "MEDLINE", Some("Curated"),
      "Exercise training for chronic heart failure randomized.", 2024, None),
    Art(2, "10007", "MEDLINE", Some("Human"),
      "Statin therapy for stroke prevention study.", 2021,
      Some("Statin background.")))

  /** DeleteCitation pmids per update file: file 1 deletes an unknown
    * pmid (no-op path); file 2 deletes 10001 (present in pubmed) and an
    * unknown.
    */
  private val deletions = Map(1 -> Seq("99999"), 2 -> Seq("10001", "88888"))

  private def fileName(f: Int) = s"pubmed26n000$f.xml.gz"

  private def fileXml(f: Int): String = {
    val arts = articles.filter(_.f == f).map { a =>
      val imAttr = a.im.map(m => s""" IndexingMethod="$m"""").getOrElse("")
      val abEl = a.ab
        .map(t => s"<Abstract><AbstractText>$t</AbstractText></Abstract>")
        .getOrElse("")
      s"""<MedlineCitation Status="${a.status}"$imAttr>
  <PMID>${a.pmid}</PMID>
  <Article>
    <ArticleTitle>${a.ti}</ArticleTitle>
    $abEl
    <Journal><JournalIssue><PubDate><Year>${a.year}</Year></PubDate></JournalIssue></Journal>
  </Article>
</MedlineCitation>"""
    }
    val dels = deletions(f).map(p => s"<PMID>$p</PMID>").mkString
    s"""<?xml version="1.0" encoding="UTF-8"?>
<PubmedArticleSet>
${arts.mkString("\n")}
<DeleteCitation>$dels</DeleteCitation>
</PubmedArticleSet>
"""
  }

  /** Already-annotated doc (the P8 anti-join's `done` set). */
  private val doneAnnotated = "10003"

  /** The search term: interventions C5 expands to {C5, C11, C22}; C5
    * itself annotates no stored title, so a hit proves the expansion
    * composed through the stored snapshot.
    */
  private val searchTerm = PicoTerm("interventions", "C5")
  private def expansion: Seq[String] = Pico.expandTerm(searchTerm, expand = true)

  private val q62Pipeline = Q(
    "q62_pipeline_e2e",
    (s, d) => {
      import s.implicits._
      // ---- stage 0: author the gz update files + calibration artifact
      val dir = Files.createTempDirectory("graft-e2e-")
      for (f <- Seq(1, 2)) {
        val gz = new java.util.zip.GZIPOutputStream(
          Files.newOutputStream(dir.resolve(fileName(f))))
        try gz.write(fileXml(f).getBytes("UTF-8")) finally gz.close()
      }
      Files.writeString(dir.resolve("rct_model_calibration.json"),
        Coverage.calibrationJson)
      val cfg = Calibration.load(s,
        dir.resolve("rct_model_calibration.json").toString)
      val store = new TableStore(s, dir.resolve("store").toString, "pmid")

      // ---- stages 1-3 per update file: read → classify → route → MERGE
      for (f <- Seq(1, 2)) {
        val path = dir.resolve(fileName(f)).toString
        val parsed = PubmedXml.project(PubmedXml.read(s, path))
        val scored = parsed
          .select(col("pmid"), col("status"), col("indexing_method"),
            col("ti"), col("ab"), col("year"))
          .withColumn("clf_score",
            (graft.functions.Portable.h32(col("ti")) % 12).cast("double") / 2.0)
          .withColumn("clf_type",
            Calibration.modelChoice(col("status"), col("indexing_method")))
        val flagged = scored.select(
          Seq(col("*")) ++ Calibration.flags(cfg, col("status"),
            col("indexing_method"), col("clf_score")): _*)
          .withColumn("source_filename", lit(fileName(f)))
          .withColumn("seq", lit(1))
        val tombs = PubmedXml.readDeletions(s, path)

        // is_rct_sensitive routes: full record vs slim negative-cache
        // record (pubmed.py:518-531); tombstones hit BOTH tables.
        store.merge("pubmed",
          flagged.filter(col("is_rct_sensitive")).drop("status", "indexing_method"),
          tombs, fileName(f))
        store.merge("pubmed_excludes",
          flagged.filter(!col("is_rct_sensitive")).drop("ti", "ab", "status",
            "indexing_method"),
          tombs, fileName(f))
      }
      // T2 probe: an already-logged file must be a no-op
      val parsed2 = PubmedXml.project(
        PubmedXml.read(s, dir.resolve(fileName(2)).toString))
      require(!store.merge("pubmed",
          parsed2.select(col("pmid")).withColumn("seq", lit(1)),
          s.emptyDataset[String].toDF("pmid"), fileName(2)),
        "update_log failed to gate an already-applied file")

      // ---- stage 4: annotate-new over the STORED snapshot
      val pub = store.snapshot("pubmed").get
      val anns = Annotator.annotateNew(
          pub.select(col("pmid").cast("long").as("doc_id"), col("ti").as("text")),
          Seq(doneAnnotated.toLong).toDF("doc_id"))
        .toDF().withColumnRenamed("doc_id", "ann_id")

      // ---- stage 5: picosearch predicate + score over the stored tables
      val hit = exists(graft.functions.Hash32.meshForCol(col("ti"), 1),
        c => c.getField("cui").isin(expansion: _*))
      val included = pub
        .join(anns, pub("pmid").cast("long") === anns("ann_id"), "left")
        .select(lit("included").as("arm"), col("pmid"), col("year"),
          col("clf_type"), col("clf_score"), col("is_rct_precise"),
          col("is_rct_balanced"), col("source_filename"), hit.as("hit"),
          (col("prob_low_rob") * col("num_randomized")).as("score"),
          col("effect"))
      val excluded = store.snapshot("pubmed_excludes").get
        .select(lit("excluded").as("arm"), col("pmid"), col("year"),
          col("clf_type"), col("clf_score"), col("is_rct_precise"),
          col("is_rct_balanced"), col("source_filename"),
          lit(null).cast("boolean").as("hit"),
          lit(null).cast("double").as("score"),
          lit(null).cast("string").as("effect"))
      included.unionByName(excluded).orderBy("arm", "pmid")
    },
    Some {
      val srcRows = articles.map { a =>
        s"(${a.f}, ${quote(a.pmid)}, ${quote(a.status)}, " +
          s"${quote(a.im.getOrElse("Human"))}, ${quote(a.ti)}, " +
          s"CAST(${a.year} AS BIGINT))"
      }.mkString(", ")
      val delRows = deletions.toSeq.sortBy(_._1)
        .flatMap { case (f, ps) => ps.map(p => s"($f, ${quote(p)})") }
        .mkString(", ")
      def h32(x: String) = s"CAST('0x' || substr(md5($x), 1, 8) AS BIGINT)"
      val inList = expansion.map(quote).mkString(", ")
      s"""WITH src(f, pmid, status, im, ti, year) AS (VALUES $srcRows),
        dels(f, pmid) AS (VALUES $delRows),
        scored AS (SELECT *,
            CAST(${h32("ti")} % 12 AS DOUBLE) / 2.0 AS clf_score,
            (status = 'MEDLINE' AND im <> 'Automated') AS ptyp FROM src),
        flagged AS (SELECT *,
            CASE WHEN ptyp THEN 'svm_cnn_ptyp' ELSE 'svm_cnn' END AS clf_type,
            clf_score >= (CASE WHEN ptyp THEN ${Coverage.calPtyp._1} ELSE ${Coverage.calNoPtyp._1} END) AS is_rct_precise,
            clf_score >= (CASE WHEN ptyp THEN ${Coverage.calPtyp._2} ELSE ${Coverage.calNoPtyp._2} END) AS is_rct_balanced,
            clf_score >= (CASE WHEN ptyp THEN ${Coverage.calPtyp._3} ELSE ${Coverage.calNoPtyp._3} END) AS sens
          FROM scored),
        lastdel AS (SELECT pmid, max(f) AS df FROM dels GROUP BY 1),
        pub AS (SELECT * FROM (SELECT *, row_number()
              OVER (PARTITION BY pmid ORDER BY f DESC) AS rn
            FROM flagged WHERE sens) t WHERE rn = 1),
        pubk AS (SELECT p.* FROM pub p LEFT JOIN lastdel d ON p.pmid = d.pmid
          WHERE d.df IS NULL OR p.f >= d.df),
        exc AS (SELECT * FROM (SELECT *, row_number()
              OVER (PARTITION BY pmid ORDER BY f DESC) AS rn
            FROM flagged WHERE NOT sens) t WHERE rn = 1),
        exck AS (SELECT e.* FROM exc e LEFT JOIN lastdel d ON e.pmid = d.pmid
          WHERE d.df IS NULL OR e.f >= d.df),
        ann AS (SELECT pmid, md5(ti) AS h FROM pubk
          WHERE pmid <> ${quote(doneAnnotated)}),
        ann2 AS (SELECT pmid,
            ${h32("h || '_n'")} % 2000000 AS raw_n,
            CAST(${h32("h || '_p'")} % 100 AS DOUBLE) / 100.0 AS prob,
            ${h32("h || '_e'")} % 3 AS e
          FROM ann),
        ann3 AS (SELECT pmid,
            CASE WHEN raw_n > 1000000 THEN NULL ELSE raw_n END AS num, prob,
            CASE e WHEN 0 THEN 'significant-positive'
                   WHEN 1 THEN 'significant-negative'
                   ELSE 'no-diff' END AS effect
          FROM ann2),
        inc AS (SELECT 'included' AS arm, p.pmid, p.year, p.clf_type,
            p.clf_score, p.is_rct_precise, p.is_rct_balanced,
            'pubmed26n000' || CAST(p.f AS VARCHAR) || '.xml.gz' AS source_filename,
            len(list_filter(string_split(p.ti, ' '), w ->
              ${h32("w")} % 3 = 1 AND
              ('C' || CAST(${h32("w")} % 100 AS VARCHAR)) IN ($inList))) > 0 AS hit,
            a.prob * a.num AS score, a.effect
          FROM pubk p LEFT JOIN ann3 a ON p.pmid = a.pmid),
        exco AS (SELECT 'excluded' AS arm, pmid, year, clf_type, clf_score,
            is_rct_precise, is_rct_balanced,
            'pubmed26n000' || CAST(f AS VARCHAR) || '.xml.gz' AS source_filename,
            CAST(NULL AS BOOLEAN) AS hit, CAST(NULL AS DOUBLE) AS score,
            CAST(NULL AS VARCHAR) AS effect
          FROM exck)
        SELECT * FROM (SELECT * FROM inc UNION ALL SELECT * FROM exco) u
        ORDER BY arm, pmid"""
    })

  /** q189: CURATION PIPELINE END-TO-END — the full training-data
    * funnel as ONE query, chaining the repo's curation primitives in
    * their production order and emitting the per-stage ablation table
    * (the q166 accounting, over the REAL operators): token floor →
    * eval-split removal → exact dedup (min doc per md5) → near-dup
    * cluster representatives (min SURVIVING member of each q67
    * MinHash-LSH component) → benchmark decontamination (q72's
    * broadcast shingle probe) → quality gates (q166's thresholds) →
    * sequence packing (q71's shard concat at ctx 256, reported as the
    * final sequence count). Every stage is the same logic its
    * standalone entry verifies, so the funnel is auditable against
    * q21/q67/q72/q166/q71 one stage at a time.
    *
    * 100 TB shape: stage membership is carried as BOOLEAN FLAG
    * COLUMNS on one frame (the q166 pattern) — never as chained
    * re-counted sub-DataFrames — so the whole funnel is ONE pass over
    * the corpus plus the aggregations the standalone operators already
    * need: the exact-dedup min-per-hash (uniform h key), the q67
    * component build (single-shuffle bucketPairs + CC), a broadcast
    * eval-shingle probe, and the 8-row shard packing sum. The final
    * count table is a single aggregate of flag sums.
    */
  private val q189CurationE2e = Q(
    "q189_curation_e2e",
    (s, d) => {
      val toks = tokens(col("text"))
      val nStop = size(filter(toks, t => t.isin("the", "a"))).cast("long")
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"),
        size(toks).cast("long").as("nt"), md5(col("text")).as("h"),
        (size(toks) >= 25).as("f1"))
        .withColumn("f2", col("f1") && col("doc_id") % 97 =!= 0)
      val keepEx = base.filter(col("f2"))
        .groupBy("h").agg(min("doc_id").as("keep_ex"))
      val comp = graft.ops.Cluster.connectedComponents(
        graft.ops.Dedup.candidates(graft.ops.Dedup.bandSignatures(
          Tables.documents(s, d).filter(size(tokens(col("text"))) >= 4)
            .select(col("doc_id"),
              graft.functions.Hash32.shingleHashes(col("text")).as("hs"))))
          .select("a_id", "b_id"))
        .select(col("id").as("doc_id"), col("cluster"))
      val evalSh = Tables.documents(s, d)
        .filter(col("doc_id") % 97 === 0 && size(tokens(col("text"))) >= 4)
        .select(explode(array_distinct(
          graft.functions.Hash32.shingleHashes(col("text")))).as("sh"))
        .distinct()
      val contam = Tables.documents(s, d)
        .filter(size(tokens(col("text"))) >= 4)
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.Hash32.shingleHashes(col("text")))).as("sh"))
        .join(broadcast(evalSh), "sh")
        .select("doc_id").distinct().withColumn("is_contam", lit(true))
      val j1 = base.join(keepEx, Seq("h"), "left")
        .withColumn("f3", col("f2") && col("doc_id") === col("keep_ex"))
        .join(comp, Seq("doc_id"), "left")
      val minSurv = j1.filter(col("f3") && col("cluster").isNotNull)
        .groupBy("cluster").agg(min("doc_id").as("keep_id"))
      val flagged = j1.join(broadcast(minSurv), Seq("cluster"), "left")
        .withColumn("f4", col("f3") &&
          (col("cluster").isNull || col("doc_id") === col("keep_id")))
        .join(contam, Seq("doc_id"), "left")
        .withColumn("f5", col("f4") && col("is_contam").isNull)
        .withColumn("f6", col("f5") &&
          round(nStop.cast("double") / col("nt"), 6) <= 0.08 &&
          round(length(regexp_replace(col("text"), " ", "")).cast("double") /
            col("nt"), 6) <= 8.0)
      val shard = graft.functions.Portable.h32(col("doc_id").cast("string")) % 8
      val packed = flagged.filter(col("f6"))
        .select(shard.as("shard"), col("nt"))
        .groupBy("shard").agg(sum("nt").as("tot"))
        .agg(coalesce(sum(expr("(tot + 255) DIV 256")), lit(0L)).as("n"))
        .withColumn("k", lit(1))
      val cnts = flagged.agg(count(lit(1)).as("n0"),
        sum(col("f1").cast("long")).as("n1"),
        sum(col("f2").cast("long")).as("n2"),
        sum(col("f3").cast("long")).as("n3"),
        sum(col("f4").cast("long")).as("n4"),
        sum(col("f5").cast("long")).as("n5"),
        sum(col("f6").cast("long")).as("n6"))
        .withColumn("k", lit(1))
      cnts.join(packed, "k")
        .selectExpr("""stack(7,
            1, 'token_floor', n0, n1,
            2, 'eval_split',  n1, n2,
            3, 'exact_dedup', n2, n3,
            4, 'near_dup',    n3, n4,
            5, 'decontam',    n4, n5,
            6, 'quality',     n5, n6,
            7, 'pack_256',    n6, n)
          AS (stage_idx, stage, n_in, n_out)""")
        .orderBy("stage_idx")
    },
    Some(s"""WITH RECURSIVE ${Training.clusterCtes},
      base AS (SELECT doc_id, text,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
          md5(text) AS h
        FROM documents),
      s1 AS (SELECT * FROM base WHERE nt >= 25),
      s2 AS MATERIALIZED (SELECT * FROM s1 WHERE doc_id % 97 <> 0),
      ke AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY h),
      s3 AS (SELECT s2.* FROM s2 JOIN ke USING (doc_id)),
      cl AS MATERIALIZED (SELECT s3.*, c.cluster FROM s3
        LEFT JOIN comp c ON c.id = s3.doc_id),
      ms AS (SELECT cluster, min(doc_id) AS keep_id FROM cl
        WHERE cluster IS NOT NULL GROUP BY 1),
      s4 AS MATERIALIZED (SELECT cl.doc_id, cl.text, cl.nt FROM cl
        LEFT JOIN ms ON cl.cluster = ms.cluster
        WHERE cl.cluster IS NULL OR cl.doc_id = ms.keep_id),
      esh AS (SELECT DISTINCT
          CAST('0x' || substr(md5(sx), 1, 8) AS BIGINT) AS hh
        FROM (SELECT unnest(list_transform(range(1, len(w) - 2),
            i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3]))) AS sx
          FROM (SELECT string_split(text, ' ') AS w FROM documents
            WHERE doc_id % 97 = 0))),
      dsh AS (SELECT DISTINCT doc_id,
          CAST('0x' || substr(md5(sx), 1, 8) AS BIGINT) AS hh
        FROM (SELECT doc_id, unnest(list_transform(range(1, len(w) - 2),
            i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3]))) AS sx
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM s4))),
      bad AS MATERIALIZED (SELECT DISTINCT d.doc_id FROM dsh d JOIN esh ON d.hh = esh.hh),
      s5 AS MATERIALIZED (SELECT * FROM s4
        WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
      s6 AS MATERIALIZED (SELECT * FROM s5
        WHERE round(CAST(len(list_filter(string_split(text, ' '),
            t -> t IN ('the', 'a'))) AS DOUBLE) / nt, 6) <= 0.08
          AND round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / nt, 6)
            <= 8.0),
      shd AS (SELECT
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
            % 8 AS shard, nt FROM s6),
      pk AS (SELECT CAST(sum((tot + 255) // 256) AS BIGINT) AS n
        FROM (SELECT shard, CAST(sum(nt) AS BIGINT) AS tot
          FROM shd GROUP BY 1)),
      cnts AS MATERIALIZED (SELECT (SELECT count(*) FROM base) AS n0,
        (SELECT count(*) FROM s1) AS n1, (SELECT count(*) FROM s2) AS n2,
        (SELECT count(*) FROM s3) AS n3, (SELECT count(*) FROM s4) AS n4,
        (SELECT count(*) FROM s5) AS n5, (SELECT count(*) FROM s6) AS n6)
      SELECT 1 AS stage_idx, 'token_floor' AS stage,
        CAST(n0 AS BIGINT) AS n_in, CAST(n1 AS BIGINT) AS n_out FROM cnts
      UNION ALL SELECT 2, 'eval_split', n1, n2 FROM cnts
      UNION ALL SELECT 3, 'exact_dedup', n2, n3 FROM cnts
      UNION ALL SELECT 4, 'near_dup', n3, n4 FROM cnts
      UNION ALL SELECT 5, 'decontam', n4, n5 FROM cnts
      UNION ALL SELECT 6, 'quality', n5, n6 FROM cnts
      UNION ALL SELECT 7, 'pack_256', n6, (SELECT n FROM pk) FROM cnts
      ORDER BY stage_idx"""))

  val queries: Seq[Q] = Seq(q62Pipeline, q189CurationE2e)
}
