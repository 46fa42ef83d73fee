package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.annotate.Annotator
import graft.domain.Rules
import Sql.quote

/** Remaining SURVEY §2 operators: registry-links m:n linkage (J4/U4),
  * the /meta endpoint (A1/S13/F16), and the annotate-new-records
  * pipeline (P8 + batched enrichment + P10 guard).
  */
object Coverage {

  // ---- q51: registry links m:n (ictrp.py:386-419) ---------------------------

  final case class Pub(pmid: String, ab: String, regids: Seq[String])
  final case class Trial(regid: String, ti: String)

  /** pm_data registry ids ∪ regex hits over the abstract (U4), exploded
    * into the m:n link table, consumed by a 3-way join (J4).
    */
  private val pubs = Seq(
    Pub("p1", "Also registered as NCT01234567 and ISRCTN12345678.", Seq("NCT01234567")),
    Pub("p2", "Registry id ACTRN12605000123456 appears only in the abstract.", Seq()),
    Pub("p3", "No ids in text.", Seq("NCT01234567", "ISRCTN12345678")),
    Pub("p4", "Unlinked trial DRKS00012345.", Seq()))

  private val trials = Seq(
    Trial("NCT01234567", "Aspirin RCT"),
    Trial("ISRCTN12345678", "Heparin RCT"),
    Trial("ACTRN12605000123456", "Exercise RCT"))

  private val q51RegistryLinks = Q(
    "q51_registry_links",
    (s, d) => {
      val p = s.createDataFrame(pubs)
      val t = s.createDataFrame(trials)
      val links = p.select(col("pmid"),
          explode(array_union(col("regids"), Rules.registryIds(col("ab")))).as("regid"))
      links.join(t, "regid")
        .select(col("regid"), col("pmid"), col("ti"))
        .orderBy("regid", "pmid")
    },
    Some(s"""WITH pubs(pmid, ab, regids) AS (VALUES ${pubs.map(p =>
        s"(${quote(p.pmid)}, ${quote(p.ab)}, ${p.regids.map(quote).mkString("[", ", ", "]")})")
        .mkString(", ")}),
      trials(regid, ti) AS (VALUES ${trials.map(t =>
        s"(${quote(t.regid)}, ${quote(t.ti)})").mkString(", ")}),
      links AS (SELECT pmid, unnest(list_distinct(list_concat(regids,
          regexp_extract_all(ab, '${Rules.registryIdPattern}')))) AS regid
        FROM pubs)
      SELECT l.regid, l.pmid, t.ti
      FROM links l JOIN trials t ON l.regid = t.regid
      ORDER BY 1, 2"""))

  // ---- q53: /meta (cnxapp.py:107-123; A1 count + S13 recency + F16) ---------

  private val q53Meta = Q(
    "q53_meta",
    (s, d) => {
      // one declarative plan: two 1-row aggregates cross-joined (no
      // driver-side action); humanized count (F16) + recency (S13)
      val nRct = Tables.documents(s, d).filter(col("lang") === "en")
        .agg(count(lit(1)).as("n_rcts"))
      val lastTs = Tables.events(s, d).agg(max(col("ts")).as("last_ts"))
      nRct.crossJoin(lastTs)
        .select(
          col("n_rcts"),
          format_number(col("n_rcts"), 0).as("n_rcts_str"),
          date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss").as("last_update"))
    },
    Some("""SELECT
        (SELECT count(*) FROM documents WHERE lang = 'en') AS n_rcts,
        format('{:,}', (SELECT count(*) FROM documents WHERE lang = 'en')) AS n_rcts_str,
        strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_update
      FROM events"""))

  // ---- q54: annotate-new pipeline (pubmed.py:561-635) -----------------------

  /** done = doc_id % 7 == 0 (already in the annotations table); todo =
    * anti-join; stub-enrich per partition; P10 nulls num_randomized
    * above 1e6. The oracle reproduces the deterministic stub.
    */
  private val q54AnnotateNew = Q(
    "q54_annotate_new",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val done = docs.filter(col("doc_id") % 7 === 0).select(col("doc_id"))
      Annotator.annotateNew(docs, done).toDF()
        .orderBy("doc_id")
    },
    Some("""WITH todo AS (SELECT doc_id, md5(text) AS h,
          string_split(text, ' ') AS ws FROM documents WHERE doc_id % 7 <> 0),
      ann AS (SELECT doc_id,
          CAST('0x' || substr(md5(h || '_n'), 1, 8) AS BIGINT) % 2000000 AS raw_n,
          CAST(CAST('0x' || substr(md5(h || '_p'), 1, 8) AS BIGINT) % 100 AS DOUBLE) / 100.0 AS prob_low_rob,
          array_to_string(ws[1:least(4, len(ws))], ' ') AS punchline_text,
          CAST('0x' || substr(md5(h || '_e'), 1, 8) AS BIGINT) % 3 AS e
        FROM todo)
      SELECT doc_id,
        CASE WHEN raw_n > 1000000 THEN NULL ELSE raw_n END AS num_randomized,
        prob_low_rob, punchline_text,
        CASE e WHEN 0 THEN 'significant-positive'
               WHEN 1 THEN 'significant-negative'
               ELSE 'no-diff' END AS effect
      FROM ann ORDER BY doc_id"""))

  // ---- q60: calibration-artifact thresholding (P6/P7) -----------------------

  /** The reference's published calibration values (data/
    * rct_model_calibration.json, 2019-01-25) for the two models the
    * classify() gate selects between.
    */
  private[queries] val calPtyp = (3.7070634945154053, 2.1057231048584675, 0.11009816065822994)
  private[queries] val calNoPtyp = (2.1089724394656733, 1.6498606653424648, 0.059092738155457056)

  private[queries] val calibrationJson =
    s"""{"timestamp": "RobotReviewer RCT model calibration 2019-01-25 13:03",
        "thresholds": {
          "svm_cnn": {"precise": ${calNoPtyp._1}, "balanced": ${calNoPtyp._2}, "sensitive": ${calNoPtyp._3}},
          "svm_cnn_ptyp": {"precise": ${calPtyp._1}, "balanced": ${calPtyp._2}, "sensitive": ${calPtyp._3}}}}"""

  final case class Scored(pmid: String, status: String, indexing_method: String, clf_score: Double)

  private val scored = Seq(
    Scored("s1", "MEDLINE", "Human", 4.0),           // ptyp model, all true
    Scored("s2", "MEDLINE", "Curated", 2.5),         // ptyp: balanced+sensitive
    Scored("s3", "MEDLINE", "Automated", 2.5),       // gate falls back: precise too
    Scored("s4", "In-Process", "Human", 1.0),        // no-ptyp: sensitive only
    Scored("s5", "MEDLINE", "Human", calPtyp._2),    // exact boundary -> true (>=)
    Scored("s6", "PubMed-not-MEDLINE", "Human", 0.0))

  private val q60Calibration = Q(
    "q60_calibration",
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft-cal-")
      java.nio.file.Files.writeString(dir.resolve("rct_model_calibration.json"),
        calibrationJson)
      val cfg = graft.domain.Calibration.load(s, dir.toString)
      val cols = graft.domain.Calibration.flags(
        cfg, col("status"), col("indexing_method"), col("clf_score"))
      s.createDataFrame(scored)
        .select(Seq(col("pmid"),
          graft.domain.Calibration.modelChoice(col("status"), col("indexing_method"))
            .as("clf_type")) ++ cols: _*)
        .orderBy("pmid")
    },
    Some(s"""WITH fx(pmid, status, indexing_method, clf_score) AS (VALUES ${scored.map(r =>
        s"(${quote(r.pmid)}, ${quote(r.status)}, ${quote(r.indexing_method)}, ${r.clf_score})")
        .mkString(", ")}),
      g AS (SELECT *, (status = 'MEDLINE' AND indexing_method <> 'Automated') AS ptyp FROM fx)
      SELECT pmid,
        CASE WHEN ptyp THEN 'svm_cnn_ptyp' ELSE 'svm_cnn' END AS clf_type,
        clf_score >= (CASE WHEN ptyp THEN ${calPtyp._1} ELSE ${calNoPtyp._1} END) AS is_rct_precise,
        clf_score >= (CASE WHEN ptyp THEN ${calPtyp._2} ELSE ${calNoPtyp._2} END) AS is_rct_balanced,
        clf_score >= (CASE WHEN ptyp THEN ${calPtyp._3} ELSE ${calNoPtyp._3} END) AS is_rct_sensitive
      FROM g ORDER BY pmid"""))

  val queries: Seq[Q] = Seq(q51RegistryLinks, q53Meta, q54AnnotateNew, q60Calibration)
}
