package graft.queries

import org.apache.spark.sql.functions._
import graft.annotate.SchwartzHearst
import graft.domain.Rules
import graft.io.Ris
import graft.query.Pico
import graft.query.Pico.{PicoQuery, PicoTerm}
import Sql.quote

/** Sink CORRECTNESS entries (S11/S12), promoting the spec-only sinks to
  * driver-checkable oracle entries per the round-2 verdict:
  *
  *  - q63: RIS export `dumps` of real picosearch results, round-tripped
  *    through `loads` (ris.py:112-128) — the fixpoint for standard
  *    2-char tags, PLUS the column-6 value-slicing quirk pinned: a
  *    4-char tag ("PMID") dumps as "PMID  - v" whose re-parse slices
  *    from column 6 yielding "- v", so it does NOT round-trip. The
  *    oracle recomputes the search in SQL and reconstructs the expected
  *    flattened records, quirk row included.
  *  - q64: the JSON API's 'json-short' row shaping (cnxapp.py:235-254):
  *    citation formatting (F3), Schwartz-Hearst abbrev_dict over the
  *    abstract (F4), punchline/score passthrough, article_type tag —
  *    over an authored fixture with a golden VALUES oracle (the
  *    shaping's abbrev field is not SQL-expressible).
  */
object Sinks {

  // ---- q63: RIS dumps round-trip over picosearch results --------------------

  private val q63Query = PicoQuery(
    terms = Seq(PicoTerm("population", "C10"), PicoTerm("interventions", "C64")))

  /** The reference's retmode='ris' record shape (cnxapp.py:247-254),
    * fielded from the search result row.
    */
  private def shape(id: Long, articleType: String): Ris.Record = Seq(
    "TY" -> Seq("JOUR"),
    "DB" -> Seq("Trialstreamer"),
    "ID" -> Seq(id.toString),
    "TI" -> Seq("doc " + id),
    "M3" -> Seq(articleType))

  private val q63RisDump = Q(
    "q63_ris_dump",
    (s, d) => {
      import s.implicits._
      val hits = Pico.search(s, d, q63Query)
        .filter(col("article_type") === "journal article")
        .orderBy("id").limit(10)
        .select(col("id"), col("article_type")).collect()
      val records: Seq[Ris.Record] =
        hits.toSeq.map(r => shape(r.getLong(0), r.getString(1)))
      // fixpoint for standard 2-char tags: loads(dumps(x)) == x
      require(Ris.loads(Ris.dumps(records)) == records,
        "RIS dump/load fixpoint broke for 2-char tags")
      // col-6 quirk: a 4-char tag's value re-parses as "- <v>"
      val quirk: Ris.Record = Seq("PMID" -> Seq("12345"), "TI" -> Seq("quirk"))
      Ris.loads(Ris.dumps(records :+ quirk)).zipWithIndex
        .flatMap { case (rec, rid) =>
          rec.flatMap { case (tag, vs) =>
            vs.zipWithIndex.map { case (v, i) => (rid.toLong, tag, i.toLong, v) }
          }
        }
        .toDF("rid", "tag", "idx", "value")
        .orderBy("rid", "tag", "idx")
    },
    Some(s"""WITH ${Flagship.annCte},
      ja AS (SELECT CAST(doc_id AS BIGINT) AS id,
               prob_low_rob * num_randomized AS score
             FROM ann WHERE lang = 'en' AND ${Flagship.predSql(q63Query)}
             ORDER BY score DESC NULLS LAST, doc_id LIMIT 250),
      sel AS (SELECT id FROM ja ORDER BY id LIMIT 10),
      ordered AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS rid FROM sel),
      tags(tag) AS (VALUES ('TY'), ('DB'), ('ID'), ('TI'), ('M3')),
      pairs AS (SELECT o.rid, t.tag, 0 AS idx,
          CASE t.tag WHEN 'TY' THEN 'JOUR'
                     WHEN 'DB' THEN 'Trialstreamer'
                     WHEN 'ID' THEN CAST(o.id AS VARCHAR)
                     WHEN 'TI' THEN 'doc ' || CAST(o.id AS VARCHAR)
                     ELSE 'journal article' END AS value
        FROM ordered o CROSS JOIN tags t),
      quirk AS (SELECT (SELECT count(*) FROM sel) AS rid, tag, idx, value
        FROM (VALUES ('PMID', 0, '- 12345'), ('TI', 0, 'quirk')) q(tag, idx, value))
      SELECT CAST(rid AS BIGINT) AS rid, tag, CAST(idx AS BIGINT) AS idx, value
      FROM (SELECT * FROM pairs UNION ALL SELECT * FROM quirk) u
      ORDER BY rid, tag, idx"""))

  // ---- q64: JSON API 'json-short' row shaping -------------------------------

  final case class Author(LastName: String)
  final case class ApiDoc(pmid: String, authors: Seq[Author], journal: String,
      year: Int, ti: String, ab: String, punchline_text: String,
      prob_low_rob: Double, num_randomized: Long, dois: Seq[String])

  private val apiDocs = Seq(
    ApiDoc("20001", Seq(Author("Smith"), Author("Jones")), "Lancet", 2020,
      "Aspirin trial", "We ran randomized controlled trials (RCTs) with quality of life (QoL) outcomes.",
      "Aspirin works.", 0.25, 240, Seq("10.1000/a1", "10.1000/a2")),
    ApiDoc("20002", Seq(Author("Garcia")), "BMJ", 2019,
      "Heparin study", "No abbreviations here.",
      "Heparin is ok.", 0.5, 1200, Seq()),
    ApiDoc("20003", Seq(), "Trials", 2021,
      "Statin cohort", "Area under the curve (AUC) was high.",
      "Statins lower risk.", 0.75, 88, Seq("10.2000/s3")))

  /** Hand-derived goldens: citation per get_cite (multi-author "et al.",
    * single author bare, no authors journal-only); abbrev pairs from
    * the reference Schwartz-Hearst semantics, sorted by abbreviation.
    */
  private val citationGolden = Map(
    "20001" -> "Smith et al., Lancet. 2020",
    "20002" -> "Garcia, BMJ. 2019",
    "20003" -> "Trials. 2021")
  private val abbrevGolden = Map(
    "20001" -> "QoL=quality of life|RCTs=randomized controlled trials",
    "20002" -> "",
    "20003" -> "AUC=Area under the curve")

  private val shUdf = udf { text: String =>
    SchwartzHearst.extractPairs(text).toSeq.sortBy(_._1)
      .map { case (a, b) => s"$a=$b" }.mkString("|")
  }

  private val q64JsonShape = Q(
    "q64_json_shape",
    (s, d) =>
      s.createDataFrame(apiDocs)
        .select(col("pmid"), col("ti"), col("year"),
          Rules.citation(col("authors"), col("journal"), col("year"))
            .as("citation"),
          col("punchline_text"), col("prob_low_rob"), col("num_randomized"),
          array_join(col("dois"), "|").as("dois_s"),
          shUdf(col("ab")).as("abbrev_dict"),
          lit("journal article").as("article_type"))
        .orderBy("pmid"),
    Some("SELECT * FROM (VALUES " + apiDocs.map { a =>
      val cite = citationGolden(a.pmid)
      Seq(quote(a.pmid), quote(a.ti), s"CAST(${a.year} AS INT)", quote(cite),
        quote(a.punchline_text), s"CAST(${a.prob_low_rob} AS DOUBLE)",
        s"CAST(${a.num_randomized} AS BIGINT)",
        quote(a.dois.mkString("|")), quote(abbrevGolden(a.pmid)),
        "'journal article'").mkString("(", ", ", ")")
    }.mkString(", ") +
      ") t(pmid, ti, year, citation, punchline_text, prob_low_rob, " +
      "num_randomized, dois_s, abbrev_dict, article_type) ORDER BY pmid"))

  val queries: Seq[Q] = Seq(q63RisDump, q64JsonShape)
}
