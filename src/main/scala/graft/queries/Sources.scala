package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.query.Pico
import graft.query.Pico.PicoTerm
import Sql.{meshSql, quote}

/** Remaining source readers (S6 medRxiv, S7 Unpaywall) and the
  * inverted-index access path (F19 / SURVEY §4's documented 100 TB
  * replacement for Postgres' GIN containment indexes).
  */
object Sources {

  // ---- q55: inverted concept index (F19; SURVEY §4 option b) ----------------

  /** The picosearch containment query answered via an inverted
    * (field, cui) → doc_id index instead of a scan-side predicate: one
    * index probe per term, AND = INTERSECT of candidate id sets. At
    * 100 TB the index table is bucketed by (field, cui) so each probe
    * reads only its buckets — the "GIN index as data" plan; results are
    * provably identical to the scan-based q40 predicate.
    */
  private val q55InvertedIndex = Q(
    "q55_inverted_index",
    (s, d) => {
      val ann = Pico.annotations(Tables.documents(s, d))
      val idx = Seq("population", "interventions", "outcomes")
        .map(f => ann.select(lit(f).as("field"), col("doc_id"),
          explode(col(s"${f}_mesh")).as("m"))
          .select(col("field"), col("m.cui").as("cui"), col("doc_id")))
        .reduce(_ unionByName _)
        .distinct()
      val terms = Seq(PicoTerm("population", "C10"), PicoTerm("interventions", "C64"))
      terms.map { t =>
        val expansion = Pico.expandTerm(t, expand = true)
        idx.filter(col("field") === t.field && col("cui").isin(expansion: _*))
          .select(col("doc_id")).distinct()
      }.reduce(_ intersect _)
        .orderBy("doc_id")
    },
    Some(s"""WITH ann AS (SELECT doc_id,
        ${meshSql(0)} AS population_mesh,
        ${meshSql(1)} AS interventions_mesh,
        ${meshSql(2)} AS outcomes_mesh
        FROM documents),
      idx AS (
        SELECT DISTINCT 'population' AS field, m.cui AS cui, doc_id
        FROM (SELECT doc_id, unnest(population_mesh) AS m FROM ann)
        UNION
        SELECT DISTINCT 'interventions', m.cui, doc_id
        FROM (SELECT doc_id, unnest(interventions_mesh) AS m FROM ann)
        UNION
        SELECT DISTINCT 'outcomes', m.cui, doc_id
        FROM (SELECT doc_id, unnest(outcomes_mesh) AS m FROM ann))
      SELECT doc_id FROM idx
      WHERE field = 'population' AND cui IN (${Pico.expandTerm(PicoTerm("population", "C10"), expand = true).map(quote).mkString(", ")})
      INTERSECT
      SELECT doc_id FROM idx
      WHERE field = 'interventions' AND cui IN (${Pico.expandTerm(PicoTerm("interventions", "C64"), expand = true).map(quote).mkString(", ")})
      ORDER BY doc_id"""))

  // ---- q56: medRxiv JSON feed + manual extras (S6; medrxiv_cov.py:22-43) ----

  private val feedJson =
    """{"rels": [
      {"rel_title": "Remdesivir in severe covid", "rel_abs": "A trial abstract.",
       "rel_date": "2020-05-04", "rel_doi": "10.1101/2020.04.01",
       "rel_link": "https://medrxiv.example/1", "rel_site": "medRxiv",
       "rel_authors": [{"author_name": "A Chen", "author_inst": "UCL"},
                        {"author_name": "B Diaz", "author_inst": "UBC"}]},
      {"rel_title": "Masks and transmission", "rel_abs": "Another abstract.",
       "rel_date": "2020-06-15", "rel_doi": "10.1101/2020.06.02",
       "rel_link": "https://medrxiv.example/2", "rel_site": "bioRxiv",
       "rel_authors": [{"author_name": "C Evans", "author_inst": "MIT"}]}
    ]}"""

  private val extrasJson =
    """[{"ti": "Manually added preprint", "ab": "Extra abstract.",
        "date": "2020-07-01", "doi": "10.1101/2020.07.03",
        "url": "https://medrxiv.example/3", "year": 2020,
        "authors": [{"author_name": "D Fox", "author_inst": "ETH"}],
        "source": "medRxiv"}]"""

  private val q56Medrxiv = Q(
    "q56_medrxiv_feed",
    (s, d) => {
      val dir = Files.createTempDirectory("graft-medrxiv-")
      Files.writeString(dir.resolve("feed.json"), feedJson)
      val extrasDir = Files.createTempDirectory("graft-medrxiv-extras-")
      Files.writeString(extrasDir.resolve("manual_preprints.json"), extrasJson)

      val feed = s.read.option("multiLine", "true").json(dir.toString)
        .select(explode(col("rels")).as("r"))
        .select(col("r.rel_title").as("ti"), col("r.rel_abs").as("ab"),
          col("r.rel_date").as("date"), col("r.rel_doi").as("doi"),
          col("r.rel_link").as("url"),
          year(to_date(col("r.rel_date"), "yyyy-MM-dd")).cast("long").as("year"),
          col("r.rel_site").as("source"),
          size(col("r.rel_authors")).cast("long").as("n_authors"))
      val extras = s.read.option("multiLine", "true").json(extrasDir.toString)
        .select(col("ti"), col("ab"), col("date"), col("doi"), col("url"),
          col("year").cast("long").as("year"), col("source"),
          size(col("authors")).cast("long").as("n_authors"))
      feed.unionByName(extras).orderBy("doi")
    },
    Some("""SELECT * FROM (VALUES
      ('Remdesivir in severe covid', 'A trial abstract.', '2020-05-04',
       '10.1101/2020.04.01', 'https://medrxiv.example/1', CAST(2020 AS BIGINT),
       'medRxiv', CAST(2 AS BIGINT)),
      ('Masks and transmission', 'Another abstract.', '2020-06-15',
       '10.1101/2020.06.02', 'https://medrxiv.example/2', 2020, 'bioRxiv', 1),
      ('Manually added preprint', 'Extra abstract.', '2020-07-01',
       '10.1101/2020.07.03', 'https://medrxiv.example/3', 2020, 'medRxiv', 1)
      ) t(ti, ab, date, doi, url, year, source, n_authors)
      ORDER BY doi"""))

  // ---- q57: Unpaywall JSONL + doi→pmid lookup (S7/J2; upw.py:20-88) ---------

  final case class PubDois(pmid: String, dois: Seq[String])
  final case class MendeleyLink(pmid: String, doi: String)

  private val pubDois = Seq(
    PubDois("p1", Seq("10.1000/aaaaaaa")),
    PubDois("p2", Seq("10.2000/bbbbbbb", "10.9999/x")), // only dois[0] used
    PubDois("p3", Seq()))

  private val mendeley = Seq(
    MendeleyLink("p4", "10.3000/ccccccc"),  // len>12 -> added
    MendeleyLink("p5", "10.40/d"),          // len<=12 -> dropped (upw.py:45-47)
    MendeleyLink("p6", "10.1000/aaaaaaa"))  // OVERWRITES p1 (the reference's
                                            // `pmid not in dict` checks pmids
                                            // against DOI keys, so mendeley
                                            // always wins on a shared doi)

  private val upwJsonl = Seq(
    """{"doi": "10.1000/aaaaaaa", "is_oa": true, "best_oa_location": {"url": "https://oa.example/1", "url_for_pdf": "https://oa.example/1.pdf"}}""",
    """{"doi": "10.2000/bbbbbbb", "is_oa": false, "best_oa_location": {"url": "https://oa.example/2", "url_for_pdf": null}}""",
    """{"doi": "10.3000/ccccccc", "is_oa": true, "best_oa_location": {"url": "https://oa.example/3", "url_for_pdf": null}}""",
    """{"doi": "10.5000/unknown", "is_oa": true, "best_oa_location": {"url": "https://oa.example/4", "url_for_pdf": null}}""")

  private val q57Upw = Q(
    "q57_upw_links",
    (s, d) => {
      val dir = Files.createTempDirectory("graft-upw-")
      Files.writeString(dir.resolve("dump.jsonl"), upwJsonl.mkString("\n"))

      val fromPubmed = s.createDataFrame(pubDois)
        .select(col("pmid"), element_at(col("dois"), 1).as("doi"))
        .filter(col("doi").isNotNull)
        .withColumn("prio", lit(1))
      val fromMendeley = s.createDataFrame(mendeley)
        .filter(length(col("doi")) > 12)
        .withColumn("prio", lit(2))
      val w = Window.partitionBy(col("doi")).orderBy(col("prio").desc, col("pmid"))
      val lookup = fromPubmed.unionByName(fromMendeley)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doi"), col("pmid"))

      s.read.json(dir.toString)
        .filter(col("is_oa"))
        .join(broadcast(lookup), "doi")
        .select(col("pmid"), col("is_oa"),
          col("best_oa_location.url").as("url"),
          col("best_oa_location.url_for_pdf").as("url_for_pdf"))
        .orderBy("pmid")
    },
    Some("""SELECT * FROM (VALUES
      ('p4', true, 'https://oa.example/3', CAST(NULL AS VARCHAR)),
      ('p6', true, 'https://oa.example/1', 'https://oa.example/1.pdf')
      ) t(pmid, is_oa, url, url_for_pdf) ORDER BY pmid"""))

  // ---- q61: ingest shim listing + md5 validation (S3) -----------------------

  /** The transport contract: filename-ordered listing with md5 sidecar
    * validation, corrupt files quarantined (pubmed.py:42-117,289-299).
    */
  private val q61IngestShim = Q(
    "q61_ingest_shim",
    (s, d) => {
      import graft.io.IngestShim
      val dir = Files.createTempDirectory("graft-shim-")
      def put(name: String, content: String, md5: Option[String]): Unit = {
        Files.writeString(dir.resolve(name), content)
        md5.foreach(m => Files.writeString(dir.resolve(name + ".md5"), m))
      }
      put("u2.xml", "beta", Some(IngestShim.md5Hex("beta".getBytes("UTF-8"))))
      put("u1.xml", "alpha", Some(IngestShim.md5Hex("alpha".getBytes("UTF-8"))))
      put("u3.xml", "gamma", Some("00000000000000000000000000000000"))
      put("u4.xml", "delta", None)
      Files.writeString(dir.resolve("notes.txt"), "ignored")
      import s.implicits._
      val listed = IngestShim.listValidated(dir.toString, ".xml")
        .map(l => (l.name, l.md5Ok.map(_.toString).getOrElse("none")))
      val applied = IngestShim.applyList(dir.toString, ".xml").map(_.name).toSet
      listed.toDF("name", "md5_ok")
        .withColumn("in_apply_list",
          col("name").isin(applied.toSeq.map(x => x: Any): _*))
        .orderBy("name")
    },
    Some("""SELECT * FROM (VALUES
      ('u1.xml', 'true', true), ('u2.xml', 'true', true),
      ('u3.xml', 'false', false), ('u4.xml', 'none', true)
      ) t(name, md5_ok, in_apply_list) ORDER BY name"""))

  val queries: Seq[Q] = Seq(q55InvertedIndex, q56Medrxiv, q57Upw, q61IngestShim)
}
