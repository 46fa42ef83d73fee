package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.io.{PubmedXml, Ris}
import Sql.quote

/** Reader-layer CORRECTNESS entries: PubMed MedlineCitation XML
  * (S1/S2 + the F10-F14 scalar chain) and the RIS codec (S8). Fixtures
  * are authored here; oracles are literal expected VALUES, so the whole
  * read→project chain is hash-pinned.
  */
object Readers {

  // ---- q45: PubMed XML ------------------------------------------------------

  private val pubmedXmlFixture: String =
    """<?xml version="1.0" encoding="UTF-8"?>
<PubmedArticleSet>
<MedlineCitation Status="MEDLINE" IndexingMethod="Automated">
  <PMID>10001</PMID>
  <Article>
    <ArticleTitle>Aspirin for myocardial infarction.</ArticleTitle>
    <Language>eng</Language>
    <Abstract>
      <AbstractText Label="BACKGROUND">Intro text.</AbstractText>
      <AbstractText Label="METHODS">We did an RCT.</AbstractText>
      <AbstractText>Free tail.</AbstractText>
    </Abstract>
    <AuthorList>
      <Author><LastName>Smith</LastName><ForeName>Jane</ForeName><Initials>J</Initials><AffiliationInfo><Affiliation>Oxford</Affiliation></AffiliationInfo></Author>
      <Author><LastName>Jones</LastName><ForeName>Tom</ForeName><Initials>T</Initials></Author>
    </AuthorList>
    <Journal>
      <Title>The Lancet</Title><ISOAbbreviation>Lancet</ISOAbbreviation>
      <JournalIssue><Volume>365</Volume><Issue>9475</Issue><PubDate><Year>2005</Year><Month>Jun</Month></PubDate></JournalIssue>
    </Journal>
    <Pagination><MedlinePgn>123-9</MedlinePgn></Pagination>
    <PublicationTypeList>
      <PublicationType>Journal Article</PublicationType>
      <PublicationType>Randomized Controlled Trial</PublicationType>
    </PublicationTypeList>
    <ELocationID EIdType="doi">10.1000/lancet.123</ELocationID>
    <DataBankList><DataBank><AccessionNumberList><AccessionNumber>NCT00123456</AccessionNumber></AccessionNumberList></DataBank></DataBankList>
  </Article>
  <MeshHeadingList>
    <MeshHeading><DescriptorName>Aspirin</DescriptorName></MeshHeading>
    <MeshHeading><DescriptorName>Humans</DescriptorName></MeshHeading>
  </MeshHeadingList>
</MedlineCitation>
<MedlineCitation Status="In-Process">
  <PMID>10002</PMID>
  <Article>
    <ArticleTitle>[Not Available].</ArticleTitle>
    <VernacularTitle>Une etude francaise.</VernacularTitle>
    <Journal>
      <Title>Rev Med</Title>
      <JournalIssue><Volume>12</Volume><PubDate><MedlineDate>2000 Jan-Feb</MedlineDate></PubDate></JournalIssue>
    </Journal>
    <Pagination><MedlinePgn>55</MedlinePgn></Pagination>
    <PublicationTypeList><PublicationType>Journal Article</PublicationType></PublicationTypeList>
  </Article>
  <MeshHeadingList><MeshHeading><DescriptorName>France</DescriptorName></MeshHeading></MeshHeadingList>
</MedlineCitation>
<MedlineCitation Status="MEDLINE">
  <PMID>10003</PMID>
  <Article><ArticleTitle>Minimal record.</ArticleTitle></Article>
</MedlineCitation>
<DeleteCitation><PMID>99901</PMID><PMID>99902</PMID></DeleteCitation>
</PubmedArticleSet>
"""

  /** Expected projection, hand-derived from the fixture + the reference
    * field semantics (pmreader.py:158-177).
    */
  private val pubmedExpected: Seq[(String, String, String, String, String,
      String, String, Option[Long], String, String, String, String, String,
      String, String, String, String, String, Option[Int], String)] = Seq(
    ("10001", "MEDLINE", "Automated", "Aspirin for myocardial infarction.",
      "BACKGROUND\n\n\nIntro text.\nMETHODS\n\n\nWe did an RCT.\nFree tail.",
      "The Lancet", "Lancet", Some(2005L), "Jun", "365", "9475", "123", "129",
      "Journal Article|Randomized Controlled Trial", "NCT00123456",
      "10.1000/lancet.123", "Aspirin|Humans", "eng", Some(2), "Smith"),
    ("10002", "In-Process", "Human", "Une etude francaise.", "",
      "Rev Med", null, Some(2000L), null, "12", null, "55", "55",
      "Journal Article", null, null, "France", null, None, null),
    ("10003", "MEDLINE", "Human", "Minimal record.", "",
      null, null, None, null, null, null, "", "",
      null, null, null, null, null, None, null))

  private val q45PubmedXml = Q(
    "q45_pubmed_xml",
    (s, d) => {
      // gzipped, as PubMed ships its baselines (S1): the XML source
      // decompresses by extension
      val dir = Files.createTempDirectory("graft-pmxml-")
      val gz = new java.util.zip.GZIPOutputStream(
        Files.newOutputStream(dir.resolve("baseline.xml.gz")))
      try gz.write(pubmedXmlFixture.getBytes("UTF-8")) finally gz.close()
      val deletions = PubmedXml.readDeletions(s, dir.toString)
        .collect().map(_.getString(0)).sorted
      require(deletions.toSeq == Seq("99901", "99902"),
        s"DeleteCitation tombstones misread: ${deletions.mkString(",")}")
      PubmedXml.project(PubmedXml.read(s, dir.toString))
        .select(col("pmid"), col("status"), col("indexing_method"), col("ti"),
          col("ab"), col("journal"), col("journal_abbrv"), col("year"),
          col("month"), col("volume"), col("issue"), col("page_from"),
          col("page_to"),
          array_join(col("ptyp"), "|").as("ptyp_s"),
          array_join(col("registry_ids"), "|").as("regids_s"),
          array_join(col("dois"), "|").as("dois_s"),
          array_join(col("mesh"), "|").as("mesh_s"),
          col("language"),
          when(col("authors").isNotNull, size(col("authors")))
            .cast("int").as("n_authors"),
          element_at(col("authors"), 1).getField("LastName").as("first_author"))
        .orderBy("pmid")
    },
    Some("SELECT * FROM (VALUES " + pubmedExpected.map { r =>
      val cells = Seq(quote(r._1), quote(r._2), quote(r._3), quote(r._4), quote(r._5),
        quote(r._6), quote(r._7),
        r._8.map(y => s"CAST($y AS BIGINT)").getOrElse("CAST(NULL AS BIGINT)"),
        quote(r._9), quote(r._10), quote(r._11), quote(r._12), quote(r._13),
        quote(r._14), quote(r._15), quote(r._16), quote(r._17), quote(r._18),
        r._19.map(n => s"CAST($n AS INT)").getOrElse("CAST(NULL AS INT)"),
        quote(r._20))
      cells.mkString("(", ", ", ")")
    }.mkString(", ") +
      ") t(pmid, status, indexing_method, ti, ab, journal, journal_abbrv, " +
      "year, month, volume, issue, page_from, page_to, ptyp_s, regids_s, " +
      "dois_s, mesh_s, language, n_authors, first_author) ORDER BY pmid"))

  // ---- q46: RIS parse (PubMed + Ovid EndNote dialects) ----------------------

  private val risPubmedFixture: String =
    """PMID- 12345
TI  - A randomized trial of something
      with a continuation line
AU  - Smith J
AU  - Jones T

PMID- 67890
TI  - Second record
AU  - Brown K
"""

  private val risOvidFixture: String =
    """<1. >
VN  - Ovid Technologies
DB  - Embase
<2. >
VN  - Ovid Technologies
TI  - Ovid record two
"""

  /** Ovid RIS dialect: bare "n." record headers (ris.py:52-55). */
  private val risOvidRisFixture: String =
    """1.
TI  - Ovid RIS one
AU  - Adams B
2.
TI  - Ovid RIS two
"""

  /** Wiley dialect: blank-line delimited with ignorable provider
    * header lines (ris.py:33-44).
    */
  private val risWileyFixture: String =
    """Record #1 of 2
Provider: John Wiley & Sons, Ltd.
Content: text/plain; charset="UTF-8"
TY  - JOUR
TI  - Wiley one

Record #2 of 2
Provider: John Wiley & Sons, Ltd.
TY  - JOUR
TI  - Wiley two
"""

  private val q46Ris = Q(
    "q46_ris_parse",
    (s, d) => {
      import s.implicits._
      def rows(dialect: String, text: String) =
        Ris.loads(text).zipWithIndex.flatMap { case (rec, rid) =>
          rec.flatMap { case (tag, vs) =>
            vs.zipWithIndex.map { case (v, i) =>
              (dialect, rid.toLong, tag, i.toLong, v)
            }
          }
        }
      (rows("pubmed", risPubmedFixture) ++ rows("ovid_en", risOvidFixture) ++
        rows("ovid_ris", risOvidRisFixture) ++ rows("wiley", risWileyFixture))
        .toDF("dialect", "rid", "tag", "idx", "value")
        .orderBy("dialect", "rid", "tag", "idx")
    },
    Some("""SELECT * FROM (VALUES
      ('ovid_en', CAST(0 AS BIGINT), 'VN', CAST(0 AS BIGINT), 'Ovid Technologies'),
      ('ovid_en', 0, 'DB', 0, 'Embase'),
      ('ovid_en', 1, 'VN', 0, 'Ovid Technologies'),
      ('ovid_en', 1, 'TI', 0, 'Ovid record two'),
      ('ovid_ris', 0, 'TI', 0, 'Ovid RIS one'),
      ('ovid_ris', 0, 'AU', 0, 'Adams B'),
      ('ovid_ris', 1, 'TI', 0, 'Ovid RIS two'),
      ('pubmed', 0, 'PMID', 0, '12345'),
      ('pubmed', 0, 'TI', 0, 'A randomized trial of something'),
      ('pubmed', 0, 'TI', 1, 'with a continuation line'),
      ('pubmed', 0, 'AU', 0, 'Smith J'),
      ('pubmed', 0, 'AU', 1, 'Jones T'),
      ('pubmed', 1, 'PMID', 0, '67890'),
      ('pubmed', 1, 'TI', 0, 'Second record'),
      ('pubmed', 1, 'AU', 0, 'Brown K'),
      ('wiley', 0, 'TY', 0, 'JOUR'),
      ('wiley', 0, 'TI', 0, 'Wiley one'),
      ('wiley', 1, 'TY', 0, 'JOUR'),
      ('wiley', 1, 'TI', 0, 'Wiley two')
      ) t(dialect, rid, tag, idx, value)
      ORDER BY dialect, rid, tag, idx"""))

  val queries: Seq[Q] = Seq(q45PubmedXml, q46Ris)
}
