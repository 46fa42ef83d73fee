package graft.queries

import org.apache.spark.sql.functions._
import graft.domain.Rules
import Sql.quote

/** Trialstreamer domain operators (SURVEY §2.8, VERDICT items F3-F15)
  * over inline fixtures.
  *
  * Each fixture is defined ONCE as Scala data and rendered both into a
  * Spark LocalRelation (createDataFrame) and into the DuckDB oracle's
  * VALUES clause, so the two engines provably see identical input. The
  * fixture rows are chosen to hit every rule branch, quirk, and
  * documented edge case of the reference implementation (citations in
  * graft.domain.Rules).
  */
object Domain {

  // ---- fixture→SQL rendering -------------------------------------------------

  private def sqlList(ss: Seq[String]): String =
    ss.map(quote).mkString("[", ", ", "]")

  // ---- q31: is_rct rules + is_recruiting (ictrp.py:66-186) -------------------

  final case class TrialDesign(fid: Long, study_design: String, recruitment_status: String)

  private val trialDesigns = Seq(
    TrialDesign(1, "Randomized Controlled Trial", "Recruiting"),
    TrialDesign(2, "Observational study", "Not Recruiting"),
    TrialDesign(3, "Case-Control Study", "Completed"),
    TrialDesign(4, "Phase III, double-blind", null),
    TrialDesign(5, "Single-arm open label", "Recruiting"),
    TrialDesign(6, "Some novel design", "recruiting"),
    TrialDesign(7, null, "Recruiting"),
    TrialDesign(8, "Allocation: Randomized; Intervention Model: Parallel", "Enrolling"),
    TrialDesign(9, "Non-randomized controlled trial", "Not Recruiting"),
    TrialDesign(10, "quasi-randomized   controlled", ""),
    TrialDesign(11, "N-of-1 trial", "Recruiting"),
    TrialDesign(12, "Cross-over design", "Not Recruiting"),
    TrialDesign(13, "retrospective cohort", "Recruiting"),
    TrialDesign(14, "CROSSOVER TRIAL", "Recruiting"))

  private val trialDesignValues = trialDesigns.map(t =>
    s"(${t.fid}, ${quote(t.study_design)}, ${quote(t.recruitment_status)})").mkString(", ")

  private val q31IsRct = Q(
    "q31_is_rct_rules",
    (s, d) =>
      s.createDataFrame(trialDesigns)
        .select(col("fid"),
          Rules.isRct(col("study_design")).as("is_rct"),
          Rules.isRecruiting(col("recruitment_status")).as("is_recruiting"))
        .orderBy("fid"),
    Some(s"""WITH fx(fid, study_design, recruitment_status) AS (VALUES $trialDesignValues),
      c AS (SELECT fid, study_design, recruitment_status,
        regexp_replace(regexp_replace(lower(study_design), '[^a-zA-Z0-9]', ' ', 'g'), '\\s\\s+', ' ', 'g') AS cleaned
        FROM fx)
      SELECT CAST(fid AS BIGINT) AS fid,
        CASE WHEN study_design IS NULL THEN 'unknown'
             WHEN len(list_filter(${sqlList(Rules.nonRctPhrases)}, p -> contains(cleaned, p))) > 0 THEN 'non-RCT'
             WHEN len(list_filter(${sqlList(Rules.rctPhrases)}, p -> contains(cleaned, p))) > 0 THEN 'RCT'
             ELSE 'unknown' END AS is_rct,
        CASE WHEN recruitment_status = 'Recruiting' THEN 'recruiting'
             WHEN recruitment_status = 'Not Recruiting' THEN 'not recruiting'
             ELSE 'unknown' END AS is_recruiting
      FROM c ORDER BY fid"""))

  // ---- q32: registry-id regex extraction (ictrp.py:31-52) --------------------

  final case class AbstractRow(fid: Long, ab: String)

  private val abstracts = Seq(
    AbstractRow(1, "Registered as NCT01234567 and ISRCTN12345678 before enrolment."),
    AbstractRow(2, "Australian trial ACTRN12605000123456 with Brazilian arm RBR-7qvb9c."),
    AbstractRow(3, "Chinese registrations ChiCTR-IOR-12345678 and ChiCTR1800012345."),
    AbstractRow(4, "Iranian id IRCT20150303021315N2 plus PACTR201601001234567."),
    AbstractRow(5, "European EUCTR2015-001234-12 and German DRKS00012345."),
    AbstractRow(6, "Japanese ids JPRN-C000012345, JPRN-JMA-IIA00123, JPRN-UMIN000012345, JPRN-JapicCTI-123456."),
    AbstractRow(7, "Korean KCT0001234, Dutch NTR1234, Peruvian PER-012-34."),
    AbstractRow(8, "Cuban RPCEC00001234, Sri Lankan SLCTR/2015/012, Thai TCTR20150101001."),
    AbstractRow(9, "Indian CTRI/2015/01/005634 is truncated by the reference regex."),
    AbstractRow(10, "No registry identifiers appear in this abstract."),
    AbstractRow(11, "Duplicate mention of NCT01234567 and NCT01234567 yields two rows."))

  private val abstractValues =
    abstracts.map(a => s"(${a.fid}, ${quote(a.ab)})").mkString(", ")

  private val q32RegistryIds = Q(
    "q32_registry_ids",
    (s, d) =>
      s.createDataFrame(abstracts)
        .select(col("fid"), explode(Rules.registryIds(col("ab"))).as("regid"))
        .orderBy("fid", "regid"),
    Some(s"""WITH fx(fid, ab) AS (VALUES $abstractValues)
      SELECT CAST(fid AS BIGINT) AS fid,
        unnest(regexp_extract_all(ab, '${Rules.registryIdPattern}')) AS regid
      FROM fx ORDER BY 1, 2"""))

  // ---- q33: per-registry date parsing (ictrp_csv.py:73-92,218-261) -----------

  final case class RegDate(fid: Long, regid: String, date_raw: String)

  private val regDates = Seq(
    RegDate(1, "NCT01234567", "05/06/2019"),
    RegDate(2, "ChiCTR1800012345", "2019-06-05"), // prefix guesses "C" (lowercase h) -> null

    RegDate(3, "CTRI/2015/01/005634", "05-06-2019"),
    RegDate(4, "IRCT20150303021315N2", "2018-01-31"),
    RegDate(5, "ACTRN12605000123456", "31/12/2001"), // prefix ACTRN not in table (keyed ANZCTR) -> null
    RegDate(6, "RBR-7qvb9c", "01/02/2020"),          // prefix RBR not in table (keyed REBEC) -> null
    RegDate(7, "NCT99999999", "31/31/2019"),         // unparseable -> null
    RegDate(8, "nct123", "2020-12-31"),              // no capitals -> UNK -> ISO format
    RegDate(9, "DRKS00012345", "29/02/2019"),        // invalid leap date -> null
    RegDate(10, "SLCTR/2015/012", "2015-07-01"))

  private val regDateValues =
    regDates.map(r => s"(${r.fid}, ${quote(r.regid)}, ${quote(r.date_raw)})").mkString(", ")

  private def sqlInList(ss: Seq[String]): String = ss.map(quote).mkString(", ")

  private val q33RegistryDates = Q(
    "q33_registry_dates",
    (s, d) =>
      s.createDataFrame(regDates)
        .select(col("fid"), col("regid"),
          Rules.guessRegistry(col("regid")).as("registry"),
          Rules.dateRegistered(col("regid"), col("date_raw")).as("date_registered"))
        .withColumn("year", year(col("date_registered")).cast("long"))
        .orderBy("fid"),
    Some(s"""WITH fx(fid, regid, date_raw) AS (VALUES $regDateValues),
      g AS (SELECT *, CASE WHEN regexp_extract(regid, '[A-Z]+', 0) = ''
                             OR regexp_extract(regid, '[A-Z]+', 0) IS NULL
                           THEN 'UNK' ELSE regexp_extract(regid, '[A-Z]+', 0) END AS registry
            FROM fx),
      p AS (SELECT fid, regid, registry,
          CASE WHEN registry IN (${sqlInList(Rules.dmySlashRegistries)})
                 THEN CAST(try_strptime(date_raw, '%d/%m/%Y') AS DATE)
               WHEN registry IN (${sqlInList(Rules.ymdDashRegistries)})
                 THEN CAST(try_strptime(date_raw, '%Y-%m-%d') AS DATE)
               WHEN registry IN (${sqlInList(Rules.dmyDashRegistries)})
                 THEN CAST(try_strptime(date_raw, '%d-%m-%Y') AS DATE)
               ELSE NULL END AS date_registered
        FROM g)
      SELECT CAST(fid AS BIGINT) AS fid, regid, registry, date_registered,
        CAST(year(date_registered) AS BIGINT) AS year
      FROM p ORDER BY fid"""))

  // ---- q34: page-range expansion (pmreader.py:130-141) -----------------------

  final case class PageRow(fid: Long, pages: String)

  private val pageRows = Seq(
    PageRow(1, "123-9"), PageRow(2, "100-10"), PageRow(3, "123"),
    PageRow(4, ""), PageRow(5, "1-2-3"), PageRow(6, "9-123"),
    PageRow(7, "555-62"), PageRow(8, "10-9"))

  private val pageValues =
    pageRows.map(p => s"(${p.fid}, ${quote(p.pages)})").mkString(", ")

  private val q34PageRanges = Q(
    "q34_page_ranges",
    (s, d) =>
      s.createDataFrame(pageRows)
        .select(col("fid"), col("pages"), Rules.pageRange(col("pages")).as("pr"))
        .select(col("fid"), col("pages"),
          col("pr.page_from").as("page_from"), col("pr.page_to").as("page_to"))
        .orderBy("fid"),
    Some(s"""WITH fx(fid, pages) AS (VALUES $pageValues),
      e AS (SELECT fid, pages, len(string_split(pages, '-')) AS n,
              string_split(pages, '-')[1] AS p0, string_split(pages, '-')[2] AS p1,
              len(string_split(pages, '-')[1]) AS l0, len(string_split(pages, '-')[2]) AS l1
            FROM fx)
      SELECT CAST(fid AS BIGINT) AS fid, pages,
        CASE WHEN n IN (1, 2) THEN p0 ELSE NULL END AS page_from,
        CASE WHEN n = 2 THEN substr(p0, 1,
               CASE WHEN l0 - l1 >= 0 THEN l0 - l1 ELSE greatest(2*l0 - l1, 0) END) || p1
             WHEN n = 1 THEN p0 ELSE NULL END AS page_to
      FROM e ORDER BY fid"""))

  // ---- q35: title fallback chain (pmreader.py:73-84) -------------------------

  final case class TitleRow(fid: Long, title: String, vernacular: String)

  private val titleRows = Seq(
    TitleRow(1, "A real title.", "Un titre"),
    TitleRow(2, "", "Un titre reel."),
    TitleRow(3, "[Not Available].", "Echte Ueberschrift."),
    TitleRow(4, "[Not Available].", ""),
    TitleRow(5, "  padded title  ", "x"),
    TitleRow(6, null, null),
    TitleRow(7, "", "[Not Available]."))

  private val titleValues =
    titleRows.map(t => s"(${t.fid}, ${quote(t.title)}, ${quote(t.vernacular)})").mkString(", ")

  private val q35TitleChain = Q(
    "q35_title_chain",
    (s, d) =>
      s.createDataFrame(titleRows)
        .select(col("fid"),
          Rules.titleChain(col("title"), col("vernacular")).as("ti"))
        .orderBy("fid"),
    Some(s"""WITH fx(fid, title, vernacular) AS (VALUES $titleValues)
      SELECT CAST(fid AS BIGINT) AS fid,
        CASE WHEN trim(coalesce(title, '')) <> ''
                  AND trim(coalesce(title, '')) <> '[Not Available].'
               THEN trim(title)
             WHEN trim(coalesce(vernacular, '')) <> ''
                  AND trim(coalesce(vernacular, '')) <> '[Not Available].'
               THEN trim(vernacular)
             ELSE '' END AS ti
      FROM fx ORDER BY fid"""))

  // ---- q36: citation formatter (cnxapp.py:157-165) ---------------------------

  final case class Author(LastName: String)
  final case class CiteRow(fid: Long, authors: Seq[Author], journal: String, year: Int)

  private val citeRows = Seq(
    CiteRow(1, Seq(Author("Smith"), Author("Jones"), Author("Lee")), "Lancet", 2019),
    CiteRow(2, Seq(Author("Garcia")), "BMJ", 2020),
    CiteRow(3, Seq(), "Nature Medicine", 2021),
    CiteRow(4, Seq(Author("O'Neil"), Author("Wu")), "JAMA", 2018))

  private val citeValues = citeRows.map { r =>
    val authors =
      if (r.authors.isEmpty) "CAST([] AS STRUCT(LastName VARCHAR)[])"
      else r.authors.map(a => s"struct_pack(LastName := ${quote(a.LastName)})")
        .mkString("[", ", ", "]")
    s"(${r.fid}, $authors, ${quote(r.journal)}, ${r.year})"
  }.mkString(", ")

  private val q36Citation = Q(
    "q36_citation",
    (s, d) =>
      s.createDataFrame(citeRows)
        .select(col("fid"),
          Rules.citation(col("authors"), col("journal"), col("year")).as("cite"))
        .orderBy("fid"),
    Some(s"""WITH fx(fid, authors, journal, year) AS (VALUES $citeValues)
      SELECT CAST(fid AS BIGINT) AS fid,
        CASE WHEN len(authors) >= 1
               THEN authors[1].LastName ||
                    (CASE WHEN len(authors) > 1 THEN ' et al.' ELSE '' END) ||
                    ', ' || journal || '. ' || CAST(year AS VARCHAR)
             ELSE journal || '. ' || CAST(year AS VARCHAR) END AS cite
      FROM fx ORDER BY fid"""))

  // ---- q37: year extraction with MedlineDate fallback (pmreader.py:143-156) --

  final case class YearRow(fid: Long, year_raw: String, medlinedate: String)

  private val yearRows = Seq(
    YearRow(1, "2001", ""),
    YearRow(2, "", "1998 Dec-1999 Jan"),
    YearRow(3, "", "Winter 2020"),
    YearRow(4, "", "no year in here"),
    YearRow(5, "", "18999 then 2020"),
    YearRow(6, null, null),
    YearRow(7, "1987", "1999"))

  private val yearValues =
    yearRows.map(y => s"(${y.fid}, ${quote(y.year_raw)}, ${quote(y.medlinedate)})").mkString(", ")

  private val q37YearExtract = Q(
    "q37_year_extract",
    (s, d) =>
      s.createDataFrame(yearRows)
        .select(col("fid"),
          Rules.yearExtract(col("year_raw"), col("medlinedate")).as("year"))
        .orderBy("fid"),
    Some(s"""WITH fx(fid, year_raw, medlinedate) AS (VALUES $yearValues)
      SELECT CAST(fid AS BIGINT) AS fid,
        CASE WHEN trim(coalesce(year_raw, '')) <> ''
               THEN TRY_CAST(trim(year_raw) AS BIGINT)
             ELSE TRY_CAST(nullif(regexp_extract(coalesce(medlinedate, ''),
               '\\b(19|20)\\d{2}\\b', 0), '') AS BIGINT) END AS year
      FROM fx ORDER BY fid"""))

  // ---- q38: DOI cleanup (mendeley.py:21-39) ----------------------------------

  final case class DoiRow(fid: Long, raw: String)

  private val doiRows = Seq(
    DoiRow(1, "<a href=\"https://doi.org/10.1000/xyz123\">link</a>"),
    DoiRow(2, "https://doi.org/10.1234/abc.def"),
    DoiRow(3, "doi:10.5555/1234abcd"),
    DoiRow(4, "10.1000/direct.09"),
    DoiRow(5, "no doi in here"),
    DoiRow(6, "<a class=\"x\">no href</a>"),
    DoiRow(7, "http://dx.doi.org/10.9999/path/deep:1"))

  private val doiValues =
    doiRows.map(r => s"(${r.fid}, ${quote(r.raw)})").mkString(", ")

  private val q38DoiClean = Q(
    "q38_doi_clean",
    (s, d) =>
      s.createDataFrame(doiRows)
        .select(col("fid"), Rules.doiClean(col("raw")).as("doi"))
        .orderBy("fid"),
    Some(s"""WITH fx(fid, raw) AS (VALUES $doiValues),
      s1 AS (SELECT fid, CASE WHEN raw LIKE '<a %'
               THEN regexp_extract(raw, 'href="([^"]*)"', 1) ELSE raw END AS v FROM fx),
      s2 AS (SELECT fid, CASE WHEN v LIKE 'http%'
               THEN regexp_replace(v, '^https?://[^/]*/', '') ELSE v END AS v FROM s1)
      SELECT CAST(fid AS BIGINT) AS fid,
        CASE WHEN v LIKE '10.%' THEN v
             ELSE nullif(regexp_extract(v, '10.\\d{4,9}/[-._;()/:A-Za-z0-9]+', 0), '') END AS doi
      FROM s2 ORDER BY fid"""))

  // ---- q39: structured-abstract flatten (pmreader.py:86-104) -----------------

  final case class Section(header: String, text: String)
  final case class AbsRow(fid: Long, sections: Seq[Section])

  private val absRows = Seq(
    AbsRow(1, Seq(Section("BACKGROUND", "Some intro."),
      Section("METHODS", "We did things."), Section("_UNSTRUCTURED", "Tail text."))),
    AbsRow(2, Seq(Section("_UNSTRUCTURED", "Just plain text."))),
    AbsRow(3, Seq()),
    AbsRow(4, Seq(Section("RESULTS", "All good."))))

  private val absValues = absRows.map { r =>
    val secs =
      if (r.sections.isEmpty) "CAST([] AS STRUCT(header VARCHAR, text VARCHAR)[])"
      else r.sections.map(s =>
        s"struct_pack(header := ${quote(s.header)}, text := ${quote(s.text)})")
        .mkString("[", ", ", "]")
    s"(${r.fid}, $secs)"
  }.mkString(", ")

  private val q39AbstractFlatten = Q(
    "q39_abstract_flatten",
    (s, d) =>
      s.createDataFrame(absRows)
        .select(col("fid"),
          Rules.abstractFlatten(col("sections")).as("plaintext"))
        .orderBy("fid"),
    Some(s"""WITH fx(fid, sections) AS (VALUES $absValues)
      SELECT CAST(fid AS BIGINT) AS fid,
        coalesce(array_to_string(list_transform(sections, s ->
          CASE WHEN s.header <> '_UNSTRUCTURED'
               THEN s.header || chr(10) || chr(10) || chr(10) || s.text
               ELSE s.text END), chr(10)), '') AS plaintext
      FROM fx ORDER BY fid"""))

  val queries: Seq[Q] = Seq(
    q31IsRct, q32RegistryIds, q33RegistryDates, q34PageRanges,
    q35TitleChain, q36Citation, q37YearExtract, q38DoiClean,
    q39AbstractFlatten)
}
