package graft.queries

import org.apache.spark.sql.functions._
import graft.annotate.{Minimap, SchwartzHearst}
import Sql.quote

/** CORRECTNESS entries for the algorithmic annotators (Schwartz-Hearst
  * F4, minimap F5), exercised THROUGH Spark as UDFs over fixture rows.
  *
  * These algorithms (greedy longest-match, stateful backward alignment)
  * are not expressible in portable SQL, so the oracle is a frozen
  * golden VALUES table instead of an equivalent computation:
  *  - q42's golden pairs were generated by RUNNING THE REFERENCE
  *    implementation (schwartz_hearst.py) on the fixture sentences —
  *    the Scala port was additionally fuzz-checked for exact parity
  *    against the reference on 320 sentences;
  *  - q43's golden concepts are hand-derived from the frozen minimap
  *    dictionaries (Minimap.scala) and pinned.
  * A golden oracle is independent of the implementation: any regression
  * in the port breaks the hash match.
  */
object Annotate {

  // ---- q42: Schwartz-Hearst abbreviation mining ------------------------------

  final case class AbbrevDoc(fid: Long, ab: String)

  private val abbrevDocs = Seq(
    AbbrevDoc(1, "Randomized controlled trials (RCTs) of low molecular weight heparin (LMWH) were included."),
    AbbrevDoc(2, "The World Health Organization (WHO) recommends acetylsalicylic acid (ASA) for acute myocardial infarction (AMI; n=250)."),
    AbbrevDoc(3, "Intention-to-treat (ITT) analysis of quality of life (QoL) outcomes."),
    AbbrevDoc(4, "An unbalanced (example sentence yields no pairs."),
    AbbrevDoc(5, "Chronic obstructive pulmonary disease (COPD) and the area under the curve (AUC: 0.82)."),
    AbbrevDoc(6, "No parentheticals at all in this sentence."))

  /** Golden pairs from the REFERENCE python on the fixtures above. */
  private val goldenPairs: Seq[(Long, String, String)] = Seq(
    (1L, "RCTs", "Randomized controlled trials"),
    (1L, "LMWH", "low molecular weight heparin"),
    (2L, "WHO", "World Health Organization"),
    (2L, "ASA", "acetylsalicylic acid"),
    (2L, "AMI", "acute myocardial infarction"),
    (3L, "ITT", "Intention-to-treat"),
    (3L, "QoL", "quality of life"),
    (5L, "COPD", "Chronic obstructive pulmonary disease"),
    (5L, "AUC", "area under the curve"))

  private val shUdf = udf { text: String =>
    SchwartzHearst.extractPairs(text).toSeq
  }

  private val q42Abbreviations = Q(
    "q42_abbreviations",
    (s, d) =>
      s.createDataFrame(abbrevDocs)
        .select(col("fid"), explode(shUdf(col("ab"))).as("p"))
        .select(col("fid"), col("p._1").as("abbrev"), col("p._2").as("definition"))
        .orderBy("fid", "abbrev"),
    Some("SELECT CAST(fid AS BIGINT) AS fid, abbrev, definition FROM (VALUES " +
      goldenPairs.map { case (f, a, df) => s"($f, ${quote(a)}, ${quote(df)})" }
        .mkString(", ") +
      ") t(fid, abbrev, definition) ORDER BY fid, abbrev"))

  // ---- q43: minimap concept mapping ------------------------------------------

  final case class SnippetDoc(fid: Long, snippet: String)

  private val snippetDocs = Seq(
    SnippetDoc(1, "Adults with type 2 diabetes and hypertension."),
    SnippetDoc(2, "Low-molecular-weight heparin versus aspirin after heart attacks."),
    SnippetDoc(3, "Diabetes, and separately breast cancer, in pregnant women."),
    SnippetDoc(4, "A study of the common cold."),
    SnippetDoc(5, "Children with COVID-19 [pilot] infections."),
    SnippetDoc(6, "Nothing matches here."))

  /** Hand-derived from the frozen dictionaries:
    *  1: "type 2 diabetes" longest-match (not bare "diabetes"),
    *     then "hypertension";
    *  2: hyphens→spaces so "low molecular weight heparin" wins over
    *     "heparin"; "aspirin"; "heart attacks"→lemma "heart attack";
    *  3: bare "diabetes"; "breast cancer" over "cancer";
    *     "pregnant women"→lemma "pregnant woman";
    *  4: "cold" is ambiguous (2 CUIs) but the reference's non-overlap
    *     filter keeps only the FIRST match at a span (right_border
    *     advances immediately, minimap.py:195-200) → C0009443 only;
    *  5: "children"→lemma "child"; "[pilot]" parenthetical stripped;
    *     "covid 19" via tokenizer; "infections" lemma not in dict alone;
    *  6: nothing.
    */
  private val goldenConcepts: Seq[(Long, String, String, String)] = Seq(
    (1L, "C0011860", "D003924", "Diabetes Mellitus, Type 2"),
    (1L, "C0020538", "D006973", "Hypertension"),
    (2L, "C0023652", "D006495", "Heparin, Low-Molecular-Weight"),
    (2L, "C0004057", "D001241", "Aspirin"),
    (2L, "C0027051", "D009203", "Myocardial Infarction"),
    (3L, "C0011849", "D003920", "Diabetes Mellitus"),
    (3L, "C0006142", "D001943", "Breast Neoplasms"),
    (3L, "C0033011", "D011247", "Pregnant Women"),
    (4L, "C0009443", "D003139", "Common Cold"),
    (5L, "C0008059", "D002648", "Child"),
    (5L, "TS-COV19", "D000086382", "COVID-19"))

  private val mmUdf = udf { text: String =>
    Minimap.uniqueTerms(Seq(text))
  }

  private val q43Minimap = Q(
    "q43_minimap",
    (s, d) =>
      s.createDataFrame(snippetDocs)
        .select(col("fid"), explode(mmUdf(col("snippet"))).as("c"))
        .select(col("fid"), col("c._1").as("cui"), col("c._2").as("mesh_ui"),
          col("c._3").as("mesh_term"))
        .orderBy("fid", "cui"),
    Some("SELECT CAST(fid AS BIGINT) AS fid, cui, mesh_ui, mesh_term FROM (VALUES " +
      goldenConcepts.map { case (f, c, u, t) => s"($f, ${quote(c)}, ${quote(u)}, ${quote(t)})" }
        .mkString(", ") +
      ") t(fid, cui, mesh_ui, mesh_term) ORDER BY fid, cui"))

  val queries: Seq[Q] = Seq(q42Abbreviations, q43Minimap)
}
