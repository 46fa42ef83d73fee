package graft.queries

import graft.query.Pico
import graft.query.Pico.{PicoQuery, PicoTerm}
import Sql.meshSql

/** CORRECTNESS entries for the real-data-model picosearch (struct
  * containment + subtree expansion + arm gating). The oracle SQL is
  * generated from the SAME plan-time expansion the Spark side uses —
  * exactly mirroring the reference, where the app expands terms
  * in-memory and Postgres only sees the OR-of-containments SQL
  * (cnxapp.py:187-219).
  */
object Flagship {

  private[queries] val annCte =
    s"""ann AS (SELECT doc_id, lang, source, n_chars,
      ${meshSql(0)} ||
        CASE WHEN source = 'src2'
             THEN [struct_pack(cui := '${Pico.CovidCui}', cui_str := 'covid-19')]
             ELSE CAST([] AS STRUCT(cui VARCHAR, cui_str VARCHAR)[]) END AS population_mesh,
      ${meshSql(1)} AS interventions_mesh,
      ${meshSql(2)} AS outcomes_mesh,
      CASE WHEN doc_id % 13 = 0 THEN NULL
           ELSE CAST(doc_id % 100 AS DOUBLE) / 100.0 END AS prob_low_rob,
      n_chars AS num_randomized
      FROM documents)"""

  private[queries] def predSql(q: PicoQuery): String =
    Pico.queryizeSql(Pico.flatTree(q), q.expandTerms)

  private def oracleSql(q: PicoQuery): String = {
    val pred = predSql(q)
    val score = "prob_low_rob * num_randomized"
    val covid = q.terms.exists(t => t.field == "population" && t.cui == Pico.CovidCui)
    val preprintCte =
      if (!covid) ""
      else s""",
      pa AS (SELECT CAST(doc_id AS BIGINT) AS id, $score AS score,
               'preprint' AS article_type
             FROM ann WHERE source = 'src2' AND $pred
             ORDER BY $score DESC NULLS LAST, doc_id LIMIT 250)"""
    val preprintUnion = if (covid) " UNION ALL SELECT * FROM pa" else ""
    s"""WITH $annCte,
      ja AS (SELECT CAST(doc_id AS BIGINT) AS id, $score AS score,
               'journal article' AS article_type
             FROM ann WHERE lang = 'en' AND $pred
             ORDER BY $score DESC NULLS LAST, doc_id LIMIT 250),
      ra AS (SELECT CAST(doc_id AS BIGINT) AS id, CAST(NULL AS DOUBLE) AS score,
               'trial registration' AS article_type
             FROM ann WHERE lang <> 'en' AND $pred
             ORDER BY doc_id LIMIT 250)$preprintCte
      SELECT * FROM (SELECT * FROM ja UNION ALL SELECT * FROM ra$preprintUnion) t
      ORDER BY article_type, id"""
  }

  // Terms chosen so subtree expansion is load-bearing: neither parent
  // cui occurs in any document — C10 reaches docs only through child
  // C37, C64 only through children C29/C99. expandTerms=false would
  // return zero rows.
  private val q40Query = PicoQuery(
    terms = Seq(PicoTerm("population", "C10"), PicoTerm("interventions", "C64")))

  private val q41Query = PicoQuery(
    terms = Seq(PicoTerm("population", Pico.CovidCui), PicoTerm("interventions", "C64")))

  /** Struct-containment picosearch with subtree expansion (two arms). */
  private val q40 = Q(
    "q40_picosearch_struct",
    (s, d) => Pico.search(s, d, q40Query),
    Some(oracleSql(q40Query)),
    bench = true)

  /** COVID-gated variant: the TS-COV19 population term activates the
    * preprint arm (P11 plan-construction gate, cnxapp.py:283-311) and
    * matches only the synthetic covid concept rows.
    */
  private val q41 = Q(
    "q41_picosearch_covid",
    (s, d) => Pico.search(s, d, q41Query),
    Some(oracleSql(q41Query)))

  /** P5: nested boolean query tree — (pop C10 AND int C64) OR
    * (pop TS-COV19): arbitrary AND/OR nesting recursively folded into
    * one codegen'd predicate (reference prototype: nb/testing pico mesh
    * search.ipynb nested_mesh/queryize).
    */
  private val q52Tree = Pico.OrExpr(Seq(
    Pico.AndExpr(Seq(
      Pico.Leaf(PicoTerm("population", "C10")),
      Pico.Leaf(PicoTerm("interventions", "C64")))),
    Pico.Leaf(PicoTerm("population", Pico.CovidCui))))

  private val q42Nested = Q(
    "q52_nested_query",
    (s, d) =>
      Pico.annotations(graft.Tables.documents(s, d))
        .filter(Pico.queryize(q52Tree, expand = true))
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("lang"),
          org.apache.spark.sql.functions.col("source"))
        .orderBy("doc_id"),
    Some(s"""WITH $annCte
      SELECT doc_id, lang, source FROM ann
      WHERE ${Pico.queryizeSql(q52Tree, expand = true)}
      ORDER BY doc_id"""))

  val queries: Seq[Q] = Seq(q40, q41, q42Nested)
}
