package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.query.Pico
import Sql.meshSql

/** API-layer entries: autocomplete over the real term table (A3/O2)
  * and the show_trial keyed-lookup cascade (cnxapp.py:327-402, incl.
  * the F18 dash→slash DOI unescaping).
  */
object Api {

  private val termsCte =
    s"""ann AS (SELECT doc_id,
        ${meshSql(0)} AS population_mesh,
        ${meshSql(1)} AS interventions_mesh,
        ${meshSql(2)} AS outcomes_mesh
        FROM documents),
      terms AS (
        SELECT lower(m.cui_str) AS term, m.cui_str AS display, m.cui AS cui,
               field, count(*) AS n
        FROM (
          SELECT doc_id, 'population' AS field, unnest(population_mesh) AS m FROM ann
          UNION ALL
          SELECT doc_id, 'interventions', unnest(interventions_mesh) FROM ann
          UNION ALL
          SELECT doc_id, 'outcomes', unnest(outcomes_mesh) FROM ann) x
        GROUP BY 1, 2, 3, 4)"""

  /** Autocomplete (cnxapp.py:74-104): offline per-(cui,field) term
    * counts (A3); short queries (<3 chars) return the first 5 in term
    * order (the trie's key order), longer queries rank by count desc
    * (O2). Both branches in one tagged union.
    */
  private val q58Autocomplete = Q(
    "q58_autocomplete_real",
    (s, d) => {
      val ann = Pico.annotations(Tables.documents(s, d))
      val terms = Seq("population", "interventions", "outcomes")
        .map(f => ann.select(lit(f).as("field"), explode(col(s"${f}_mesh")).as("m")))
        .reduce(_ unionByName _)
        .groupBy(lower(col("m.cui_str")).as("term"), col("m.cui_str").as("display"),
          col("m.cui").as("cui"), col("field"))
        .agg(count(lit(1)).as("n"))
      val short = terms.filter(col("term").startsWith("s"))
        .orderBy("term", "field")
        .limit(5)
        .select(lit("short:s").as("mode"), col("term"), col("cui"), col("field"), col("n"))
      val ranked = terms.filter(col("term").startsWith("spa"))
        .orderBy(col("n").desc, col("term"), col("field"))
        .limit(5)
        .select(lit("ranked:spa").as("mode"), col("term"), col("cui"), col("field"), col("n"))
      short.unionByName(ranked).orderBy("mode", "term", "field")
    },
    Some(s"""WITH $termsCte,
      short AS (SELECT 'short:s' AS mode, term, cui, field, n FROM terms
                WHERE term LIKE 's%' ORDER BY term, field LIMIT 5),
      ranked AS (SELECT 'ranked:spa' AS mode, term, cui, field, n FROM terms
                 WHERE term LIKE 'spa%' ORDER BY n DESC, term, field LIMIT 5)
      SELECT * FROM (SELECT * FROM short UNION ALL SELECT * FROM ranked) t
      ORDER BY mode, term, field"""))

  // ---- q59: show_trial lookup cascade ---------------------------------------

  final case class Pm(pmid: String, ti: String)
  final case class Reg(regid: String, ti: String)
  final case class Pre(doi: String, ti: String)

  private val pmRows = Seq(Pm("30000001", "A pubmed trial"))
  private val regRows = Seq(Reg("NCT01234567", "A registration"))
  private val preRows = Seq(Pre("10.1101/2020.04.01", "A preprint"))

  /** get_trial: try pubmed by pmid, then ictrp by regid, then medrxiv
    * by doi after replacing '-' with '/' (the reference's router
    * workaround, cnxapp.py:383-390); unknown ids yield no row.
    */
  private val q59ShowTrial = Q(
    "q59_show_trial",
    (s, d) => {
      val pm = s.createDataFrame(pmRows)
      val reg = s.createDataFrame(regRows)
      val pre = s.createDataFrame(preRows)
      val uuids = Seq("30000001", "NCT01234567", "10.1101-2020.04.01", "nope")
      import s.implicits._
      val u = uuids.toDF("uuid")
      val hitPm = u.join(pm, col("uuid") === col("pmid"))
        .select(col("uuid"), lit("journal article").as("article_type"), col("ti"))
      val hitReg = u.join(reg, col("uuid") === col("regid"))
        .join(pm, col("uuid") === col("pmid"), "left_anti")
        .select(col("uuid"), lit("trial registration").as("article_type"), col("ti"))
      val hitPre = u
        .join(pre, translate(col("uuid"), "-", "/") === col("doi"))
        .join(pm, col("uuid") === col("pmid"), "left_anti")
        .join(reg, col("uuid") === col("regid"), "left_anti")
        .select(col("uuid"), lit("preprint").as("article_type"), col("ti"))
      hitPm.unionByName(hitReg).unionByName(hitPre).orderBy("uuid")
    },
    Some("""SELECT * FROM (VALUES
      ('10.1101-2020.04.01', 'preprint', 'A preprint'),
      ('30000001', 'journal article', 'A pubmed trial'),
      ('NCT01234567', 'trial registration', 'A registration')
      ) t(uuid, article_type, ti) ORDER BY uuid"""))

  val queries: Seq[Q] = Seq(q58Autocomplete, q59ShowTrial)
}
