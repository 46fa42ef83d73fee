package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Portable.{h32, tokens}

/** The flagship picosearch query layer on the REAL trialstreamer data
  * model: array-of-struct concept annotations, concept-DAG subtree
  * expansion, AND-of-ORs struct containment, per-arm ranked top-250,
  * tagged heterogeneous union (reference: cnxapp.py:168-324).
  *
  * Plan shape (the one that scales):
  *  - annotation columns are derived MAP-SIDE (no shuffle);
  *  - subtree expansion happens at PLAN-CONSTRUCTION time against a
  *    broadcast-sized concept DAG, exactly as the reference expands
  *    in-app before building SQL (cnxapp.py:53-62,192-195) — the
  *    executor-side predicate is a pure codegen'd containment check;
  *  - each arm is filter → TakeOrderedAndProject (distributed top-k,
  *    no global sort), then unionByName of ≤250-row arms.
  */
object Pico {

  /** One structured query term (api/trialstreamer_api.yml pico-terms). */
  final case class PicoTerm(field: String, cui: String)

  /** Parsed picosearch request (cnxapp.py:173-185). */
  final case class PicoQuery(
      terms: Seq[PicoTerm],
      expandTerms: Boolean = true,
      order: String = "score")

  /** Special synthetic concept gating the preprint arm (cnxapp.py:284). */
  val CovidCui = "TS-COV19"

  /** Deterministic synthetic concept DAG (stand-in for the UMLS
    * cui_subtrees DiGraph, cnxapp.py:48-49): 100 concepts C0..C99,
    * children of Ck are C{(2k+1)%100} and C{(3k+7)%100}. Broadcast-sized
    * (the real UMLS graph is MBs — a driver/broadcast map, never a
    * distributed join).
    */
  val dagChildren: Map[String, Seq[String]] =
    (0 until 100).map { k =>
      s"C$k" -> Seq(s"C${(2 * k + 1) % 100}", s"C${(3 * k + 7) % 100}").distinct
    }.toMap

  /** get_subtree(cui, levels) — cnxapp.py:53-62: the cui plus its DAG
    * descendants to `levels` generations (set semantics; unknown cui →
    * just itself).
    */
  def subtree(cui: String, levels: Int = 1): Set[String] = {
    val decs = scala.collection.mutable.Set[String]()
    def go(c: String, lvl: Int): Unit = {
      val children = dagChildren.getOrElse(c, Seq.empty)
      decs ++= children
      if (lvl > 1) children.foreach(go(_, lvl - 1))
    }
    go(cui, levels)
    decs += cui
    decs.toSet
  }

  /** Expansion used by the query builder; sorted for deterministic
    * plans/oracles.
    */
  def expandTerm(t: PicoTerm, expand: Boolean, levels: Int = 1): Seq[String] =
    if (expand) subtree(t.cui, levels).toSeq.sorted else Seq(t.cui)

  // ---------------------------------------------------------------------------
  // Synthetic annotation layer over `documents` — the array-of-struct
  // data model of pubmed_annotations (dbutil.py:74-90): each token maps
  // to a deterministic concept C{h32(w)%100}; tokens are routed to
  // population/interventions/outcomes by h32(w)%3; docs from source
  // 'src2' additionally carry the TS-COV19 concept in population (the
  // preprint-arm marker). prob_low_rob is null for doc_id%13==0 rows
  // (nullable score exercises NULLS LAST, cnxapp.py:217).
  // ---------------------------------------------------------------------------

  // codegen'd single pass (graft.functions.MeshFor); semantically
  // identical to transform(filter(tokens, h32%3==k), struct(...))
  private def meshFor(k: Int): Column =
    graft.functions.Hash32.meshForCol(col("text"), k)

  /** documents + annotation columns (map-side; mirrored in oracle SQL). */
  def annotations(docs: DataFrame): DataFrame = {
    val covidExtra = when(col("source") === "src2",
      array(struct(lit(CovidCui).as("cui"), lit("covid-19").as("cui_str"))))
      .otherwise(array().cast("array<struct<cui:string,cui_str:string>>"))
    docs
      .withColumn("population_mesh", concat(meshFor(0), covidExtra))
      .withColumn("interventions_mesh", meshFor(1))
      .withColumn("outcomes_mesh", meshFor(2))
      .withColumn("prob_low_rob",
        when(col("doc_id") % 13 === 0, lit(null).cast("double"))
          .otherwise((col("doc_id") % 100).cast("double") / 100.0))
      .withColumn("num_randomized", col("n_chars"))
  }

  // ---------------------------------------------------------------------------
  // P5: nested boolean query trees (reference prototype:
  // nb/testing pico mesh search.ipynb — nested_mesh/queryize). Arbitrary
  // AND/OR nesting over terms; each leaf still subtree-expands.
  // ---------------------------------------------------------------------------

  sealed trait PicoExpr
  final case class Leaf(term: PicoTerm) extends PicoExpr
  final case class AndExpr(children: Seq[PicoExpr]) extends PicoExpr
  final case class OrExpr(children: Seq[PicoExpr]) extends PicoExpr

  /** Recursive Column builder for a nested query tree. */
  def queryize(e: PicoExpr, expand: Boolean): Column = e match {
    case Leaf(t) =>
      val expansion = expandTerm(t, expand)
      exists(col(s"${t.field}_mesh"), s => s.getField("cui").isin(expansion: _*))
    case AndExpr(cs) => cs.map(queryize(_, expand)).reduce(_ && _)
    case OrExpr(cs)  => cs.map(queryize(_, expand)).reduce(_ || _)
  }

  /** Same tree rendered as DuckDB SQL over the mirrored mesh columns. */
  def queryizeSql(e: PicoExpr, expand: Boolean): String = e match {
    case Leaf(t) =>
      val expansion = expandTerm(t, expand).map(c => "'" + c + "'").mkString(", ")
      s"len(list_filter(${t.field}_mesh, s -> s.cui IN ($expansion))) > 0"
    case AndExpr(cs) => cs.map(queryizeSql(_, expand)).mkString("(", ") AND (", ")")
    case OrExpr(cs)  => cs.map(queryizeSql(_, expand)).mkString("(", ") OR (", ")")
  }

  /** P3/P4: a flat query is the AND of its terms, each an OR over the
    * term's subtree expansion (cnxapp.py:187-207) — the tree
    * [[queryize]] and [[queryizeSql]] render.
    */
  def flatTree(q: PicoQuery): PicoExpr = AndExpr(q.terms.map(Leaf))

  /** Three-arm picosearch (cnxapp.py:221-311): journal arm (flag-
    * filtered, ranked), registration arm (registry docs, deterministic
    * id order — the reference's bare LIMIT 250 is order-undefined; we
    * pin id order for reproducibility), and the preprint arm only when
    * the query names TS-COV19 in population (P11 plan-construction
    * gate).
    */
  def search(spark: SparkSession, dir: String, q: PicoQuery): DataFrame = {
    val ann = annotations(Tables.documents(spark, dir))
    val pred = queryize(flatTree(q), q.expandTerms)

    // NB: no round() — both engines compute (k/100.0)*n with identical
    // IEEE ops, so raw doubles are bit-identical, while round-to-2 can
    // legitimately differ on .xx5 boundaries (engines round via
    // different expansions).
    val score = col("prob_low_rob") * col("num_randomized")
    val orderCol = if (q.order == "score") score else col("doc_id").cast("double")

    val journalArm = ann
      .filter(col("lang") === "en")           // P1 flag-filter analog
      .filter(pred)
      .select(col("doc_id").cast("long").as("id"), score.as("score"),
        lit("journal article").as("article_type"))
      .orderBy(orderCol.desc_nulls_last, col("doc_id"))
      .limit(250)

    val registryArm = ann
      .filter(col("lang") =!= "en")           // P2 registry-arm analog
      .filter(pred)
      .select(col("doc_id").cast("long").as("id"),
        lit(null).cast("double").as("score"),
        lit("trial registration").as("article_type"))
      .orderBy(col("id"))
      .limit(250)

    val covidGated = q.terms.exists(t => t.field == "population" && t.cui == CovidCui)
    val arms =
      if (!covidGated) Seq(journalArm, registryArm)
      else {
        val preprintArm = ann
          .filter(col("source") === "src2")
          .filter(pred)
          .select(col("doc_id").cast("long").as("id"), score.as("score"),
            lit("preprint").as("article_type"))
          .orderBy(orderCol.desc_nulls_last, col("doc_id"))
          .limit(250)
        Seq(journalArm, registryArm, preprintArm)
      }

    arms.reduce(_ unionByName _).orderBy("article_type", "id")
  }
}
