package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable engine capability.
  *
  * @param name   stable key — used by the driver for CORRECTNESS/BENCH
  * @param fn     (session, sfDir) => result DataFrame. Column names must
  *               match the oracle exactly (driver compares by-name).
  * @param oracle equivalent DuckDB SQL over the same parquet tables;
  *               None for ops not expressible in SQL (weaker rows-only
  *               check by the driver).
  * @param bench  include in the headline benchmark set
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false)

/** Cross-engine SQL fragments (SURVEY §16 exactness rules). */
object Sql {

  /** Floor division as a portable SQL fragment: Spark `div` (and Scala
    * `/` on Long) truncate toward zero where DuckDB `//` floors — they
    * diverge whenever the dividend is negative. This expansion floors
    * in both engines' exact integer arithmetic.
    *
    * CALLER CONTRACT (round-8 advice — the fragment interpolates each
    * operand string THREE times, so these are preconditions, not
    * style):
    *  - both operands must be SIMPLE DETERMINISTIC expressions —
    *    column references, literals, or pure arithmetic over them; a
    *    non-deterministic operand (rand(), uuid()) would evaluate
    *    inconsistently across the three copies, and an expensive one
    *    re-computes threefold. Bind anything heavier to an alias in a
    *    prior CTE/select and pass the alias.
    *  - the denominator must be a POSITIVE constant or count — a zero
    *    denominator divides by zero in both engines, but a NEGATIVE
    *    one silently flips the correction term and returns ceil-ish
    *    results. Every current call site passes a count or a positive
    *    literal; new call sites must too.
    */
  def floorDiv(x: String, y: String): String =
    s"(($x) div ($y) - (CASE WHEN ($x) % ($y) <> 0 AND ($x) < 0 " +
      "THEN 1 ELSE 0 END))"
}

/** Scratch-directory hygiene for queries that write their own tables:
  * per-run temp dirs must not accumulate (some hold full fact-table
  * copies) and fixed dirs race across concurrent JVMs.
  */
object Scratch {

  def rmTree(root: String): Unit =
    graft.util.Dirs.rmTree(java.nio.file.Paths.get(root))

  /** Land a frame as ONE file in `landingDir` under a sortable name
    * with an explicit modTime — the file-stream fixture pattern every
    * streaming entry shares (q76/q135/q136/q137/q138/q140): the
    * source's oldest-first discovery plus `maxFilesPerTrigger=1`
    * turns each landed file into its own ordered micro-batch, so both
    * the name sort and the modTime agree on replay order.
    */
  def landFile(df: DataFrame, landingDir: String, fileName: String,
      modTime: Long = 0L, format: String = "parquet"): Unit = {
    val stage = java.nio.file.Files.createTempDirectory("graft-land-").toString
    df.coalesce(1).write.mode("overwrite").format(format).save(stage)
    val suffix = s".$format"
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(suffix))
      .getOrElse(sys.error(s"no $format part file in $stage"))
    val dir = new java.io.File(landingDir)
    dir.mkdirs()
    val dst = new java.io.File(dir, fileName)
    java.nio.file.Files.move(part.toPath, dst.toPath)
    // setLastModified reports failure by RETURN VALUE; order-sensitive
    // fixtures (q135/q137/q140) replay wrongly if the mtime silently
    // keeps wall clock, so fail loudly instead
    if (modTime > 0L)
      require(dst.setLastModified(modTime), s"could not set mtime on $dst")
    rmTree(stage)
  }

  /** Collect a SMALL result, delete the scratch dirs backing its plan,
    * and return the rows as an in-memory frame — the returned plan
    * must not reference deleted files, so materialization comes first.
    */
  def sealAndClean(df: DataFrame, roots: String*): DataFrame = {
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    df.collect().foreach(rows.add)
    roots.foreach(rmTree)
    df.sparkSession.createDataFrame(rows, df.schema)
  }
}

object Registry {
  /** (family, queries) in registration order — the family tag feeds the
    * driver-visible manifest Verify emits (coverage audits become
    * mechanical: every query names its family, spec, and oracle hash).
    */
  lazy val byFamily: Seq[(String, Seq[Q])] = Seq(
    "relational" -> Relational.queries,
    "pipeline" -> Pipeline.queries,
    "domain" -> Domain.queries,
    "flagship" -> Flagship.queries,
    "annotate" -> Annotate.queries,
    "cdc" -> Cdc.queries,
    "readers" -> Readers.queries,
    "extensions" -> Extensions.queries,
    "ictrp" -> Ictrp.queries,
    "coverage" -> Coverage.queries,
    "sources" -> Sources.queries,
    "api" -> Api.queries,
    "endtoend" -> EndToEnd.queries,
    "sinks" -> Sinks.queries,
    "training" -> Training.queries,
    "analytics" -> Analytics.queries,
    "curation" -> Curation.queries,
    "linkage" -> Linkage.queries,
    "scaleops" -> ScaleOps.queries,
    "corpus" -> Corpus.queries,
    "vectors" -> Vectors.queries,
    "temporal" -> Temporal.queries,
    "govern" -> Govern.queries,
    "evaluate" -> Evaluate.queries)

  lazy val all: Seq[Q] = byFamily.flatMap(_._2)

  lazy val familyOf: Map[String, String] =
    byFamily.flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap

  lazy val byName: Map[String, Q] = all.map(q => q.name -> q).toMap

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  lazy val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  lazy val benchSet: Seq[Q] = all.filter(_.bench)
}
