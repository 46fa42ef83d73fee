package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger

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

  /** A Scala string as a SQL string literal (quotes doubled); null
    * renders as a typed NULL so fixture rows with missing fields keep
    * their column type in a VALUES list.
    */
  def quote(s: String): String =
    if (s == null) "CAST(NULL AS VARCHAR)" else "'" + s.replace("'", "''") + "'"

  /** DuckDB twin of [[graft.functions.Portable.h32]] over the SQL
    * string expression `x`.
    */
  def h32(x: String): String = s"CAST('0x' || substr(md5($x), 1, 8) AS BIGINT)"

  /** DuckDB twin of one token's weight in
    * [[graft.functions.Hash32.hashedMarginCol]] (the sum of these over a
    * document's tokens): the weight in [-1000, 1000] of the SQL string
    * expression `t`'s 4096-bucket.
    */
  def tokenWeight(t: String): String =
    s"${h32(s"'w:' || CAST(${h32(t)} % 4096 AS VARCHAR)")} % 2001 - 1000"

  /** DuckDB twin of [[graft.functions.Hash32.meshForCol]]: the MeSH
    * list for PICO field `k` (0 = population, 1 = interventions,
    * 2 = outcomes) over `documents.text`.
    */
  def meshSql(k: Int): String =
    s"list_transform(list_filter(string_split(text, ' '), w -> ${h32("w")} % 3 = $k), " +
      s"w -> struct_pack(cui := 'C' || CAST(${h32("w")} % 100 AS VARCHAR), cui_str := w))"

  /** DuckDB twin of [[graft.search.Ivf.adaptiveMod]] as the CTE `prm`:
    * the centroid sampling modulus `md` for the rows of `from` (a table
    * name, optionally followed by its WHERE clause).
    */
  def adaptiveModCte(from: String): String =
    s"""prm AS (SELECT greatest(1, CAST(count(*) AS BIGINT) //
          least(4096, greatest(16, CAST(floor(sqrt(count(*))) AS BIGINT)))) AS md
        FROM $from)"""

  /** DuckDB twin of the cosine step of [[graft.search.Ivf.assignments]]
    * over `embeddings`, as CTEs: `prm` ([[adaptiveModCte]]), `el`
    * (vec_id, i, x: one row per element, as DOUBLE), `nrm` (vec_id,
    * n2), `cent`/`cn` (the sampled centroids, `vec_id % md = 1 % md`
    * as [[graft.search.Ivf.codebook]] samples them), `cdot` and `sims`
    * (vid, cid, cs: every vector against every centroid, cosine
    * rounded to 6 decimals). `train`, a predicate on `vec_id` or empty,
    * restricts the rows the modulus is counted over and the centroids
    * are sampled from; every vector is still scored.
    */
  def ivfSimsCtes(train: String = ""): String = {
    val where = if (train.isEmpty) "" else s" WHERE $train"
    val and = if (train.isEmpty) "" else s" AND $train"
    s"""${adaptiveModCte("embeddings" + where)},
      el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
          CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
      nrm AS (SELECT vec_id, sum(x * x) AS n2 FROM el GROUP BY 1),
      cent AS (SELECT vec_id AS cid, i, x FROM el
        WHERE vec_id % (SELECT md FROM prm) = 1 % (SELECT md FROM prm)$and),
      cn AS (SELECT vec_id AS cid, n2 AS cn2 FROM nrm
        WHERE vec_id % (SELECT md FROM prm) = 1 % (SELECT md FROM prm)$and),
      cdot AS (SELECT el.vec_id AS vid, cent.cid, sum(el.x * cent.x) AS dp
        FROM el JOIN cent ON el.i = cent.i GROUP BY 1, 2),
      sims AS (SELECT vid, cid, round(dp / sqrt(n.n2 * cn2), 6) AS cs
        FROM cdot JOIN nrm n ON vid = n.vec_id JOIN cn USING (cid))"""
  }

  /** DuckDB twin of [[graft.search.Ivf.adaptiveMod]] +
    * [[graft.search.Ivf.assignments]]: [[ivfSimsCtes]] plus `assign`
    * (vid, cell, cs), each vector's nearest centroid, ties to the
    * smallest centroid id.
    */
  def ivfAssignCtes(train: String = ""): String =
    s"""${ivfSimsCtes(train)},
      assign AS MATERIALIZED (SELECT vid, cid AS cell, cs FROM (
          SELECT vid, cid, cs, row_number() OVER (PARTITION BY vid
            ORDER BY cs DESC, cid) AS rn FROM sims) t WHERE rn = 1)"""

  /** DuckDB twin of [[graft.search.Ivf.probes]] as the CTE `qprobe`
    * (qid, cell) over [[ivfSimsCtes]]' `sims`: for each vector matching
    * `queries` (a predicate on `vid`), its 4 probed cells — the 4
    * centroids with the highest cosine, ties to the smallest cid.
    */
  def ivfProbeCte(queries: String): String =
    s"""qprobe AS (SELECT vid AS qid, cid AS cell FROM (
          SELECT vid, cid, row_number() OVER (PARTITION BY vid
            ORDER BY cs DESC, cid) AS rn
          FROM sims WHERE $queries) t WHERE rn <= 4)"""
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

  /** Drain `ds` with `Trigger.AvailableNow` into the memory sink
    * `name` and return the sink's table. A view of the same name from
    * an earlier run in this session is dropped first (Spark 4.1's sink
    * also replaces it on start), so the result holds this run's rows
    * only. The rows live in driver memory, so the caller may delete
    * `checkpoint` once this returns.
    */
  def drainToMemory(ds: Dataset[_], name: String, checkpoint: String,
      outputMode: String = "append"): DataFrame = {
    ds.sparkSession.catalog.dropTempView(name)
    ds.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", checkpoint)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    ds.sparkSession.table(name)
  }

  /** Drain `df` with `Trigger.AvailableNow`, handing each micro-batch
    * and its id to `step`.
    */
  def drainEachBatch(df: DataFrame, checkpoint: String)(
      step: (DataFrame, Long) => Unit): Unit =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(step)
      .start()
      .awaitTermination()

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
