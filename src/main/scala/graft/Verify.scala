package graft
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [name ...]`. Names
  * after the two dirs restrict every output to those registry entries;
  * with none, every entry runs.
  */
object Verify {

  /** One JSON string literal, written by Jackson's `ObjectMapper` —
    * the writer the table store's update log uses, so there is one JSON
    * string rule.
    */
  private[graft] def jsonString(s: String): String = mapper.writeValueAsString(s)

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val Seq(sfDir, outDir, names @ _*) = args.toSeq
    val unknown = names.filterNot(queries.Registry.byName.contains)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} — known names are " +
        s"${queries.Registry.all.map(_.name).sorted.mkString(", ")}")
    val selected: String => Boolean = if (names.isEmpty) _ => true else names.toSet
    val spark = tools.GraftSession.local(logLevel = "WARN", appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    // A query that throws writes no parquet, so the driver records no
    // CORRECTNESS row for it — absent rows read as "not sampled", which
    // is how a 38-query hole once shipped silently. Record every failure
    // in a dedicated artifact so holes are loud.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val run = SparkEntry.queries.filter { case (name, _) => selected(name) }
    run.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val failJson = failures
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v.take(500))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"), failJson)
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size}/${run.size} queries FAILED: " +
          failures.keys.mkString(", "))
      println(s"[verify] FAILURES=${failures.size} (see verify_failures.json)")
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Registry manifest: one entry per query (family, oracle md5, bench
    // membership) so coverage audits — the driver's and future rounds'
    // — are mechanical instead of grep-archaeology.
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val manifest = queries.Registry.all.filter(q => selected(q.name)).map { q =>
      val fam = queries.Registry.familyOf(q.name)
      val omd5 = q.oracle.map(o => jsonString(md5(o))).getOrElse("null")
      s"${jsonString(q.name)}: {\"family\": ${jsonString(fam)}, " +
        s"\"oracle_md5\": $omd5, \"bench\": ${q.bench}}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest)
    spark.stop()
  }
}
