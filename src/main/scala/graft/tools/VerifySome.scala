package graft.tools

import java.nio.file.{Files, Paths}

/** Subset of [[graft.Verify]] for fast iteration: dump only the named
  * queries (plus their oracle entries) so scripts/compare.py checks
  * just those. Usage: runMain graft.tools.VerifySome <sfDir> <outDir>
  * q1 q2 ...
  *
  * Mirrors Verify's contract: same session config (SPARK_GRAFT_CPUS
  * honored), same shared JSON string writer (Verify.jsonString — the two
  * tools cannot emit divergent oracle_sql.json), per-query failure
  * isolation, and a clear error for an unknown query name.
  */
object VerifySome {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSeq
    val unknown = names.filterNot(graft.queries.Registry.byName.contains)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} — known names are " +
        s"${graft.queries.Registry.all.map(_.name).sorted.mkString(", ")}")
    val spark = GraftSession.local(logLevel = "WARN", appName = "graft-verify-some")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try graft.queries.Registry.byName(name).fn(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify-some] $name failed: ${e.getMessage}")
      }
    }
    val json = names
      .flatMap(n => graft.queries.Registry.byName(n).oracle.map(n -> _))
      .map { case (k, v) =>
        s"${graft.Verify.jsonString(k)}: ${graft.Verify.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
