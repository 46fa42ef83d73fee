// Deliberately in the default package so the sbt invocation stays
// `runMain PlanQ ...` (like Plans, the dev-loop plan tool).
object PlanQ {
  def main(args: Array[String]): Unit = {
    // optional leading sfDir argument (a path contains '/'); query
    // names follow
    val (dirs, names) = args.partition(_.contains("/"))
    val sfDir = dirs.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    val spark = graft.tools.GraftSession.local(cores = "4", appName = "graft-planq")
    for (n <- names) {
      println(s"===== $n")
      graft.queries.Registry.byName(n).fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
