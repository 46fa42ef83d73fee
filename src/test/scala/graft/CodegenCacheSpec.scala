package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The local session's generated-class cache holds a working set of
  * the nightly cycle's size ([[graft.tools.GraftSession.CodegenCacheEntries]]).
  * 150 distinct one-stage plans, each compiled under the driver's and
  * the executor's classloader, are ~300 cache entries — three times
  * Spark's default of 100 — so with the default the second pass
  * recompiles what the first pass evicted. Sized to the working set,
  * the second pass is all cache hits.
  */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Janino time spent by one pass over the plans; each plan is built
    * afresh, as every nightly cycle builds its plans.
    */
  private def pass(plans: Int): Long = {
    // the cache takes its size from the active session when first
    // touched, so the session must exist before CodeGenerator does
    val session = spark
    val t0 = CodeGenerator.compileTime
    (1 to plans).foreach { i =>
      // the literals are inlined into the generated source, so every
      // plan is a distinct whole-stage body
      val rows = session.range(0, 8, 1, 2).selectExpr(s"id * $i + ${i * 7} AS x").collect()
      assert(rows.map(_.getLong(0)).toSeq === (0L until 8L).map(_ * i + i * 7))
    }
    CodeGenerator.compileTime - t0
  }

  test("a second pass over 150 distinct plans compiles nothing") {
    assert(pass(150) > 0L)
    assert(pass(150) === 0L)
  }
}
