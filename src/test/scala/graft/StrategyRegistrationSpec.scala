package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{NativeAsOf, NativeRange, NativeTopK}

/** The native entries share one idempotent strategy registration
  * ([[GraftExtensions.ensureRegistered]]): however often and in
  * whatever order they run on a session, each graft strategy sits in
  * `experimental.extraStrategies` exactly once.
  */
class StrategyRegistrationSpec extends AnyFunSuite {

  test("each native entry twice: every graft strategy registered exactly once") {
    val spark = TestSpark.spark.newSession()
    import spark.implicits._
    val events = Seq((1L, 10L, 1L, 0.5), (1L, 20L, 2L, 1.5))
      .toDF("key", "ts", "seq", "value")
    val intervals = Seq((5L, 15L)).toDF("s", "e")
    for (_ <- 1 to 2) {
      NativeAsOf.backward(events, events, "key", "ts", "seq", Seq("value"))
        .collect()
      NativeRange.pointsInIntervals(events, "ts", intervals, "s", "e").collect()
      NativeTopK.topK(events, Seq("key"), Seq("ts" -> false), 1).collect()
    }
    val registered = spark.experimental.extraStrategies
    for (st <- GraftExtensions.strategies)
      assert(registered.count(_ eq st) === 1, s"$st in $registered")
  }
}
