package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** [[tools.Profile]]'s plan capture records the plan that actually ran:
  * under AQE, the final plan. */
class ProfileSpec extends AnyFunSuite with SparkFixture with Matchers {

  test("plan capture dumps tpch_q3's executed plan as AQE-final") {
    val df = SparkEntry.queries("tpch_q3")(spark, sfDir)
    // the frame's own plan is adaptive and, before it runs, not final
    df.queryExecution.executedPlan.toString should include("isFinalPlan=false")
    val dump = tools.Profile.capture("tpch_q3", df)
    dump should include("== Optimized Logical Plan ==")
    dump should include("== Physical Plan ==")
    val executed = dump.substring(dump.indexOf("== Executed Plan =="))
    executed should include("AdaptiveSparkPlan isFinalPlan=true")
  }

  test("a frame run through a separate action is refused as not final") {
    // a noop write (like count()) executes its own QueryExecution, so
    // the frame's plan never runs and stays initial
    val df = SparkEntry.queries("tpch_q3")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    an[IllegalStateException] should be thrownBy
      tools.Profile.requireFinal("tpch_q3", df.queryExecution.executedPlan)
  }
}
