package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.{BenchFormat, GraftSession, Harness, SparkEntry}
import graft.plans.ExplainAnalyze

/** Dev profiling entry point: plans and layered timing for registered
  * queries.
  *
  * Per query, one unmeasured invocation executes the frame's own plan
  * ([[ExplainAnalyze.execute]]) and writes `<outDir>/<name>.txt` with
  * the optimized logical plan, the formatted physical plan as planned,
  * and the executed plan. Under AQE the executed plan is the final one
  * (`isFinalPlan=true`), which shows the runtime join rewrites and
  * coalesced reads a static explain cannot; a query whose adaptive
  * plan did not finalize fails the run.
  *
  * Then [[MeasuredRuns]] invocations are each split into `build_s` (the
  * builder call, with any eager jobs it runs), `plan_s`
  * (`queryExecution.executedPlan`) and `exec_s` (consuming every row of
  * that plan, never a pruned `count()`), with [[Harness.dropStorage]]
  * after each. One JSON line per query reports the min and samples of
  * each layer, the load canary ([[Harness.canaryOnce]], min of 3) and
  * the session's core count.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <outDir> <name>...
  */
object Profile {
  private val MeasuredRuns = 3

  /** Fails unless an adaptive plan has reached its final plan. */
  def requireFinal(name: String, executed: SparkPlan): Unit =
    executed match {
      case a: AdaptiveSparkPlanExec if !a.isFinalPlan =>
        throw new IllegalStateException(
          s"$name: executed plan is not AQE-final (isFinalPlan=false)")
      case _ => ()
    }

  /** Executes `df`'s own plan and returns the dump: optimized logical
    * plan, formatted physical plan (before execution), executed plan. */
  def capture(name: String, df: DataFrame): String = {
    val qe = df.queryExecution
    val optimized = qe.optimizedPlan.treeString
    val physical = qe.explainString(FormattedMode)
    val executed = ExplainAnalyze.execute(df)
    requireFinal(name, executed)
    Seq("== Optimized Logical Plan ==", optimized, physical,
      "== Executed Plan ==", executed.toString).mkString("\n")
  }

  /** One measured invocation: (build_s, plan_s, exec_s). */
  private def measure(spark: SparkSession, sfDir: String,
      name: String): (Double, Double, Double) = {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    ExplainAnalyze.execute(df)
    val t3 = System.nanoTime()
    Harness.dropStorage(spark)
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
  }

  private def layer(key: String, xs: Seq[Double]): String =
    s""""$key":{"min":${BenchFormat.num(xs.min)},""" +
      s""""samples":${xs.map(BenchFormat.num).mkString("[", ",", "]")}}"""

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Profile <sfDir> <outDir> <name>...")
    val (sfDir, outDir, names) = (args(0), args(1), args.drop(2).toSeq)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not registered: ${unknown.mkString(", ")}")
    val spark = GraftSession.build("graft-profile")
    val sc = spark.sparkContext
    Files.createDirectories(Paths.get(outDir))
    Harness.canaryOnce(spark) // unmeasured warm-up
    val canary = (1 to 3).map(_ => Harness.canaryOnce(spark)).min
    for (name <- names) {
      sc.setJobDescription(s"$name warm")
      val dump =
        try capture(name, SparkEntry.queries(name)(spark, sfDir))
        finally Harness.dropStorage(spark)
      Files.write(Paths.get(outDir, s"$name.txt"), dump.getBytes(UTF_8))
      val runs = (1 to MeasuredRuns).map { i =>
        sc.setJobDescription(s"$name run $i")
        measure(spark, sfDir, name)
      }
      println(s"""{"query":"$name","cpus":${sc.defaultParallelism},""" +
        s""""canary_s":${BenchFormat.num(canary)},""" +
        Seq(layer("build_s", runs.map(_._1)), layer("plan_s", runs.map(_._2)),
          layer("exec_s", runs.map(_._3))).mkString(",") + "}")
    }
    spark.stop()
  }
}
