package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.types.{LongType, IntegerType, StringType, StructField, StructType}

/** EXPLAIN ANALYZE analog (reference: `ExplainAnalyzeOperator.java` —
  * executes the query, then reports the plan annotated with ACTUAL
  * per-operator runtime statistics, not estimates).
  *
  * Spark's physical operators already maintain SQLMetrics
  * (numOutputRows, spill sizes, build/probe times...) during
  * execution; this walks the post-execution plan — descending through
  * AQE's AdaptiveSparkPlanExec final plan and into materialized
  * QueryStageExec subtrees, which are leaf nodes to the usual
  * traversal — and surfaces each operator's metrics as rows. At
  * cluster scale these are the same metrics the Spark UI aggregates
  * across executors; nothing here is local-mode-only.
  */
object ExplainAnalyze {
  /** Execute `df` and return one row per (operator, metric):
    * (op_id, operator, metric, value). op_id is a stable pre-order
    * index into the final executed plan.
    */
  def analyze(spark: SparkSession, df: DataFrame): DataFrame = {
    val rows = walk(execute(df)).zipWithIndex.flatMap { case (p, i) =>
      p.metrics.toSeq.sortBy(_._1).map { case (name, m) =>
        Row(i, p.nodeName, name, m.value)
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(
        StructField("op_id", IntegerType, nullable = false),
        StructField("operator", StringType, nullable = false),
        StructField("metric", StringType, nullable = false),
        StructField("value", LongType, nullable = false))))
  }

  /** Executes `df`'s own physical plan, consuming every row, and
    * returns that plan — under AQE, the final plan its stages ran as.
    * `df.count()` or a write would build and execute a separate plan,
    * leaving this one unexecuted (its metrics at 0, `isFinalPlan=false`). */
  def execute(df: DataFrame): SparkPlan = {
    df.queryExecution.toRdd.foreach(_ => ())
    df.queryExecution.executedPlan
  }

  /** Pre-order walk that crosses the two boundaries `collect` stops
    * at: AQE's final plan and materialized query-stage subtrees. */
  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
    case q: QueryStageExec => p +: walk(q.plan)
    case other => other +: other.children.flatMap(walk)
  }
}
