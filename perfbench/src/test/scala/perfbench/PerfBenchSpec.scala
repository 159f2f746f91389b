package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Percentile}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkEntry}

class PerfBenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val data = "data/sf0.1"
  private lazy val spark: SparkSession = GraftSession.build("perfbench-spec")

  override def afterAll(): Unit = spark.stop()

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: nodes(a.executedPlan)
    case q: QueryStageExec => p +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  test("the digest ignores row order and partitioning") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    val rows = (1L to 50L).map(i => InternalRow(i % 7, i * i))
    val whole = Digest.ofRows(rows.iterator, schema)
    val reversed = Digest.ofRows(rows.reverseIterator, schema)
    val split = rows.grouped(9).map(g => Digest.ofRows(g.iterator, schema))
      .foldLeft(Digest.empty)(_ combine _)
    assert(whole.rows == 50L)
    assert(reversed == whole)
    assert(split == whole)
    val changed = rows.updated(3, InternalRow(3L, 10L))
    assert(Digest.ofRows(changed.iterator, schema) != whole)

    val df = spark.range(0L, 1000L, 1L, 4).selectExpr("id % 13 AS k", "cast(id AS string) AS s")
    val shuffled = df.repartition(7).orderBy("s")
    assert(Digest.consume(df.queryExecution) == Digest.consume(shuffled.queryExecution))
    val strings = StructType(Seq(StructField("s", org.apache.spark.sql.types.StringType)))
    assert(Digest.ofRows(Iterator(InternalRow(UTF8String.fromString("a"))), strings) !=
      Digest.ofRows(Iterator(InternalRow(UTF8String.fromString("b"))), strings))
  }

  test("full consumption runs the aggregate that count() prunes") {
    // approx_percentile_weighted is registered as Spark's Percentile.
    def isPercentile(e: Expression): Boolean = e.exists {
      case a: AggregateExpression => a.aggregateFunction.isInstanceOf[Percentile]
      case _ => false
    }
    val df = SparkEntry.queries("sketch_weighted_percentile")(spark, data)
    assert(df.queryExecution.optimizedPlan.find(_.expressions.exists(isPercentile)).nonEmpty)
    val counted = df.groupBy().count().queryExecution.optimizedPlan
    assert(counted.find(_.expressions.exists(isPercentile)).isEmpty)

    val digest = Digest.consume(df.queryExecution)
    assert(digest.rows > 0)
    val percentile = nodes(df.queryExecution.executedPlan).collect {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(isPercentile) => a
    }
    assert(percentile.nonEmpty)
    assert(percentile.exists(_.metrics.get("numOutputRows").exists(_.value > 0)))
  }

  test("an invocation's spans cover its latency, with the residual reported") {
    val runner = new Runner(spark, data, Seq("tpch_q6"), seed = 1L)
    val inv = runner.invoke("tpch_q6", 0, traced = true)
    assert(inv.error.isEmpty)
    assert(inv.spans.map(_._1) == Runner.Spans)
    inv.spans.foreach { case (_, s, e) =>
      assert(s >= inv.startNs && e <= inv.endNs && s <= e)
    }
    inv.spans.sliding(2).foreach { case Seq(a, b) => assert(a._3 <= b._2) }
    val residual = inv.latencyMs - Runner.Spans.map(inv.spanMs).sum
    assert(residual >= 0.0)
    assert(residual < 0.05 * inv.latencyMs + 5.0, s"residual $residual ms")

    val traced = runner.withSparkCounters(Seq(inv)).head
    assert(traced.layers("build.jobs") == 0.0)
    assert(traced.layers("exec.jobs") >= 1.0)
    assert(traced.layers("exec.tasks") >= 1.0)
    assert(traced.layers("op.rows_scanned") > 0.0)
    assert(traced.layers("storage.leaked_rdds") == 0.0)
    assert(Runner.storageClean(spark))
  }
}
