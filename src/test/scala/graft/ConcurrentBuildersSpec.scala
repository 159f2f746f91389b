package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.queries.{Clustering, Similarity}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The iterative builders keep no builder-wide lock and no
  * release-on-next-call state, so concurrent calls in one session give
  * their sequential results, and every materialization is a checkpoint
  * that the shared storage hygiene releases. */
class ConcurrentBuildersSpec extends AnyFunSuite with SparkFixture
    with Matchers {

  private def edges(pairs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    pairs.toDF("id", "bucket")
  }

  private def path(from: Long, to: Long): Seq[(Long, String)] =
    (from until to).flatMap(i => Seq((i, s"p$i"), (i + 1, s"p$i")))

  private def duplicates(n: Long, idStep: Long): DataFrame =
    spark.range(n).select((col("id") * idStep).as("vec_id"),
        lit(0).as("label"), typedLit(Seq.fill(8)(1.0d)).as("v"))
      .withColumn("nrm", expr("vec_norm(v)"))

  private def sorted(df: DataFrame, cols: String*): Seq[Row] =
    df.select(cols.map(col): _*).collect().toSeq.sortBy(_.toString)

  test("fixpoints and semdedup from a 4-thread pool equal their sequential results") {
    val edgeSets = Seq(
      Seq((1L, "b1"), (5L, "b1"), (5L, "b2"), (9L, "b2")),
      Seq((1L, "a"), (2L, "a"), (7L, "z"), (8L, "z"), (3L, "solo")),
      path(1L, 6L),
      path(100L, 111L) ++ Seq((100L, "hub"), (50L, "hub"), (60L, "hub")))
    val jobs: Seq[() => Seq[Row]] =
      edgeSets.map(es => () =>
        sorted(Clustering.propagateToFixpoint(edges(es)), "id", "cluster")) ++
        Seq(
          () => sorted(Similarity.semdedupClusters(duplicates(200L, 1L), 50, 8),
            "vec_id", "cl"),
          () => sorted(Similarity.semdedupClusters(duplicates(100L, 2L), 25, 8),
            "vec_id", "cl"))
    val sequential = jobs.map(_())
    val pool = Executors.newFixedThreadPool(4)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val concurrent = Await.result(
        Future.sequence(jobs.map(j => Future(j()))), 10.minutes)
      concurrent.zip(sequential).foreach { case (c, s) => c shouldBe s }
    } finally pool.shutdown()
  }

  test("a fixpoint leaves no cache entry and the storage hygiene releases its checkpoints") {
    Harness.dropStorage(spark)
    Clustering.propagateToFixpoint(edges(path(1L, 6L))).count() shouldBe 6L
    spark.sharedState.cacheManager.isEmpty shouldBe true
    spark.sparkContext.getPersistentRDDs should not be empty
    Harness.dropStorage(spark)
    spark.sparkContext.getPersistentRDDs shouldBe empty
  }
}
