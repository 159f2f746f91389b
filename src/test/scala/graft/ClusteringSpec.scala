package graft

import graft.queries.Clustering
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Fixpoint min-label propagation (the LSH dedup clustering stage). */
class ClusteringSpec extends AnyFunSuite with SparkFixture with Matchers {

  test("chained components need >1 round and converge to one cluster") {
    import spark.implicits._
    // chain 1—5—9 through buckets b1, b2 with ascending ids: after one
    // round 9's label is 5 (not yet 1) — transitivity requires the loop
    val edges = Seq((1L, "b1"), (5L, "b1"), (5L, "b2"), (9L, "b2"))
      .toDF("id", "bucket")
    val oneRound = Clustering.propagateRounds(edges, 1)
      .orderBy($"id").as[(Long, Long)].collect()
    oneRound shouldBe Array((1L, 1L), (5L, 1L), (9L, 5L))
    val fixed = Clustering.propagateToFixpoint(edges)
      .orderBy($"id").as[(Long, Long)].collect()
    fixed shouldBe Array((1L, 1L), (5L, 1L), (9L, 1L))
  }

  test("disjoint components stay separate at the fixpoint") {
    import spark.implicits._
    val edges = Seq((1L, "a"), (2L, "a"), (7L, "z"), (8L, "z"), (3L, "solo"))
      .toDF("id", "bucket")
    val fixed = Clustering.propagateToFixpoint(edges)
      .orderBy($"id").as[(Long, Long)].collect()
    fixed shouldBe Array((1L, 1L), (2L, 1L), (3L, 3L), (7L, 7L), (8L, 7L))
    // 5 input edges; the contracted cluster graph keeps one edge per
    // (cluster, bucket): (1,a), (7,z), (3,solo)
    val stats = Clustering.lastStats
    stats.edgeRows shouldBe 5L
    stats.contractedEdgeRows shouldBe 3L
    stats.converged shouldBe true
  }

  test("propagation round is hash-shuffle shaped — no quadratic operator") {
    import spark.implicits._
    val edges = Seq((1L, "b1"), (5L, "b1")).toDF("id", "bucket")
    val plan = Clustering.propagateRounds(edges, 2)
      .queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("long chain (diameter 5) converges within maxIters") {
    import spark.implicits._
    // path 1—2—3—4—5—6, each adjacent pair sharing one bucket
    val edges = (1 to 5).flatMap(i =>
      Seq((i.toLong, s"e$i"), ((i + 1).toLong, s"e$i"))).toDF("id", "bucket")
    val fixed = Clustering.propagateToFixpoint(edges)
      .as[(Long, Long)].collect().toMap
    fixed.values.toSet shouldBe Set(1L)
  }

  test("checkpointed rounds truncate lineage and leave labels unchanged") {
    // every materialization is an eager localCheckpoint: the returned
    // frame's plan is a leaf scan of checkpointed blocks, never a join
    // chain back through rounds 1..r-1, and the labels are the path's
    // component minimum
    import spark.implicits._
    val edges = (1 to 5).flatMap(i =>
      Seq((i.toLong, s"e$i"), ((i + 1).toLong, s"e$i"))).toDF("id", "bucket")
    val fixed = Clustering.propagateToFixpoint(edges)
    fixed.orderBy($"id").as[(Long, Long)].collect() shouldBe
      (1 to 6).map(i => (i.toLong, 1L)).toArray
    val logical = fixed.queryExecution.logical.toString
    logical should not include "Join"
    logical should include("LogicalRDD")
  }
}
