package graft

import graft.queries.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Scale shape of sim_semdedup's derived-k clustering (VERDICT r9: the
  * fixed-label version's pair count grew as N²/k; the committed
  * artifact must bound per-cluster pair work at any corpus size).
  * Exercises [[Similarity.semdedupClusters]] on sf0.1's embeddings and
  * on an sf1-EQUIVALENT 10× key-offset replication (the transform
  * DeriveSf1 and ScaleProbe ship), asserting cluster sizes — hence pair
  * counts — stay bounded while jitter-planted near-dup pairs stay
  * co-clustered.
  */
class SemDedupScaleSpec extends AnyFunSuite with SparkFixture with Matchers {

  private val Target = 50
  private val Rounds = 8

  private def vectors(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr("vec_norm(v)"))

  private def emb(dir: String): DataFrame =
    vectors(spark.read.parquet(s"$dir/embeddings.parquet"))

  /** The shipped 10× embeddings scale-up ([[tools.DeriveSf1.corpusReplicas]]). */
  private def sf1Like: DataFrame = vectors(
    tools.DeriveSf1.corpusReplicas(spark, "/root/testdata/sf0.1", 10)._2)

  private def planted(df: DataFrame, n: Int): DataFrame = {
    val p = df.filter(col("vec_id") < n)
      .select((col("vec_id") + 100000L).as("vec_id"), col("label"),
        transform(col("v"), x => x + lit(0.001)).as("v"))
      .withColumn("nrm", expr("vec_norm(v)"))
    df.unionByName(p)
  }

  private def maxClusterSize(df: DataFrame): Long =
    Similarity.semdedupClusters(df, Target, Rounds)
      .groupBy("cl").count().agg(max("count")).head().getLong(0)

  test("sf0.1: clusters stay near the target bound") {
    // cells of ~200 need 2 balanced splits; allow 2x slack for
    // imbalance — the pair stage is then ≤ (2·target)²/2 per cluster
    maxClusterSize(planted(emb("/root/testdata/sf0.1"), 40)) should be <= (2L * Target)
  }

  test("sf1 derivation: 10x the corpus, same cluster bound (pair work ~N·target)") {
    val all = planted(sf1Like, 40)
    all.count() shouldBe 20040L
    maxClusterSize(all) should be <= (2L * Target)
  }

  test("planted near-dup pairs never straddle a bisection boundary") {
    import spark.implicits._
    val clustered = Similarity.semdedupClusters(
      planted(emb("/root/testdata/sf0.1"), 40), Target, Rounds)
      .select($"vec_id", $"cl")
    val src = clustered.filter($"vec_id" < 40)
      .select($"vec_id".as("sid"), $"cl".as("scl"))
    val rep = clustered.filter($"vec_id" >= 100000L)
      .select(($"vec_id" - 100000L).as("sid"), $"cl".as("rcl"))
    val joined = src.join(rep, "sid")
    joined.count() shouldBe 40L
    joined.filter($"scl" =!= $"rcl").count() shouldBe 0L
  }
}
