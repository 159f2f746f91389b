package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class VecExpressionsSpec extends AnyFunSuite with SparkFixture with Matchers {

  test("vec_dot computes the dot product") {
    import spark.implicits._
    val got = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
      .selectExpr("vec_dot(a, b) AS d").as[Double].head()
    got shouldBe 32.0
  }

  test("vec_dot truncates to the shorter vector") {
    import spark.implicits._
    val got = Seq((Seq(1.0, 2.0, 3.0), Seq(10.0))).toDF("a", "b")
      .selectExpr("vec_dot(a, b) AS d").as[Double].head()
    got shouldBe 10.0
  }

  test("vec_dot is null-safe") {
    import spark.implicits._
    val df = Seq((Some(Seq(1.0)), Option.empty[Seq[Double]])).toDF("a", "b")
    df.selectExpr("vec_dot(a, b) AS d").head().isNullAt(0) shouldBe true
  }

  test("vec_norm computes the L2 norm") {
    import spark.implicits._
    val got = Seq(Seq(3.0, 4.0)).toDF("a")
      .selectExpr("vec_norm(a) AS n").as[Double].head()
    got shouldBe 5.0
  }

  test("codegen and interpreted paths agree on real embeddings") {
    import spark.implicits._
    val v = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .limit(50)
    val withCodegen = v.selectExpr("sum(vec_dot(v, v)) AS s").as[Double].head()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = v.selectExpr("sum(vec_dot(v, v)) AS s").as[Double].head()
      withCodegen shouldBe interpreted
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }
}
