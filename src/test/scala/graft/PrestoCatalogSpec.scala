package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Presto-name compatibility shims resolve and compute correctly. */
class PrestoCatalogSpec extends AnyFunSuite with SparkFixture with Matchers {

  private def one[T](sql: String): T =
    spark.sql(s"SELECT $sql AS v").collect().head.getAs[T]("v")

  test("string shims") {
    one[Int]("strpos('hello', 'll')") shouldBe 3
    one[Int]("codepoint('A')") shouldBe 65
  }

  test("datetime shims use ISO day-of-week") {
    // 2024-01-01 is a Monday
    one[Int]("day_of_week(TIMESTAMP '2024-01-01 00:00:00')") shouldBe 1
    one[Int]("dow(TIMESTAMP '2024-01-07 00:00:00')") shouldBe 7
    one[Int]("year_of_week(TIMESTAMP '2021-01-01 00:00:00')") shouldBe 2020
    one[Double]("to_unixtime(TIMESTAMP '1970-01-01 00:00:01')") shouldBe 1.0
  }

  test("math shims") {
    one[Double]("truncate(3.7)") shouldBe 3.0
    one[Double]("truncate(-3.7)") shouldBe -3.0
    one[Boolean]("is_nan(nan())") shouldBe true
    one[Boolean]("is_infinite(infinity())") shouldBe true
    one[Boolean]("is_finite(1.5)") shouldBe true
    one[Long]("from_base('ff', 16)") shouldBe 255L
    one[String]("to_base(255, 16)") shouldBe "ff"
    one[Long]("width_bucket_fn(5.0, 0.0, 10.0, 5)") shouldBe 3L
    one[Long]("width_bucket_fn(-1.0, 0.0, 10.0, 5)") shouldBe 0L
    one[Long]("width_bucket_fn(11.0, 0.0, 10.0, 5)") shouldBe 6L
  }

  test("normal_cdf / inverse_normal_cdf") {
    one[Double]("round(normal_cdf(0.0, 1.0, 0.0), 6)") shouldBe 0.5
    one[Double]("round(normal_cdf(0.0, 1.0, 1.96), 4)") shouldBe 0.975
    one[Double]("round(inverse_normal_cdf(0.0, 1.0, 0.975), 2)") shouldBe 1.96
    one[Double]("round(inverse_normal_cdf(10.0, 2.0, 0.5), 6)") shouldBe 10.0
  }

  test("json and url shims") {
    one[String]("json_extract_scalar('{\"a\": {\"b\": 3}}', '$.a.b')") shouldBe "3"
    one[String]("url_extract_host('https://h.example.com:8443/p?q=1#f')") shouldBe "h.example.com"
    one[String]("url_extract_parameter('https://h/p?q=1&r=2', 'r')") shouldBe "2"
  }

  test("binary shims") {
    one[String]("to_hex(to_utf8('ab'))") shouldBe "6162".toUpperCase
    one[String]("from_utf8(from_hex('6162'))") shouldBe "ab"
    one[String]("to_base64(to_utf8('x'))") shouldBe "eA=="
  }

  test("aggregate aliases") {
    import spark.implicits._
    val df = Seq(1, 2, 2, 3).toDF("x")
    df.createOrReplaceTempView("t_alias")
    spark.sql("SELECT approx_distinct(x) AS d FROM t_alias")
      .as[Long].head() shouldBe 3L
    spark.sql("SELECT arbitrary(x) AS a FROM t_alias")
      .as[Int].head() should be >= 1
  }

  test("vector similarity shims") {
    one[Double]("round(cosine_similarity_arr(array(1.0d, 0.0d), array(1.0d, 0.0d)), 6)") shouldBe 1.0
    one[Double]("round(cosine_distance(array(1.0d, 0.0d), array(0.0d, 1.0d)), 6)") shouldBe 1.0
  }

  test("iso8601, durations, multimaps, json tail, combine_hash, fail") {
    one[String]("to_iso8601(TIMESTAMP '2001-08-22 03:04:05.321')") shouldBe
      "2001-08-22T03:04:05.321"
    one[String]("cast(from_iso8601_timestamp('2001-08-22T03:04:05') AS STRING)") shouldBe
      "2001-08-22 03:04:05"
    one[String]("cast(from_iso8601_date('2001-08-22') AS STRING)") shouldBe "2001-08-22"
    one[Long]("to_milliseconds(parse_duration('90s'))") shouldBe 90000L
    one[Long]("to_milliseconds(INTERVAL '1 02:00:00' DAY TO SECOND)") shouldBe
      (26L * 3600 * 1000)
    one[String]("to_json(split_to_multimap('a=1,b=2,a=3', ',', '='))") shouldBe
      """{"a":["1","3"],"b":["2"]}"""
    one[String](
      """to_json(multimap_from_entries(array(
        |  named_struct('k', 'a', 'v', 'x'),
        |  named_struct('k', 'b', 'v', 'y'),
        |  named_struct('k', 'a', 'v', 'z'))))""".stripMargin) shouldBe
      """{"a":["x","z"],"b":["y"]}"""
    one[Boolean]("json_array_contains('[1,2,3]', '2')") shouldBe true
    one[Boolean]("json_array_contains('[\"a\",\"b\"]', 'c')") shouldBe false
    one[Int]("json_size('{\"a\":1,\"b\":{\"c\":2,\"d\":3}}', '$.b')") shouldBe 2
    one[Int]("json_size('{\"a\":[1,2,3]}', '$.a')") shouldBe 3
    one[Int]("json_size('{\"a\":1}', '$.a')") shouldBe 0
    one[Long]("combine_hash(7L, 11L)") shouldBe (31L * 7 + 11)
    // wraps instead of raising at the 64-bit boundary
    one[Long]("combine_hash(9223372036854775807L, 1L)") shouldBe
      (31L * Long.MaxValue + 1L)
    one[String]("cast(at_timezone(TIMESTAMP '2021-01-15 12:00:00', " +
      "'America/Los_Angeles') AS STRING)") shouldBe "2021-01-15 04:00:00"
    val e = intercept[Exception](spark.sql("SELECT fail('boom')").collect())
    e.getMessage should include("boom")
  }

  test("a realistic Presto-dialect query runs unchanged") {
    Tables.registerAll(spark, sfDir)
    // mixes Presto spellings end to end: strpos, date_parse, try,
    // approx_distinct, arbitrary, split_to_map inputs, checksum
    val rows = spark.sql(
      """SELECT o_orderstatus,
        |  approx_distinct(o_custkey) AS nc,
        |  arbitrary(o_orderpriority) AS any_prio,
        |  count_if(strpos(o_orderpriority, 'URGENT') > 0) AS n_urgent,
        |  checksum(o_orderkey) AS cs,
        |  max(date_diff(DAY, o_orderdate,
        |    date_parse('2001-12-31', '%Y-%m-%d'))) AS max_days_left,
        |  max(try(1 div (o_orderkey - o_orderkey))) AS safe_null
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin).collect()
    rows.length shouldBe 3
    rows.foreach { r =>
      r.getAs[Long]("nc") should be > 0L
      r.getAs[Long]("max_days_left") should be > 0L
      assert(r.isNullAt(r.fieldIndex("safe_null")))
    }
  }
}
