package graft.queries

import graft.{QueryDef, QueryGroup, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Aggregation tier — SURVEY.md §2.4.
  *
  * Hash/global/distinct aggregation, FILTER clause, GROUPING SETS /
  * ROLLUP / CUBE, ordered aggregates, statistical aggregates.
  * All of these compile to HashAggregateExec with partial (map-side)
  * aggregation before the shuffle — the same partial/final split
  * Presto's PushPartialAggregationThroughExchange produces — so at
  * 100 TB the shuffle carries one row per (partition × group), not
  * per input row.
  */
object Aggregates extends QueryGroup {
  private def r4(c: Column): Column = round(c, 4)

  override def defs: Map[String, QueryDef] = Map(
    // Global aggregation (no keys) over many aggregate functions.
    "agg_global" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir).agg(
          count(lit(1)).as("n"),
          count($"l_quantity").as("n_qty"),
          r4(sum($"l_quantity")).as("sum_qty"),
          r4(avg($"l_extendedprice")).as("avg_price"),
          r4(min($"l_extendedprice")).as("min_price"),
          r4(max($"l_extendedprice")).as("max_price"))
      },
      Some("""SELECT count(*) AS n, count(l_quantity) AS n_qty,
             |  round(sum(l_quantity), 4) AS sum_qty,
             |  round(avg(l_extendedprice), 4) AS avg_price,
             |  round(min(l_extendedprice), 4) AS min_price,
             |  round(max(l_extendedprice), 4) AS max_price
             |FROM lineitem""".stripMargin)),

    // DISTINCT aggregates (MarkDistinct in Presto; Catalyst expands natively).
    "agg_distinct" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(
            countDistinct($"l_suppkey").as("n_supp"),
            countDistinct($"l_partkey").as("n_part"),
            r4(sum_distinct($"l_quantity")).as("sum_dist_qty"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  count(DISTINCT l_suppkey) AS n_supp,
             |  count(DISTINCT l_partkey) AS n_part,
             |  round(sum(DISTINCT l_quantity), 4) AS sum_dist_qty
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // FILTER clause on aggregates (ImplementFilteredAggregations).
    "agg_filter_clause" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        // exact cents (r12): the sf1 per-flag sums are ~4.7e10, where
        // round(sum(double), 4) flips on summation order (see tpch_q11)
        s.sql("""SELECT l_returnflag,
                |  count(*) FILTER (WHERE l_quantity > 25.0) AS n_heavy,
                |  CAST(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                |    FILTER (WHERE l_discount > 0.05) AS BIGINT) AS DOUBLE) / 100.0
                |    AS disc_price
                |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag,
             |  count(*) FILTER (WHERE l_quantity > 25.0) AS n_heavy,
             |  CAST(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
             |    FILTER (WHERE l_discount > 0.05) AS BIGINT) AS DOUBLE) / 100.0
             |    AS disc_price
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ROLLUP (GroupIdOperator / grouping sets expansion).
    "agg_rollup" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)).as("n"), r4(sum($"l_quantity")).as("qty"))
          .orderBy($"l_returnflag".asc_nulls_last, $"l_linestatus".asc_nulls_last)
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  round(sum(l_quantity), 4) AS qty
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin)),

    // CUBE with grouping_id() (Presto grouping()).
    "agg_cube" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .cube($"o_orderstatus", $"o_orderpriority")
          .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
          .orderBy($"gid", $"o_orderstatus".asc_nulls_last,
            $"o_orderpriority".asc_nulls_last)
      },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |  grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS gid
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY gid, o_orderstatus NULLS LAST, o_orderpriority NULLS LAST""".stripMargin)),

    // Explicit GROUPING SETS.
    "agg_grouping_sets" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n
                |FROM lineitem
                |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
                |ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
             |ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin)),

    // GROUPING()/GROUPING_ID() metadata functions over grouping sets
    // (Presto GroupIdOperator + grouping() rewrite,
    // presto-main/.../scalar/GroupingOperationFunction.java).
    "agg_grouping_fn" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT l_returnflag, l_linestatus,
                |  grouping(l_returnflag) AS g_rf,
                |  grouping(l_linestatus) AS g_ls,
                |  cast(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
                |  count(*) AS n
                |FROM lineitem
                |GROUP BY CUBE (l_returnflag, l_linestatus)
                |ORDER BY gid, l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(grouping(l_returnflag) AS TINYINT) AS g_rf,
             |  CAST(grouping(l_linestatus) AS TINYINT) AS g_ls,
             |  CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
             |  count(*) AS n
             |FROM lineitem
             |GROUP BY CUBE (l_returnflag, l_linestatus)
             |ORDER BY gid, l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin)),

    // Ordered aggregate: array_agg(x ORDER BY y) — Presto buffers in a
    // PagesIndex then sorts (GenericAccumulatorFactory); here the
    // struct-sort rewrite keeps it fully distributed.
    "agg_ordered_array" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .filter($"l_orderkey" <= 100)
          .groupBy($"l_orderkey")
          .agg(array_join(transform(
            array_sort(collect_list(struct($"l_linenumber", $"l_quantity"))),
            x => format_string("%.4f", x.getField("l_quantity"))), ",").as("qtys"))
          .orderBy($"l_orderkey")
      },
      // l_linenumber ties exist in the synthetic data; the struct sort
      // tiebreaks on l_quantity, so the oracle must order the same way.
      // Joined to one string so the driver's oracle can sort/hash it.
      Some("""SELECT l_orderkey,
             |  coalesce(array_to_string(list_transform(
             |    list(l_quantity ORDER BY l_linenumber, l_quantity),
             |    x -> printf('%.4f', x)), ','), '') AS qtys
             |FROM lineitem WHERE l_orderkey <= 100
             |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)),

    // reduce_agg(x, s0, input_fn, combine_fn) as a callable aggregate
    // (ReduceAggregationFunction.java): registered in GraftFunctions as
    // an ArrayAggregate fold over the collected group.
    "agg_reduce_agg" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT l_returnflag,
                |  round(reduce_agg(l_quantity, 0.0D,
                |    (s, x) -> s + x, (a, b) -> a + b), 4) AS total_qty,
                |  reduce_agg(cast(1 AS BIGINT), cast(0 AS BIGINT),
                |    (s, x) -> s + x, (a, b) -> a + b) AS n_rows
                |FROM lineitem GROUP BY l_returnflag
                |ORDER BY l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag, round(sum(l_quantity), 4) AS total_qty,
             |  count(*) AS n_rows
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // min_by / max_by (Presto minmaxby/).
    "agg_min_max_by" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .groupBy($"o_orderstatus")
          .agg(
            min_by($"o_orderkey", $"o_totalprice").as("cheapest_order"),
            max_by($"o_orderkey", $"o_totalprice").as("priciest_order"))
          .orderBy($"o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             |  min_by(o_orderkey, o_totalprice) AS cheapest_order,
             |  max_by(o_orderkey, o_totalprice) AS priciest_order
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Statistical aggregates (VarianceAggregation / CentralMoments / corr).
    "agg_stats" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(
            r4(var_samp($"l_quantity")).as("var_qty"),
            r4(var_pop($"l_quantity")).as("varp_qty"),
            r4(stddev_samp($"l_extendedprice")).as("std_price"),
            r4(stddev_pop($"l_extendedprice")).as("stdp_price"),
            r4(skewness($"l_discount")).as("skew_disc"),
            r4(kurtosis($"l_discount")).as("kurt_disc"),
            r4(corr($"l_quantity", $"l_extendedprice")).as("corr_qp"),
            r4(covar_samp($"l_quantity", $"l_extendedprice")).as("cov_qp"),
            r4(covar_pop($"l_quantity", $"l_extendedprice")).as("covp_qp"))
          .orderBy($"l_returnflag")
      },
      // Spark (and Presto's CentralMomentsAggregation) return POPULATION
      // skewness g1 = m3/m2^1.5 and excess kurtosis m4/m2^2 - 3, while
      // DuckDB's skewness/kurtosis are sample-bias-corrected — so the
      // oracle computes the population forms from centered moments.
      Some("""WITH t AS (
             |  SELECT l_returnflag, l_quantity, l_extendedprice,
             |    l_discount - avg(l_discount) OVER (PARTITION BY l_returnflag) AS dd
             |  FROM lineitem)
             |SELECT l_returnflag,
             |  round(var_samp(l_quantity), 4) AS var_qty,
             |  round(var_pop(l_quantity), 4) AS varp_qty,
             |  round(stddev_samp(l_extendedprice), 4) AS std_price,
             |  round(stddev_pop(l_extendedprice), 4) AS stdp_price,
             |  round(avg(dd*dd*dd) / power(avg(dd*dd), 1.5), 4) AS skew_disc,
             |  round(avg(dd*dd*dd*dd) / power(avg(dd*dd), 2) - 3, 4) AS kurt_disc,
             |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
             |  round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qp,
             |  round(covar_pop(l_quantity, l_extendedprice), 4) AS covp_qp
             |FROM t GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // regr_slope / regr_intercept (DoubleRegressionAggregation).
    "agg_regression" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir).agg(
          r4(regr_slope($"l_extendedprice", $"l_quantity")).as("slope"),
          r4(regr_intercept($"l_extendedprice", $"l_quantity")).as("intercept"))
      },
      Some("""SELECT round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
             |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept
             |FROM lineitem""".stripMargin)),

    // bool_and / bool_or / count_if (Presto BooleanAndAggregation etc.).
    "agg_bool" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .groupBy($"o_orderstatus")
          .agg(
            bool_and($"o_totalprice" > 1000.0).as("all_over_1k"),
            bool_or($"o_totalprice" > 300000.0).as("any_over_300k"),
            count_if($"o_orderpriority" === "1-URGENT").as("n_urgent"))
          .orderBy($"o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             |  bool_and(o_totalprice > 1000.0) AS all_over_1k,
             |  bool_or(o_totalprice > 300000.0) AS any_over_300k,
             |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // bitwise_and_agg / bitwise_or_agg.
    "agg_bitwise" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(bit_and($"l_orderkey").as("band"),
            bit_or($"l_orderkey").as("bor"),
            bit_xor($"l_orderkey").as("bxor"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, bit_and(l_orderkey) AS band,
             |  bit_or(l_orderkey) AS bor, bit_xor(l_orderkey) AS bxor
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // geometric_mean (rewrite: exp(avg(ln x)) — Presto computes the same way).
    "agg_geometric_mean" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_linestatus")
          .agg(r4(exp(avg(log($"l_quantity")))).as("geo_mean_qty"))
          .orderBy($"l_linestatus")
      },
      Some("""SELECT l_linestatus, round(exp(avg(ln(l_quantity))), 4) AS geo_mean_qty
             |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    // arbitrary() ≈ any deterministic pick; pinned to min for the oracle.
    "agg_arbitrary" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .groupBy($"o_custkey")
          .agg(min($"o_orderpriority").as("some_priority"))
          .orderBy($"o_custkey")
      },
      Some("""SELECT o_custkey, min(o_orderpriority) AS some_priority
             |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // histogram (Presto map<V,bigint>) — rewritten relationally as
    // groupBy so it stays shuffle-partial-aggregated and oracle-checkable.
    "agg_histogram" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("freq"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS freq FROM orders
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // histogram / multimap_agg / numeric_histogram as CALLABLE
    // aggregates (HistogramAgg / MultimapAgg UDAFs + the Ben-Haim
    // histogram_numeric reshaped to Presto's map<double,double>) —
    // the relational rewrites above stay as the plan-shape variants.
    "agg_callable_maps" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT c_mktsegment,
                |  size(histogram(c_nationkey)) AS nh,
                |  aggregate(map_values(histogram(c_nationkey)), 0L,
                |    (a, x) -> a + x) AS tot,
                |  size(multimap_agg(c_nationkey, c_custkey)) AS nmk,
                |  aggregate(transform(map_values(multimap_agg(c_nationkey, c_custkey)),
                |    v -> size(v)), 0, (a, x) -> a + x) AS nmv,
                |  size(numeric_histogram(5, c_acctbal)) AS nb
                |FROM customer GROUP BY c_mktsegment
                |ORDER BY c_mktsegment""".stripMargin)
      },
      Some("""SELECT c_mktsegment,
             |  CAST(count(DISTINCT c_nationkey) AS INT) AS nh,
             |  count(*) AS tot,
             |  CAST(count(DISTINCT c_nationkey) AS INT) AS nmk,
             |  CAST(count(c_custkey) AS INT) AS nmv,
             |  CAST(5 AS INT) AS nb
             |FROM customer GROUP BY c_mktsegment
             |ORDER BY c_mktsegment""".stripMargin)),

    // Skew-handling pattern: salted two-stage aggregation. Stage 1
    // spreads each hot key over 8 salt shards (map-side partial sums
    // shuffle on (key, salt)); stage 2 merges shards per key. Results
    // are identical to the direct group-by — the point is that no
    // single reducer ever receives a whole hot key at 100 TB. (Spark's
    // AQE skew-join split covers joins; this is the agg-side analog.)
    "agg_salted_twostage" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .withColumn("salt", pmod(xxhash64($"l_orderkey", $"l_linenumber"), lit(8)))
          .groupBy($"l_suppkey", $"salt")
          .agg(sum($"l_quantity").as("partial_qty"), count(lit(1)).as("partial_n"))
          .groupBy($"l_suppkey")
          .agg(r4(sum($"partial_qty")).as("total_qty"), sum($"partial_n").as("n"))
          .orderBy($"l_suppkey")
      },
      Some("""SELECT l_suppkey, round(sum(l_quantity), 4) AS total_qty,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)),

    // approx_percentile — Spark percentile_approx with high accuracy
    // matches DuckDB's exact quantile on sf0.01-scale groups when the
    // requested quantile lands on an exact data point; we use median of
    // integers for a deterministic cross-engine compare.
    "agg_percentile_exact" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(r4(expr("percentile(l_quantity, 0.5)")).as("median_qty"),
            r4(expr("percentile(l_quantity, array(0.25, 0.75))[0]")).as("p25_qty"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
             |  round(quantile_cont(l_quantity, 0.25), 4) AS p25_qty
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))
  )
}
