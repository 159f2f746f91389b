package graft.queries

import graft.{QueryDef, QueryGroup, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function tier — SURVEY.md §2.5.
  *
  * All 11 Presto window functions (ranking + value), aggregates over
  * windows, ROWS/RANGE frames, and the row_number-top-k pattern that
  * Presto's WindowFilterPushDown (and Spark's WindowGroupLimit) turn
  * into a per-partition bounded heap — at 100 TB the top-k per group
  * never materializes the full sorted partition.
  */
object Windows extends QueryGroup {
  private def r4(c: Column): Column = round(c, 4)

  override def defs: Map[String, QueryDef] = Map(
    // Ranking functions: row_number, rank, dense_rank, percent_rank,
    // cume_dist, ntile.
    "window_ranking" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_orderstatus")
          .orderBy($"o_totalprice".desc_nulls_last, $"o_orderkey")
        Tables.orders(s, dir)
          .select($"o_orderkey", $"o_orderstatus",
            row_number().over(w).as("rn"),
            rank().over(w).as("rk"),
            dense_rank().over(w).as("drk"),
            r4(percent_rank().over(w)).as("prk"),
            r4(cume_dist().over(w)).as("cd"),
            ntile(4).over(w).as("quartile"))
          .orderBy($"o_orderstatus", $"rn")
      },
      Some("""SELECT o_orderkey, o_orderstatus,
             |  row_number() OVER w AS rn,
             |  rank() OVER w AS rk,
             |  dense_rank() OVER w AS drk,
             |  round(percent_rank() OVER w, 4) AS prk,
             |  round(cume_dist() OVER w, 4) AS cd,
             |  ntile(4) OVER w AS quartile
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
             |ORDER BY o_orderstatus, rn""".stripMargin)),

    // Value functions: lag/lead with offset+default, first/last/nth.
    // The synthetic lineitem has duplicate (l_orderkey, l_linenumber)
    // pairs (11.8k at sf0.01), so l_linenumber alone is NOT a total
    // order within the partition — value-function results would then
    // depend on file/scan order (the one red row in the r8 sf1 gate).
    // (l_linenumber, l_quantity, l_extendedprice) is verified unique
    // per order at every SF (Round9FixesSpec's determinism tests), and
    // DeriveSf1's key-offset replication preserves per-replica
    // uniqueness.
    "window_value" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"l_orderkey")
          .orderBy($"l_linenumber", $"l_quantity", $"l_extendedprice")
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.lineitem(s, dir)
          .filter($"l_orderkey" <= 500)
          .select($"l_orderkey", $"l_linenumber",
            lag($"l_quantity", 1).over(w).as("prev_qty"),
            lead($"l_quantity", 2, -1.0).over(w).as("next2_qty"),
            first($"l_quantity").over(wf).as("first_qty"),
            last($"l_quantity").over(wf).as("last_qty"),
            nth_value($"l_quantity", 2).over(wf).as("second_qty"))
          // prev_qty/next2_qty tie-break: duplicate (l_orderkey,
          // l_linenumber) pairs exist in the testdata (r12 order audit)
          .orderBy($"l_orderkey", $"l_linenumber", $"prev_qty", $"next2_qty")
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  lag(l_quantity, 1) OVER w AS prev_qty,
             |  lead(l_quantity, 2, -1.0) OVER w AS next2_qty,
             |  first_value(l_quantity) OVER wf AS first_qty,
             |  last_value(l_quantity) OVER wf AS last_qty,
             |  nth_value(l_quantity, 2) OVER wf AS second_qty
             |FROM lineitem WHERE l_orderkey <= 500
             |WINDOW w AS (PARTITION BY l_orderkey
             |         ORDER BY l_linenumber, l_quantity, l_extendedprice),
             |  wf AS (PARTITION BY l_orderkey
             |         ORDER BY l_linenumber, l_quantity, l_extendedprice
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY l_orderkey, l_linenumber, prev_qty, next2_qty""".stripMargin)),

    // IGNORE NULLS value functions (Presto FirstValueFunction etc.
    // all accept IGNORE NULLS; Spark exposes the same modifier).
    "window_ignore_nulls" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey").orderBy($"o_orderkey")
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.orders(s, dir)
          .filter($"o_custkey" <= 30)
          .withColumn("sparse",
            when($"o_orderstatus" === "O", $"o_totalprice"))
          .select($"o_custkey", $"o_orderkey",
            round(lag($"sparse", 1, null, ignoreNulls = true).over(w), 4)
              .as("prev_open_price"),
            round(first($"sparse", ignoreNulls = true).over(wf), 4)
              .as("first_open_price"),
            round(last($"sparse", ignoreNulls = true).over(wf), 4)
              .as("last_open_price"))
          .orderBy($"o_custkey", $"o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  round(lag(sparse, 1 IGNORE NULLS) OVER w, 4) AS prev_open_price,
             |  round(first_value(sparse IGNORE NULLS) OVER wf, 4) AS first_open_price,
             |  round(last_value(sparse IGNORE NULLS) OVER wf, 4) AS last_open_price
             |FROM (SELECT *, CASE WHEN o_orderstatus = 'O' THEN o_totalprice END AS sparse
             |      FROM orders WHERE o_custkey <= 30)
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey),
             |  wf AS (PARTITION BY o_custkey ORDER BY o_orderkey
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // Aggregates over ROWS frames (running sum, sliding avg).
    // Same latent tie-ambiguity as window_value: (l_orderkey,
    // l_linenumber) duplicates make the 3-column order non-total (one
    // collision at sf0.1 already), so ROWS-frame running sums would be
    // layout-dependent. Tiebreak on the measured columns themselves —
    // any residual full tie then permutes identical values, leaving
    // every frame aggregate invariant.
    "window_agg_frames" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"l_suppkey")
          .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber",
            $"l_quantity", $"l_extendedprice")
        Tables.lineitem(s, dir)
          .filter($"l_suppkey" <= 3)
          .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
            r4(sum($"l_quantity").over(w.rowsBetween(Window.unboundedPreceding, 0)))
              .as("running_qty"),
            r4(avg($"l_extendedprice").over(w.rowsBetween(-2, 0))).as("sliding_avg"),
            count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)).as("part_n"))
          .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber",
            $"running_qty", $"sliding_avg")
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
             |  round(sum(l_quantity) OVER (PARTITION BY l_suppkey
             |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_qty,
             |  round(avg(l_extendedprice) OVER (PARTITION BY l_suppkey
             |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS sliding_avg,
             |  count(*) OVER (PARTITION BY l_suppkey) AS part_n
             |FROM lineitem WHERE l_suppkey <= 3
             |ORDER BY l_suppkey, l_orderkey, l_linenumber,
             |  running_qty, sliding_avg""".stripMargin)),

    // RANGE frame (UNBOUNDED PRECEDING → CURRENT ROW — ties share values;
    // the only RANGE form Presto 0.216 supports, StatementAnalyzer.java:1365).
    "window_range_frame" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_orderstatus").orderBy($"o_totalprice")
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, dir)
          .filter($"o_custkey" <= 20)
          .select($"o_orderkey", $"o_orderstatus",
            count(lit(1)).over(w).as("n_le"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus,
             |  count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
             |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_le
             |FROM orders WHERE o_custkey <= 20
             |ORDER BY o_orderkey""".stripMargin)),

    // RANGE frame with NUMERIC OFFSET bounds (Presto RANGE x PRECEDING,
    // WindowOperator value-based frames): every peer within ±5000 of
    // the current row's price.
    "window_range_offset" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_orderstatus").orderBy($"o_totalprice")
          .rangeBetween(-5000L, 5000L)
        Tables.orders(s, dir)
          .filter($"o_custkey" <= 20)
          .select($"o_orderkey", $"o_orderstatus",
            count(lit(1)).over(w).as("n_near"),
            r4(avg($"o_totalprice").over(w)).as("avg_near"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus,
             |  count(*) OVER w AS n_near,
             |  round(avg(o_totalprice) OVER w, 4) AS avg_near
             |FROM orders WHERE o_custkey <= 20
             |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice
             |  RANGE BETWEEN 5000 PRECEDING AND 5000 FOLLOWING)
             |ORDER BY o_orderkey""".stripMargin)),

    // Top-k per group via row_number filter (TopNRowNumberOperator /
    // WindowGroupLimitExec — verify with .explain that the group-limit
    // kicks in, so no full per-group sort at scale).
    "window_topk_per_group" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_totalprice".desc_nulls_last, $"o_orderkey")
        Tables.orders(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 3)
          .select($"o_custkey", $"rn", $"o_orderkey", r4($"o_totalprice").as("price"))
          .orderBy($"o_custkey", $"rn")
      },
      Some("""SELECT o_custkey, rn, o_orderkey, round(o_totalprice, 4) AS price FROM (
             |  SELECT *, row_number() OVER (PARTITION BY o_custkey
             |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) t
             |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin))
  )
}
