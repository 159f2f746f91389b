package graft.queries

import graft.{QueryDef, QueryGroup, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-log analytics over the `events` table.
  *
  * The reference exposes message logs only as batch tables
  * (SURVEY.md §2.10 — Kafka/Redis connectors are bounded scans), so
  * these are batch queries; the same plans run unchanged as Structured
  * Streaming with `readStream` + watermark (see StreamingSpec), which
  * is the Spark-native scale path for continuous ingest.
  *
  * Scale notes: sessionization is one shuffle on user_id then a
  * per-partition sort — the canonical "segment by key, order by time"
  * pattern that scales linearly; at 100 TB you'd pre-bucket the log by
  * user_id so the shuffle disappears.
  */
object Events extends QueryGroup {
  private def r4(c: Column): Column = round(c, 4)

  override def defs: Map[String, QueryDef] = Map(
    // Tumbling-window aggregation (batch analog of a streaming
    // windowed agg): events per hour × type.
    "events_tumbling" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.events(s, dir)
          .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
          .agg(count(lit(1)).as("n"), r4(sum($"value")).as("total_value"))
          .orderBy($"hour", $"event_type")
      },
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type,
             |  count(*) AS n, round(sum(value), 4) AS total_value
             |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin)),

    // Gap-based sessionization: a session breaks after >30 min idle.
    // lag + conditional cumulative sum over (user_id, ts) — Presto
    // would express this identically with window functions.
    "events_sessionize" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        Tables.events(s, dir)
          .withColumn("prev_ts", lag($"ts", 1).over(w))
          .withColumn("new_session",
            when($"prev_ts".isNull ||
              unix_millis($"ts") - unix_millis($"prev_ts") > 1800000L, 1)
              .otherwise(0))
          .withColumn("session_id", sum($"new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy($"user_id", $"session_id")
          .agg(count(lit(1)).as("n_events"),
            (unix_millis(max($"ts")) - unix_millis(min($"ts"))).as("duration_ms"))
          .orderBy($"user_id", $"session_id")
      },
      // Millisecond epochs on both sides: Spark truncates ns→ms the same
      // way DuckDB's epoch_ms does, so gap tests agree exactly.
      Some("""WITH g AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, ts,
             |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
             |  FROM g)
             |SELECT user_id, session_id, count(*) AS n_events,
             |  epoch_ms(max(ts)) - epoch_ms(min(ts)) AS duration_ms
             |FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin)),

    // Three-step conversion funnel (view → click → purchase, strictly
    // ordered per user) — complements the 2-step signup funnel below
    // with the chained-ordering shape. Each step is a min-timestamp
    // aggregation joined to the previous step: three hash shuffles on
    // user_id, no window over the raw event stream, scale-transparent.
    "events_funnel3" -> QueryDef(
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events")
        s.sql("""WITH v AS (
                |  SELECT user_id, min(ts) AS t1 FROM events
                |  WHERE event_type = 'view' GROUP BY user_id),
                |c AS (
                |  SELECT e.user_id, min(e.ts) AS t2
                |  FROM events e JOIN v ON e.user_id = v.user_id
                |  WHERE e.event_type = 'click' AND e.ts > v.t1
                |  GROUP BY e.user_id),
                |p AS (
                |  SELECT e.user_id, min(e.ts) AS t3
                |  FROM events e JOIN c ON e.user_id = c.user_id
                |  WHERE e.event_type = 'purchase' AND e.ts > c.t2
                |  GROUP BY e.user_id)
                |SELECT (SELECT count(*) FROM v) AS n_view,
                |  (SELECT count(*) FROM c) AS n_view_click,
                |  (SELECT count(*) FROM p) AS n_view_click_purchase""".stripMargin)
      },
      Some("""WITH v AS (
             |  SELECT user_id, min(ts) AS t1 FROM events
             |  WHERE event_type = 'view' GROUP BY user_id),
             |c AS (
             |  SELECT e.user_id, min(e.ts) AS t2
             |  FROM events e JOIN v ON e.user_id = v.user_id
             |  WHERE e.event_type = 'click' AND e.ts > v.t1
             |  GROUP BY e.user_id),
             |p AS (
             |  SELECT e.user_id, min(e.ts) AS t3
             |  FROM events e JOIN c ON e.user_id = c.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts > c.t2
             |  GROUP BY e.user_id)
             |SELECT (SELECT count(*) FROM v) AS n_view,
             |  (SELECT count(*) FROM c) AS n_view_click,
             |  (SELECT count(*) FROM p) AS n_view_click_purchase""".stripMargin)),

    // Week-1 cohort retention: users grouped by first-activity day,
    // measured for any activity in the day-7..14 window — the bounded-
    // window variant of the day-offset retention below.
    "events_retention_wk1" -> QueryDef(
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events")
        s.sql("""WITH first AS (
                |  SELECT user_id, date_trunc('DAY', min(ts)) AS d0
                |  FROM events GROUP BY user_id),
                |r AS (
                |  SELECT f.user_id, f.d0,
                |    max(CASE WHEN e.ts >= f.d0 + INTERVAL 7 DAY
                |              AND e.ts < f.d0 + INTERVAL 14 DAY
                |             THEN 1 ELSE 0 END) AS retained
                |  FROM first f JOIN events e ON f.user_id = e.user_id
                |  GROUP BY f.user_id, f.d0)
                |SELECT cast(d0 AS DATE) AS cohort_day,
                |  count(*) AS n_users,
                |  cast(sum(retained) AS BIGINT) AS n_retained_wk1
                |FROM r GROUP BY d0 ORDER BY cohort_day""".stripMargin)
      },
      Some("""WITH first AS (
             |  SELECT user_id, date_trunc('day', min(ts)) AS d0
             |  FROM events GROUP BY user_id),
             |r AS (
             |  SELECT f.user_id, f.d0,
             |    max(CASE WHEN e.ts >= f.d0 + INTERVAL 7 DAY
             |              AND e.ts < f.d0 + INTERVAL 14 DAY
             |             THEN 1 ELSE 0 END) AS retained
             |  FROM first f JOIN events e ON f.user_id = e.user_id
             |  GROUP BY f.user_id, f.d0)
             |SELECT cast(d0 AS DATE) AS cohort_day,
             |  count(*) AS n_users,
             |  cast(sum(retained) AS BIGINT) AS n_retained_wk1
             |FROM r GROUP BY d0 ORDER BY cohort_day""".stripMargin)),

    // Native session windows (Spark session_window, 30-min gap) — the
    // built-in operator computing exactly what events_sessionize
    // hand-rolls; the oracle is the same windowed-CTE sessionization.
    "events_session_window" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.events(s, dir)
          .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"))
          .select($"user_id", unix_millis($"sw.start").as("session_start_ms"),
            $"n_events")
          .orderBy($"user_id", $"session_start_ms")
      },
      Some("""WITH g AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, ts,
             |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
             |  FROM g)
             |SELECT user_id, epoch_ms(min(ts)) AS session_start_ms,
             |  count(*) AS n_events
             |FROM s GROUP BY user_id, session_id
             |ORDER BY user_id, session_start_ms""".stripMargin)),

    // Funnel: users who signed up and later purchased.
    "events_funnel" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val e = Tables.events(s, dir)
        val signup = e.filter($"event_type" === "signup")
          .groupBy($"user_id").agg(min($"ts").as("signup_ts"))
        val purchase = e.filter($"event_type" === "purchase")
          .groupBy($"user_id").agg(min($"ts").as("purchase_ts"))
        signup.join(purchase, Seq("user_id"), "left")
          .agg(count(lit(1)).as("n_signup"),
            count(when($"purchase_ts" > $"signup_ts", 1)).as("n_converted"))
      },
      Some("""WITH su AS (SELECT user_id, min(ts) AS signup_ts FROM events
             |            WHERE event_type = 'signup' GROUP BY 1),
             |pu AS (SELECT user_id, min(ts) AS purchase_ts FROM events
             |       WHERE event_type = 'purchase' GROUP BY 1)
             |SELECT count(*) AS n_signup,
             |  count(CASE WHEN purchase_ts > signup_ts THEN 1 END) AS n_converted
             |FROM su LEFT JOIN pu USING (user_id)""".stripMargin)),

    // Daily-cohort retention: for each user's first-seen day, how many
    // distinct later day-offsets were they active on.
    "events_retention" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val e = Tables.events(s, dir)
          .select($"user_id", to_date($"ts").as("day"))
        val first = e.groupBy($"user_id").agg(min($"day").as("cohort_day"))
        e.join(first, Seq("user_id"))
          .select($"user_id", $"cohort_day",
            datediff($"day", $"cohort_day").as("day_offset"))
          .groupBy($"cohort_day", $"day_offset")
          .agg(countDistinct($"user_id").as("n_users"))
          .orderBy($"cohort_day", $"day_offset")
      },
      Some("""WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
             |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
             |SELECT cohort_day, date_diff('day', cohort_day, day) AS day_offset,
             |  count(DISTINCT e.user_id) AS n_users
             |FROM e JOIN f ON e.user_id = f.user_id
             |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin)),

    // As-of join: each purchase joined to the user's most recent
    // signup at-or-before it. Spark has no ASOF JOIN operator; the
    // scalable pattern is union the two streams, sort within user, and
    // carry the last signup ts forward with last_value(ignoreNulls) —
    // one shuffle + per-partition sort, no join explosion, no range
    // predicate fallback to broadcast-nested-loop. (DuckDB's native
    // ASOF LEFT JOIN is the oracle.)
    "events_asof_join" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val e = Tables.events(s, dir)
        val signups = e.filter($"event_type" === "signup")
          .select($"user_id", $"ts", lit(0).as("kind"), lit(null).cast("long").as("event_id"))
        val purchases = e.filter($"event_type" === "purchase")
          .select($"user_id", $"ts", lit(1).as("kind"), $"event_id")
        val w = Window.partitionBy($"user_id")
          .orderBy($"ts", $"kind")
          .rowsBetween(Window.unboundedPreceding, 0)
        signups.unionAll(purchases)
          .withColumn("last_signup_ts",
            last(when($"kind" === 0, $"ts"), ignoreNulls = true).over(w))
          .filter($"kind" === 1)
          .select($"event_id", $"user_id",
            unix_millis($"ts").as("purchase_ms"),
            unix_millis($"last_signup_ts").as("signup_ms"))
          .orderBy($"event_id")
      },
      Some("""SELECT p.event_id, p.user_id,
             |  epoch_ms(p.ts) AS purchase_ms, epoch_ms(s.ts) AS signup_ms
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
             |  ON p.user_id = s.user_id AND p.ts >= s.ts
             |ORDER BY p.event_id""".stripMargin)),

    // Top event values per type via window + JSON prop extraction.
    "events_top_per_type" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"event_type")
          .orderBy($"value".desc_nulls_last, $"event_id")
        Tables.events(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 5)
          .select($"event_type", $"rn", $"event_id", r4($"value").as("value"),
            get_json_object($"props", "$.k").cast("long").as("k"))
          .orderBy($"event_type", $"rn")
      },
      Some("""SELECT event_type, rn, event_id, round(value, 4) AS value,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM (SELECT *, row_number() OVER (
             |        PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
             |      FROM events) t
             |WHERE rn <= 5 ORDER BY event_type, rn""".stripMargin))
  )
}
