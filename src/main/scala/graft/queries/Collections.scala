package graft.queries

import graft.{QueryDef, QueryGroup, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Array / map / higher-order function tier — SURVEY.md §2.8 Array+Map
  * rows (Presto Array*.java / Map*.java operator surface, ~60 files).
  *
  * All expressions are Catalyst higher-order functions (`transform`,
  * `filter`, `aggregate`, `zip_with`, …) — lambdas are compiled into
  * the plan, not UDF closures, so they stay codegen-adjacent and never
  * serialize per row. This is the §2.8 FUNCTION-type (lambda) surface.
  */
object Collections extends QueryGroup {
  private def r4(c: Column): Column = round(c, 4)

  override def defs: Map[String, QueryDef] = Map(
    // Array basics: construction, cardinality, distinct, contains,
    // element_at, slice, join, sort, reverse, min/max, position.
    "coll_array_basic" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.part(s, dir)
          .withColumn("words", split($"p_name", " "))
          .select($"p_partkey",
            size($"words").as("card"),
            array_join(array_sort(array_distinct($"words")), "|").as("dist_sorted"),
            array_contains($"words", "green").as("has_green"),
            element_at($"words", 1).as("first_w"),
            element_at($"words", -1).as("last_w"),
            array_join(slice($"words", 1, 2), "|").as("first2"),
            array_join($"words", "|").as("joined"),
            array_join(reverse($"words"), "|").as("rev"),
            array_min($"words").as("min_w"),
            array_max($"words").as("max_w"),
            array_position($"words", "green").cast("long").as("green_pos"))
          .orderBy($"p_partkey")
      },
      Some("""WITH t AS (SELECT p_partkey, string_split(p_name, ' ') AS words FROM part)
             |SELECT p_partkey,
             |  len(words) AS card,
             |  coalesce(array_to_string(list_sort(list_distinct(words)), '|'), '') AS dist_sorted,
             |  list_contains(words, 'green') AS has_green,
             |  words[1] AS first_w,
             |  words[-1] AS last_w,
             |  coalesce(array_to_string(words[1:2], '|'), '') AS first2,
             |  array_to_string(words, '|') AS joined,
             |  coalesce(array_to_string(list_reverse(words), '|'), '') AS rev,
             |  list_min(words) AS min_w,
             |  list_max(words) AS max_w,
             |  CAST(coalesce(list_position(words, 'green'), 0) AS BIGINT) AS green_pos
             |FROM t ORDER BY p_partkey""".stripMargin)),

    // Array set algebra: intersect/union/except/overlap.
    "coll_array_setops" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.part(s, dir)
          .withColumn("w1", array_sort(array_distinct(split($"p_name", " "))))
          .withColumn("w2", array_sort(array_distinct(split(lower($"p_type"), " "))))
          .select($"p_partkey",
            array_join(array_sort(array_intersect($"w1", $"w2")), "|").as("inter"),
            array_join(array_sort(array_union($"w1", $"w2")), "|").as("uni"),
            array_join(array_sort(array_except($"w1", $"w2")), "|").as("exc"),
            arrays_overlap($"w1", $"w2").as("overlaps"))
          .orderBy($"p_partkey")
      },
      Some("""WITH t AS (
             |  SELECT p_partkey,
             |    list_sort(list_distinct(string_split(p_name, ' '))) AS w1,
             |    list_sort(list_distinct(string_split(lower(p_type), ' '))) AS w2
             |  FROM part)
             |SELECT p_partkey,
             |  coalesce(array_to_string(list_sort(list_intersect(w1, w2)), '|'), '') AS inter,
             |  coalesce(array_to_string(list_sort(list_distinct(list_concat(w1, w2))), '|'), '') AS uni,
             |  coalesce(array_to_string(list_sort(list_filter(w1, x -> NOT list_contains(w2, x))), '|'), '') AS exc,
             |  len(list_intersect(w1, w2)) > 0 AS overlaps
             |FROM t ORDER BY p_partkey""".stripMargin)),

    // Higher-order lambdas: transform / filter / aggregate (reduce) /
    // zip_with — Presto's FUNCTION-typed lambda surface.
    "coll_higher_order" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .filter($"l_orderkey" <= 50)
          .groupBy($"l_orderkey")
          .agg(array_sort(collect_list($"l_quantity")).as("qtys"),
            array_sort(collect_list($"l_extendedprice")).as("prices"))
          .select($"l_orderkey",
            array_join(transform($"qtys", q => format_string("%.4f", r4(q * 2.0))), ",")
              .as("doubled"),
            array_join(transform(filter($"qtys", _ > 25.0),
              q => format_string("%.4f", q)), ",").as("heavy"),
            r4(aggregate($"qtys", lit(0.0), (acc, q) => acc + q)).as("total"),
            array_join(transform(zip_with($"qtys", $"prices", (q, p) => q * p),
              x => format_string("%.4f", r4(x))), ",").as("products"))
          .orderBy($"l_orderkey")
      },
      Some("""WITH t AS (
             |  SELECT l_orderkey,
             |    list_sort(list(l_quantity)) AS qtys,
             |    list_sort(list(l_extendedprice)) AS prices
             |  FROM lineitem WHERE l_orderkey <= 50 GROUP BY l_orderkey)
             |SELECT l_orderkey,
             |  coalesce(array_to_string(list_transform(qtys,
             |    q -> printf('%.4f', round(q * 2.0, 4))), ','), '') AS doubled,
             |  coalesce(array_to_string(list_transform(list_filter(qtys, q -> q > 25.0),
             |    q -> printf('%.4f', q)), ','), '') AS heavy,
             |  round(list_reduce(list_prepend(0.0, qtys), (acc, q) -> acc + q), 4) AS total,
             |  coalesce(array_to_string(list_transform(list_zip(qtys, prices),
             |    p -> printf('%.4f', round(p[1] * p[2], 4))), ','), '') AS products
             |FROM t ORDER BY l_orderkey""".stripMargin)),

    // sequence() + explode (Presto SequenceFunction + UNNEST).
    "coll_sequence" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.nation(s, dir)
          .select($"n_nationkey", explode(sequence(lit(1), ($"n_nationkey" % 4) + 1)).as("i"))
          .orderBy($"n_nationkey", $"i")
      },
      Some("""SELECT n_nationkey, unnest(generate_series(1, (n_nationkey % 4) + 1)) AS i
             |FROM nation ORDER BY n_nationkey, i""".stripMargin)),

    // flatten / zip (arrays_zip) / transform_keys / transform_values —
    // the remaining §2.8 array/map rows.
    "coll_flatten_zip" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT n_nationkey,
                |  array_join(transform(
                |    flatten(array(array(n_nationkey), array(n_regionkey, n_nationkey + 1))),
                |    x -> cast(x AS STRING)), ',') AS flat,
                |  array_join(transform(arrays_zip(array(1, 2), array(n_nationkey, n_regionkey)),
                |    p -> cast(p['0'] * 10 + p['1'] AS STRING)), ',') AS zipped_enc,
                |  array_join(map_keys(transform_keys(map('a', n_nationkey), (k, v) -> upper(k))), ',')
                |    AS upper_keys,
                |  array_join(transform(
                |    map_values(transform_values(map('a', n_nationkey), (k, v) -> v * 2)),
                |    v -> cast(v AS STRING)), ',') AS doubled_vals
                |FROM nation ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT n_nationkey,
             |  n_nationkey || ',' || n_regionkey || ',' || (n_nationkey + 1) AS flat,
             |  (10 + n_nationkey) || ',' || (20 + n_regionkey) AS zipped_enc,
             |  'A' AS upper_keys,
             |  CAST(n_nationkey * 2 AS VARCHAR) AS doubled_vals
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // ngrams(arr, n) (Presto ArrayNgramsFunction): sliding windows via
    // transform(sequence) + slice — no UDF.
    "coll_ngrams" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.part(s, dir)
          .withColumn("words", split($"p_name", " "))
          .filter(size($"words") >= 2)
          .select($"p_partkey",
            transform(sequence(lit(1), size($"words") - 1),
              i => call_function("slice", $"words", i, lit(2))).as("bigrams"))
          .select($"p_partkey", explode($"bigrams").as("bigram"))
          .select($"p_partkey", concat_ws(" ", $"bigram").as("bigram"))
          .orderBy($"p_partkey", $"bigram")
      },
      Some("""SELECT p_partkey, w[i] || ' ' || w[i + 1] AS bigram
             |FROM (SELECT p_partkey, string_split(p_name, ' ') AS w FROM part),
             |  LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) t
             |WHERE len(w) >= 2
             |ORDER BY p_partkey, bigram""".stripMargin)),

    // JSON ↔ structural casts (Presto JsonToArrayCast / JsonToMapCast /
    // JsonToRowCast): from_json into array/map/row, to_json back.
    "coll_json_cast" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.nation(s, dir)
          .withColumn("j_arr", concat(lit("[1, 2, "), $"n_nationkey", lit("]")))
          .withColumn("j_obj", concat(lit("{\"key\": "), $"n_nationkey",
            lit(", \"name\": \""), $"n_name", lit("\"}")))
          .select($"n_nationkey",
            array_join(transform(from_json($"j_arr", lit("array<bigint>")),
              x => x.cast("string")), ",").as("arr"),
            from_json($"j_obj", lit("map<string,string>")).as("m"),
            from_json($"j_obj", lit("struct<key:bigint,name:string>"))
              .getField("name").as("row_name"),
            to_json(array($"n_nationkey", $"n_nationkey" * 2)).as("back_to_json"))
          .select($"n_nationkey", $"arr",
            element_at($"m", "name").as("m_name"), $"row_name", $"back_to_json")
          .orderBy($"n_nationkey")
      },
      Some("""SELECT n_nationkey,
             |  '1,2,' || n_nationkey AS arr,
             |  n_name AS m_name,
             |  n_name AS row_name,
             |  '[' || n_nationkey || ',' || (n_nationkey * 2) || ']' AS back_to_json
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // The rest of the JSON↔structured cast matrix (reference:
    // JsonToRowCast.java / JsonToMapCast.java / JsonToArrayCast.java +
    // RowToJsonCast in presto-main/.../type/): json→ROW with nested
    // structs, explicit nulls, and ABSENT fields (both must surface as
    // SQL NULL), json→MAP with non-varchar (bigint) keys, json→
    // ARRAY(ROW), and the reverse row→json cast. coll_json_cast covers
    // the common varchar-key/flat cases; this row covers the corners.
    "coll_json_cast2" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.nation(s, dir)
          // n_nationkey < 3 would collide with the fixed "1"/"2" map
          // keys (LAST_WIN dedup) and complicate the oracle
          .filter($"n_nationkey" >= 3)
          .withColumn("j_row", concat(lit("{\"a\": "), $"n_nationkey",
            lit(", \"b\": {\"x\": null, \"y\": [1, null, "),
            $"n_nationkey", lit("]}}")))
          .withColumn("j_mapk", concat(lit("{\"1\": 1.5, \"2\": 2.5, \""),
            $"n_nationkey", lit("\": 9.5}")))
          .withColumn("r", from_json($"j_row",
            lit("struct<a:bigint,b:struct<x:string,y:array<bigint>>,missing:string>")))
          // json object keys always parse as strings; the bigint-key
          // cast is a key coercion, exactly JsonToMapCast's shape
          .withColumn("mk_map", transform_keys(
            from_json($"j_mapk", lit("map<string,double>")),
            (k, _) => k.cast("bigint")))
          .select($"n_nationkey",
            $"r.a".as("a"),
            $"r.b.x".as("b_x"),                       // explicit null
            element_at($"r.b.y", 2).as("y2"),         // null inside array
            element_at($"r.b.y", 3).as("y3"),
            $"r.missing".as("missing"),               // absent field
            element_at($"mk_map", $"n_nationkey".cast("bigint")).as("mk"),
            element_at($"mk_map", lit(1L)).as("m1"),
            array_join(transform(
              from_json(concat(lit("[{\"p\": 1}, {\"p\": "), $"n_nationkey",
                lit("}]")), lit("array<struct<p:bigint>>")),
              x => x.getField("p").cast("string")), ",").as("ps"),
            to_json(struct($"n_nationkey".as("k"),
              array(lit(1L), $"n_nationkey").as("arr"))).as("rj"))
          .orderBy($"n_nationkey")
      },
      // hand-derived values: the casts above are deterministic text math
      Some("""SELECT n_nationkey,
             |  n_nationkey AS a,
             |  CAST(NULL AS VARCHAR) AS b_x,
             |  CAST(NULL AS BIGINT) AS y2,
             |  n_nationkey AS y3,
             |  CAST(NULL AS VARCHAR) AS missing,
             |  9.5 AS mk,
             |  1.5 AS m1,
             |  '1,' || n_nationkey AS ps,
             |  '{"k":' || n_nationkey || ',"arr":[1,' || n_nationkey || ']}' AS rj
             |FROM nation WHERE n_nationkey >= 3
             |ORDER BY n_nationkey""".stripMargin)),

    // Date-stepped sequence (Presto SequenceFunction with INTERVAL step).
    "coll_sequence_dates" -> QueryDef(
      // anchored to month START: stepping from an end-of-month date
      // diverges across engines (Spark re-anchors to the original day;
      // DuckDB compounds the clamp: Jul 31 → … → Oct 30 vs Oct 31).
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .filter($"o_orderkey" <= 30)
          .withColumn("m0", date_trunc("month", $"o_orderdate").cast("date"))
          .select($"o_orderkey",
            explode(sequence($"m0", add_months($"m0", 3),
              expr("INTERVAL 1 MONTH"))).as("month_d"))
          .orderBy($"o_orderkey", $"month_d")
      },
      Some("""SELECT o_orderkey,
             |  CAST(unnest(generate_series(CAST(date_trunc('month', o_orderdate) AS DATE),
             |    CAST(date_trunc('month', o_orderdate) AS DATE) + INTERVAL 3 MONTH,
             |    INTERVAL 1 MONTH)) AS DATE) AS month_d
             |FROM orders WHERE o_orderkey <= 30
             |ORDER BY o_orderkey, month_d""".stripMargin)),

    // Comparator-lambda array_sort (Presto "array_sort(a, (l, r) -> …)"):
    // sort words by length desc, then lexicographic desc.
    "coll_array_sort_lambda" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT p_partkey,
                |  array_join(array_sort(split(p_name, ' '),
                |    (l, r) -> CASE WHEN length(l) > length(r) THEN -1
                |                   WHEN length(l) < length(r) THEN 1
                |                   WHEN l > r THEN -1 WHEN l < r THEN 1
                |                   ELSE 0 END), '|') AS by_len_desc
                |FROM part ORDER BY p_partkey""".stripMargin)
      },
      Some("""SELECT p_partkey,
             |  coalesce(array_to_string(list(w ORDER BY length(w) DESC, w DESC), '|'), '')
             |    AS by_len_desc
             |FROM (SELECT p_partkey, unnest(string_split(p_name, ' ')) AS w FROM part)
             |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin)),

    // Maps: construction from entries, keys/values, element_at,
    // map_concat, transform_values, map_filter.
    "coll_map" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)).as("n"))
          .groupBy($"l_returnflag")
          .agg(map_from_entries(array_sort(collect_list(struct($"l_linestatus", $"n"))))
            .as("m"))
          .select($"l_returnflag",
            array_join(array_sort(map_keys($"m")), "|").as("statuses"),
            array_join(transform(array_sort(map_values($"m")),
              x => x.cast("string")), ",").as("counts"),
            element_at($"m", "O").as("n_open"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH c AS (
             |  SELECT l_returnflag, l_linestatus, count(*) AS n
             |  FROM lineitem GROUP BY 1, 2)
             |SELECT l_returnflag,
             |  coalesce(array_to_string(list_sort(list(l_linestatus)), '|'), '') AS statuses,
             |  coalesce(array_to_string(list_sort(list(n)), ','), '') AS counts,
             |  max(CASE WHEN l_linestatus = 'O' THEN n END) AS n_open
             |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // multimap_agg (Presto MultimapAggregationFunction): key → all
    // values; built as map_from_entries over grouped collect_list,
    // then exploded back to verifiable rows.
    "coll_multimap" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT o_custkey, e.key AS status,
                |  array_join(transform(e.value, x -> cast(x AS STRING)), ',') AS orderkeys
                |FROM (
                |  SELECT o_custkey,
                |    explode(map_entries(map_from_entries(
                |      collect_list(struct(o_orderstatus, keys))))) AS e
                |  FROM (
                |    SELECT o_custkey, o_orderstatus,
                |      sort_array(collect_list(o_orderkey)) AS keys
                |    FROM orders WHERE o_custkey <= 50 GROUP BY 1, 2)
                |  GROUP BY o_custkey)
                |ORDER BY o_custkey, status""".stripMargin)
      },
      Some("""SELECT o_custkey, o_orderstatus AS status,
             |  coalesce(array_to_string(list_sort(list(o_orderkey)), ','), '') AS orderkeys
             |FROM orders WHERE o_custkey <= 50
             |GROUP BY 1, 2 ORDER BY o_custkey, status""".stripMargin)),

    // map_agg(k, v) as a CALLABLE aggregate (MapAggregationFunction.java,
    // registry FunctionRegistry.java:606) — registered in GraftFunctions
    // as MapFromEntries∘CollectList so partial aggregation stays intact.
    "coll_map_agg" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT l_returnflag,
                |  array_join(transform(array_sort(map_entries(
                |    map_agg(l_linestatus, cnt))),
                |    e -> concat(e.key, ':', cast(e.value AS STRING))), ',') AS m
                |FROM (SELECT l_returnflag, l_linestatus, count(*) AS cnt
                |      FROM lineitem GROUP BY 1, 2)
                |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag,
             |  string_agg(l_linestatus || ':' || cnt, ',' ORDER BY l_linestatus) AS m
             |FROM (SELECT l_returnflag, l_linestatus, count(*) AS cnt
             |      FROM lineitem GROUP BY 1, 2)
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // map_union(m) as a callable aggregate (MapUnionAggregation.java).
    "coll_map_union" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT o_orderstatus,
                |  array_join(transform(array_sort(map_entries(map_union(m))),
                |    e -> concat(e.key, ':', cast(e.value AS STRING))), ',') AS merged
                |FROM (SELECT o_orderstatus, map(o_orderpriority, count(*)) AS m
                |      FROM orders GROUP BY o_orderstatus, o_orderpriority)
                |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
      },
      Some("""SELECT o_orderstatus,
             |  string_agg(o_orderpriority || ':' || n, ',' ORDER BY o_orderpriority)
             |    AS merged
             |FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS n
             |      FROM orders GROUP BY 1, 2)
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // cosine_similarity on sparse map vectors (Presto MathFunctions
    // cosine_similarity(map<varchar,double>, map<varchar,double>)):
    // term-frequency maps of p_name vs p_type, dot product via
    // map_zip_with + aggregate over entries.
    "coll_map_cosine" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""WITH tf AS (
                |  SELECT p_partkey,
                |    map_from_entries(collect_list(struct(w, cast(c AS double)))) AS m1,
                |    first(m2) AS m2
                |  FROM (
                |    SELECT p_partkey, w, count(*) AS c,
                |      map_from_entries(array(struct('type_' || lower(p_type), 1.0d))) AS m2
                |    FROM (SELECT p_partkey, p_type,
                |            explode(split(lower(p_name), ' ')) AS w FROM part)
                |    GROUP BY p_partkey, w, p_type)
                |  GROUP BY p_partkey)
                |SELECT p_partkey,
                |  round(aggregate(map_values(map_zip_with(m1, m1, (k, a, b) -> a * b)),
                |          0.0d, (acc, x) -> acc + x), 4) AS self_dot,
                |  round(sqrt(aggregate(map_values(m1), 0.0d, (acc, x) -> acc + x * x)), 4)
                |    AS norm1,
                |  cardinality(map_zip_with(m1, m2, (k, a, b) -> coalesce(a, 0.0d)))
                |    AS merged_keys
                |FROM tf ORDER BY p_partkey""".stripMargin)
      },
      Some("""WITH w AS (
             |  SELECT p_partkey, wd, count(*) AS c
             |  FROM (SELECT p_partkey, unnest(string_split(lower(p_name), ' ')) AS wd,
             |        FROM part)
             |  GROUP BY 1, 2)
             |SELECT w.p_partkey,
             |  round(sum(c * c * 1.0), 4) AS self_dot,
             |  round(sqrt(sum(c * c * 1.0)), 4) AS norm1,
             |  count(*) + 1 AS merged_keys
             |FROM w GROUP BY 1 ORDER BY p_partkey""".stripMargin)),

    // map_zip_with + transform_values + explode back to rows — the
    // Presto map-lambda surface, flattened so the oracle is plain SQL.
    "coll_map_zip" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT l_returnflag, entry.key AS status,
                |  round(entry.value, 4) AS avg_price
                |FROM (
                |  SELECT l_returnflag,
                |    explode(map_entries(map_zip_with(qty_map, price_map,
                |      (k, q, p) -> p / q))) AS entry
                |  FROM (
                |    SELECT l_returnflag,
                |      map_from_entries(collect_list(struct(l_linestatus, sq))) AS qty_map,
                |      map_from_entries(collect_list(struct(l_linestatus, sp))) AS price_map
                |    FROM (SELECT l_returnflag, l_linestatus,
                |            sum(l_quantity) AS sq, sum(l_extendedprice) AS sp
                |          FROM lineitem GROUP BY 1, 2)
                |    GROUP BY l_returnflag))
                |ORDER BY l_returnflag, status""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus AS status,
             |  round(sum(l_extendedprice) / sum(l_quantity), 4) AS avg_price
             |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, status""".stripMargin))
  )
}
