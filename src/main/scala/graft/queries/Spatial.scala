package graft.queries

import graft.{QueryDef, QueryGroup, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spatial joins + the Bing tile / constructive-geometry function tier.
  *
  * Reference: presto-main SpatialJoinOperator.java +
  * ExtractSpatialJoins (PlanOptimizers.java:431), presto-geospatial
  * GeoFunctions.java / BingTileFunctions.java. Presto builds an R-tree
  * over the smaller (build) side and streams the probe side through it.
  * The Spark-first equivalents of the two join regimes:
  *
  *  - small polygon set × big point table → `broadcast` the polygons
  *    and evaluate the ST_ predicate in a BroadcastNestedLoopJoin: one
  *    pass over the fact side, no shuffle of it at all (the predicate
  *    is codegen'd; an R-tree only pays off when the build side is
  *    large, at which point the grid path below applies).
  *  - big × big distance join → snap both sides to a grid of cell size
  *    r, explode ONE side to its 3×3 neighbor cells, and equi-join on
  *    the cell id: |Δx| < r implies adjacent cells, so the candidate
  *    set is exact, the join is a plain hash shuffle (never quadratic),
  *    and the exact st_distance filter runs per candidate. This is the
  *    same bucket-then-rescore shape as the LSH dedup paths.
  *
  * Points are derived from customer/supplier keys on a 0.2 × 0.8 grid
  * offset by 0.05 so no point ever sits on a polygon edge or cell
  * boundary (ray-cast boundary behavior is implementation-defined).
  */
object Spatial extends QueryGroup {

  private val rects = Seq(
    (1, 0.0, 0.0, 5.0, 5.0),
    (2, 5.0, 0.0, 10.0, 5.0),
    (3, 0.0, 5.0, 5.0, 10.0),
    (4, 10.0, 10.0, 20.0, 20.0),
    (5, 3.0, 3.0, 12.0, 12.0),
    (6, 15.0, 0.0, 18.0, 4.0))

  private def polyTable(s: SparkSession): DataFrame = {
    import s.implicits._
    rects.toDF("poly_id", "x0", "y0", "x1", "y1")
      .withColumn("poly", expr(
        """concat('POLYGON ((', x0, ' ', y0, ', ', x1, ' ', y0, ', ',
          |x1, ' ', y1, ', ', x0, ' ', y1, ', ', x0, ' ', y0, '))')""".stripMargin))
  }

  private val duckPolys =
    "(VALUES " + rects.map { case (id, x0, y0, x1, y1) =>
      s"($id, $x0, $y0, $x1, $y1)"
    }.mkString(", ") + ") AS p(poly_id, x0, y0, x1, y1)"

  private def custPoints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir).select($"c_custkey",
      (($"c_custkey" % 100) * 0.2 + 0.05).as("px"),
      ($"c_nationkey" * 0.8 + 0.05).as("py"))
  }

  private val duckCust =
    """SELECT c_custkey, (c_custkey % 100) * 0.2 + 0.05 AS px,
      |  c_nationkey * 0.8 + 0.05 AS py FROM customer""".stripMargin

  override def defs: Map[String, QueryDef] = Map(
    // Polygon-contains-point spatial join: broadcast the 6-polygon dim,
    // ray-cast st_contains as the BNLJ predicate, aggregate per
    // polygon. Plan-asserted: BroadcastNestedLoopJoin, fact side never
    // shuffled before the aggregate.
    "join_spatial_contains" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        custPoints(s, dir)
          .join(broadcast(polyTable(s)), expr("st_contains(poly, st_point(px, py))"))
          .groupBy($"poly_id")
          .agg(count(lit(1)).as("n_points"), sum($"c_custkey").as("sum_keys"))
          .orderBy($"poly_id")
      },
      // the polygons are axis-aligned, so DuckDB checks containment
      // with plain interval arithmetic — independent of the ray cast
      Some(s"""WITH pts AS ($duckCust)
             |SELECT p.poly_id, count(*) AS n_points,
             |  CAST(sum(c_custkey) AS BIGINT) AS sum_keys
             |FROM pts JOIN $duckPolys
             |  ON px > x0 AND px < x1 AND py > y0 AND py < y1
             |GROUP BY p.poly_id ORDER BY p.poly_id""".stripMargin)),

    // Distance join via grid cells (the big × big scale path): cell
    // size = r, supplier side exploded to its 3×3 neighborhood,
    // equi-join on cell, exact st_distance rescore. min/max are
    // order-independent so the oracle's quadratic recompute matches
    // bit-for-bit.
    "join_spatial_distance_grid" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val r = 0.45
        val cust = custPoints(s, dir)
          .withColumn("cx", floor($"px" / r).cast("long"))
          .withColumn("cy", floor($"py" / r).cast("long"))
        val sup = Tables.supplier(s, dir).select($"s_suppkey",
            (($"s_suppkey" % 100) * 0.2 + 0.05).as("sx"),
            ($"s_nationkey" * 0.8 + 0.05).as("sy"))
          .withColumn("dx", explode(sequence(lit(-1), lit(1))))
          .withColumn("dy", explode(sequence(lit(-1), lit(1))))
          .withColumn("cx", (floor($"sx" / r) + $"dx").cast("long"))
          .withColumn("cy", (floor($"sy" / r) + $"dy").cast("long"))
        sup.join(cust, Seq("cx", "cy"))
          .withColumn("dist", expr("st_distance(st_point(sx, sy), st_point(px, py))"))
          .filter($"dist" < r)
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct($"s_suppkey").as("n_sup"),
            round(min($"dist"), 4).as("min_dist"),
            round(max($"dist"), 4).as("max_dist"))
      },
      Some(s"""WITH pts AS ($duckCust),
             |sup AS (SELECT s_suppkey, (s_suppkey % 100) * 0.2 + 0.05 AS sx,
             |        s_nationkey * 0.8 + 0.05 AS sy FROM supplier),
             |pairs AS (
             |  SELECT s_suppkey, sqrt(power(sx - px, 2) + power(sy - py, 2)) AS dist
             |  FROM sup, pts
             |  WHERE sqrt(power(sx - px, 2) + power(sy - py, 2)) < 0.45)
             |SELECT count(*) AS n_pairs,
             |  CAST(count(DISTINCT s_suppkey) AS BIGINT) AS n_sup,
             |  round(min(dist), 4) AS min_dist, round(max(dist), 4) AS max_dist
             |FROM pairs""".stripMargin)),

    // KDB-partitioned distance join (r4) — the reference's actual USE
    // of spatial_partitioning (ExtractSpatialJoins rewrites big×big
    // joins through KdbTree partitions). Spark-first shape: learn the
    // tree over the build side in one aggregate, broadcast the 1-row
    // tree, tag the probe side with its single leaf and the build side
    // with every leaf within distance r (so any within-r pair shares a
    // leaf), equi-join on the leaf id, exact st_distance rescore,
    // distinct to drop multi-leaf duplicates. Same aggregate answer as
    // join_spatial_distance_grid's fixed-grid path — the two scale
    // regimes cross-validate against one quadratic DuckDB recompute.
    "join_spatial_kdb" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val r = 0.45
        val cust = custPoints(s, dir)
          .withColumn("pt", expr("concat('POINT (', px, ' ', py, ')')"))
        val sup = Tables.supplier(s, dir).select($"s_suppkey",
            (($"s_suppkey" % 100) * 0.2 + 0.05).as("sx"),
            ($"s_nationkey" * 0.8 + 0.05).as("sy"))
          .withColumn("spt", expr("concat('POINT (', sx, ' ', sy, ')')"))
        val treeDf = sup.agg(expr("spatial_partitioning(spt, 16)").as("tree"))
        val supP = sup.crossJoin(broadcast(treeDf))
          .withColumn("pid", explode(expr(s"spatial_partitions(tree, spt, $r)")))
          .drop("tree")
        val custP = cust.crossJoin(broadcast(treeDf))
          .withColumn("pid", explode(expr("spatial_partitions(tree, pt)")))
          .drop("tree")
        supP.join(custP, Seq("pid"))
          .withColumn("dist", expr("st_distance(st_point(sx, sy), st_point(px, py))"))
          .filter($"dist" < r)
          .select($"s_suppkey", $"c_custkey", $"dist").distinct()
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct($"s_suppkey").as("n_sup"),
            round(min($"dist"), 4).as("min_dist"),
            round(max($"dist"), 4).as("max_dist"))
      },
      Some(s"""WITH pts AS ($duckCust),
             |sup AS (SELECT s_suppkey, (s_suppkey % 100) * 0.2 + 0.05 AS sx,
             |        s_nationkey * 0.8 + 0.05 AS sy FROM supplier),
             |pairs AS (
             |  SELECT s_suppkey, sqrt(power(sx - px, 2) + power(sy - py, 2)) AS dist
             |  FROM sup, pts
             |  WHERE sqrt(power(sx - px, 2) + power(sy - py, 2)) < 0.45)
             |SELECT count(*) AS n_pairs,
             |  CAST(count(DISTINCT s_suppkey) AS BIGINT) AS n_sup,
             |  round(min(dist), 4) AS min_dist, round(max(dist), 4) AS max_dist
             |FROM pairs""".stripMargin)),

    // Bing tile surface: lat/lon → tile quadkey, accessors round-trip,
    // neighborhood count, tile polygon area — DuckDB recomputes the
    // quadkey and tile coordinates from the same closed-form tile math.
    "fn_bing_tiles" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.nation(s, dir)
          .select($"n_nationkey",
            ($"n_nationkey" * 6.0 - 72.0 + 0.3).as("lat"),
            ($"n_nationkey" * 13.0 - 156.0 + 0.2).as("lon"),
            (lit(10) + $"n_nationkey" % 3).cast("int").as("zoom"))
          .withColumn("tile", expr("bing_tile_at(lat, lon, zoom)"))
          .select($"n_nationkey",
            $"tile".as("quadkey"),
            expr("bing_tile_zoom_level(tile)").as("zl"),
            expr("bing_tile_coordinates(tile).x").as("tx"),
            expr("bing_tile_coordinates(tile).y").as("ty"),
            expr("""bing_tile_quadkey(bing_tile(
              |bing_tile_coordinates(tile).x, bing_tile_coordinates(tile).y,
              |zoom)) = tile""".stripMargin).as("roundtrip"),
            expr("size(bing_tiles_around(lat, lon, zoom))").as("n_around"),
            expr("round(st_area(bing_tile_polygon(tile)), 6)").as("tile_area"))
          .orderBy($"n_nationkey")
      },
      Some("""WITH n AS (
             |  SELECT n_nationkey, n_nationkey * 6.0 - 72.0 + 0.3 AS lat,
             |    n_nationkey * 13.0 - 156.0 + 0.2 AS lon,
             |    10 + n_nationkey % 3 AS zoom
             |  FROM nation),
             |t AS (
             |  SELECT n_nationkey, zoom, lat, lon,
             |    CAST(FLOOR(LEAST(GREATEST((lon + 180) / 360 * (256 * 2^zoom), 0),
             |      256 * 2^zoom - 1) / 256) AS BIGINT) AS tx,
             |    CAST(FLOOR(LEAST(GREATEST((0.5 - ln((1 + sin(lat * pi() / 180))
             |        / (1 - sin(lat * pi() / 180))) / (4 * pi())) * (256 * 2^zoom), 0),
             |      256 * 2^zoom - 1) / 256) AS BIGINT) AS ty
             |  FROM n)
             |SELECT n_nationkey,
             |  array_to_string(list_transform(generate_series(zoom, 1, -1), i ->
             |    CAST(CAST(FLOOR(tx / 2^(i - 1)) AS BIGINT) % 2
             |      + 2 * (CAST(FLOOR(ty / 2^(i - 1)) AS BIGINT) % 2) AS VARCHAR)), '') AS quadkey,
             |  CAST(zoom AS INT) AS zl, tx, ty, true AS roundtrip,
             |  CAST((CASE WHEN tx > 0 THEN 1 ELSE 0 END + 1
             |      + CASE WHEN tx < 2^zoom - 1 THEN 1 ELSE 0 END)
             |    * (CASE WHEN ty > 0 THEN 1 ELSE 0 END + 1
             |      + CASE WHEN ty < 2^zoom - 1 THEN 1 ELSE 0 END) AS INT) AS n_around,
             |  round((360 / 2^zoom) *
             |    ((90 - 360 * atan(exp(-(0.5 - ty * 256 / (256 * 2^zoom)) * 2 * pi())) / pi())
             |     - (90 - 360 * atan(exp(-(0.5 - (ty + 1) * 256 / (256 * 2^zoom)) * 2 * pi())) / pi())),
             |    6) AS tile_area
             |FROM t ORDER BY n_nationkey""".stripMargin)),

    // Accessor/constructor tier (ST_PointN/Points/ExteriorRing/
    // Boundary/GeometryN/Dimension/…): every output is a number or
    // boolean DuckDB recomputes from the same derived coordinates.
    "fn_geospatial3" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.nation(s, dir)
          .select($"n_nationkey".as("n"), $"n_nationkey".cast("double").as("d"))
          .withColumn("line", expr(
            "st_linestring(array(st_point(d, 0.0), st_point(d + 2.0, 1.0), st_point(d + 3.0, 3.0)))"))
          .withColumn("env", expr("st_envelope(line)"))
          .select($"n",
            expr("st_x(st_pointn(line, 2))").as("pn_x"),
            expr("size(st_points(line))").as("n_pts"),
            expr("round(st_length(st_exterior_ring(env)), 4)").as("ring_len"),
            expr("st_num_interior_ring(env)").as("n_int"),
            expr("st_num_geometries(st_boundary(line))").as("n_bnd"),
            expr("st_x(st_geometry_n(st_boundary(line), 2))").as("bnd_x2"),
            expr("st_num_geometries(st_multipoint(st_points(line)))").as("n_mp"),
            expr("st_dimension(line)").as("dim_line"),
            expr("st_dimension(env)").as("dim_env"),
            expr("st_coord_dim(line)").as("cdim"),
            expr("st_x(st_envelope_as_pts(line)[1])").as("env_max_x"),
            expr("st_num_geometries('MULTIPOINT EMPTY')").as("n_empty"),
            // predicate truth table as one bit string (expected
            // '111010'): out-of-range pointn NULL, EMPTY is-empty,
            // closed ring is-ring, open line not, simple line
            // is-simple, bowtie not
            expr("""concat(
              |IF(st_pointn(line, 9) IS NULL, '1', '0'),
              |IF(st_is_empty('POLYGON EMPTY'), '1', '0'),
              |IF(st_is_ring(st_exterior_ring(env)), '1', '0'),
              |IF(st_is_ring(line), '1', '0'),
              |IF(st_is_simple(line), '1', '0'),
              |IF(st_is_simple('LINESTRING (0 0, 2 2, 2 0, 0 2)'), '1', '0'))"""
              .stripMargin).as("pred_bits"))
          .orderBy($"n")
      },
      // envelope of the 3-point line spans [d, d+3] × [0, 3] →
      // perimeter 12; boundary endpoints are (d, 0) and (d+3, 3)
      Some("""SELECT n_nationkey AS n,
             |  n_nationkey + 2.0 AS pn_x,
             |  CAST(3 AS INT) AS n_pts, 12.0 AS ring_len,
             |  CAST(0 AS BIGINT) AS n_int, CAST(2 AS INT) AS n_bnd,
             |  n_nationkey + 3.0 AS bnd_x2, CAST(3 AS INT) AS n_mp,
             |  CAST(1 AS INT) AS dim_line, CAST(2 AS INT) AS dim_env,
             |  CAST(2 AS INT) AS cdim, n_nationkey + 3.0 AS env_max_x,
             |  CAST(0 AS INT) AS n_empty,
             |  '111010' AS pred_bits
             |FROM nation ORDER BY n""".stripMargin)),

    // Topology/overlay/serialization tier: st_equals up to ring
    // rotation/reversal, envelope-scope touches/overlaps/difference,
    // Douglas-Peucker simplify, and the OGC WKB round-trip (the
    // constant point's WKB hex is pinned to the spec encoding).
    "fn_geospatial4" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.nation(s, dir)
          .select($"n_nationkey".as("n"), $"n_nationkey".cast("double").as("d"))
          .select($"n",
            // topology truth table as one bit string (expected
            // '11010101010'): equals under rotation/reversal but not
            // shape change; touches on edge contact only; overlaps on
            // partial overlap only; crosses for proper crossings only
            expr("""concat(
              |IF(st_equals('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))',
              |  'POLYGON ((4 0, 4 3, 0 3, 0 0, 4 0))'), '1', '0'),
              |IF(st_equals('LINESTRING (0 0, 1 1, 2 0)',
              |  'LINESTRING (2 0, 1 1, 0 0)'), '1', '0'),
              |IF(st_equals('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))',
              |  'POLYGON ((0 0, 5 0, 4 3, 0 3, 0 0))'), '1', '0'),
              |IF(st_touches('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))',
              |  'POLYGON ((4 0, 8 0, 8 3, 4 3, 4 0))'), '1', '0'),
              |IF(st_touches('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))',
              |  'POLYGON ((2 1, 6 1, 6 5, 2 5, 2 1))'), '1', '0'),
              |IF(st_overlaps('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))',
              |  'POLYGON ((2 1, 6 1, 6 5, 2 5, 2 1))'), '1', '0'),
              |IF(st_overlaps('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))',
              |  'POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))'), '1', '0'),
              |IF(st_crosses('LINESTRING (0 0, 4 4)', 'LINESTRING (0 4, 4 0)'),
              |  '1', '0'),
              |IF(st_crosses('LINESTRING (0 0, 2 2)', 'LINESTRING (2 2, 4 0)'),
              |  '1', '0'),
              |IF(st_crosses('LINESTRING (-1 1, 5 1)',
              |  'POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))'), '1', '0'),
              |IF(st_crosses('LINESTRING (1 1, 2 2)',
              |  'POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))'), '1', '0'))""".stripMargin)
              .as("topo_bits"),
            expr("""round(geom_area(st_difference('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))',
              |'POLYGON ((2 1, 6 1, 6 5, 2 5, 2 1))')), 6)""".stripMargin).as("diff_area"),
            expr("""round(geom_area(st_sym_difference('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))',
              |'POLYGON ((2 1, 6 1, 6 5, 2 5, 2 1))')), 6)""".stripMargin).as("sym_area"),
            expr("size(st_points(st_simplify('LINESTRING (0 0, 1 0.01, 2 0)', 0.1)))")
              .as("simp_dropped"),
            expr("size(st_points(st_simplify('LINESTRING (0 0, 1 0.01, 2 0)', 0.001)))")
              .as("simp_kept"),
            // r4 hole-aware overlay: intersection keeps interior rings
            // (clip [1,8]^2 = 49 minus the hole's 4); difference adds
            // the subtrahend as a ring (64−9; nested: 64−1−1); a
            // disjoint subtrahend returns A unchanged (was an envelope
            // smear before r4)
            expr("""round(geom_area(st_intersection(
              |'POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))',
              |'POLYGON ((1 1, 9 1, 9 9, 1 9, 1 1))')), 6)""".stripMargin)
              .as("hole_int_area"),
            expr("""round(geom_area(st_difference(
              |'POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))',
              |'POLYGON ((2 2, 5 2, 5 5, 2 5, 2 2))')), 6)""".stripMargin)
              .as("hole_diff_area"),
            expr("""round(geom_area(st_difference(
              |'POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))',
              |'POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))')), 6)""".stripMargin)
              .as("hole_diff_nested"),
            expr("""round(geom_area(st_difference(
              |'POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))',
              |'POLYGON ((20 20, 21 20, 21 21, 20 21, 20 20))')), 6)""".stripMargin)
              .as("diff_disjoint_area"),
            expr("hex(st_as_binary('POINT (1 2)'))").as("wkb_hex"),
            expr("""IF(st_equals(st_geom_from_binary(st_as_binary(
              |st_linestring(array(st_point(d, 1.0), st_point(d + 1.0, 2.0))))),
              |st_linestring(array(st_point(d, 1.0), st_point(d + 1.0, 2.0)))),
              |n, -1)""".stripMargin)
              .as("wkb_rt_key"),
            expr("""st_geometry_type(st_geom_from_binary(st_as_binary(
              |'POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))')))""".stripMargin).as("wkb_rt_type"))
          .orderBy($"n")
      },
      // A=(0,0,4,3), C=(2,1,6,5): overlap 2×2=4? no — x∈[2,4], y∈[1,3]
      // → 2×2=4; diff = 12−4=8... values pinned below are recomputed:
      // diff_area = area(A)−area(A∩C) = 12−4 = 8, sym = 12+16−2·4 = 20
      Some("""SELECT n_nationkey AS n,
             |  '11010101010' AS topo_bits,
             |  8.0 AS diff_area, 20.0 AS sym_area,
             |  45.0 AS hole_int_area, 55.0 AS hole_diff_area,
             |  62.0 AS hole_diff_nested, 64.0 AS diff_disjoint_area,
             |  CAST(2 AS INT) AS simp_dropped, CAST(3 AS INT) AS simp_kept,
             |  '0101000000000000000000F03F0000000000000040' AS wkb_hex,
             |  n_nationkey AS wkb_rt_key, 'ST_Polygon' AS wkb_rt_type
             |FROM nation ORDER BY n""".stripMargin)),

    // Round-4 registration-gap tier (VERDICT r3 "What's missing" 1-5):
    // regexp_split, simplify_geometry, line_locate_point, n-ary
    // geometry_union, geometry_invalid_reason — closed-form oracles,
    // null results value-anchored via coalesce sentinels (no booleans).
    "fn_geospatial5" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.nation(s, dir)
          .select($"n_nationkey".as("n"), $"n_nationkey".cast("double").as("d"))
          .select($"n",
            // JoniRegexpFunctions.java:275 — trailing empty fields kept
            expr("concat_ws('|', regexp_split(concat('w', n, ',u,,'), ','))").as("rsplit"),
            expr("size(regexp_split('a1b22c333', '[0-9]+'))").as("rsplit_n"),
            // GeoFunctions.java:800 — same Douglas-Peucker as st_simplify
            expr("""size(st_points(simplify_geometry(st_linestring(array(
              |st_point(0.0, 0.0), st_point(1.0, 0.01 * (n % 10)), st_point(2.0, 0.0))),
              |0.5)))""".stripMargin).as("simp_drop"),
            expr("size(st_points(simplify_geometry('LINESTRING (0 0, 1 2, 2 0)', 0.5)))")
              .as("simp_keep"),
            // GeoFunctions.java:492 — fraction of total 2D length
            expr("round(line_locate_point('LINESTRING (0 0, 10 0)', st_point(d, 5.0)), 4)")
              .as("llp"),
            expr("""line_locate_point('MULTILINESTRING ((0 0, 4 0), (10 0, 10 6))',
              |st_point(10.0, 1.0))""".stripMargin).as("llp_multi"),
            expr("coalesce(line_locate_point('LINESTRING EMPTY', st_point(1.0, 1.0)), -1.0)")
              .as("llp_empty"),
            // GeoFunctions.java:627 — A=[0,2]^2 ∪ B=[1,3]^2 ∪ C=[10,11]^2
            // = 7 + 1 (disjoint decomposition, never double-counted)
            expr("""round(geom_area(geometry_union(array(
              |'POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))',
              |'POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))',
              |'POLYGON ((10 10, 11 10, 11 11, 10 11, 10 10))'))), 4)""".stripMargin)
              .as("gu_area"),
            expr("coalesce(geometry_union(array(cast(null as string))), 'NULL_RESULT')")
              .as("gu_null"),
            // GeoFunctions.java:443 — reason strings per reference map
            expr("""coalesce(geometry_invalid_reason(st_linestring(array(
              |st_point(0.0, 0.0), st_point(d + 1.0, 1.0)))), 'VALID')""".stripMargin)
              .as("gir_valid"),
            expr("geometry_invalid_reason('LINESTRING (0 0, 2 2, 2 0, 0 2)')").as("gir_cross"),
            expr("geometry_invalid_reason('LINESTRING (0 0, 1 1, 1 1, 2 2)')").as("gir_degen"),
            expr("geometry_invalid_reason('MULTIPOINT (1 1, 2 2, 1 1)')").as("gir_repeat"))
          .orderBy($"n")
      },
      // llp: point (d, 5) projects to x = clamp(d, 0, 10) on a length-10
      // line; llp_multi: (10, 1) sits ON part 2 at arc length 4+1 of 10
      Some("""SELECT n_nationkey AS n,
             |  'w' || n_nationkey || '|u||' AS rsplit,
             |  CAST(4 AS INT) AS rsplit_n,
             |  CAST(2 AS INT) AS simp_drop, CAST(3 AS INT) AS simp_keep,
             |  round(LEAST(CAST(n_nationkey AS DOUBLE), 10) / 10, 4) AS llp,
             |  0.5 AS llp_multi, -1.0 AS llp_empty,
             |  8.0 AS gu_area, 'NULL_RESULT' AS gu_null,
             |  'VALID' AS gir_valid,
             |  'Self-intersection at or near (0.0 0.0) and (2.0 0.0)' AS gir_cross,
             |  'Degenerate segments at or near (1.0 1.0)' AS gir_degen,
             |  'Repeated points at or near (1.0 1.0)' AS gir_repeat
             |FROM nation ORDER BY n""".stripMargin)),

    // ST_Relate tier (r4): the 2-arg form emits the DE-9IM matrix
    // string (value-checkable), the 3-arg form is the reference's
    // pattern predicate (GeoFunctions.java:1078); every expected
    // matrix is a hand-derived standard OGC SFS fact.
    "fn_st_relate" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.nation(s, dir)
          .select($"n_nationkey".as("n"), $"n_nationkey".cast("double").as("d"))
          .select($"n",
            expr("""st_relate('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))',
              |'POLYGON ((4 0, 4 3, 0 3, 0 0, 4 0))')""".stripMargin).as("rel_eq"),
            expr("""st_relate('POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))',
              |'POLYGON ((2 2, 5 2, 5 5, 2 5, 2 2))')""".stripMargin).as("rel_contains"),
            expr("""st_relate('POLYGON ((2 2, 5 2, 5 5, 2 5, 2 2))',
              |'POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))')""".stripMargin).as("rel_within"),
            expr("""st_relate('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))',
              |'POLYGON ((2 1, 6 1, 6 5, 2 5, 2 1))')""".stripMargin).as("rel_overlap"),
            expr("""st_relate('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))',
              |'POLYGON ((4 0, 8 0, 8 3, 4 3, 4 0))')""".stripMargin).as("rel_touch_edge"),
            expr("""st_relate('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))',
              |'POLYGON ((4 3, 8 3, 8 6, 4 6, 4 3))')""".stripMargin).as("rel_touch_pt"),
            expr("""st_relate('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))',
              |'POLYGON ((9 9, 12 9, 12 12, 9 12, 9 9))')""".stripMargin).as("rel_disjoint"),
            expr("""st_relate(st_point(least(d, 7.0) + 0.5, 0.5),
              |'POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))')""".stripMargin).as("rel_pt_in"),
            expr("st_relate('LINESTRING (0 0, 4 4)', 'LINESTRING (0 4, 4 0)')")
              .as("rel_line_cross"),
            expr("""st_relate('LINESTRING (-1 4, 9 4)',
              |'POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))')""".stripMargin).as("rel_line_poly"),
            expr("""CASE WHEN st_relate('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))',
              |'POLYGON ((4 0, 4 3, 0 3, 0 0, 4 0))', 'T*F**FFF*')
              |THEN 'EQ' ELSE 'NE' END""".stripMargin).as("rel_pat_equal"),
            expr("""CASE WHEN st_relate('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))',
              |'POLYGON ((2 1, 6 1, 6 5, 2 5, 2 1))', 'FF*FF****')
              |THEN 'DISJ' ELSE 'MEET' END""".stripMargin).as("rel_pat_disjoint"))
          .orderBy($"n")
      },
      Some("""SELECT n_nationkey AS n,
             |  '2FFF1FFF2' AS rel_eq, '212FF1FF2' AS rel_contains,
             |  '2FF1FF212' AS rel_within, '212101212' AS rel_overlap,
             |  'FF2F11212' AS rel_touch_edge, 'FF2F01212' AS rel_touch_pt,
             |  'FF2FF1212' AS rel_disjoint, '0FFFFF212' AS rel_pt_in,
             |  '0F1FF0102' AS rel_line_cross, '101FF0212' AS rel_line_poly,
             |  'EQ' AS rel_pat_equal, 'MEET' AS rel_pat_disjoint
             |FROM nation ORDER BY n""".stripMargin)),

    // ST_Relate boundary-tangent + holed + concave regimes (declared
    // out through r7, closed r8 by the subdivision overlay): tangent
    // containment (edge and point contact), overlap with collinear
    // boundary segments, island-in-hole touching, concave containment.
    "fn_st_relate_tangent" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.region(s, dir)
          .select($"r_regionkey".as("r"))
          .select($"r",
            expr("""st_relate('POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))',
              |'POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))')""".stripMargin)
              .as("rel_contains_edge_tangent"),
            expr("""st_relate('POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))',
              |'POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))')""".stripMargin)
              .as("rel_within_edge_tangent"),
            expr("""st_relate('POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))',
              |'POLYGON ((0 0, 3 1, 1 3, 0 0))')""".stripMargin)
              .as("rel_contains_pt_tangent"),
            expr("""st_relate('POLYGON ((0 0, 2 0, 2 1, 0 1, 0 0))',
              |'POLYGON ((1 0, 3 0, 3 1, 1 1, 1 0))')""".stripMargin)
              .as("rel_overlap_shared_seg"),
            expr("""st_relate('POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0),
              | (2 2, 6 2, 6 6, 2 6, 2 2))',
              |'POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))')""".stripMargin)
              .as("rel_island_in_hole_touch"),
            expr("""st_relate('POLYGON ((0 0, 6 0, 6 2, 2 2, 2 6, 0 6, 0 0))',
              |'POLYGON ((3 0.5, 4 0.5, 4 1.5, 3 1.5, 3 0.5))')""".stripMargin)
              .as("rel_concave_contains"),
            expr("""st_relate('LINESTRING (1 0, 3 0)',
              |'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))')""".stripMargin)
              .as("rel_line_on_edge"),
            expr("""st_relate('LINESTRING (4 2, 6 2)',
              |'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))')""".stripMargin)
              .as("rel_line_touch"),
            expr("""st_relate('LINESTRING (2 2, 4 2)',
              |'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))')""".stripMargin)
              .as("rel_line_reach"),
            expr("""st_relate('LINESTRING (1 4.5, 8 4.5)',
              |'POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0),
              | (3 3, 6 3, 6 6, 3 6, 3 3))')""".stripMargin)
              .as("rel_line_donut_cross"))
          .orderBy($"r")
      },
      Some("""SELECT r_regionkey AS r,
             |  '212F11FF2' AS rel_contains_edge_tangent,
             |  '2FF11F212' AS rel_within_edge_tangent,
             |  '212F01FF2' AS rel_contains_pt_tangent,
             |  '212111212' AS rel_overlap_shared_seg,
             |  'FF2F11212' AS rel_island_in_hole_touch,
             |  '212FF1FF2' AS rel_concave_contains,
             |  'F1FF0F212' AS rel_line_on_edge,
             |  'FF1F00212' AS rel_line_touch,
             |  '1FF00F212' AS rel_line_reach,
             |  '1010FF212' AS rel_line_donut_cross
             |FROM region ORDER BY r""".stripMargin)),

    // MULTI*-operand DE-9IM + exact multipart overlay (r9): relate and
    // intersection accept MULTIPOLYGON / MULTILINESTRING / MULTIPOINT
    // through the same subdivision engine (containment-depth ring
    // orientation; polyline sets under the OGC mod-2 boundary rule).
    // Every matrix below is a hand-derived OGC SFS fact.
    "fn_st_relate_multi" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val mp = "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), " +
          "((5 0, 6 0, 6 1, 5 1, 5 0)))"
        val big = "POLYGON ((-1 -1, 2 -1, 2 2, -1 2, -1 -1))"
        val ml = "MULTILINESTRING ((0 0, 4 0), (4 0, 4 4))"
        Tables.region(s, dir)
          .select($"r_regionkey".as("r"))
          .select($"r",
            expr(s"st_relate('$mp', '$big')").as("rel_mp_one_part_in"),
            expr(s"st_relate('$big', '$mp')").as("rel_mp_transposed"),
            expr(s"""st_relate('$mp',
              |'POLYGON ((5.2 0.2, 5.8 0.2, 5.8 0.8, 5.2 0.8, 5.2 0.2))')""".stripMargin)
              .as("rel_mp_contains_poly"),
            expr(s"st_relate('MULTIPOINT (0.5 0.5, 5.5 0.5, 3 3)', '$mp')")
              .as("rel_mpt_vs_mp"),
            expr("""st_relate('MULTIPOINT (1 1, 2 2)',
              |'MULTIPOINT (2 2, 3 3)')""".stripMargin)
              .as("rel_mpt_sets"),
            expr(s"st_relate('$ml', 'LINESTRING (0 0, 4 0, 4 4)')")
              .as("rel_ml_equal_path"),
            expr(s"st_relate('POINT (4 0)', '$ml')")
              .as("rel_pt_at_seam"),
            expr(s"st_relate('MULTILINESTRING ((0 0, 2 0))', '$ml')")
              .as("rel_ml_sub_path"),
            expr("""st_relate('MULTILINESTRING ((1 1, 2 2), (20 20, 30 30))',
              |'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))')""".stripMargin)
              .as("rel_ml_split_in_out"),
            round(expr(s"st_area(st_intersection('$mp', '$big'))"), 6)
              .as("mp_exact_int_area"))
          .orderBy($"r")
      },
      Some("""SELECT r_regionkey AS r,
             |  '2F21F1212' AS rel_mp_one_part_in,
             |  '212FF1212' AS rel_mp_transposed,
             |  '212FF1FF2' AS rel_mp_contains_poly,
             |  '0F0FFF212' AS rel_mpt_vs_mp,
             |  '0F0FFF0F2' AS rel_mpt_sets,
             |  '1FFF0FFF2' AS rel_ml_equal_path,
             |  '0FFFFF102' AS rel_pt_at_seam,
             |  '1FF00F102' AS rel_ml_sub_path,
             |  '1F10F0212' AS rel_ml_split_in_out,
             |  1.0 AS mp_exact_int_area
             |FROM region ORDER BY r""".stripMargin)),

    // Constructive geometry tier: buffer, convex hull, bbox
    // union/intersection — every value checked against a closed form.
    "fn_geo_tier3" -> QueryDef(
      (s, dir) => {
        Tables.nation(s, dir).limit(1).select(lit(1).as("one"))
          .withColumn("buf", expr("st_buffer(st_point(3.0, 4.0), 2.0)"))
          .withColumn("hull", expr(
            "st_convex_hull('MULTIPOINT (0 0, 4 0, 4 3, 0 3, 1 1, 2 2, 3 1)')"))
          .withColumn("ab_union", expr(
            """st_union('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))',
              |'POLYGON ((2 1, 6 1, 6 5, 2 5, 2 1))')""".stripMargin))
          .withColumn("ab_inter", expr(
            """st_intersection('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))',
              |'POLYGON ((2 1, 6 1, 6 5, 2 5, 2 1))')""".stripMargin))
          .withColumn("disj_union", expr(
            """st_union('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))',
              |'POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))')""".stripMargin))
          .select(
            expr("round(st_area(buf), 6)").as("buf_area"),
            expr("round(st_length(buf), 6)").as("buf_perim"),
            expr("round(st_x(st_centroid(buf)), 6)").as("buf_cx"),
            expr("round(st_y(st_centroid(buf)), 6)").as("buf_cy"),
            expr("round(st_area(hull), 6)").as("hull_area"),
            expr("st_npoints(hull)").as("hull_npoints"),
            expr("round(geom_area(ab_union), 6)").as("union_area"),
            expr("round(st_area(ab_inter), 6)").as("inter_area"),
            expr("round(geom_area(disj_union), 6)").as("disj_area"),
            expr("st_intersection('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))', " +
              "'POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))') = 'POLYGON EMPTY'").as("disj_empty"),
            // exact convex clip: triangle x+y<=6 cuts the square corner
            expr("""round(st_area(st_intersection('POLYGON ((0 0, 6 0, 0 6, 0 0))',
              |'POLYGON ((1 1, 5 1, 5 5, 1 5, 1 1))')), 6)""".stripMargin)
              .as("tri_inter_area"),
            expr("""round(geom_area('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0),
              |(2 2, 4 2, 4 4, 2 4, 2 2))'), 6)""".stripMargin).as("donut_area"))
      },
      // closed forms: regular 32-gon area = ½·n·r²·sin(2π/n), perimeter
      // = 2·n·r·sin(π/n); hull of the fixture = the 4×3 rectangle;
      // union area = A + B − A∩B
      Some("""SELECT
             |  round(0.5 * 32 * 4.0 * sin(2 * pi() / 32), 6) AS buf_area,
             |  round(2 * 32 * 2.0 * sin(pi() / 32), 6) AS buf_perim,
             |  3.0 AS buf_cx, 4.0 AS buf_cy,
             |  12.0 AS hull_area, CAST(4 AS BIGINT) AS hull_npoints,
             |  24.0 AS union_area, 4.0 AS inter_area, 2.0 AS disj_area,
             |  true AS disj_empty, 8.0 AS tri_inter_area,
             |  96.0 AS donut_area""".stripMargin)),

    // geometry_to_bing_tiles (BingTileFunctions.geometryToBingTiles,
    // VERDICT r2 declared-out list): tile cover of a geometry at a
    // zoom. The macro covers the envelope range; the exact-geometry
    // refinement (reference drops tiles disjoint from the geometry) is
    // the st_intersects(bing_tile_polygon(t), g) filter applied after
    // explode — for these envelope-filling rectangles both agree, and
    // the oracle rebuilds every quadkey from the closed-form Mercator
    // tile math like fn_bing_tiles.
    "fn_geometry_to_bing_tiles" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.nation(s, dir)
          .select($"n_nationkey",
            ($"n_nationkey" * 2.0 - 25.0).as("lat0"),
            ($"n_nationkey" * 5.0 - 60.0).as("lon0"))
          .withColumn("poly", expr(
            """concat('POLYGON ((', lon0, ' ', lat0, ', ', lon0 + 3, ' ', lat0, ', ',
              |lon0 + 3, ' ', lat0 + 2, ', ', lon0, ' ', lat0 + 2, ', ',
              |lon0, ' ', lat0, '))')""".stripMargin))
          // the macro must be projected before the Generate — Spark
          // disallows SQL-UDF expansion directly under explode
          .withColumn("tiles", expr("geometry_to_bing_tiles(poly, 6)"))
          .select($"n_nationkey", $"poly", explode($"tiles").as("tile"))
          // the count/keys aggregate the UNFILTERED envelope range —
          // exactly what the oracle enumerates; the exact-geometry
          // refinement is asserted as a property (all-true for these
          // envelope-filling rectangles) instead of a filter, so a
          // tile tangent to the rectangle edge can never make the two
          // engines disagree about the row set
          .groupBy($"n_nationkey")
          .agg(count(lit(1)).cast("int").as("n_tiles"),
            array_join(array_sort(collect_list($"tile")), ",").as("tile_keys"),
            min(expr("st_intersects(bing_tile_polygon(tile), poly)"))
              .as("all_tiles_intersect"))
          .orderBy($"n_nationkey")
      },
      Some("""WITH n AS (
             |  SELECT n_nationkey, n_nationkey * 2.0 - 25.0 AS lat0,
             |    n_nationkey * 5.0 - 60.0 AS lon0
             |  FROM nation),
             |b AS (
             |  SELECT n_nationkey,
             |    CAST(FLOOR(LEAST(GREATEST((lon0 + 180) / 360 * (256 * 2^6), 0),
             |      256 * 2^6 - 1) / 256) AS BIGINT) AS x0,
             |    CAST(FLOOR(LEAST(GREATEST((lon0 + 3 + 180) / 360 * (256 * 2^6), 0),
             |      256 * 2^6 - 1) / 256) AS BIGINT) AS x1,
             |    CAST(FLOOR(LEAST(GREATEST((0.5 - ln((1 + sin((lat0 + 2) * pi() / 180))
             |        / (1 - sin((lat0 + 2) * pi() / 180))) / (4 * pi())) * (256 * 2^6), 0),
             |      256 * 2^6 - 1) / 256) AS BIGINT) AS y0,
             |    CAST(FLOOR(LEAST(GREATEST((0.5 - ln((1 + sin(lat0 * pi() / 180))
             |        / (1 - sin(lat0 * pi() / 180))) / (4 * pi())) * (256 * 2^6), 0),
             |      256 * 2^6 - 1) / 256) AS BIGINT) AS y1
             |  FROM n),
             |t AS (
             |  SELECT n_nationkey,
             |    array_to_string(list_transform(generate_series(6, 1, -1), i ->
             |      CAST(CAST(FLOOR(gx.x / 2^(i - 1)) AS BIGINT) % 2
             |        + 2 * (CAST(FLOOR(gy.y / 2^(i - 1)) AS BIGINT) % 2) AS VARCHAR)), '')
             |      AS qk
             |  FROM b, unnest(generate_series(x0, x1)) AS gx(x),
             |    unnest(generate_series(y0, y1)) AS gy(y))
             |SELECT n_nationkey, CAST(count(*) AS INT) AS n_tiles,
             |  string_agg(qk, ',' ORDER BY qk) AS tile_keys,
             |  true AS all_tiles_intersect
             |FROM t GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin)),

    // Geometry aggregates (r4): geometry_union_agg (GeometryUnionAgg
    // in presto-geospatial; envelope-scope like the n-ary scalar) and
    // convex_hull_agg (ConvexHullAggregation.java). Fixture: per
    // region, each nation contributes the strip [n, n+2] × [0, 2] —
    // strictly increasing starts AND ends with no containment, so the
    // buffer's canonical sorted decomposition reduces to the
    // running-max piece rule the oracle recomputes with one window
    // pass. Hull fixtures: 4 planted corner points dominate all
    // interior (n, 7n mod 13) points → constant box hull; the diagonal
    // (n, n) set is collinear → recomputed extreme-to-extreme
    // LINESTRING. Every column is value-checked.
    "fn_geo_agg" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val nat = Tables.nation(s, dir).select(
          $"n_regionkey".as("r"), $"n_nationkey".as("n"),
          expr("""concat('POLYGON ((', n_nationkey, ' 0, ', n_nationkey + 2,
            | ' 0, ', n_nationkey + 2, ' 2, ', n_nationkey, ' 2, ',
            | n_nationkey, ' 0))')""".stripMargin.replace("\n", "")).as("poly"),
          expr("concat('POINT (', n_nationkey, ' ', pmod(n_nationkey * 7, 13), ')')")
            .as("pt"),
          expr("concat('POINT (', n_nationkey, ' ', n_nationkey, ')')").as("diag"))
        val corners = Tables.region(s, dir).select($"r_regionkey".as("r"),
          explode(array(lit("POINT (-1 -1)"), lit("POINT (31 -1)"),
            lit("POINT (31 21)"), lit("POINT (-1 21)"))).as("pt"))
        val unions = nat.groupBy($"r").agg(
          expr("geometry_union_agg(poly)").as("u"),
          expr("convex_hull_agg(diag)").as("hull_diag"))
        val hulls = nat.select($"r", $"pt").union(corners)
          .groupBy($"r").agg(expr("convex_hull_agg(pt)").as("hull_box"))
        unions.join(hulls, "r")
          .select($"r", $"u",
            expr("round(geom_area(u), 4)").as("u_area"),
            expr("st_geometry_type(u)").as("u_type"),
            $"hull_box", $"hull_diag",
            expr("round(st_area(hull_box), 4)").as("hull_area"))
          .orderBy($"r")
      },
      // pieces: [greatest(n, max prior end), n+2] per nation in key
      // order, empty pieces dropped — the same disjoint decomposition
      // the aggregate emits (starts/ends strictly increase, so
      // subtraction leaves at most one right strip per envelope)
      Some("""WITH pieces AS (
             |  SELECT n_regionkey AS r, n_nationkey AS n,
             |    GREATEST(n_nationkey, COALESCE(MAX(n_nationkey + 2) OVER (
             |      PARTITION BY n_regionkey ORDER BY n_nationkey
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      n_nationkey)) AS ps,
             |    n_nationkey + 2 AS pe
             |  FROM nation),
             |valid AS (SELECT * FROM pieces WHERE pe > ps),
             |u AS (
             |  SELECT r,
             |    CASE WHEN count(*) = 1 THEN
             |      'POLYGON ((' || min(ps) || ' 0, ' || min(pe) || ' 0, '
             |        || min(pe) || ' 2, ' || min(ps) || ' 2, ' || min(ps) || ' 0))'
             |    ELSE
             |      'MULTIPOLYGON (' || string_agg('((' || ps || ' 0, ' || pe
             |        || ' 0, ' || pe || ' 2, ' || ps || ' 2, ' || ps || ' 0))',
             |        ', ' ORDER BY ps) || ')'
             |    END AS u,
             |    round(SUM((pe - ps) * 2.0), 4) AS u_area,
             |    count(*) AS n_parts
             |  FROM valid GROUP BY r),
             |diag AS (
             |  SELECT n_regionkey AS r,
             |    'LINESTRING (' || min(n_nationkey) || ' ' || min(n_nationkey)
             |      || ', ' || max(n_nationkey) || ' ' || max(n_nationkey) || ')'
             |      AS hull_diag
             |  FROM nation GROUP BY n_regionkey)
             |SELECT u.r, u.u, u.u_area,
             |  CASE WHEN u.n_parts = 1 THEN 'ST_Polygon'
             |       ELSE 'ST_MultiPolygon' END AS u_type,
             |  'POLYGON ((-1 -1, 31 -1, 31 21, -1 21, -1 -1))' AS hull_box,
             |  diag.hull_diag, 704.0 AS hull_area
             |FROM u JOIN diag ON u.r = diag.r ORDER BY u.r""".stripMargin)),

    // KDB-tree spatial partitioning (r4; SpatialPartitioning-
    // AggregateFunction.java + KdbTree.java, declared out until now).
    // spatial_partitioning learns axis-alternating lower-median splits
    // from a deterministic bottom-k sample; spatial_partitions assigns
    // leaf ids by envelope walk. The fixture is bounded (custkey ≤
    // 1200 < the 4096 sample cap at every sf), so the sample is the
    // full point set and DuckDB recomputes the same lower medians with
    // window functions, then the same 4-leaf assignment: leaf ids in
    // lo-first DFS order = 2·(px ≥ mx) + (py ≥ my of that x-half).
    "fn_spatial_partitioning" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""WITH pts AS (
                |  SELECT c_custkey, (c_custkey % 100) * 0.2 + 0.05 AS px,
                |    c_nationkey * 0.8 + 0.05 AS py
                |  FROM customer WHERE c_custkey <= 1200),
                |g AS (
                |  SELECT spatial_partitioning(
                |    concat('POINT (', px, ' ', py, ')'), 4) AS tree
                |  FROM pts),
                |a AS (
                |  SELECT c_custkey, px, py,
                |    spatial_partitions(g.tree,
                |      concat('POINT (', px, ' ', py, ')')) AS pids,
                |    spatial_partitions(g.tree,
                |      concat('POINT (', px, ' ', py, ')'), 2.0) AS pids_near
                |  FROM pts CROSS JOIN g)
                |SELECT pid, count(*) AS n_pts,
                |  round(min(px), 4) AS min_x, round(max(px), 4) AS max_x,
                |  round(min(py), 4) AS min_y, round(max(py), 4) AS max_y,
                |  CAST(min(size(pids)) AS INT) AS min_assign,
                |  CAST(max(size(pids)) AS INT) AS max_assign,
                |  CAST(max(size(pids_near)) AS INT) AS max_near
                |FROM a LATERAL VIEW explode(pids) e AS pid
                |GROUP BY pid ORDER BY pid""".stripMargin)
      },
      // lower median = value at 1-indexed row (n−1)/2 + 1 of the
      // axis-sorted sample; a point goes hi when its coordinate ≥ the
      // split. max_near ≤ 4 is itself recomputed (expanding by 2.0
      // can cross both splits).
      Some("""WITH pts AS (
             |  SELECT c_custkey, (c_custkey % 100) * 0.2 + 0.05 AS px,
             |    c_nationkey * 0.8 + 0.05 AS py
             |  FROM customer WHERE c_custkey <= 1200),
             |pts_d AS (SELECT DISTINCT px, py FROM pts),
             |mx AS (
             |  SELECT px AS v FROM (
             |    SELECT px, row_number() OVER (ORDER BY px) AS rn,
             |      count(*) OVER () AS n FROM pts_d) t
             |  WHERE rn = CAST(floor((n - 1) / 2.0) AS BIGINT) + 1),
             |halves_d AS (
             |  SELECT p.*, (p.px >= mx.v) AS hi_x FROM pts_d p CROSS JOIN mx),
             |my AS (
             |  SELECT hi_x, py AS v FROM (
             |    SELECT hi_x, py,
             |      row_number() OVER (PARTITION BY hi_x ORDER BY py) AS rn,
             |      count(*) OVER (PARTITION BY hi_x) AS n FROM halves_d) t
             |  WHERE rn = CAST(floor((n - 1) / 2.0) AS BIGINT) + 1),
             |halves AS (
             |  SELECT p.*, (p.px >= mx.v) AS hi_x FROM pts p CROSS JOIN mx),
             |assign AS (
             |  SELECT h.px, h.py,
             |    2 * CAST(h.hi_x AS INT) + CAST(h.py >= my.v AS INT) AS pid,
             |    -- expanded envelope: each intersected x-half
             |    -- contributes its own y-median's side count
             |    (CASE WHEN h.px - 2.0 < mx.v THEN
             |        (CASE WHEN h.py - 2.0 < mylo.v THEN 1 ELSE 0 END) +
             |        (CASE WHEN h.py + 2.0 >= mylo.v THEN 1 ELSE 0 END)
             |      ELSE 0 END) +
             |    (CASE WHEN h.px + 2.0 >= mx.v THEN
             |        (CASE WHEN h.py - 2.0 < myhi.v THEN 1 ELSE 0 END) +
             |        (CASE WHEN h.py + 2.0 >= myhi.v THEN 1 ELSE 0 END)
             |      ELSE 0 END) AS near_cnt
             |  FROM halves h JOIN my ON my.hi_x = h.hi_x CROSS JOIN mx
             |    CROSS JOIN (SELECT v FROM my WHERE hi_x = false) mylo
             |    CROSS JOIN (SELECT v FROM my WHERE hi_x = true) myhi)
             |SELECT pid, count(*) AS n_pts,
             |  round(min(px), 4) AS min_x, round(max(px), 4) AS max_x,
             |  round(min(py), 4) AS min_y, round(max(py), 4) AS max_y,
             |  CAST(1 AS INT) AS min_assign, CAST(1 AS INT) AS max_assign,
             |  CAST(max(near_cnt) AS INT) AS max_near
             |FROM assign GROUP BY pid ORDER BY pid""".stripMargin)),

    // Exact concave overlay (r4 late; Greiner–Hormann, general
    // position). Every expected value is hand-derived from the
    // fixture decomposition, not recomputed by the engine:
    //  L = [0,4]x[0,2] ∪ [0,2]x[2,4] (area 12), box = [1,5]^2 (16):
    //    L∩box = [1,4]x[1,2] + [1,2]x[2,4] = 5 → ∪ = 12+16−5 = 23,
    //    L−box = 7, box−L = 11, sym = 18.
    //  U = [0,5]x[0,4] minus slot [1,4]x[1,4] (11); bar [-1,6]x[2,3]
    //    (7): ∩ = both arm slices [0,1]x[2,3]+[4,5]x[2,3] = 2
    //    (a MULTIPOLYGON), ∪ = 16.
    //  sq6 = [0,6]^2; tri = (4 −1, 8 3, 4 7) pierces it: ∩ = ∫₄⁵6dx +
    //    ∫₅⁶(16−2x)dx = 11 → sq6−tri = 25, tri−sq6 = 5.
    //  arch = [0,10]^2 minus slot [3,7]x[0,8] (68); plug [2,8]x[1,3]
    //    (12) bridges the slot → ∪ = 100−20−4 = 76 with the enclosed
    //    [3,7]x(3,8) as ONE interior ring.
    "fn_geo_concave_overlay" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""WITH g AS (SELECT
                |  'POLYGON ((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))' AS l,
                |  'POLYGON ((1 1, 5 1, 5 5, 1 5, 1 1))' AS box,
                |  'POLYGON ((0 0, 5 0, 5 4, 4 4, 4 1, 1 1, 1 4, 0 4, 0 0))' AS u,
                |  'POLYGON ((-1 2, 6 2, 6 3, -1 3, -1 2))' AS bar,
                |  'POLYGON ((0 0, 6 0, 6 6, 0 6, 0 0))' AS sq6,
                |  'POLYGON ((4 -1, 8 3, 4 7, 4 -1))' AS tri,
                |  'POLYGON ((0 0, 3 0, 3 8, 7 8, 7 0, 10 0, 10 10, 0 10, 0 0))' AS arch,
                |  'POLYGON ((2 1, 8 1, 8 3, 2 3, 2 1))' AS plug)
                |SELECT
                |  round(geom_area(st_intersection(l, box)), 6) AS l_int_area,
                |  round(geom_area(st_union(l, box)), 6) AS l_union_area,
                |  round(geom_area(st_difference(l, box)), 6) AS l_diff_area,
                |  round(geom_area(st_difference(box, l)), 6) AS box_diff_area,
                |  round(geom_area(st_sym_difference(l, box)), 6) AS l_sym_area,
                |  round(geom_area(st_intersection(u, bar)), 6) AS u_int_area,
                |  st_geometry_type(st_intersection(u, bar)) AS u_int_type,
                |  round(geom_area(st_union(u, bar)), 6) AS u_union_area,
                |  round(geom_area(st_intersection(sq6, tri)), 6) AS tri_int_area,
                |  round(geom_area(st_difference(sq6, tri)), 6) AS tri_diff_area,
                |  round(geom_area(st_difference(tri, sq6)), 6) AS tri_rev_diff_area,
                |  round(geom_area(st_sym_difference(sq6, tri)), 6) AS tri_sym_area,
                |  round(geom_area(st_union(arch, plug)), 6) AS arch_union_area,
                |  st_num_interior_ring(st_union(arch, plug)) AS arch_union_holes,
                |  round(st_length(st_interior_ring_n(st_union(arch, plug), 1)), 6)
                |    AS arch_hole_perim,
                |  CAST(size(st_interior_rings(st_union(arch, plug))) AS INT)
                |    AS arch_n_irings,
                |  CAST(size(st_interior_rings(box)) AS INT) AS box_n_irings
                |FROM g""".stripMargin)
      },
      Some("""SELECT 5.0 AS l_int_area, 23.0 AS l_union_area,
             |  7.0 AS l_diff_area, 11.0 AS box_diff_area, 18.0 AS l_sym_area,
             |  2.0 AS u_int_area, 'ST_MultiPolygon' AS u_int_type,
             |  16.0 AS u_union_area, 11.0 AS tri_int_area,
             |  25.0 AS tri_diff_area, 5.0 AS tri_rev_diff_area,
             |  30.0 AS tri_sym_area, 76.0 AS arch_union_area,
             |  CAST(1 AS BIGINT) AS arch_union_holes,
             |  18.0 AS arch_hole_perim, CAST(1 AS INT) AS arch_n_irings,
             |  CAST(0 AS INT) AS box_n_irings""".stripMargin)),

    // Degenerate boundary contact EXACT overlay (r4 #5, closed r8):
    // shared full edge, shared corner (pinch), vertex-on-edge with a
    // crossing, collinear partial overlap, identical inputs, corner
    // containment sharing two boundary segments, and a hole formed
    // purely through collinear contact. The reference gets these from
    // ESRI's topological operators (GeoFunctions.java:560,627,698);
    // here the refined-subdivision overlay answers them exactly —
    // every oracle value is hand-derived.
    "fn_geo_degenerate_overlay" -> QueryDef(
      (s, dir) => {
        s.sql("""WITH g AS (SELECT
                |  'POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))' AS sq,
                |  'POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))' AS adj,
                |  'POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))' AS diag,
                |  'POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))' AS sq2,
                |  'POLYGON ((1 2, 3 1, 3 3, 1 2))' AS tri,
                |  'POLYGON ((0 0, 2 0, 2 1, 0 1, 0 0))' AS ra,
                |  'POLYGON ((1 0, 3 0, 3 1, 1 1, 1 0))' AS rb,
                |  'POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))' AS sq3,
                |  'POLYGON ((0 0, 3 0, 3 3, 2 3, 2 1, 1 1, 1 3, 0 3, 0 0))' AS ushape,
                |  'POLYGON ((0 3, 3 3, 3 4, 0 4, 0 3))' AS cap)
                |SELECT
                |  round(geom_area(st_intersection(sq, adj)), 6) AS edge_int,
                |  round(geom_area(st_union(sq, adj)), 6) AS edge_union,
                |  round(geom_area(st_difference(sq, adj)), 6) AS edge_diff,
                |  round(geom_area(st_sym_difference(sq, adj)), 6) AS edge_sym,
                |  round(geom_area(st_intersection(sq, diag)), 6) AS pinch_int,
                |  round(geom_area(st_union(sq, diag)), 6) AS pinch_union,
                |  round(geom_area(st_intersection(sq2, tri)), 6) AS voe_int,
                |  round(geom_area(st_difference(sq2, tri)), 6) AS voe_diff,
                |  round(geom_area(st_intersection(ra, rb)), 6) AS coll_int,
                |  round(geom_area(st_union(ra, rb)), 6) AS coll_union,
                |  round(geom_area(st_sym_difference(ra, rb)), 6) AS coll_sym,
                |  round(geom_area(st_intersection(sq, sq)), 6) AS ident_int,
                |  round(geom_area(st_difference(sq, sq)), 6) AS ident_diff,
                |  round(geom_area(st_intersection(sq3, sq)), 6) AS corner_int,
                |  round(geom_area(st_difference(sq3, sq)), 6) AS corner_diff,
                |  round(geom_area(st_union(ushape, cap)), 6) AS hole_union_area,
                |  st_num_interior_ring(st_union(ushape, cap)) AS hole_union_holes
                |FROM g""".stripMargin)
      },
      Some("""SELECT 0.0 AS edge_int, 2.0 AS edge_union, 1.0 AS edge_diff,
             |  2.0 AS edge_sym, 0.0 AS pinch_int, 2.0 AS pinch_union,
             |  0.25 AS voe_int, 3.75 AS voe_diff,
             |  1.0 AS coll_int, 3.0 AS coll_union, 2.0 AS coll_sym,
             |  1.0 AS ident_int, 0.0 AS ident_diff,
             |  1.0 AS corner_int, 8.0 AS corner_diff,
             |  10.0 AS hole_union_area,
             |  CAST(1 AS BIGINT) AS hole_union_holes""".stripMargin)),

    // st_contains with GEOMETRYCOLLECTION operands (r10 semantics,
    // gated r11 per VERDICT r10 #6): member decomposition on either
    // side, including the motivating first-vertex-inside-but-NOT-
    // contained case (the pre-r10 fallback looked only at the first
    // member's first vertex). Left-collection rows cover the decidable
    // regimes — single-member containment and envelope-disjoint false;
    // the members-jointly-cover case RAISES and stays pinned in
    // Round10FixesSpec (an erroring row cannot be oracle-valued).
    "fn_geo_collection" -> QueryDef(
      (s, dir) => {
        val box = "'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))'"
        s.sql(s"""SELECT
                |  st_contains($box,
                |    'GEOMETRYCOLLECTION (POINT (5 5), POINT (20 20))')
                |    AS gc_first_inside,
                |  st_contains($box,
                |    'GEOMETRYCOLLECTION (POINT (5 5), LINESTRING (1 1, 20 1))')
                |    AS gc_line_exits,
                |  st_contains($box,
                |    'GEOMETRYCOLLECTION (POINT (5 5), LINESTRING (1 1, 2 2), POLYGON ((3 3, 4 3, 4 4, 3 4, 3 3)))')
                |    AS gc_all_inside,
                |  st_contains($box,
                |    'GEOMETRYCOLLECTION (GEOMETRYCOLLECTION (POINT (1 1)), POINT (2 2))')
                |    AS gc_nested,
                |  st_contains($box, 'GEOMETRYCOLLECTION (POINT (0 0))')
                |    AS gc_boundary_only,
                |  st_contains(
                |    'GEOMETRYCOLLECTION (POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0)), POINT (30 30))',
                |    'POINT (5 5)') AS gcl_member_contains,
                |  st_contains(
                |    'GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)), POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5)))',
                |    'POINT (30 30)') AS gcl_disjoint,
                |  st_contains($box,
                |    'GEOMETRYCOLLECTION (POINT (5 5), GEOMETRYCOLLECTION (LINESTRING (0 5, 11 5)))')
                |    AS gc_nested_exits""".stripMargin)
      },
      Some("""SELECT false AS gc_first_inside, false AS gc_line_exits,
             |  true AS gc_all_inside, true AS gc_nested,
             |  false AS gc_boundary_only, true AS gcl_member_contains,
             |  false AS gcl_disjoint, false AS gc_nested_exits""".stripMargin)),

    // Interior rings in overlay (r4 missing #4, closed r8): polygons
    // WITH holes through intersection/union/difference/sym-difference,
    // exact in every contact regime — hole fully covered by the other
    // operand (fills on union, subsumes on difference), a rect crossing
    // partially into a hole (hole shrinks to an L), an island nested
    // inside the other's hole (union is a MULTIPOLYGON), and a square
    // plugging a hole exactly (all-shared boundary). Hand-derived
    // oracle areas; reference exactness via ESRI (GeoFunctions.java).
    "fn_geo_holes_overlay" -> QueryDef(
      (s, dir) => {
        s.sql("""WITH g AS (SELECT
                |  'POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2))' AS donut,
                |  'POLYGON ((1 1, 4 1, 4 4, 1 4, 1 1))' AS cover,
                |  'POLYGON ((0 0, 6 0, 6 6, 0 6, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))' AS frame,
                |  'POLYGON ((2 2, 5 2, 5 5, 2 5, 2 2))' AS crosser,
                |  'POLYGON ((0 0, 5 0, 5 5, 0 5, 0 0), (1 1, 4 1, 4 4, 1 4, 1 1))' AS ring5,
                |  'POLYGON ((2 2, 3 2, 3 3, 2 3, 2 2))' AS island,
                |  'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))' AS donut4,
                |  'POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))' AS plug)
                |SELECT
                |  round(geom_area(st_intersection(donut, cover)), 6) AS cov_int,
                |  round(geom_area(st_union(donut, cover)), 6) AS cov_union,
                |  round(geom_area(st_difference(donut, cover)), 6) AS cov_diff,
                |  round(geom_area(st_difference(cover, donut)), 6) AS cov_rev_diff,
                |  st_num_interior_ring(st_difference(donut, cover)) AS cov_diff_holes,
                |  round(geom_area(st_intersection(frame, crosser)), 6) AS cross_int,
                |  round(geom_area(st_union(frame, crosser)), 6) AS cross_union,
                |  round(geom_area(st_sym_difference(frame, crosser)), 6) AS cross_sym,
                |  round(geom_area(st_union(ring5, island)), 6) AS island_union,
                |  st_geometry_type(st_union(ring5, island)) AS island_union_type,
                |  round(geom_area(st_intersection(donut4, plug)), 6) AS plug_int,
                |  round(geom_area(st_union(donut4, plug)), 6) AS plug_union,
                |  round(geom_area(st_difference(donut4, plug)), 6) AS plug_diff,
                |  st_num_interior_ring(st_union(donut4, plug)) AS plug_union_holes
                |FROM g""".stripMargin)
      },
      Some("""SELECT 8.0 AS cov_int, 81.0 AS cov_union, 72.0 AS cov_diff,
             |  1.0 AS cov_rev_diff, CAST(1 AS BIGINT) AS cov_diff_holes,
             |  8.0 AS cross_int, 33.0 AS cross_union, 25.0 AS cross_sym,
             |  17.0 AS island_union, 'ST_MultiPolygon' AS island_union_type,
             |  0.0 AS plug_int, 16.0 AS plug_union, 15.0 AS plug_diff,
             |  CAST(0 AS BIGINT) AS plug_union_holes""".stripMargin)),

    // Presto-cased name tier (r5): exercises the case-collapsed alias
    // registrations end-to-end — Presto resolves identifiers
    // case-insensitively, so `ST_IsEmpty(g)` in a user's query text IS
    // `st_isempty` (GeoFunctions.java:136-1119). Every column below
    // calls ONLY the collapsed spellings; values are closed-form
    // (booleans folded into arithmetic, not `true AS` oracle literals).
    "fn_geo_names" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.nation(s, dir)
          .select($"n_nationkey".as("n"))
          .select($"n",
            expr("""st_geometrytype(st_geometryfromtext(
              |concat('POINT (', n, ' 2)')))""".stripMargin).as("gtype"),
            // polygon vertex count excludes the repeated closing vertex
            expr("st_numpoints('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))')").as("npts"),
            expr("""round(st_length(st_exteriorring(
              |'POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))')), 4)""".stripMargin).as("ring_len"),
            expr("""st_numinteriorring('POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0),
              | (2 2, 3 2, 3 3, 2 3, 2 2))')""".stripMargin).as("n_holes"),
            expr("""round(st_length(st_interiorringn(
              |'POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2))',
              |1)), 4)""".stripMargin).as("hole_len"),
            expr("""CAST(size(st_interiorrings('POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0),
              | (2 2, 3 2, 3 3, 2 3, 2 2))')) AS INT)""".stripMargin).as("n_irings"),
            expr("""IF(st_isempty('POLYGON EMPTY'), 1, 0)
              |+ 10 * IF(st_isempty('POINT (1 2)'), 1, 0)""".stripMargin).as("empty_bits"),
            expr("st_coorddim('POINT (1 2)')").as("cdim"),
            expr("st_envelopeaspts('LINESTRING (0 0, 4 3)')[1]").as("env_hi"),
            expr("st_numgeometries('MULTIPOINT (1 1, 2 2, 3 3)')").as("ngeom"),
            expr("st_geometryn('MULTIPOINT (1 1, 2 2, 3 3)', 2)").as("geom2"),
            expr("""IF(st_isring('LINESTRING (0 0, 1 0, 1 1, 0 0)'), 1, 0)
              |+ 10 * IF(st_isring('LINESTRING (0 0, 1 0, 1 1, 0 1)'), 1, 0)"""
              .stripMargin).as("ring_bits"),
            expr("st_geometrytype(st_linefromtext('LINESTRING (0 0, 1 1)'))").as("ltype"),
            expr("""IF(st_issimple('LINESTRING (0 0, 1 1)'), 1, 0)
              |+ 10 * IF(st_isvalid('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'), 1, 0)"""
              .stripMargin).as("simple_valid"),
            // hull of the concave L adds the (4 2)-(2 4)-(4 4) triangle
            expr("""round(geom_area(st_convexhull(
              |'POLYGON ((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))')), 4)""".stripMargin)
              .as("hull_area"),
            expr("""round(geom_area(st_symdifference(
              |'POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))',
              |'POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))')), 4)""".stripMargin).as("sym_area"),
            expr("""st_geometrytype(st_geomfrombinary(st_asbinary(
              |concat('POINT (', n, ' 2)'))))""".stripMargin).as("wkb_rt"))
          .orderBy($"n")
      },
      Some("""SELECT n_nationkey AS n, 'ST_Point' AS gtype,
             |  CAST(4 AS BIGINT) AS npts, 14.0 AS ring_len,
             |  CAST(1 AS BIGINT) AS n_holes, 4.0 AS hole_len,
             |  CAST(1 AS INT) AS n_irings, 1 AS empty_bits,
             |  CAST(2 AS INT) AS cdim, 'POINT (4.0 3.0)' AS env_hi,
             |  CAST(3 AS INT) AS ngeom, 'POINT (2 2)' AS geom2,
             |  1 AS ring_bits, 'ST_LineString' AS ltype,
             |  11 AS simple_valid, 14.0 AS hull_area, 6.0 AS sym_area,
             |  'ST_Point' AS wkb_rt
             |FROM nation ORDER BY n""".stripMargin))
  )
}
