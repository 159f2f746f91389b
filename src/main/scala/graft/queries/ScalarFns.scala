package graft.queries

import graft.{QueryDef, QueryGroup, Tables}
import graft.functions.PrestoDatetime
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar-function tier — SURVEY.md §2.8.
  *
  * Math / string / regex / datetime / conditional / URL / hash /
  * bitwise / JSON / TRY-cast families, each exercised over the
  * testdata tables with a value-matched DuckDB oracle. Everything here
  * is `org.apache.spark.sql.functions._` (whole-stage-codegen'd);
  * no UDFs, so the 100 TB scan cost per row is a handful of codegen
  * instructions, never a JVM call boundary.
  */
object ScalarFns extends QueryGroup {
  private def r4(c: Column): Column = round(c, 4)

  override def defs: Map[String, QueryDef] = Map(
    // Math functions (MathFunctions.java surface).
    "fn_math" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .filter($"l_orderkey" <= 200)
          .select($"l_orderkey", $"l_linenumber",
            abs(-$"l_quantity").as("abs_q"),
            ceil($"l_extendedprice" / 1000.0).as("ceil_p"),
            floor($"l_extendedprice" / 1000.0).as("floor_p"),
            r4(sqrt($"l_quantity")).as("sqrt_q"),
            r4(pow($"l_discount", 2.0)).as("pow_d"),
            r4(exp($"l_discount")).as("exp_d"),
            r4(log($"l_quantity")).as("ln_q"),
            r4(log(10.0, $"l_quantity")).as("log10_q"),
            signum($"l_quantity" - 25.0).cast("int").as("sign_q"),
            ($"l_orderkey" % 7).as("mod_k"),
            r4(sin($"l_discount")).as("sin_d"),
            r4(atan2($"l_quantity", $"l_extendedprice" / 1000.0)).as("atan2_qp"),
            r4(degrees($"l_discount")).as("deg_d"),
            greatest($"l_quantity", $"l_tax" * 100).as("gr"),
            least($"l_quantity", $"l_tax" * 100).as("le"))
          // order over the FULL projection: duplicate (l_orderkey,
          // l_linenumber) pairs exist in the testdata, and only the
          // all-columns sort is provably total over distinct rows
          // (r12 order audit)
          .orderBy($"l_orderkey", $"l_linenumber", $"abs_q", $"ceil_p",
            $"floor_p", $"pow_d", $"atan2_qp", $"gr", $"le")
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  abs(-l_quantity) AS abs_q,
             |  CAST(ceil(l_extendedprice / 1000.0) AS BIGINT) AS ceil_p,
             |  CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS floor_p,
             |  round(sqrt(l_quantity), 4) AS sqrt_q,
             |  round(power(l_discount, 2.0), 4) AS pow_d,
             |  round(exp(l_discount), 4) AS exp_d,
             |  round(ln(l_quantity), 4) AS ln_q,
             |  round(log10(l_quantity), 4) AS log10_q,
             |  CAST(sign(l_quantity - 25.0) AS INT) AS sign_q,
             |  l_orderkey % 7 AS mod_k,
             |  round(sin(l_discount), 4) AS sin_d,
             |  round(atan2(l_quantity, l_extendedprice / 1000.0), 4) AS atan2_qp,
             |  round(degrees(l_discount), 4) AS deg_d,
             |  greatest(l_quantity, l_tax * 100) AS gr,
             |  least(l_quantity, l_tax * 100) AS le
             |FROM lineitem WHERE l_orderkey <= 200
             |ORDER BY l_orderkey, l_linenumber, abs_q, ceil_p, floor_p,
             |  pow_d, atan2_qp, gr, le""".stripMargin)),

    // width_bucket (Presto MathFunctions) — expressed as the closed-form
    // floor arithmetic so it stays codegen'd; oracle uses the same form.
    "fn_width_bucket" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .select($"o_orderkey",
            (floor(($"o_totalprice" - 0.0) / (500000.0 / 20)) + 1)
              .cast("long").as("bucket"))
          .groupBy($"bucket").agg(count(lit(1)).as("n"))
          .orderBy($"bucket")
      },
      Some("""SELECT CAST(floor(o_totalprice / (500000.0 / 20)) + 1 AS BIGINT) AS bucket,
             |  count(*) AS n
             |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Extended math: cbrt, inverse trig, hyperbolic (DuckDB lacks
    // sinh/cosh/tanh — oracle uses the exp identities), log2, cot,
    // pi/e constants, factorial.
    "fn_math_extra" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .filter($"l_orderkey" <= 100)
          .select($"l_orderkey", $"l_linenumber",
            r4(cbrt($"l_quantity")).as("cbrt_q"),
            r4(asin($"l_discount")).as("asin_d"),
            r4(acos($"l_discount")).as("acos_d"),
            r4(atan($"l_discount")).as("atan_d"),
            r4(sinh($"l_discount")).as("sinh_d"),
            r4(cosh($"l_discount")).as("cosh_d"),
            r4(tanh($"l_discount")).as("tanh_d"),
            r4(log2($"l_quantity")).as("log2_q"),
            r4(cot($"l_quantity")).as("cot_q"),
            r4(lit(math.Pi)).as("pi_c"),
            r4(exp(lit(1.0))).as("e_c"),
            factorial($"l_linenumber".cast("int") % 6).as("fact_ln"))
          .orderBy($"l_orderkey", $"l_linenumber", $"cbrt_q", $"asin_d")
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  round(cbrt(l_quantity), 4) AS cbrt_q,
             |  round(asin(l_discount), 4) AS asin_d,
             |  round(acos(l_discount), 4) AS acos_d,
             |  round(atan(l_discount), 4) AS atan_d,
             |  round((exp(l_discount) - exp(-l_discount)) / 2, 4) AS sinh_d,
             |  round((exp(l_discount) + exp(-l_discount)) / 2, 4) AS cosh_d,
             |  round((exp(l_discount) - exp(-l_discount)) /
             |        (exp(l_discount) + exp(-l_discount)), 4) AS tanh_d,
             |  round(log2(l_quantity), 4) AS log2_q,
             |  round(cot(l_quantity), 4) AS cot_q,
             |  round(pi(), 4) AS pi_c,
             |  round(exp(1.0), 4) AS e_c,
             |  CAST(factorial(l_linenumber % 6) AS BIGINT) AS fact_ln
             |FROM lineitem WHERE l_orderkey <= 100
             |ORDER BY l_orderkey, l_linenumber, cbrt_q, asin_d""".stripMargin)),

    // regexp_extract_all returning the match lists themselves
    // (joined to one string so the driver's oracle can sort/hash them).
    "fn_regex_all" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.part(s, dir)
          .select($"p_partkey",
            array_join(expr("regexp_extract_all(p_name, '[aeiou]+', 0)"), "|")
              .as("vowel_runs"),
            array_join(expr("regexp_extract_all(p_brand, '[0-9]', 0)"), "|")
              .as("digits"))
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey,
             |  coalesce(array_to_string(regexp_extract_all(p_name, '[aeiou]+'), '|'), '') AS vowel_runs,
             |  coalesce(array_to_string(regexp_extract_all(p_brand, '[0-9]'), '|'), '') AS digits
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // String functions (StringFunctions.java surface).
    "fn_string" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.part(s, dir)
          .select($"p_partkey",
            length($"p_name").as("len"),
            lower($"p_name").as("lo"),
            upper($"p_brand").as("up"),
            trim(lit("  pad  ")).as("trimmed"),
            lpad($"p_brand", 12, "*").as("lp"),
            rpad($"p_brand", 12, "*").as("rp"),
            reverse($"p_brand").as("rev"),
            regexp_replace($"p_name", lit(" "), lit("_")).as("repl"),
            substring($"p_name", 1, 8).as("sub"),
            instr($"p_name", "a").as("pos_a"),
            concat($"p_brand", lit("#"), $"p_type").as("cat"),
            concat_ws("-", $"p_brand", $"p_type").as("catws"),
            split_part($"p_name", lit(" "), lit(1)).as("first_word"),
            levenshtein($"p_brand", $"p_type").as("lev"),
            translate($"p_brand", "Br", "Xy").as("tr"),
            repeat($"p_brand", 2).as("rep"),
            ascii($"p_brand").as("cp"))
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey,
             |  length(p_name) AS len, lower(p_name) AS lo, upper(p_brand) AS up,
             |  trim('  pad  ') AS trimmed,
             |  lpad(p_brand, 12, '*') AS lp, rpad(p_brand, 12, '*') AS rp,
             |  reverse(p_brand) AS rev,
             |  replace(p_name, ' ', '_') AS repl,
             |  substring(p_name, 1, 8) AS sub,
             |  instr(p_name, 'a') AS pos_a,
             |  concat(p_brand, '#', p_type) AS cat,
             |  concat_ws('-', p_brand, p_type) AS catws,
             |  split_part(p_name, ' ', 1) AS first_word,
             |  levenshtein(p_brand, p_type) AS lev,
             |  translate(p_brand, 'Br', 'Xy') AS tr,
             |  repeat(p_brand, 2) AS rep,
             |  unicode(p_brand) AS cp
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // Regex family (JoniRegexpFunctions surface; java.util.regex here).
    "fn_regex" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.part(s, dir)
          .select($"p_partkey",
            $"p_name".rlike("^[a-m]").as("starts_early"),
            regexp_extract($"p_name", "([a-z]+)", 1).as("first_token"),
            regexp_replace($"p_name", "[aeiou]", "").as("no_vowels"),
            size(split($"p_name", "\\s+")).as("n_tokens"))
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey,
             |  regexp_matches(p_name, '^[a-m]') AS starts_early,
             |  regexp_extract(p_name, '([a-z]+)', 1) AS first_token,
             |  regexp_replace(p_name, '[aeiou]', '', 'g') AS no_vowels,
             |  len(string_split_regex(p_name, '\s+')) AS n_tokens
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // Datetime extraction (DateTimeFunctions.java surface). Presto
    // day_of_week is ISO (1=Mon..7=Sun) — Spark dayofweek is 1=Sun, so
    // the shim recomputes the ISO form explicitly.
    // TIME / TIME WITH TIME ZONE modeling (reference TypeRegistry.java
    // :133-134; DateTimeFunctions.java current_time/localtime). Spark
    // has no TIME type; SURVEY §1.2 models it as millis-since-midnight
    // (exactly Presto's physical representation: TimeType is a long of
    // millis in the session zone). This row makes that model
    // executable: extraction from a timestamp, wraparound time
    // arithmetic (+90 min mod 24 h — the TIME '+' operator), ordering,
    // HH:mm:ss.SSS formatting (time→varchar cast), and a bounded
    // current_time sanity bit (the only part of current_time/localtime
    // an oracle can check — the value itself is wall-clock).
    "fn_time_type" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val day = 86400000L
        Tables.events(s, dir)
          .filter($"event_id" <= 300)
          .withColumn("t", unix_millis($"ts") % day) // TIME value
          .withColumn("t2", ($"t" + 90L * 60000L) % day)
          .select($"event_id", $"t",
            ($"t" / 3600000L).cast("bigint").as("hh"),
            ($"t" % 3600000L / 60000L).cast("bigint").as("mi"),
            ($"t" % 60000L / 1000L).cast("bigint").as("ss"),
            ($"t" % 1000L).as("ms"),
            $"t2",
            format_string("%02d:%02d:%02d.%03d",
              ($"t2" / 3600000L).cast("bigint"),
              ($"t2" % 3600000L / 60000L).cast("bigint"),
              ($"t2" % 60000L / 1000L).cast("bigint"),
              $"t2" % 1000L).as("t2_str"),
            ($"t" < $"t2").as("lt"),
            (unix_millis(current_timestamp()) % day >= 0L &&
              unix_millis(current_timestamp()) % day < day).as("now_in_range"))
          .orderBy($"event_id")
      },
      Some("""SELECT event_id,
             |  epoch_ms(ts) % 86400000 AS t,
             |  (epoch_ms(ts) % 86400000) // 3600000 AS hh,
             |  (epoch_ms(ts) % 86400000) % 3600000 // 60000 AS mi,
             |  (epoch_ms(ts) % 86400000) % 60000 // 1000 AS ss,
             |  (epoch_ms(ts) % 86400000) % 1000 AS ms,
             |  (epoch_ms(ts) % 86400000 + 5400000) % 86400000 AS t2,
             |  printf('%02d:%02d:%02d.%03d',
             |    ((epoch_ms(ts) % 86400000 + 5400000) % 86400000) // 3600000,
             |    ((epoch_ms(ts) % 86400000 + 5400000) % 86400000) % 3600000 // 60000,
             |    ((epoch_ms(ts) % 86400000 + 5400000) % 86400000) % 60000 // 1000,
             |    ((epoch_ms(ts) % 86400000 + 5400000) % 86400000) % 1000) AS t2_str,
             |  (epoch_ms(ts) % 86400000) <
             |    (epoch_ms(ts) % 86400000 + 5400000) % 86400000 AS lt,
             |  true AS now_in_range
             |FROM events WHERE event_id <= 300
             |ORDER BY event_id""".stripMargin)),

    "fn_datetime" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .filter($"l_orderkey" <= 100)
          .select($"l_orderkey", $"l_linenumber",
            year($"l_shipdate").as("yr"),
            quarter($"l_shipdate").as("qtr"),
            month($"l_shipdate").as("mo"),
            weekofyear($"l_shipdate").as("wk"),
            dayofmonth($"l_shipdate").as("dom"),
            (((dayofweek($"l_shipdate") + 5) % 7) + 1).as("iso_dow"),
            dayofyear($"l_shipdate").as("doy"),
            date_trunc("month", $"l_shipdate").cast("date").as("month_start"),
            date_add($"l_shipdate".cast("date"), 30).as("plus30"),
            datediff(lit("1998-12-01").cast("date"), $"l_shipdate".cast("date")).as("days_to_end"),
            unix_timestamp($"l_shipdate").as("epoch_s"))
          .orderBy($"l_orderkey", $"l_linenumber", $"epoch_s")
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  year(l_shipdate) AS yr, quarter(l_shipdate) AS qtr,
             |  month(l_shipdate) AS mo, weekofyear(l_shipdate) AS wk,
             |  dayofmonth(l_shipdate) AS dom,
             |  isodow(l_shipdate) AS iso_dow,
             |  dayofyear(l_shipdate) AS doy,
             |  CAST(date_trunc('month', l_shipdate) AS DATE) AS month_start,
             |  CAST(l_shipdate AS DATE) + INTERVAL 30 DAY AS plus30,
             |  date_diff('day', CAST(l_shipdate AS DATE), DATE '1998-12-01') AS days_to_end,
             |  CAST(epoch(l_shipdate) AS BIGINT) AS epoch_s
             |FROM lineitem WHERE l_orderkey <= 100
             |ORDER BY l_orderkey, l_linenumber, epoch_s""".stripMargin)),

    // at_timezone / with_timezone — Presto's TIMESTAMP WITH TIME ZONE
    // pair shimmed over zone-less TimestampType (SURVEY §1.2 divergence
    // made executable): the zone FIELD is lost, the instant/wall-clock
    // arithmetic is exact. Oracle is hand-derived literals (session TZ
    // is UTC): NY is UTC-5 in January and UTC-4 in July (DST), Kolkata
    // a fixed UTC+5:30; with_timezone inverts at_timezone's direction.
    "fn_timezone_shim" -> QueryDef(
      (s, dir) => s.sql(
        """SELECT label,
          |  at_timezone(ts, 'America/New_York') AS at_ny,
          |  at_timezone(ts, 'Asia/Kolkata') AS at_kolkata,
          |  with_timezone(ts, 'America/New_York') AS with_ny,
          |  with_timezone(at_timezone(ts, 'America/New_York'),
          |                'America/New_York') AS round_trip
          |FROM VALUES
          |  ('winter', TIMESTAMP '2024-01-15 12:00:00'),
          |  ('summer', TIMESTAMP '2024-07-15 12:00:00') t(label, ts)
          |ORDER BY label""".stripMargin),
      Some("""SELECT * FROM (VALUES
             |  ('summer', TIMESTAMP '2024-07-15 08:00:00',
             |   TIMESTAMP '2024-07-15 17:30:00', TIMESTAMP '2024-07-15 16:00:00',
             |   TIMESTAMP '2024-07-15 12:00:00'),
             |  ('winter', TIMESTAMP '2024-01-15 07:00:00',
             |   TIMESTAMP '2024-01-15 17:30:00', TIMESTAMP '2024-01-15 17:00:00',
             |   TIMESTAMP '2024-01-15 12:00:00'))
             |  t(label, at_ny, at_kolkata, with_ny, round_trip)
             |ORDER BY label""".stripMargin)),

    // Presto date_format('%Y-%m-%d %H:%i') — MySQL patterns translated
    // at plan time by PrestoDatetime.translateFormat; oracle uses the
    // strftime equivalent of the same Presto pattern.
    "fn_datetime_format" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .filter($"o_orderkey" <= 100)
          .select($"o_orderkey",
            date_format($"o_orderdate",
              PrestoDatetime.translateFormat("%Y-%m-%d %H:%i:%s")).as("fmt_full"),
            date_format($"o_orderdate",
              PrestoDatetime.translateFormat("%d/%c/%y")).as("fmt_dmy"),
            date_format($"o_orderdate",
              PrestoDatetime.translateFormat("%j")).as("fmt_doy"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS fmt_full,
             |  strftime(o_orderdate, '%d/%-m/%y') AS fmt_dmy,
             |  strftime(o_orderdate, '%j') AS fmt_doy
             |FROM orders WHERE o_orderkey <= 100 ORDER BY o_orderkey""".stripMargin)),

    // Conditional family: CASE / if / coalesce / nullif.
    "fn_conditional" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .select($"o_orderkey",
            when($"o_totalprice" > 200000, "big")
              .when($"o_totalprice" > 50000, "mid")
              .otherwise("small").as("size_class"),
            coalesce(nullif($"o_orderstatus", lit("O")), lit("open")).as("status2"),
            when($"o_orderpriority" === "1-URGENT", 1).otherwise(0).as("is_urgent"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  CASE WHEN o_totalprice > 200000 THEN 'big'
             |       WHEN o_totalprice > 50000 THEN 'mid'
             |       ELSE 'small' END AS size_class,
             |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS status2,
             |  CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is_urgent
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // URL functions (UrlFunctions.java) — parse_url on synthesized URLs.
    "fn_url" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.supplier(s, dir)
          .withColumn("url",
            concat(lit("https://supplier-"), $"s_suppkey", lit(".example.com:8443/cat/"),
              regexp_replace(lower($"s_name"), "[^a-z0-9]", "-"),
              lit("?nation="), $"s_nationkey", lit("&v=1#top")))
          .select($"s_suppkey",
            parse_url($"url", lit("PROTOCOL")).as("proto"),
            parse_url($"url", lit("HOST")).as("host"),
            parse_url($"url", lit("PATH")).as("path"),
            parse_url($"url", lit("QUERY")).as("query"),
            parse_url($"url", lit("QUERY"), lit("nation")).as("nation_param"),
            parse_url($"url", lit("REF")).as("fragment"))
          .orderBy($"s_suppkey")
      },
      Some("""WITH u AS (
             |  SELECT s_suppkey,
             |    'https://supplier-' || s_suppkey || '.example.com:8443/cat/' ||
             |    regexp_replace(lower(s_name), '[^a-z0-9]', '-', 'g') ||
             |    '?nation=' || s_nationkey || '&v=1#top' AS url
             |  FROM supplier)
             |SELECT s_suppkey,
             |  regexp_extract(url, '^([a-z]+)://', 1) AS proto,
             |  regexp_extract(url, '://([^/:?#]+)', 1) AS host,
             |  regexp_extract(url, '://[^/?#]+(/[^?#]*)', 1) AS path,
             |  regexp_extract(url, '\?([^#]*)', 1) AS query,
             |  regexp_extract(url, '[?&]nation=([^&#]*)', 1) AS nation_param,
             |  regexp_extract(url, '#(.*)$', 1) AS fragment
             |FROM u ORDER BY s_suppkey""".stripMargin)),

    // Hash/binary functions (VarbinaryFunctions.java). crc32/xxhash64
    // have no DuckDB twin, so the oracle checks their distributional
    // properties (distinctness over distinct inputs, crc32 32-bit
    // range) as real values; fn_hash_oracle value-checks the
    // DuckDB-computable subset per row.
    "fn_hash" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.nation(s, dir)
          .select($"n_nationkey",
            crc32($"n_name").as("crc_name"),
            xxhash64($"n_name").as("xx_name"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct($"crc_name").as("n_crc"),
            countDistinct($"xx_name").as("n_xx"),
            sum(when($"crc_name" >= 0L && $"crc_name" <= 4294967295L, 0)
              .otherwise(1)).as("n_crc_out_of_u32"),
            // IEEE-CRC32 known-answer: crc32("hello") — a published
            // test vector (r4), value-checking the algorithm itself
            max(crc32(lit("hello"))).as("crc_hello"))
      },
      Some("""SELECT count(*) AS n_rows, count(DISTINCT n_name) AS n_crc,
             |  count(DISTINCT n_name) AS n_xx,
             |  CAST(0 AS BIGINT) AS n_crc_out_of_u32,
             |  CAST(907060870 AS BIGINT) AS crc_hello
             |FROM nation""".stripMargin)),

    "fn_hash_oracle" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.nation(s, dir)
          .select($"n_nationkey",
            md5($"n_name").as("md5_name"),
            sha2($"n_name", 256).as("sha256_name"),
            lower(hex($"n_name")).as("hex_name"),
            base64($"n_name".cast("binary")).as("b64_name"))
          .orderBy($"n_nationkey")
      },
      Some("""SELECT n_nationkey,
             |  md5(n_name) AS md5_name,
             |  sha256(n_name) AS sha256_name,
             |  lower(hex(n_name)) AS hex_name,
             |  to_base64(encode(n_name)) AS b64_name
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // Presto-dialect MySQL %-patterns as SQL-callable functions:
    // date_parse (exact Presto name) + presto_date_format, both macro-
    // wired through the foldable presto_pattern translator
    // (DateTimeFunctions.java's MySQL formatter surface).
    "fn_datetime_mysql" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT o_orderkey,
                |  presto_date_format(o_orderdate, '%Y-%m-%d') AS ymd,
                |  presto_date_format(o_orderdate, '%d/%m/%Y %H:%i:%s') AS dmy,
                |  presto_date_format(o_orderdate, '%M %d, %Y') AS longform,
                |  date_parse(concat('2000-',
                |    lpad(cast(o_orderkey % 12 + 1 AS STRING), 2, '0'), '-15'),
                |    '%Y-%m-%d') AS parsed
                |FROM orders WHERE o_orderkey <= 100 ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  strftime(o_orderdate, '%Y-%m-%d') AS ymd,
             |  strftime(o_orderdate, '%d/%m/%Y %H:%M:%S') AS dmy,
             |  strftime(o_orderdate, '%B %d, %Y') AS longform,
             |  strptime('2000-' || lpad(cast(o_orderkey % 12 + 1 AS VARCHAR), 2, '0')
             |    || '-15', '%Y-%m-%d') AS parsed
             |FROM orders WHERE o_orderkey <= 100 ORDER BY o_orderkey""".stripMargin)),

    // General TRY(expr) (TryFunction.java, SqlBase.g4:296): runtime
    // errors → NULL; successful evaluation passes through.
    "fn_try_general" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT p_partkey,
                |  try(element_at(split(p_name, ' '), 0)) AS bad_index,
                |  try(element_at(split(p_name, ' '), 1)) AS first_word,
                |  try(cast(p_brand AS INT)) AS bad_cast,
                |  try(1 div 0) AS div0,
                |  try(cast(substring(p_brand, 7) AS INT)) AS brand_num
                |FROM part ORDER BY p_partkey""".stripMargin)
      },
      Some("""SELECT p_partkey,
             |  CAST(NULL AS VARCHAR) AS bad_index,
             |  string_split(p_name, ' ')[1] AS first_word,
             |  CAST(NULL AS INT) AS bad_cast,
             |  CAST(NULL AS BIGINT) AS div0,
             |  CAST(substring(p_brand, 7) AS INT) AS brand_num
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // Binary-function tail (VarbinaryFunctions.java): big-endian and
    // ieee754 encode/decode round-trips + NFC normalize. The oracle
    // computes the expected plain values, so a broken encoder cannot
    // cancel itself out except by bit-exact accident.
    "fn_binary_extra" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT n_nationkey,
                |  from_big_endian_64(to_big_endian_64(
                |    cast(n_nationkey AS BIGINT) * 1000000007)) AS be64_rt,
                |  from_big_endian_64(to_big_endian_64(
                |    cast(-n_nationkey AS BIGINT) * 97)) AS be64_neg_rt,
                |  from_big_endian_32(to_big_endian_32(cast(n_nationkey * 13 AS INT)))
                |    AS be32_rt,
                |  from_big_endian_32(to_big_endian_32(cast(-n_nationkey AS INT)))
                |    AS be32_neg_rt,
                |  round(from_ieee754_64(to_ieee754_64(n_nationkey * 1.5)), 4)
                |    AS ieee64_rt,
                |  cast(from_ieee754_32(to_ieee754_32(
                |    cast(n_nationkey * 0.25 AS FLOAT))) AS DOUBLE) AS ieee32_rt,
                |  lower(hex(to_big_endian_32(cast(n_nationkey AS INT)))) AS be32_hex,
                |  normalize(concat('Amélie', n_nationkey)) AS norm_nfc
                |FROM nation ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT n_nationkey,
             |  CAST(n_nationkey AS BIGINT) * 1000000007 AS be64_rt,
             |  CAST(-n_nationkey AS BIGINT) * 97 AS be64_neg_rt,
             |  CAST(n_nationkey * 13 AS INT) AS be32_rt,
             |  CAST(-n_nationkey AS INT) AS be32_neg_rt,
             |  round(n_nationkey * 1.5, 4) AS ieee64_rt,
             |  n_nationkey * 0.25 AS ieee32_rt,
             |  lower(lpad(hex(n_nationkey), 8, '0')) AS be32_hex,
             |  'Amélie' || n_nationkey AS norm_nfc
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // word_stem (WordStemFunction.java, Porter2/Snowball English).
    // DuckDB has no stemmer offline, so the oracle carries the expected
    // stems as literals — expectations come from the reference's own
    // test vectors (TestWordStemFunction.java) plus the published
    // snowball sample vocabulary; a real value match per row.
    "fn_word_stem" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT word, word_stem(word) AS stem,
                |  word_stem(word, 'en') AS stem_en
                |FROM VALUES
                |  ('generally'), ('useful'), ('runs'), ('authorized'),
                |  ('accessories'), ('intensifying'), ('skies'), ('dying'),
                |  ('early'), ('news'), ('proceed'), ('hopping'), ('hoping'),
                |  ('knitting'), ('ties'), ('cries'), ('gaps'), ('gas'),
                |  ('kiwis'), ('cry'), ('luxuriated'), ('conditional'),
                |  ('rational'), ('decisiveness') AS t(word)
                |ORDER BY word""".stripMargin)
      },
      Some("""SELECT word, stem, stem AS stem_en FROM (VALUES
             |  ('generally', 'general'), ('useful', 'use'), ('runs', 'run'),
             |  ('authorized', 'author'), ('accessories', 'accessori'),
             |  ('intensifying', 'intensifi'), ('skies', 'sky'),
             |  ('dying', 'die'), ('early', 'earli'), ('news', 'news'),
             |  ('proceed', 'proceed'), ('hopping', 'hop'), ('hoping', 'hope'),
             |  ('knitting', 'knit'), ('ties', 'tie'), ('cries', 'cri'),
             |  ('gaps', 'gap'), ('gas', 'gas'), ('kiwis', 'kiwi'),
             |  ('cry', 'cri'), ('luxuriated', 'luxuri'),
             |  ('conditional', 'condit'), ('rational', 'ration'),
             |  ('decisiveness', 'decis')) AS t(word, stem)
             |ORDER BY word""".stripMargin)),

    // word_stem(word, lang) non-English dispatch (r11; VERDICT r10 #2:
    // the de/fr/es/it/pt SnowballStemmers existed but the SQL surface
    // rejected every code but 'en'). lang is a COLUMN, not a literal,
    // so the per-row WordStem2 dispatch path is what's value-checked;
    // languages (r11 late: + da/no/sv/nl);
    // vectors are the reference's own (TestWordStemFunction.java:39-43)
    // plus PostgreSQL-snowball-derived rows per language (the oracle
    // carries the expected stems as literals — DuckDB has no stemmer).
    "fn_word_stem2" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT lang, word, word_stem(word, lang) AS stem
                |FROM VALUES
                |  ('de', 'laufen'), ('de', 'möglichkeit'),
                |  ('de', 'bücher'), ('de', 'auferstnde'),
                |  ('de', 'haeuser'), ('de', 'quelle'),
                |  ('fr', 'continuerait'), ('fr', 'heureusement'),
                |  ('fr', 'nationaux'), ('fr', 'vraiment'),
                |  ('es', 'torpedearon'), ('es', 'nacionalidad'),
                |  ('es', 'haciendo'), ('es', 'lógicamente'),
                |  ('it', 'pronunziare'), ('it', 'felicità'),
                |  ('it', 'mangiandolo'), ('it', 'università'),
                |  ('pt', 'quilomtricos'), ('pt', 'administração'),
                |  ('pt', 'fazendo'), ('pt', 'corações'),
                |  ('da', 'bestemmelse'), ('da', 'venligst'),
                |  ('no', 'mulighetene'), ('no', 'opererte'),
                |  ('sv', 'flickorna'), ('sv', 'möjligt'),
                |  ('nl', 'uitdrukkingen'), ('nl', 'lichamelijkheden'),
                |  ('ru', 'работали'), ('ru', 'красивый'),
                |  ('ro', 'copilul'), ('ro', 'muncitorilor'),
                |  ('ir', 'bhfuil'), ('ir', 'ceoltóireacht'),
                |  ('fi', 'taloissa'), ('fi', 'edeltäjistään'),
                |  ('fi', 'kaupunkiin'), ('fi', 'mahdollisuuksien'),
                |  ('hu', 'házakkal'), ('hu', 'gyerekeknek'),
                |  ('hu', 'fejlesztésére'), ('hu', 'barátaim'),
                |  ('tr', 'kitaplarımızdan'), ('tr', 'evlerinden'),
                |  ('tr', 'anlayabileceğimizden'), ('tr', 'hastaydılar'),
                |  ('hy', 'քաղաքներում'), ('hy', 'ուսուցիչներ'),
                |  ('lt', 'namuose'), ('lt', 'mokyklose'),
                |  ('ca', 'nacionalitat'), ('ca', 'treballadors'),
                |  ('eu', 'etxeak'), ('eu', 'mendietan'),
                |  ('en', 'intensifying') AS t(lang, word)
                |ORDER BY lang, word""".stripMargin)
      },
      Some("""SELECT lang, word, stem FROM (VALUES
             |  ('de', 'laufen', 'lauf'), ('de', 'möglichkeit', 'moglich'),
             |  ('de', 'bücher', 'buch'), ('de', 'auferstnde', 'auferstnd'),
             |  ('de', 'haeuser', 'haus'), ('de', 'quelle', 'quell'),
             |  ('fr', 'continuerait', 'continu'),
             |  ('fr', 'heureusement', 'heureux'),
             |  ('fr', 'nationaux', 'national'), ('fr', 'vraiment', 'vrai'),
             |  ('es', 'torpedearon', 'torped'),
             |  ('es', 'nacionalidad', 'nacional'),
             |  ('es', 'haciendo', 'hac'), ('es', 'lógicamente', 'logic'),
             |  ('it', 'pronunziare', 'pronunz'), ('it', 'felicità', 'felic'),
             |  ('it', 'mangiandolo', 'mang'),
             |  ('it', 'università', 'univers'),
             |  ('pt', 'quilomtricos', 'quilomtr'),
             |  ('pt', 'administração', 'administr'),
             |  ('pt', 'fazendo', 'faz'), ('pt', 'corações', 'coraçõ'),
             |  ('da', 'bestemmelse', 'bestem'), ('da', 'venligst', 'ven'),
             |  ('no', 'mulighetene', 'mul'), ('no', 'opererte', 'operer'),
             |  ('sv', 'flickorna', 'flick'), ('sv', 'möjligt', 'möj'),
             |  ('nl', 'uitdrukkingen', 'uitdruk'),
             |  ('nl', 'lichamelijkheden', 'licham'),
             |  ('ru', 'работали', 'работа'), ('ru', 'красивый', 'красив'),
             |  ('ro', 'copilul', 'copil'),
             |  ('ro', 'muncitorilor', 'muncit'),
             |  ('ir', 'bhfuil', 'fuil'),
             |  ('ir', 'ceoltóireacht', 'ceoltóir'),
             |  ('fi', 'taloissa', 'talo'),
             |  ('fi', 'edeltäjistään', 'edeltäj'),
             |  ('fi', 'kaupunkiin', 'kaupunk'),
             |  ('fi', 'mahdollisuuksien', 'mahdollisuuks'),
             |  ('hu', 'házakkal', 'ház'),
             |  ('hu', 'gyerekeknek', 'gyerek'),
             |  ('hu', 'fejlesztésére', 'fejlesztés'),
             |  ('hu', 'barátaim', 'barát'),
             |  ('tr', 'kitaplarımızdan', 'kitap'),
             |  ('tr', 'evlerinden', 'ev'),
             |  ('tr', 'anlayabileceğimizden', 'anlayabilecek'),
             |  ('tr', 'hastaydılar', 'hasta'),
             |  ('hy', 'քաղաքներում', 'քաղ'), ('hy', 'ուսուցիչներ', 'ուսուց'),
             |  ('lt', 'namuose', 'nam'), ('lt', 'mokyklose', 'mokykl'),
             |  ('ca', 'nacionalitat', 'nacional'),
             |  ('ca', 'treballadors', 'treball'),
             |  ('eu', 'etxeak', 'etxe'), ('eu', 'mendietan', 'mendi'),
             |  ('en', 'intensifying', 'intensifi')) AS t(lang, word, stem)
             |ORDER BY lang, word""".stripMargin)),

    // spooky_hash_v2_32/64 (VarbinaryFunctions.java:280-297). The two
    // reference vectors are value-checked as literals; the corpus leg
    // checks injectivity+determinism over documents (texts are >192
    // bytes, so the long-path code is exercised): distinct 64-bit
    // hashes must equal distinct texts, which DuckDB computes exactly.
    "fn_spooky" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT
                |  hex(spooky_hash_v2_32(CAST('' AS BINARY))) AS h32_empty,
                |  hex(spooky_hash_v2_64(CAST('' AS BINARY))) AS h64_empty,
                |  hex(spooky_hash_v2_32(CAST('hello' AS BINARY))) AS h32_hello,
                |  hex(spooky_hash_v2_64(CAST('hello' AS BINARY))) AS h64_hello,
                |  (SELECT count(DISTINCT spooky_hash_v2_64(CAST(text AS BINARY)))
                |   FROM documents) AS n_h64,
                |  (SELECT count(DISTINCT text) FROM documents) AS n_text""".stripMargin)
      },
      Some("""SELECT '6BF50919' AS h32_empty, '232706FC6BF50919' AS h64_empty,
             |  'D382E6CA' AS h32_hello, '3768826AD382E6CA' AS h64_hello,
             |  (SELECT count(DISTINCT text) FROM documents) AS n_h64,
             |  (SELECT count(DISTINCT text) FROM documents) AS n_text""".stripMargin)),

    // Minimal geospatial tier (GeoFunctions.java): point construction,
    // accessors, planar distance, ray-cast containment, shoelace area.
    // DuckDB has no spatial extension offline, so the oracle verifies
    // with the same planar formulas in plain arithmetic — a real value
    // check, not self-certification. Fixture points are placed strictly
    // off polygon boundaries so containment is unambiguous.
    "fn_geospatial" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""WITH pts AS (
                |  SELECT n_nationkey,
                |    st_point(n_nationkey % 7 * 1.5D + 0.25D,
                |             n_nationkey % 5 * 2.0D + 0.25D) AS p
                |  FROM nation)
                |SELECT n_nationkey,
                |  round(st_x(p), 4) AS px,
                |  round(st_y(p), 4) AS py,
                |  round(st_distance(p, st_point(0.0D, 0.0D)), 4) AS dist_origin,
                |  st_contains('POLYGON ((0 0, 10 0, 10 6, 0 6, 0 0))', p) AS in_rect,
                |  st_within(p, 'POLYGON ((0 0, 4 0, 0 3, 0 0))') AS in_tri,
                |  round(st_area('POLYGON ((0 0, 10 0, 10 6, 0 6, 0 0))'), 4) AS rect_area,
                |  round(st_area('POLYGON ((0 0, 4 0, 0 3, 0 0))'), 4) AS tri_area
                |FROM pts ORDER BY n_nationkey""".stripMargin)
      },
      Some("""WITH pts AS (
             |  SELECT n_nationkey,
             |    n_nationkey % 7 * 1.5 + 0.25 AS x,
             |    n_nationkey % 5 * 2.0 + 0.25 AS y
             |  FROM nation)
             |SELECT n_nationkey,
             |  round(x, 4) AS px,
             |  round(y, 4) AS py,
             |  round(sqrt(x * x + y * y), 4) AS dist_origin,
             |  x > 0 AND x < 10 AND y > 0 AND y < 6 AS in_rect,
             |  y < 3.0 - 0.75 * x AS in_tri,
             |  60.0 AS rect_area,
             |  6.0 AS tri_area
             |FROM pts ORDER BY n_nationkey""".stripMargin)),

    // Geospatial tier 2 (GeoFunctions.java): bbox accessors, length,
    // centroid, npoints, envelope, intersects/disjoint. Geometries are
    // constructed per-row from nation keys; the oracle computes every
    // expected value with plain arithmetic (closed forms of the same
    // planar formulas) — real value checks throughout.
    "fn_geospatial2" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""WITH base AS (
                |  SELECT n_nationkey, n_nationkey % 7 + 1 AS k FROM nation),
                |geo AS (
                |  SELECT n_nationkey, k,
                |    concat('LINESTRING (0 0, ', k, ' 0, ', k, ' ', k, ')') AS ln,
                |    concat('POLYGON ((0 0, ', k, ' 0, ', k, ' ', k,
                |           ', 0 ', k, ', 0 0))') AS sq,
                |    concat('POLYGON ((', n_nationkey + 0.25D, ' 0, ',
                |           n_nationkey + 0.75D, ' 0, ', n_nationkey + 0.75D,
                |           ' 10, ', n_nationkey + 0.25D, ' 10, ',
                |           n_nationkey + 0.25D, ' 0))') AS strip
                |  FROM base)
                |SELECT n_nationkey,
                |  st_geometry_type(ln) AS gt,
                |  round(st_length(ln), 4) AS len,
                |  st_npoints(ln) AS np_ln,
                |  st_npoints(sq) AS np_sq,
                |  round(st_xmax(ln), 4) AS xmax,
                |  round(st_area(st_envelope(ln)), 4) AS env_area,
                |  round(st_x(st_centroid(sq)), 4) AS cx,
                |  round(st_y(st_centroid(ln)), 4) AS cy_ln,
                |  IF(st_isclosed(sq) AND NOT st_isclosed(ln), k, -1) AS closed_k,
                |  st_intersects('POLYGON ((0 4, 10 4, 10 6, 0 6, 0 4))', strip) AS hits,
                |  st_disjoint('POLYGON ((0 4, 10 4, 10 6, 0 6, 0 4))', strip) AS missed
                |FROM geo ORDER BY n_nationkey""".stripMargin)
      },
      Some("""WITH base AS (
             |  SELECT n_nationkey, n_nationkey % 7 + 1 AS k FROM nation)
             |SELECT n_nationkey,
             |  'ST_LineString' AS gt,
             |  round(2.0 * k, 4) AS len,
             |  CAST(3 AS BIGINT) AS np_ln,
             |  CAST(4 AS BIGINT) AS np_sq,
             |  round(CAST(k AS DOUBLE), 4) AS xmax,
             |  round(CAST(k * k AS DOUBLE), 4) AS env_area,
             |  round(k / 2.0, 4) AS cx,
             |  round(k / 4.0, 4) AS cy_ln,
             |  k AS closed_k,
             |  n_nationkey <= 9 AS hits,
             |  n_nationkey > 9 AS missed
             |FROM base ORDER BY n_nationkey""".stripMargin)),

    // Bitwise functions (BitwiseFunctions.java).
    "fn_bitwise" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .filter($"o_orderkey" <= 500)
          .select($"o_orderkey",
            ($"o_orderkey".bitwiseAND($"o_custkey")).as("band"),
            ($"o_orderkey".bitwiseOR($"o_custkey")).as("bor"),
            ($"o_orderkey".bitwiseXOR($"o_custkey")).as("bxor"),
            bitwise_not($"o_orderkey").as("bnot"),
            bit_count($"o_orderkey").as("bcnt"),
            shiftleft($"o_orderkey", 2).as("shl"),
            shiftright($"o_orderkey", 1).as("shr"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  o_orderkey & o_custkey AS band,
             |  o_orderkey | o_custkey AS bor,
             |  xor(o_orderkey, o_custkey) AS bxor,
             |  ~o_orderkey AS bnot,
             |  CAST(bit_count(o_orderkey) AS INT) AS bcnt,
             |  o_orderkey << 2 AS shl,
             |  o_orderkey >> 1 AS shr
             |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin)),

    // JSON functions (JsonFunctions.java) over events.props.
    "fn_json" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.events(s, dir)
          .filter($"event_id" <= 200)
          .select($"event_id",
            get_json_object($"props", "$.k").cast("long").as("k_val"),
            get_json_object($"props", "$.missing").as("missing_val"),
            from_json($"props", lit("k LONG")).getField("k").as("k_typed"))
          .orderBy($"event_id")
      },
      Some("""SELECT event_id,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
             |  json_extract_string(props, '$.missing') AS missing_val,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed
             |FROM events WHERE event_id <= 200 ORDER BY event_id""".stripMargin)),

    // Interval types & arithmetic (SURVEY §1.2 INTERVAL rows):
    // month arithmetic clamps end-of-month identically in both engines.
    "fn_interval" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .filter($"o_orderkey" <= 200)
          .select($"o_orderkey",
            add_months($"o_orderdate".cast("date"), 3).as("plus_3mo"),
            ($"o_orderdate".cast("date") - expr("INTERVAL 45 DAYS"))
              .cast("date").as("minus_45d"),
            (months_between($"o_orderdate".cast("date"), lit("1995-01-01").cast("date"))
              / 12.0).cast("int").as("years_since_95"),
            last_day($"o_orderdate".cast("date")).as("eom"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS plus_3mo,
             |  CAST(CAST(o_orderdate AS DATE) - INTERVAL 45 DAY AS DATE) AS minus_45d,
             |  CAST(floor(date_diff('month', DATE '1995-01-01',
             |    CAST(o_orderdate AS DATE)) / 12.0) AS INT) AS years_since_95,
             |  last_day(CAST(o_orderdate AS DATE)) AS eom
             |FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""".stripMargin)),

    // hamming_distance / normalize / to_base (Presto StringFunctions /
    // MathFunctions rows without direct Spark builtins) — composed from
    // codegen'd primitives: zip_with char arrays, conv() for bases.
    "fn_string_extra" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.nation(s, dir)
          .select($"n_nationkey", $"n_name",
            size(filter(
              zip_with(split($"n_name", ""), split(reverse($"n_name"), ""),
                (x, y) => x =!= y),
              b => b)).as("hamming_to_reverse"),
            lower(conv($"n_nationkey".cast("string"), 10, 16)).as("hex_key"),
            conv($"n_nationkey".cast("string"), 10, 2).as("bin_key"))
          .orderBy($"n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name,
             |  hamming(n_name, reverse(n_name)) AS hamming_to_reverse,
             |  lower(to_base(n_nationkey, 16)) AS hex_key,
             |  to_base(n_nationkey, 2) AS bin_key
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // normal_cdf / inverse_normal_cdf via graft's codegen'd erf/probit
    // expressions. Pinned literals check absolute values; the
    // roundtrip property probit(cdf(x)) ≈ x checks the whole column.
    "fn_normal_cdf" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .select($"o_totalprice",
            (lit(0.5) * (lit(1.0) +
              expr("erf(((o_totalprice - 100000.0) / 150000.0) / sqrt(2.0))")))
              .as("cdf"))
          .withColumn("x_back", expr("probit(cdf)") * 150000.0 + 100000.0)
          .agg(sum(when(abs($"x_back" - $"o_totalprice") < 200.0, 0).otherwise(1))
            .as("n_bad_roundtrip"))
          .select($"n_bad_roundtrip",
            round(lit(0.5) * (lit(1.0) + expr("erf(0.0)")), 4).as("cdf_at_mean"),
            round(lit(0.5) * (lit(1.0) + expr("erf(1.96 / sqrt(2.0))")), 4).as("cdf_at_196"),
            round(expr("probit(0.975)"), 2).as("probit_975"))
      },
      Some("""SELECT CAST(0 AS BIGINT) AS n_bad_roundtrip, 0.5 AS cdf_at_mean,
             |  0.975 AS cdf_at_196, 1.96 AS probit_975""".stripMargin)),

    // HMAC family against RFC 2202 / RFC 4231 test-case-2 vectors
    // (key='Jefe', msg='what do ya want for nothing?').
    "fn_hmac" -> QueryDef(
      (s, _) => {
        import s.implicits._
        Seq(("what do ya want for nothing?", "Jefe")).toDF("msg", "key")
          .select(
            expr("hmac_md5(msg, key)").as("h_md5"),
            expr("hmac_sha1(msg, key)").as("h_sha1"),
            expr("hmac_sha256(msg, key)").as("h_sha256"))
      },
      Some("""SELECT '750c783e6ab0b503eaa86e310a5db738' AS h_md5,
             |  'effcdf6ae5eb2fa2d27416d5f184df9c259a7c79' AS h_sha1,
             |  '5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843' AS h_sha256""".stripMargin)),

    // Presto-name catalog (PrestoCatalog SQL macros + agg aliases):
    // the reference's spellings running unchanged through spark.sql.
    "fn_presto_names" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT l_returnflag,
                |  approx_distinct(l_suppkey) > 0 AS has_suppliers,
                |  IF(arbitrary(l_linestatus) IN ('O', 'F'), count(*), -1)
                |    AS status_valid_n,
                |  max(strpos(l_returnflag, 'A')) AS strpos_a,
                |  max(day_of_week(l_shipdate)) AS max_iso_dow,
                |  min(doy(l_shipdate)) AS min_doy,
                |  max(truncate(l_extendedprice / 1000.0)) AS max_trunc_k,
                |  bool_and(is_finite(l_discount)) AS all_finite,
                |  max(to_base(l_orderkey, 16)) AS max_hex,
                |  max(json_extract_scalar('{"a": 7}', '$.a')) AS json_a
                |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag,
             |  count(DISTINCT l_suppkey) > 0 AS has_suppliers,
             |  count(*) AS status_valid_n,
             |  max(instr(l_returnflag, 'A')) AS strpos_a,
             |  max(isodow(l_shipdate)) AS max_iso_dow,
             |  min(dayofyear(l_shipdate)) AS min_doy,
             |  max(trunc(l_extendedprice / 1000.0)) AS max_trunc_k,
             |  bool_and(isfinite(l_discount)) AS all_finite,
             |  max(lower(to_base(l_orderkey, 16))) AS max_hex,
             |  max(json_extract_string('{"a": 7}', '$.a')) AS json_a
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Presto-name catalog, second tier: unit-string date arithmetic,
    // split_to_map, json_array_get, data-size/duration parsing,
    // checksum/geometric_mean as callable aggregates. Timestamps here
    // are midnight-aligned so Spark's complete-unit date_diff and
    // DuckDB's boundary-crossing date_diff agree exactly.
    "fn_presto_names2" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        // the constant scalars live in a one-row CTE: SQL-macro bodies
        // containing lambdas mis-resolve when inlined directly under an
        // aggregate rewrite, and the cross join sidesteps that
        s.sql("""WITH c AS (SELECT
                |  array_join(transform(array_sort(map_entries(
                |    split_to_map('a=1,b=2', ',', '='))),
                |    e -> concat(e.key, '>', e.value)), '|') AS kv,
                |  json_array_get('[10,20,30]', 1) AS j1,
                |  cast(parse_data_size('64MB') AS BIGINT) AS mb64,
                |  IF(parse_duration('150s') = make_dt_interval(0, 0, 2, 30),
                |    150, -1) AS dur_s)
                |SELECT o_orderkey,
                |  cast(date_add(DAY, 5, o_orderdate) AS STRING) AS plus5d,
                |  cast(date_add(MONTH, 2, o_orderdate) AS STRING) AS plus2mo,
                |  date_diff(DAY, o_orderdate,
                |    TIMESTAMP '2000-01-01 00:00:00') AS days_to_y2k,
                |  week(o_orderdate) AS wk,
                |  cast(last_day_of_month(o_orderdate) AS STRING) AS eom,
                |  max(kv) AS kv,
                |  max(j1) AS j1,
                |  levenshtein_distance(o_orderstatus, 'OF') AS lev,
                |  starts_with(o_orderpriority, '1') AS is_urgent,
                |  max(mb64) AS mb64,
                |  max(dur_s) AS dur_s,
                |  IF(checksum(o_orderkey) IS NOT NULL, o_orderkey, -1) AS cs_key
                |FROM orders CROSS JOIN c WHERE o_orderkey <= 100
                |GROUP BY o_orderkey, o_orderdate, o_orderstatus, o_orderpriority
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  cast(o_orderdate + INTERVAL 5 DAY AS VARCHAR) AS plus5d,
             |  cast(o_orderdate + INTERVAL 2 MONTH AS VARCHAR) AS plus2mo,
             |  date_diff('day', o_orderdate,
             |    TIMESTAMP '2000-01-01 00:00:00') AS days_to_y2k,
             |  CAST(weekofyear(o_orderdate) AS INT) AS wk,
             |  cast(last_day(o_orderdate) AS VARCHAR) AS eom,
             |  'a>1|b>2' AS kv,
             |  '20' AS j1,
             |  levenshtein(o_orderstatus, 'OF') AS lev,
             |  starts_with(o_orderpriority, '1') AS is_urgent,
             |  CAST(67108864 AS BIGINT) AS mb64,
             |  150 AS dur_s,
             |  o_orderkey AS cs_key
             |FROM orders WHERE o_orderkey <= 100
             |ORDER BY o_orderkey""".stripMargin)),

    // Third Presto-name tranche: ISO8601 round-trips, interval→millis,
    // multimap split, json membership/size, wrap-around combine_hash.
    // All value-checked by DuckDB closed forms (o_orderdate casts to a
    // midnight timestamp, so the ISO millis are a constant '.000').
    "fn_presto_names3" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT o_orderkey,
                |  to_iso8601(cast(o_orderdate AS TIMESTAMP)) AS iso,
                |  cast(from_iso8601_timestamp(
                |    to_iso8601(cast(o_orderdate AS TIMESTAMP))) AS STRING) AS ts_rt,
                |  cast(from_iso8601_date(substr(to_iso8601(
                |    cast(o_orderdate AS TIMESTAMP)), 1, 10)) AS STRING) AS d_rt,
                |  to_milliseconds(parse_duration(
                |    concat(cast(o_orderkey % 90 AS STRING), 's'))) AS dur_ms,
                |  to_json(split_to_multimap(concat('a=', o_orderkey % 3,
                |    ',b=2,a=', o_orderkey % 5), ',', '=')) AS mm,
                |  json_array_contains(concat('[1,4,', o_orderkey % 7, ']'), '3')
                |    AS has3,
                |  json_size('{"a":{"b":1,"c":[1,2]}}', '$.a') AS jsz,
                |  json_size('{"a":[1,2,3,4]}', '$.a') AS jsz_arr,
                |  combine_hash(o_orderkey, o_custkey) AS ch
                |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  strftime(CAST(o_orderdate AS TIMESTAMP),
             |    '%Y-%m-%dT%H:%M:%S') || '.000' AS iso,
             |  CAST(CAST(o_orderdate AS TIMESTAMP) AS VARCHAR) AS ts_rt,
             |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d_rt,
             |  CAST(o_orderkey % 90 AS BIGINT) * 1000 AS dur_ms,
             |  '{"a":["' || CAST(o_orderkey % 3 AS VARCHAR) || '","' ||
             |    CAST(o_orderkey % 5 AS VARCHAR) || '"],"b":["2"]}' AS mm,
             |  o_orderkey % 7 = 3 AS has3,
             |  CAST(2 AS INT) AS jsz,
             |  CAST(4 AS INT) AS jsz_arr,
             |  CAST(31 AS BIGINT) * o_orderkey + o_custkey AS ch
             |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin)),

    // Tranche 4 closing the last §2.8 name gaps (VERDICT r2 §6):
    // url_encode/url_decode (UrlFunctions.java:150), typeof
    // (TypeOfFunction.java) + current_user (SessionFunctions.java) —
    // Spark builtins, exercised here; hamming_distance
    // (StringFunctions.java, registry :474); beta_cdf/inverse_beta_cdf
    // (MathFunctions.java, registry :487) checked against the closed
    // forms I_x(1,1)=x, I_x(2,1)=x², I_x(1,2)=1−(1−x)²,
    // I_x(2,2)=x²(3−2x), I_x(½,½)=(2/π)·asin(√x), plus the inverse
    // round-trip. (DuckDB's url_encode is RFC-3986 — space→%20 — so the
    // oracle builds the form-encoded expectation by replacement.)
    "fn_presto_names4" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT c_custkey,
                |  url_encode(concat(c_name, ' &', c_mktsegment)) AS enc,
                |  IF(url_decode(url_encode(concat(c_name, ' +&=', c_mktsegment)))
                |    = concat(c_name, ' +&=', c_mktsegment), c_custkey, -1) AS rt_key,
                |  hamming_distance(c_mktsegment, reverse(c_mktsegment)) AS hd,
                |  typeof(c_custkey) AS t_key, typeof(c_name) AS t_name,
                |  typeof(c_acctbal) AS t_bal,
                |  IF(length(current_user()) > 0 AND current_path() = '',
                |    c_custkey, -1) AS session_key,
                |  round(beta_cdf(1.0, 1.0, (c_custkey % 10) / 10.0), 6) AS b11,
                |  round(beta_cdf(2.0, 1.0, (c_custkey % 10) / 10.0), 6) AS b21,
                |  round(beta_cdf(1.0, 2.0, (c_custkey % 10) / 10.0), 6) AS b12,
                |  round(beta_cdf(2.0, 2.0, (c_custkey % 10) / 10.0), 6) AS b22,
                |  round(beta_cdf(0.5, 0.5, (c_custkey % 10) / 10.0), 6) AS bhh,
                |  round(inverse_beta_cdf(2.0, 2.0,
                |    beta_cdf(2.0, 2.0, (c_custkey % 10) / 10.0)), 6) AS binv
                |FROM customer WHERE c_custkey <= 200
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey,
             |  replace(replace(replace(c_name || ' &' || c_mktsegment,
             |    '#', '%23'), ' ', '+'), '&', '%26') AS enc,
             |  c_custkey AS rt_key,
             |  hamming(c_mktsegment, reverse(c_mktsegment)) AS hd,
             |  'bigint' AS t_key, 'string' AS t_name, 'double' AS t_bal,
             |  c_custkey AS session_key,
             |  round((c_custkey % 10) / 10.0, 6) AS b11,
             |  round(power((c_custkey % 10) / 10.0, 2), 6) AS b21,
             |  round(1 - power(1 - (c_custkey % 10) / 10.0, 2), 6) AS b12,
             |  round(power((c_custkey % 10) / 10.0, 2)
             |    * (3 - 2 * (c_custkey % 10) / 10.0), 6) AS b22,
             |  round((2 / pi()) * asin(sqrt((c_custkey % 10) / 10.0)), 6) AS bhh,
             |  round((c_custkey % 10) / 10.0, 6) AS binv
             |FROM customer WHERE c_custkey <= 200
             |ORDER BY c_custkey""".stripMargin)),

    // Tranche 5 — the last registry names a callable-surface sweep
    // found missing (DESCRIBE FUNCTION probe over every @ScalarFunction
    // name in the reference): format_datetime (Joda alias),
    // to/from_base64url, json_extract, ngrams, timezone_hour/minute,
    // localtime.
    "fn_presto_names5" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT o_orderkey,
                |  format_datetime(cast(o_orderdate AS TIMESTAMP),
                |    'yyyy-MM-dd HH:mm') AS fdt,
                |  to_base64url(cast(o_orderpriority AS BINARY)) AS b64u,
                |  IF(cast(from_base64url(to_base64url(cast(o_orderpriority AS BINARY)))
                |    AS STRING) = o_orderpriority, o_orderkey, -1) AS b64_rt_key,
                |  json_extract(concat('{"a":{"b":',
                |    cast(o_orderkey % 9 AS STRING), '}}'), '$.a') AS jx,
                |  size(ngrams(split(o_orderpriority, '-'), 2)) AS ng,
                |  array_join(ngrams(split(o_orderpriority, '-'), 2)[0], '_') AS ng0,
                |  timezone_hour(cast(o_orderdate AS TIMESTAMP)) AS tzh,
                |  timezone_minute(cast(o_orderdate AS TIMESTAMP)) AS tzm,
                |  length(localtime()) AS lt_len
                |FROM orders WHERE o_orderkey <= 300
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d %H:%M') AS fdt,
             |  replace(replace(to_base64(encode(o_orderpriority)),
             |    '+', '-'), '/', '_') AS b64u,
             |  o_orderkey AS b64_rt_key,
             |  '{"b":' || CAST(o_orderkey % 9 AS VARCHAR) || '}' AS jx,
             |  CAST(1 AS INT) AS ng,
             |  replace(o_orderpriority, '-', '_') AS ng0,
             |  CAST(0 AS BIGINT) AS tzh, CAST(0 AS BIGINT) AS tzm,
             |  CAST(8 AS INT) AS lt_len
             |FROM orders WHERE o_orderkey <= 300
             |ORDER BY o_orderkey""".stripMargin)),

    // Tranche 6 — closed by the round-4 registry diff (DumpFunctions vs
    // every name extracted from the reference's annotations): named
    // bitwise scalars (BitwiseFunctions.java:50), Wilson score bounds
    // (WilsonInterval.java:29), great_circle_distance
    // (GeoFunctions.java:1199), sparse-map cosine_similarity
    // (MathFunctions.java:1240), sha256/sha512 varbinary digests,
    // url_extract_port, and empty_approx_set. Every value is exact:
    // DuckDB recomputes the same formulas (sha512 is anchored to a
    // precomputed constant — DuckDB ships no sha512).
    "fn_presto_names6" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT c_custkey,
                |  bitwise_and(c_custkey, 255L) AS ba,
                |  bitwise_or(c_custkey, 4096L) AS bo,
                |  bitwise_xor(c_custkey, 170L) AS bx,
                |  bitwise_not(c_custkey) AS bn,
                |  round(wilson_interval_lower(c_custkey % 50, 100L, 1.96), 6) AS wl,
                |  round(wilson_interval_upper(c_custkey % 50, 100L, 1.96), 6) AS wu,
                |  round(great_circle_distance(
                |    cast(c_custkey % 80 AS DOUBLE), cast(c_custkey % 160 AS DOUBLE),
                |    cast(-(c_custkey % 45) AS DOUBLE), cast(c_custkey % 90 AS DOUBLE)), 4) AS gcd,
                |  round(cosine_similarity(
                |    map('a', cast(1 + c_custkey % 7 AS DOUBLE), 'b', 2.0D),
                |    map('a', 3.0D, 'c', cast(1 + c_custkey % 5 AS DOUBLE))), 6) AS cs,
                |  lower(hex(sha256(cast(c_name AS BINARY)))) AS sh256,
                |  lower(hex(sha512(cast('graft' AS BINARY)))) AS sh512,
                |  url_extract_port(concat('http://example.com:',
                |    cast(8000 + c_custkey % 100 AS STRING), '/p')) AS port,
                |  coalesce(url_extract_port('http://example.com/p'),
                |    c_custkey) AS port_null_key,
                |  hll_sketch_estimate(empty_approx_set()) AS empty_card,
                |  hll_sketch_estimate(hll_union(
                |    empty_approx_set(), empty_approx_set())) AS empty_merge_card,
                |  apply(c_custkey, k -> k * 2 + 1) AS ap_num,
                |  apply(c_name, nm -> upper(substr(nm, 1, 8))) AS ap_str
                |FROM customer WHERE c_custkey <= 200
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey,
             |  c_custkey & 255 AS ba,
             |  c_custkey | 4096 AS bo,
             |  xor(c_custkey, 170) AS bx,
             |  ~c_custkey AS bn,
             |  round(((c_custkey % 50) / 100.0 + 1.96 * 1.96 / 200.0
             |    - 1.96 * sqrt(((c_custkey % 50) / 100.0) * (1 - (c_custkey % 50) / 100.0) / 100.0
             |                  + 1.96 * 1.96 / 40000.0))
             |    / (1 + 1.96 * 1.96 / 100.0), 6) AS wl,
             |  round(((c_custkey % 50) / 100.0 + 1.96 * 1.96 / 200.0
             |    + 1.96 * sqrt(((c_custkey % 50) / 100.0) * (1 - (c_custkey % 50) / 100.0) / 100.0
             |                  + 1.96 * 1.96 / 40000.0))
             |    / (1 + 1.96 * 1.96 / 100.0), 6) AS wu,
             |  round(atan2(
             |    sqrt(pow(cos(radians(-(c_custkey % 45))) * sin(radians(c_custkey % 160) - radians(c_custkey % 90)), 2)
             |       + pow(cos(radians(c_custkey % 80)) * sin(radians(-(c_custkey % 45)))
             |           - sin(radians(c_custkey % 80)) * cos(radians(-(c_custkey % 45)))
             |             * cos(radians(c_custkey % 160) - radians(c_custkey % 90)), 2)),
             |    sin(radians(c_custkey % 80)) * sin(radians(-(c_custkey % 45)))
             |      + cos(radians(c_custkey % 80)) * cos(radians(-(c_custkey % 45)))
             |        * cos(radians(c_custkey % 160) - radians(c_custkey % 90))) * 6371.01, 4) AS gcd,
             |  round((1 + c_custkey % 7) * 3.0
             |    / (sqrt(pow(1 + c_custkey % 7, 2) + 4.0)
             |     * sqrt(9.0 + pow(1 + c_custkey % 5, 2))), 6) AS cs,
             |  sha256(c_name) AS sh256,
             |  '9c44f55c8de907639d0523a52334481349eceb2026e01915e6ef670097086f5d1c95a486fe5736af87dd4e9f79fbd59814cf8b4d73bcfda3cf6e7f23b081e077' AS sh512,
             |  CAST(8000 + c_custkey % 100 AS BIGINT) AS port,
             |  c_custkey AS port_null_key,
             |  CAST(0 AS BIGINT) AS empty_card,
             |  CAST(0 AS BIGINT) AS empty_merge_card,
             |  c_custkey * 2 + 1 AS ap_num,
             |  upper(substr(c_name, 1, 8)) AS ap_str
             |FROM customer WHERE c_custkey <= 200
             |ORDER BY c_custkey""".stripMargin)),

    // geometric_mean as a callable aggregate, value-matched against
    // the exp∘avg∘ln rewrite in DuckDB.
    "agg_geomean_callable" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT l_returnflag,
                |  round(geometric_mean(l_quantity), 4) AS gm
                |FROM lineitem WHERE l_quantity > 0
                |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag, round(exp(avg(ln(l_quantity))), 4) AS gm
             |FROM lineitem WHERE l_quantity > 0
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Teradata compatibility tier (presto-teradata-functions:
    // TeradataStringFunctions.java index/char2hexint,
    // TeradataDateFunctions.java to_char/to_date/to_timestamp over the
    // 8-token DateFormat.g4 language). The date forms carry a
    // teradata_ prefix — the bare names are Spark builtins with
    // java.time/number-format semantics. char2hexint's oracle
    // recomputes the UTF-16BE hex per character (the clerk strings are
    // ASCII, so each code unit is 00xx).
    "fn_teradata" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT o_orderkey,
                |  index(o_orderpriority, 'URGENT') AS idx,
                |  char2hexint(substr(o_orderpriority, 1, 5)) AS hx,
                |  teradata_to_char(cast(o_orderdate AS TIMESTAMP),
                |    'yyyy/mm/dd hh24:mi:ss') AS tchar,
                |  teradata_to_char(cast(o_orderdate AS TIMESTAMP),
                |    'dd.mm.yy hh:mi') AS tchar2,
                |  teradata_to_date(cast(cast(o_orderdate AS DATE) AS STRING),
                |    'yyyy-mm-dd') AS tdate,
                |  teradata_to_timestamp(
                |    concat(cast(cast(o_orderdate AS DATE) AS STRING), ' 12:34:56'),
                |    'yyyy-mm-dd hh24:mi:ss') AS tts
                |FROM orders WHERE o_orderkey < 400
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  CAST(strpos(o_orderpriority, 'URGENT') AS BIGINT) AS idx,
             |  upper(array_to_string(list_transform(range(1, 6),
             |    i -> lpad(format('{:x}', ord(substr(o_orderpriority, CAST(i AS INT), 1))), 4, '0')),
             |    '')) AS hx,
             |  strftime(o_orderdate, '%Y/%m/%d %H:%M:%S') AS tchar,
             |  strftime(o_orderdate, '%d.%m.') || substr(strftime(o_orderdate, '%Y'), 3, 2)
             |    || ' 00:00' AS tchar2,
             |  CAST(o_orderdate AS DATE) AS tdate,
             |  strptime(strftime(o_orderdate, '%Y-%m-%d') || ' 12:34:56',
             |    '%Y-%m-%d %H:%M:%S') AS tts
             |FROM orders WHERE o_orderkey < 400
             |ORDER BY o_orderkey""".stripMargin)),

    // Color / ANSI rendering tier (ColorFunctions.java): the COLOR
    // long encoding (rgb ≥ 0, system colors negative), HSB gradient
    // interpolation, ESC[38;5;n]m rendering, and bar charts. Every
    // value has a closed form the oracle recomputes: the 6×6×6 ansi
    // cube index is plain integer arithmetic, and interpolating
    // between two equal colors is exact (the HSB round-trip is
    // identity — pinned by ColorFunctionsSpec against the endpoints).
    "fn_color" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT n_nationkey,
                |  rgb((n_nationkey * 10) % 256, 0, 200) AS c_rgb,
                |  color('#f00') AS c_hex,
                |  color('cyan') AS c_sys,
                |  color(cast(n_nationkey AS DOUBLE) / 24.0,
                |    color('#4a4'), color('#4a4')) AS c_interp,
                |  render(n_name, color('#0f0')) AS rendered,
                |  render(n_nationkey % 2 = 0) AS rendered_bool,
                |  bar(cast(n_nationkey % 5 AS DOUBLE) / 4.0, 10,
                |    color('#f00'), color('#f00')) AS bar_str
                |FROM nation ORDER BY n_nationkey""".stripMargin)
      },
      // toAnsi(#0f0) = 16 + 5·6 = 46, toAnsi(#f00) = 16 + 5·36 = 196;
      // system green/red render as their raw indexes 2/1; block = █
      // (U+2588), check/cross = U+2713/U+2717
      Some("""SELECT n_nationkey,
             |  CAST(((n_nationkey * 10) % 256) * 65536 + 200 AS BIGINT) AS c_rgb,
             |  CAST(16711680 AS BIGINT) AS c_hex,
             |  CAST(-7 AS BIGINT) AS c_sys,
             |  CAST(68 * 65536 + 170 * 256 + 68 AS BIGINT) AS c_interp,
             |  chr(27) || '[38;5;46m' || n_name || chr(27) || '[0m' AS rendered,
             |  CASE WHEN n_nationkey % 2 = 0
             |    THEN chr(27) || '[38;5;2m' || chr(10003) || chr(27) || '[0m'
             |    ELSE chr(27) || '[38;5;1m' || chr(10007) || chr(27) || '[0m'
             |  END AS rendered_bool,
             |  repeat(chr(27) || '[38;5;196m' || chr(9608),
             |    CAST((n_nationkey % 5) * 10 // 4 AS INT))
             |    || chr(27) || '[0m'
             |    || repeat(' ', 10 - CAST((n_nationkey % 5) * 10 // 4 AS INT))
             |    AS bar_str
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // features(d1, …, dN) (presto-ml MLFeaturesFunctions.java): the
    // feature-vector-as-map constructor — the one ML-plugin function
    // with relational semantics (learn/classify stay declared out).
    // Map results are stringified entry-wise for cross-engine hashing,
    // as in the sketch queries.
    "fn_ml_features" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT c_custkey,
                |  array_join(transform(map_entries(
                |    features(cast(c_acctbal AS DOUBLE), cast(c_nationkey AS DOUBLE))),
                |    e -> concat(e.key, '=', format_string('%.2f', e.value))), ',') AS feat2,
                |  size(features(cast(c_acctbal AS DOUBLE))) AS n1
                |FROM customer WHERE c_custkey < 500
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey,
             |  '0=' || printf('%.2f', CAST(c_acctbal AS DOUBLE)) ||
             |  ',1=' || printf('%.2f', CAST(c_nationkey AS DOUBLE)) AS feat2,
             |  CAST(1 AS INT) AS n1
             |FROM customer WHERE c_custkey < 500
             |ORDER BY c_custkey""".stripMargin)),

    // MapSubscriptOperator strict semantics: m[k] throws on a missing
    // key (unlike Spark's null-returning element_at); TRY around the
    // strict form restores null-on-missing, exactly Presto's pairing.
    "fn_map_subscript" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT c_custkey,
                |  map_subscript_strict(map('seg', c_mktsegment), 'seg') AS seg,
                |  coalesce(try(map_subscript_strict(map('seg', c_mktsegment), 'nope')),
                |           'NULL_' || c_mktsegment) AS missing_sentinel
                |FROM customer WHERE c_custkey < 200
                |ORDER BY c_custkey""".stripMargin)
      },
      // missing_sentinel is a per-row VALUE (r4): TRY of the strict
      // subscript must be null, which coalesce folds into a string the
      // oracle recomputes — no boolean column left
      Some("""SELECT c_custkey, c_mktsegment AS seg,
             |  'NULL_' || c_mktsegment AS missing_sentinel
             |FROM customer WHERE c_custkey < 200
             |ORDER BY c_custkey""".stripMargin)),

    // TRY semantics (TryFunction.java / TryCastFunction.java): NULL on
    // malformed input instead of failure.
    "fn_try_cast" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.part(s, dir)
          .select($"p_partkey",
            expr("try_cast(p_brand AS INT)").as("bad_int"),
            expr("try_cast(p_size AS STRING)").as("size_str"),
            expr("try_cast(substring(p_name, 1, 2) AS DOUBLE)").as("bad_dbl"),
            expr("try_divide(p_retailprice, p_size - p_size)").as("div_zero"))
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey,
             |  try_cast(p_brand AS INT) AS bad_int,
             |  try_cast(p_size AS VARCHAR) AS size_str,
             |  try_cast(substring(p_name, 1, 2) AS DOUBLE) AS bad_dbl,
             |  CASE WHEN p_size - p_size = 0 THEN NULL
             |       ELSE p_retailprice / (p_size - p_size) END AS div_zero
             |FROM part ORDER BY p_partkey""".stripMargin))
  )
}
