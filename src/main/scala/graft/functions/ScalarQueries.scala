package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.Det._

/** §2.7 Scalar function suites (SURVEY.md). Everything is
  * `org.apache.spark.sql.functions._` / built-in SQL functions — codegen'd
  * end-to-end, no lambda UDFs — except `custom_udf_expr`, which exercises
  * the native Catalyst Expression surface ([[DiscountBand]]).
  *
  * Cross-engine spellings (verified against DuckDB 1.0): Spark `dayofweek`
  * = DuckDB `dayofweek + 1` (Sun=1 vs Sun=0); Spark `ceil(double)` is
  * BIGINT, DuckDB's needs a cast; DuckDB `sign` is TINYINT; `pmod(a,b)` =
  * `((a % b) + b) % b`; `date_format` ↔ `strftime`.
  */
object ScalarQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // TRY_CAST SUITE — error-safe parsing, the ingestion staple: messy
    // strings (valid ints, alpha-prefixed garbage, decimals, empties,
    // impossible calendar dates — all built DETERMINISTICALLY from the
    // fixture keys) go through TRY_CAST, which yields NULL instead of
    // an error/abort in BOTH engines. The aggregate row pins that the
    // two engines agree on exactly WHICH strings parse — the
    // edge-semantics surface ('' as DOUBLE? Feb 30?) where casual
    // parsers diverge. One REAL divergence surfaced building this key
    // and is deliberately fenced out: Spark's TRY_CAST('123.5' AS INT)
    // parses-then-truncates (123) while DuckDB's strictly refuses
    // (NULL) — so the INT metrics exclude the decimal-string branch
    // (it feeds the DOUBLE metric, where both engines agree) and the
    // comment, not the hash, records the trap. Per-row outputs would dump 150k
    // rows; the success-count + checksum row is the same evidence.
    "fn_try_cast_suite" -> ((s, dir) => {
      s.sql(s"""WITH m AS (SELECT
        |  CASE WHEN o_orderkey % 4 = 0 THEN CAST(o_orderkey AS STRING)
        |       WHEN o_orderkey % 4 = 1
        |         THEN concat('x', CAST(o_orderkey AS STRING))
        |       WHEN o_orderkey % 4 = 2
        |         THEN concat(CAST(o_orderkey AS STRING), '.5')
        |       ELSE '' END AS num_str,
        |  CASE WHEN o_orderkey % 5 = 0 THEN '1996-02-30'
        |       ELSE CAST(CAST(o_orderdate AS DATE) AS STRING)
        |  END AS date_str
        |FROM parquet.`$dir/orders.parquet`)
        |SELECT count(*) AS n_rows,
        |  count(TRY_CAST(CASE WHEN num_str LIKE '%.5' THEN NULL
        |    ELSE num_str END AS INT)) AS n_int_ok,
        |  count(TRY_CAST(num_str AS DOUBLE)) AS n_double_ok,
        |  count(TRY_CAST(date_str AS DATE)) AS n_date_ok,
        |  sum(CAST(TRY_CAST(CASE WHEN num_str LIKE '%.5' THEN NULL
        |    ELSE num_str END AS INT) AS BIGINT)) AS sum_ints
        |FROM m""".stripMargin)
    }),

    "fn_string_suite" -> ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("up"),
        lower(col("p_brand")).as("lo"),
        trim(concat(lit("  "), col("p_name"), lit(" "))).as("tr"),
        length(col("p_name")).cast("long").as("len"),
        substring(col("p_name"), 2, 5).as("sub"),
        concat_ws("|", col("p_name"), col("p_type")).as("cw"),
        lpad(col("p_brand"), 10, "*").as("lp"),
        expr("replace(p_name, 'widget', 'gizmo')").as("rep"),
        element_at(split(col("p_name"), " "), 1).as("first_word"),
        regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).cast("long").as("brand_num"),
        translate(col("p_type"), "AEO", "aeo").as("tl"))
        .orderBy(col("p_partkey"))
    }),

    "fn_date_suite" -> ((s, dir) => {
      val d = col("o_orderdate").cast("date")
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(d).cast("long").as("y"),
        month(d).cast("long").as("m"),
        dayofmonth(d).cast("long").as("dom"),
        quarter(d).cast("long").as("q"),
        dayofweek(d).cast("long").as("dow"),
        date_add(d, 30).as("d_plus30"),
        datediff(d, lit("2000-01-01").cast("date")).cast("long").as("days_from_y2k"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        last_day(d).as("month_end"),
        date_format(d, "yyyy-MM").as("ym"))
        .orderBy(col("o_orderkey"))
    }),

    "fn_math_suite" -> ((s, dir) => {
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        round(abs(col("l_quantity") - 25), 4).as("a"),
        ceil(col("l_extendedprice")).as("c"),
        floor(col("l_extendedprice")).as("f"),
        round(sqrt(col("l_quantity")), 4).as("sq"),
        round(pow(col("l_discount") + 1, 2), 4).as("pw"),
        round(log(col("l_extendedprice")), 4).as("ln_"),
        round(log10(col("l_extendedprice")), 4).as("lg"),
        round(exp(negate(col("l_discount"))), 4).as("ex"),
        signum(col("l_quantity") - 25).cast("long").as("sg"),
        round(greatest(col("l_quantity"), col("l_discount") * 100), 4).as("gr"),
        round(least(col("l_quantity"), col("l_tax") * 100), 4).as("ls"),
        pmod(col("l_orderkey"), lit(7)).as("pm"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "fn_conditional" -> ((s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_orderpriority") === "1-URGENT", 1L)
          .when(col("o_orderpriority") === "2-HIGH", 2L)
          .when(col("o_orderpriority") === "3-MEDIUM", 3L)
          .when(col("o_orderpriority") === "4-NOT SPECIFIED", 4L)
          .otherwise(5L).as("pri_num"),
        coalesce(expr("nullif(o_orderstatus, 'P')"), lit("pending")).as("status_np"),
        expr("ifnull(nullif(o_orderstatus, 'O'), 'was_open')").as("status_no"),
        round(col("o_totalprice").cast("string").cast("double"), 4).as("price_rt"),
        col("o_orderkey").cast("string").cast("long").as("key_rt"))
        .orderBy(col("o_orderkey"))
    }),

    // Bitwise scalar suite — the remaining operator family of §2.7
    // (hash bucketing, flag fields, bitmap addressing all live on
    // these): AND/OR/XOR/shifts/popcount over the key columns, pure
    // integer codegen in the scan stage. XOR spelled as the function
    // on the oracle side (DuckDB's ^ is POWER — the one operator-token
    // divergence worth a comment).
    "fn_bitwise_suite" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_linenumber") === 1 && col("l_orderkey") < 5000)
        .select(col("l_orderkey"),
          expr("l_orderkey & 255").as("band"),
          expr("l_orderkey | 4096").as("ored"),
          expr("l_orderkey ^ l_partkey").as("xored"),
          expr("shiftleft(l_orderkey, 3)").as("shl"),
          expr("shiftright(l_partkey, 4)").as("shr"),
          expr("cast(bit_count(l_partkey) as bigint)").as("pop"))
        .orderBy(col("l_orderkey"))
    }),

    // REGEXP surface: global replace, extract-all counting, rlike
    // flags, anchored alternation. Patterns stay in the
    // character-class / alternation subset where Java regex (Spark)
    // and RE2 (DuckDB) agree — no backreferences, no lookaround (RE2
    // has neither, and a pattern outside the common subset would make
    // the oracle compare two different languages). All per-row
    // codegen'd projection — no shuffle at all beyond the output sort.
    "fn_regexp_suite" -> ((s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"),
          regexp_replace(col("p_name"), "[aeiou]", "*").as("masked"),
          size(expr("regexp_extract_all(p_name, '[a-z]+', 0)"))
            .cast("long").as("n_words"),
          regexp_extract(col("p_type"), "^(ECONOMY|PROMO|LARGE)", 1)
            .as("tier"),
          when(col("p_name").rlike("(bolt|widget)$"), 1L).otherwise(0L)
            .as("hw_suffix"),
          regexp_replace(col("p_brand"), "[0-9]", "#").as("brand_masked"))
        .orderBy(col("p_partkey"))
    }),

    // COLLATION-AWARE GROUPING (§2.69) — Spark 4's COLLATE surface:
    // grouping under UTF8_LCASE merges case variants AT THE ENGINE
    // level (no lower() rewrite in the query — collation rides the
    // type, so every comparison/join/agg downstream inherits it).
    // Case variants injected deterministically; the group
    // REPRESENTATIVE must be pinned (the engine surfaces an arbitrary
    // member's casing) — min(raw) is the binary-deterministic choice,
    // and the presentation sort uses that pinned value, never the
    // collated key. Oracle: lower()-keyed grouping is the portable
    // equivalent on this ASCII domain.
    "fn_collation_group" -> ((s, dir) => {
      s.sql(s"""WITH v AS (SELECT p_partkey,
        |  CASE WHEN p_partkey % 2 = 0 THEN upper(p_brand)
        |       ELSE p_brand END AS b
        |  FROM parquet.`$dir/part.parquet`)
        |SELECT min(b) AS rep, count(*) AS n,
        |  count(DISTINCT p_partkey % 10) AS n_mod
        |FROM v
        |GROUP BY b COLLATE UTF8_LCASE
        |ORDER BY rep""".stripMargin)
    }),

    // MONTH ARITHMETIC (§2.68) — the calendar edge semantics
    // fn_date_suite's day-grain functions don't touch: add_months
    // CLAMPS to month-end (Jan 31 + 1 month = Feb 29, not Mar 2 —
    // the billing-cycle convention both engines share, pinned here
    // including the month-end→month-end case), negative offsets, and
    // next_day's strictly-after contract (a Monday's next Monday is
    // +7). DuckDB has neither add_months nor next_day — INTERVAL
    // arithmetic clamps identically, and the isodow offset expression
    // reproduces strictly-after exactly. Row-local, codegen'd,
    // shuffle-free.
    "fn_month_arith_suite" -> ((s, dir) => {
      val d = col("o_orderdate").cast("date")
      t(s, dir, "orders").select(
        col("o_orderkey"),
        add_months(d, 1).as("am1"),
        add_months(last_day(d), 1).as("am_end"),
        add_months(d, -2).as("am_neg"),
        next_day(d, "MO").as("next_mon"))
        .orderBy("o_orderkey")
    }),

    // TRY ARITHMETIC (§2.66) — error-safe arithmetic, the TRY_CAST
    // suite's sibling: try_divide returns NULL on a zero divisor and
    // try_add/try_multiply return NULL on bigint overflow instead of
    // wrapping (non-ANSI) or aborting the job (ANSI) — the ingest
    // posture for arithmetic over untrusted numbers. Divisor/overflow
    // cases are built deterministically from the key. DuckDB has no
    // try_* arithmetic: NULLIF guards the divisor and CASE guards the
    // overflow margin BEFORE the native (erroring) operator runs —
    // the NULL pattern must agree row-for-row, which is the pin.
    "fn_try_arith_suite" -> ((s, dir) => {
      val k = col("p_partkey")
      t(s, dir, "part")
        .select(k,
          try_divide(col("p_retailprice"), (k % 5).cast("double")).as("td"),
          try_add(lit(Long.MaxValue) - (k % 3), k % 2).as("ta"),
          try_multiply(lit(4611686018427387904L), (k % 4) - 1).as("tm"))
        .orderBy("p_partkey")
    }),

    // CRYPTOGRAPHIC HASH SUITE (§2.65) — md5 / sha2-256 over fixture
    // strings: the content-addressing primitives every dedup /
    // partitioning / cache-key scheme builds on (this repo's own
    // deterministic-sampling keys ride md5 ordering). Both engines
    // emit lowercase hex; DuckDB 1.0 carries exactly md5 + sha256
    // (no sha1/crc32 — fenced out of the suite). The bucket column
    // shows the standard hash-partitioning use: first hex char
    // → 16-way split, compared as a string so no engine parses hex.
    "fn_hash_suite" -> ((s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"),
          md5(col("p_name").cast("binary")).as("md5_hex"),
          sha2(col("p_name").cast("binary"), 256).as("sha256_hex"),
          substring(md5(col("p_name").cast("binary")), 1, 1).as("bucket"),
          length(sha2(col("p_name").cast("binary"), 256)).cast("long")
            .as("hex_len"))
        .orderBy("p_partkey")
    }),

    // URL PARSING (§2.65) — Spark's parse_url component extractor
    // (PROTOCOL/HOST/PATH/QUERY and single-parameter lookup) over the
    // same synthetic URL family text_url_normalize builds: the log /
    // clickstream sessionization primitive. Semantics pinned by the
    // oracle: missing query and missing parameter are NULL (DuckDB has
    // no parse_url — regexp_extract spellings with NULLIF('') mirror
    // the NULL contract); host CASE is PRESERVED (normalization is
    // the other key's job). Pure codegen'd row-local functions —
    // shuffle-free.
    "fn_parse_url" -> ((s, dir) => {
      graft.operators.CurationQueries.syntheticUrls(s, dir)
        .select(col("doc_id"), col("url"),
          parse_url(col("url"), lit("PROTOCOL")).as("proto"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY")).as("query"),
          parse_url(col("url"), lit("QUERY"), lit("id")).as("id_param"))
        .orderBy("doc_id")
    }),

    // Custom Catalyst Expression with codegen (see DiscountBand).
    "custom_udf_expr" -> ((s, dir) => {
      DiscountBand.register(s)
      t(s, dir, "lineitem")
        .groupBy(expr("discount_band(l_discount)").as("band"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_discount")).as("sum_disc"))
        .orderBy(col("band"))
    })
  )

  val oracle: Map[String, String] = Map(
    // Same TRY_CAST spellings; sum CAST before the HUGEINT divergence.
    "fn_try_cast_suite" ->
      """WITH m AS (SELECT
        |  CASE WHEN o_orderkey % 4 = 0 THEN CAST(o_orderkey AS VARCHAR)
        |       WHEN o_orderkey % 4 = 1
        |         THEN concat('x', CAST(o_orderkey AS VARCHAR))
        |       WHEN o_orderkey % 4 = 2
        |         THEN concat(CAST(o_orderkey AS VARCHAR), '.5')
        |       ELSE '' END AS num_str,
        |  CASE WHEN o_orderkey % 5 = 0 THEN '1996-02-30'
        |       ELSE CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
        |  END AS date_str
        |FROM orders)
        |SELECT count(*) AS n_rows,
        |  count(TRY_CAST(CASE WHEN num_str LIKE '%.5' THEN NULL
        |    ELSE num_str END AS INT)) AS n_int_ok,
        |  count(TRY_CAST(num_str AS DOUBLE)) AS n_double_ok,
        |  count(TRY_CAST(date_str AS DATE)) AS n_date_ok,
        |  CAST(sum(CAST(TRY_CAST(CASE WHEN num_str LIKE '%.5' THEN NULL
        |    ELSE num_str END AS INT) AS BIGINT)) AS BIGINT)
        |    AS sum_ints
        |FROM m""".stripMargin,
    // lower()-keyed grouping ≡ UTF8_LCASE on the ASCII brand domain.
    "fn_collation_group" ->
      """WITH v AS (SELECT p_partkey,
        |  CASE WHEN p_partkey % 2 = 0 THEN upper(p_brand)
        |       ELSE p_brand END AS b
        |  FROM part)
        |SELECT min(b) AS rep, count(*) AS n,
        |  count(DISTINCT p_partkey % 10) AS n_mod
        |FROM v GROUP BY lower(b) ORDER BY rep""".stripMargin,
    // INTERVAL arithmetic clamps like add_months; last_day = month-end
    // via trunc-to-next-month minus one day; next-Monday via isodow.
    "fn_month_arith_suite" ->
      """WITH d0 AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
        |  FROM orders)
        |SELECT o_orderkey,
        |  CAST(d + INTERVAL 1 MONTH AS DATE) AS am1,
        |  CAST(CAST(date_trunc('month', d) + INTERVAL 1 MONTH AS DATE) - 1
        |    + INTERVAL 1 MONTH AS DATE) AS am_end,
        |  CAST(d + INTERVAL (-2) MONTH AS DATE) AS am_neg,
        |  d + CAST(CASE WHEN isodow(d) = 1 THEN 7
        |    ELSE 8 - isodow(d) END AS INTEGER) AS next_mon
        |FROM d0 ORDER BY o_orderkey""".stripMargin,
    // NULLIF/CASE guards replace try_*: the zero divisor becomes NULL
    // before the divide; the overflow branches are excluded before the
    // erroring native operator evaluates.
    "fn_try_arith_suite" ->
      """SELECT p_partkey,
        |  p_retailprice / NULLIF(CAST(p_partkey % 5 AS DOUBLE), 0.0) AS td,
        |  CASE WHEN (p_partkey % 2) > (p_partkey % 3) THEN NULL
        |       ELSE CAST((9223372036854775807 - p_partkey % 3)
        |         + (p_partkey % 2) AS BIGINT) END AS ta,
        |  CASE WHEN (p_partkey % 4) - 1 >= 2 THEN NULL
        |       ELSE CAST(4611686018427387904 * ((p_partkey % 4) - 1)
        |         AS BIGINT) END AS tm
        |FROM part ORDER BY p_partkey""".stripMargin,
    "fn_hash_suite" ->
      """SELECT p_partkey,
        |  md5(p_name) AS md5_hex,
        |  sha256(p_name) AS sha256_hex,
        |  substr(md5(p_name), 1, 1) AS bucket,
        |  CAST(length(sha256(p_name)) AS BIGINT) AS hex_len
        |FROM part ORDER BY p_partkey""".stripMargin,
    // regexp_extract component spellings; NULLIF('') mirrors Spark's
    // NULL-on-missing contract for query and parameter.
    "fn_parse_url" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://'
        |  || (CASE WHEN doc_id % 3 = 0
        |        THEN upper('site' || (doc_id % 50) || '.example.com')
        |        ELSE 'site' || (doc_id % 50) || '.example.com' END)
        |  || '/a/item' || (doc_id % 20)
        |  || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
        |  || (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&id=' || (doc_id % 10)
        |           WHEN doc_id % 5 = 1 THEN '?id=' || (doc_id % 10)
        |           WHEN doc_id % 5 = 2 THEN '?utm_campaign=x'
        |           ELSE '' END) AS url
        |  FROM documents)
        |SELECT doc_id, url,
        |  regexp_extract(url, '^([a-z]+)://', 1) AS proto,
        |  regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
        |  regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
        |  NULLIF(regexp_extract(url, '\?([^#]*)', 1), '') AS query,
        |  NULLIF(regexp_extract(url, '[?&]id=([^&#]*)', 1), '') AS id_param
        |FROM u ORDER BY doc_id""".stripMargin,
    "fn_string_suite" ->
      """SELECT p_partkey,
        |  upper(p_name) AS up, lower(p_brand) AS lo,
        |  trim('  ' || p_name || ' ') AS tr,
        |  length(p_name) AS len,
        |  substring(p_name, 2, 5) AS sub,
        |  concat_ws('|', p_name, p_type) AS cw,
        |  lpad(p_brand, 10, '*') AS lp,
        |  replace(p_name, 'widget', 'gizmo') AS rep,
        |  string_split(p_name, ' ')[1] AS first_word,
        |  CAST(regexp_extract(p_brand, 'Brand#(\d+)', 1) AS BIGINT) AS brand_num,
        |  translate(p_type, 'AEO', 'aeo') AS tl
        |FROM part ORDER BY p_partkey""".stripMargin,
    "fn_date_suite" ->
      """SELECT o_orderkey,
        |  year(CAST(o_orderdate AS DATE)) AS y,
        |  month(CAST(o_orderdate AS DATE)) AS m,
        |  dayofmonth(CAST(o_orderdate AS DATE)) AS dom,
        |  quarter(CAST(o_orderdate AS DATE)) AS q,
        |  dayofweek(CAST(o_orderdate AS DATE)) + 1 AS dow,
        |  CAST(o_orderdate AS DATE) + 30 AS d_plus30,
        |  date_diff('day', DATE '2000-01-01', CAST(o_orderdate AS DATE)) AS days_from_y2k,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS ym
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "fn_math_suite" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(abs(l_quantity - 25), 4) AS a,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS c,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS f,
        |  round(sqrt(l_quantity), 4) AS sq,
        |  round(pow(l_discount + 1, 2), 4) AS pw,
        |  round(ln(l_extendedprice), 4) AS ln_,
        |  round(log10(l_extendedprice), 4) AS lg,
        |  round(exp(-l_discount), 4) AS ex,
        |  CAST(sign(l_quantity - 25) AS BIGINT) AS sg,
        |  round(greatest(l_quantity, l_discount * 100), 4) AS gr,
        |  round(least(l_quantity, l_tax * 100), 4) AS ls,
        |  ((l_orderkey % 7) + 7) % 7 AS pm
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "fn_conditional" ->
      """SELECT o_orderkey,
        |  CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
        |    WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4 ELSE 5 END AS pri_num,
        |  coalesce(nullif(o_orderstatus, 'P'), 'pending') AS status_np,
        |  ifnull(nullif(o_orderstatus, 'O'), 'was_open') AS status_no,
        |  round(CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE), 4) AS price_rt,
        |  CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_rt
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "fn_bitwise_suite" ->
      """SELECT l_orderkey,
        |  l_orderkey & 255 AS band,
        |  l_orderkey | 4096 AS ored,
        |  xor(l_orderkey, l_partkey) AS xored,
        |  l_orderkey << 3 AS shl,
        |  l_partkey >> 4 AS shr,
        |  CAST(bit_count(l_partkey) AS BIGINT) AS pop
        |FROM lineitem WHERE l_linenumber = 1 AND l_orderkey < 5000
        |ORDER BY l_orderkey""".stripMargin,
    // DuckDB regexp_replace is FIRST-match unless the 'g' flag is set;
    // Spark's is global by default — the flag is load-bearing.
    "fn_regexp_suite" ->
      """SELECT p_partkey,
        |  regexp_replace(p_name, '[aeiou]', '*', 'g') AS masked,
        |  len(regexp_extract_all(p_name, '[a-z]+')) AS n_words,
        |  regexp_extract(p_type, '^(ECONOMY|PROMO|LARGE)', 1) AS tier,
        |  CAST(CASE WHEN regexp_matches(p_name, '(bolt|widget)$')
        |    THEN 1 ELSE 0 END AS BIGINT) AS hw_suffix,
        |  regexp_replace(p_brand, '[0-9]', '#', 'g') AS brand_masked
        |FROM part ORDER BY p_partkey""".stripMargin,
    "custom_udf_expr" ->
      s"""SELECT CASE WHEN l_discount < 0.03 THEN 'LOW'
         |  WHEN l_discount < 0.07 THEN 'MID' ELSE 'HIGH' END AS band,
         |count(*) AS n_rows,
         |${sqlSum("l_discount")} AS sum_disc
         |FROM lineitem GROUP BY 1 ORDER BY band""".stripMargin
  )
}
