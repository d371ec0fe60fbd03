package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Scalar-function batteries: string, date/time, math, conditional.
  * The reference's expression surface is just `-`, `*`, `round`,
  * `weekofyear`, `current_timestamp`, `unix_timestamp` (SURVEY.md §2.2) —
  * these queries extend it to the function families any consumer of the
  * engine expects, each verified against DuckDB.
  *
  * Parity notes: transcendentals (exp/ln/pow) can differ in the last ulp
  * between libm implementations — outputs are rounded to 6dp; sqrt is
  * IEEE-exact. Spark `dayofweek` is 1-based Sunday-start vs DuckDB's
  * 0-based — the oracle maps explicitly.
  */
object QueriesFunctions {

  lazy val registry: Seq[Query] = Seq(
    // String functions over part names.
    Query("f1_string_funcs", (s, d) => {
      Tables.part(s, d).select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        length(col("p_name")).cast("long").as("name_len"),
        substring(col("p_name"), 1, 8).as("prefix8"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        col("p_name").like("%green%").as("is_green"),
        lpad(col("p_brand"), 12, "#").as("brand_padded"),
        split(col("p_type"), " ").getItem(0).as("type_head"))
    },
      """SELECT p_partkey,
        |  upper(p_name) AS uname,
        |  length(p_name) AS name_len,
        |  substr(p_name, 1, 8) AS prefix8,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  p_name LIKE '%green%' AS is_green,
        |  lpad(p_brand, 12, '#') AS brand_padded,
        |  string_split(p_type, ' ')[1] AS type_head
        |FROM part""".stripMargin),

    // Date/time functions over order dates.
    Query("f2_date_funcs", (s, d) => {
      Tables.orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        dayofweek(col("o_orderdate")).as("dow"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        last_day(col("o_orderdate")).cast("timestamp").as("month_end"),
        datediff(lit("2002-01-01").cast("date"),
          col("o_orderdate").cast("date")).cast("long").as("days_to_2002"))
    },
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(day(o_orderdate) AS INTEGER) AS dom,
        |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
        |  date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
        |    AS days_to_2002
        |FROM orders""".stripMargin),

    // Math functions over lineitem measures.
    Query("f3_math_funcs", (s, d) => {
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - 0.05).as("disc_dev"),
        ceil(col("l_quantity")).cast("long").as("qty_ceil"),
        floor(col("l_extendedprice")).cast("long").as("price_floor"),
        round(sqrt(col("l_extendedprice")), 6).as("price_sqrt"),
        round(exp(col("l_discount")), 6).as("disc_exp"),
        round(log(col("l_extendedprice") + 1), 6).as("price_ln"),
        round(pow(col("l_quantity"), 2), 6).as("qty_sq"),
        signum(col("l_discount") - col("l_tax")).cast("int").as("dt_sign"),
        greatest(col("l_discount"), col("l_tax")).as("max_rate"))
    },
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS disc_dev,
        |  CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  round(sqrt(l_extendedprice), 6) AS price_sqrt,
        |  round(exp(l_discount), 6) AS disc_exp,
        |  round(ln(l_extendedprice + 1), 6) AS price_ln,
        |  round(pow(l_quantity, 2), 6) AS qty_sq,
        |  CAST(CASE WHEN l_discount - l_tax > 0 THEN 1
        |    WHEN l_discount - l_tax < 0 THEN -1 ELSE 0 END AS INTEGER)
        |    AS dt_sign,
        |  greatest(l_discount, l_tax) AS max_rate
        |FROM lineitem""".stripMargin),

    // Conditional expressions: CASE, coalesce, nullif.
    Query("f4_conditional", (s, d) => {
      Tables.events(s, d).select(
        col("event_id"),
        when(col("value") >= 300, "high")
          .when(col("value") >= 100, "mid")
          .otherwise("low").as("value_band"),
        coalesce(nullif(col("event_type"), lit("click")),
          lit("(clicked)")).as("type_or_marker"),
        (col("value") > 250 && col("user_id") % 2 === 0).as("flag"))
    },
      """SELECT event_id,
        |  CASE WHEN value >= 300 THEN 'high'
        |    WHEN value >= 100 THEN 'mid' ELSE 'low' END AS value_band,
        |  coalesce(nullif(event_type, 'click'), '(clicked)')
        |    AS type_or_marker,
        |  (value > 250 AND user_id % 2 = 0) AS flag
        |FROM events""".stripMargin),

    // Array functions over whitespace-tokenized document text. All
    // narrow projections — codegen'd, zero shuffle, scale-free.
    Query("f5_array_funcs", (s, d) => {
      val toks = split(trim(lower(col("text"))), "\\s+")
      Tables.documents(s, d).select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_unique"),
        array_min(toks).as("min_tok"),
        array_contains(toks, "the").as("has_the"),
        concat_ws(" ", slice(toks, 1, 3)).as("head3"))
    },
      """SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
        |  list_min(toks) AS min_tok,
        |  list_contains(toks, 'the') AS has_the,
        |  array_to_string(toks[1:3], ' ') AS head3
        |FROM (SELECT doc_id,
        |  regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents)""".stripMargin),

    // Regex battery: extract / count / match. Patterns are kept in the
    // RE2∩Java-regex common subset so both engines agree.
    Query("f6_regex_funcs", (s, d) => {
      Tables.part(s, d).select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
        regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"),
        col("p_name").rlike("[aeiou]{2}").as("vowel_pair"),
        regexp_count(col("p_name"), lit("[aeiou]")).as("n_vowels"))
    },
      """SELECT p_partkey,
        |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
        |  regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
        |  regexp_matches(p_name, '[aeiou]{2}') AS vowel_pair,
        |  CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INTEGER)
        |    AS n_vowels
        |FROM part""".stripMargin),

    // Bitwise battery: and/or/xor masks, shifts, popcount — the
    // hash-bucketing / bitmap primitives (every LSH band, bloom word
    // and hash split in this engine reduces to these).
    Query("f7_bitwise_funcs", (s, d) => {
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_orderkey").bitwiseAND(lit(255L))).as("band"),
        (col("l_orderkey").bitwiseOR(lit(15L))).as("bor"),
        (col("l_orderkey").bitwiseXOR(col("l_partkey"))).as("bxor"),
        shiftleft(col("l_partkey"), 2).as("shl"),
        shiftright(col("l_orderkey"), 3).as("shr"),
        bit_count(col("l_orderkey")).as("nbits"))
    },
      """SELECT l_orderkey, l_linenumber,
        |  l_orderkey & 255 AS band,
        |  l_orderkey | 15 AS bor,
        |  xor(l_orderkey, l_partkey) AS bxor,
        |  l_partkey << 2 AS shl,
        |  l_orderkey >> 3 AS shr,
        |  CAST(bit_count(l_orderkey) AS INTEGER) AS nbits
        |FROM lineitem""".stripMargin),

    // Z-order (Morton) clustering key over (partkey, suppkey) — the
    // multi-dimensional data-layout primitive: files written sorted by
    // zval carry tight min/max on BOTH dims at once, so predicates on
    // either prune most files (a single-column sort scatters the other
    // dim across the full range in every file —
    // RelationalOpsSpec measures the contrast). zbucket = the top 10
    // bits, i.e. the 1024-file assignment a writer would use. Pure
    // codegen'd bit arithmetic, no shuffle.
    Query("f8_zorder", (s, d) => {
      val z = graft.operators.RelationalOps.zValue2(
        col("l_partkey").bitwiseAND(lit(65535L)),
        col("l_suppkey").bitwiseAND(lit(65535L)), 16)
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        z.as("zval"),
        shiftright(z, 22).as("zbucket"))
    },
      // the same interleave, unrolled term-by-term from ONE generator so
      // the two engines cannot drift
      s"""SELECT l_orderkey, l_linenumber, zval, zval >> 22 AS zbucket
         |FROM (SELECT l_orderkey, l_linenumber,
         |  ${zSql("(l_partkey & 65535)", "(l_suppkey & 65535)", 16)}
         |    AS zval
         |  FROM lineitem)""".stripMargin),

    // Higher-order array-function battery over the embedding vectors:
    // transform / filter / exists / forall / reverse / aggregate — the
    // lambda toolkit that keeps per-row array logic INSIDE codegen
    // instead of leaking into UDFs (the whole f-family's reason to
    // exist). All folds are strict left-to-right over float→double
    // widened elements (the v-family discipline), so both engines
    // produce bit-identical sums before the 6dp output rounding; the
    // reversed-self dot product exercises index-aligned two-array
    // folding (zip_with shape) the same way the ANN kernels do. Pure
    // narrow projection — zero shuffle at any scale.
    Query("f9_higher_order", (s, d) => {
      val v = transform(col("embedding"), x => x.cast("double"))
      val rv = reverse(v)
      Tables.embeddings(s, d).select(
        col("vec_id"),
        size(filter(v, x => x > 0)).cast("long").as("n_pos"),
        exists(v, x => x > lit(2.0)).as("has_big"),
        forall(v, x => abs(x) < lit(10.0)).as("bounded"),
        round(aggregate(v, lit(0.0), (a, x) => a + x * x), 6)
          .as("sum_sq"),
        round(aggregate(zip_with(v, rv, (a, b) => a * b), lit(0.0),
          (a, x) => a + x), 6).as("dot_rev"))
    },
      // f9: identical strict left folds over the double-widened list
      // (the v-family list_reduce idiom); the reversed dot uses indexed
      // access into list_reverse rather than a struct zip.
      """WITH d AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |r AS (SELECT vec_id, v, list_reverse(v) AS rv FROM d)
        |SELECT vec_id,
        |  CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos,
        |  len(list_filter(v, x -> x > 2.0)) > 0 AS has_big,
        |  len(list_filter(v, x -> abs(x) >= 10.0)) = 0 AS bounded,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(v, x -> x * x)), (a, x) -> a + x), 6)
        |    AS sum_sq,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(range(len(v)), i -> v[i+1] * rv[i+1])),
        |    (a, x) -> a + x), 6) AS dot_rev
        |FROM r""".stripMargin),

    // MAP-type function battery (the container type f5/f9 don't touch):
    // build a linenumber→quantity map per order (map_from_entries over
    // the sorted entry structs — line numbers are unique per order, the
    // operator's precondition), transform_values to double it,
    // map_filter to keep heavy lines, cardinality for the pre-filter
    // size, then explode the surviving map back to scalar rows (the
    // driver's hash cannot compare MAP columns — and exploded rows are
    // what the relational oracle can state). The map layer is
    // Spark-side structure; the RESULT is layout-independent, which is
    // exactly what the oracle pins.
    // try_* safe-math battery — ANSI-mode error handling as VALUES,
    // not exceptions: division by zero, malformed casts, out-of-bounds
    // element access and Long-overflow addition all yield NULL instead
    // of killing the job — the semantics a 100 TB pipeline needs when
    // one poisoned row must not fail a stage. DuckDB has TRY_CAST and
    // native NULL-on-OOB list access; division-by-zero and overflow
    // are mirrored with nullif/CASE encodings of the same results
    // (documented — the oracle pins the VALUES, Spark's try_* pins the
    // mechanism).
    Query("f11_safe_math", (s, d) => {
      Tables.region(s, d).select(
        col("r_regionkey"),
        round(try_divide(lit(10.0), col("r_regionkey").cast("double")),
          6).as("div_k"),
        expr("try_cast(r_name AS INT)").as("bad_int"),
        expr("try_cast(cast(r_regionkey AS STRING) AS INT)")
          .as("good_int"),
        try_element_at(array(lit(1), lit(2)), lit(5)).as("oob_elem"),
        expr("try_to_timestamp(r_name)").as("bad_ts"),
        expr("try_add(9223372036854775807L, r_regionkey)").as("ovf_add"))
    },
      // f11: TRY_CAST is native; div-by-zero and Long overflow mirror as
      // nullif/CASE encodings of the identical NULL-or-value results.
      """SELECT r_regionkey,
        |  round(10.0 / nullif(CAST(r_regionkey AS DOUBLE), 0), 6)
        |    AS div_k,
        |  TRY_CAST(r_name AS INTEGER) AS bad_int,
        |  TRY_CAST(CAST(r_regionkey AS VARCHAR) AS INTEGER)
        |    AS good_int,
        |  ([1, 2])[5] AS oob_elem,
        |  TRY_CAST(r_name AS TIMESTAMP) AS bad_ts,
        |  CASE WHEN r_regionkey = 0 THEN 9223372036854775807
        |    ELSE NULL END AS ovf_add
        |FROM region""".stripMargin),

    Query("f10_map_funcs", (s, d) => {
      // this synthetic lineitem can repeat a linenumber within an order,
      // so entries pre-aggregate per (order, line) — map keys MUST be
      // unique (map_from_entries fails loudly on duplicates, the right
      // behavior)
      val m = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(sum(col("l_quantity")).as("qty"))
        .groupBy(col("l_orderkey"))
        .agg(map_from_entries(array_sort(collect_list(
          struct(col("l_linenumber"), col("qty"))))).as("qty_map"))
      val doubled = transform_values(col("qty_map"),
        (_, v) => v * lit(2.0))
      m.select(col("l_orderkey"),
          size(col("qty_map")).cast("long").as("n_lines"),
          map_filter(doubled, (_, v) => v >= lit(50.0)).as("heavy"))
        .select(col("l_orderkey"), col("n_lines"),
          explode(col("heavy")).as(Seq("linenumber", "dqty")))
    },
      // f10: the exploded map rows are plain relational rows — count per
      // order joined back, doubled quantity filtered at 50.
      """WITH q AS (SELECT l_orderkey, l_linenumber, sum(l_quantity) AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |n AS (SELECT l_orderkey, count(*) AS n_lines FROM q GROUP BY 1)
        |SELECT q.l_orderkey, n.n_lines, q.l_linenumber AS linenumber,
        |  q.qty * 2.0 AS dqty
        |FROM q JOIN n USING (l_orderkey)
        |WHERE q.qty * 2.0 >= 50.0""".stripMargin
  ))


  /** SQL form of [[graft.operators.RelationalOps.zValue2]]'s bit
    * interleave, generated from the same index loop (shared with
    * stor4's z-order-layout oracle).
    */
  private[graft] def zSql(a: String, b: String, bits: Int): String =
    (0 until bits).map { i =>
      s"(($a >> $i) & 1) * ${1L << (2 * i)} + " +
        s"(($b >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")
}
