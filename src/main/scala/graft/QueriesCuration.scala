package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{RelationalOps, TextOps}
import graft.sources.Tables

/** Corpus-curation queries over `documents` (north-star extension,
  * SURVEY.md §2.10): PII scrubbing, canonical normalization,
  * percentile-based quality gating, per-source token-budget caps — the
  * filter/rewrite stages that sit between raw crawl and training data.
  *
  * Oracle parity notes: the synthetic corpus carries no PII, so x12
  * plants it DETERMINISTICALLY from doc_id (the same md5-free formula on
  * both engines — the m1/m3 synthesize-then-verify trick), which makes
  * the redaction path actually execute against the oracle instead of
  * trivially passing on no-op input. Regexes are restricted to the
  * Java-regex ∩ RE2 common subset (classes + greedy repeats; no
  * lookaround/backrefs). percent_rank is (rank-1)/(n-1) — exact integer
  * ratios in IEEE double on both engines, so the 0.25 gate can't flip on
  * a last-ulp difference the way an interpolated quantile threshold
  * could.
  */
object QueriesCuration {

  /** Deterministic PII planting: ~2/3 of docs get a doc_id-derived email,
    * 1/4 get a phone, some get both, ~1/4 get neither — all four
    * redaction cases exercised. Pure string concat of existing columns.
    */
  private def piiText: Column = concat(
    col("text"),
    when(col("doc_id") % 3 =!= 0,
      concat(lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail"), (col("doc_id") % 7).cast("string"), lit(".org")))
      .otherwise(lit("")),
    when(col("doc_id") % 4 === 0,
      concat(lit(" call +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(lit("")))

  lazy val registry: Seq[Query] = Seq(
    // PII scrub: match counts + typed-placeholder redaction. One narrow
    // codegen'd projection — zero shuffle, linear at any scale.
    Query("x12_pii_redact", (s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        TextOps.matchCount(piiText, TextOps.EmailRe).as("n_emails"),
        TextOps.matchCount(piiText, TextOps.PhoneRe).as("n_phones"),
        TextOps.redactPii(piiText).as("redacted"))
    },
      s"""WITH p AS (SELECT doc_id, $piiSql AS pii FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(pii, '$emailSql')) AS BIGINT)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(pii, '$phoneSql')) AS BIGINT)
         |    AS n_phones,
         |  regexp_replace(regexp_replace(pii, '$emailSql', '<EMAIL>', 'g'),
         |    '$phoneSql', '<PHONE>', 'g') AS redacted
         |FROM p""".stripMargin),

    // Canonical normalization + the dedup key it exists for. Narrow
    // projection, zero shuffle.
    Query("x13_text_normalize", (s, d) => {
      val norm = TextOps.normalizeText(col("text"))
      Tables.documents(s, d).select(
        col("doc_id"),
        norm.as("norm_text"),
        TextOps.md5Prefix60(norm).as("norm_hash"))
    },
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text
        |  FROM documents)
        |SELECT doc_id, norm_text,
        |  CAST(concat('0x', substr(md5(norm_text), 1, 15)) AS BIGINT)
        |    AS norm_hash
        |FROM n""".stripMargin),

    // Quality gate: drop the bottom quartile per language. percent_rank
    // over (lang) partitions — one shuffle on lang, O(1) rank state per
    // partition stream; the gate compares the exact (rank-1)/(n-1)
    // ratio, rounding only the OUTPUT column.
    Query("x14_quality_filter", (s, d) => {
      val q = Tables.documents(s, d).select(
        col("doc_id"), col("lang"),
        round(TextOps.qualityScore(col("text")), 6).as("quality"))
      val w = Window.partitionBy("lang")
        .orderBy(col("quality").asc, col("doc_id").asc)
      q.withColumn("pr", percent_rank().over(w))
        .filter(col("pr") >= 0.25)
        .select(col("doc_id"), col("lang"), col("quality"),
          round(col("pr"), 6).as("pr"))
    },
      s"""WITH t AS (SELECT doc_id, lang, text, $toksSql AS toks
         |           FROM documents),
         |q AS (SELECT doc_id, lang,
         |  round(least(1.0, len(toks) / 100.0) *
         |    (1.0 - CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE length(regexp_replace(text, '[a-z0-9\\s]', '', 'g'))
         |        / CAST(length(text) AS DOUBLE) END), 6) AS quality
         |  FROM t),
         |r AS (SELECT doc_id, lang, quality,
         |  percent_rank() OVER (PARTITION BY lang
         |    ORDER BY quality, doc_id) AS pr
         |  FROM q)
         |SELECT doc_id, lang, quality, round(pr, 6) AS pr
         |FROM r WHERE pr >= 0.25""".stripMargin),

    // Per-source token-budget cap (the "no domain dominates the corpus"
    // rule): admit docs per source in seeded-hash order until the
    // source's cumulative token count reaches the budget — a doc is kept
    // iff it STARTS under budget, so every source gets at least one doc.
    // One sort-shuffle on source (running sum with an explicit ROWS
    // frame), no joins.
    Query("x15_source_cap", (s, d) => {
      val docs = Tables.documents(s, d).select(
        col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.md5Prefix60(
          concat(lit("cap:"), col("doc_id").cast("string"))).as("h"))
      RelationalOps.runningAgg(docs, Seq("source"),
        Seq(col("h").asc, col("doc_id").asc), sum(col("n_tokens")), "cum")
        .filter(col("cum") - col("n_tokens") < 1000)
        .select(col("source"), col("doc_id"), col("n_tokens"),
          (col("cum") - col("n_tokens")).as("cum_before"))
    },
      s"""WITH t AS (SELECT doc_id, source,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |  CAST(concat('0x', substr(md5(concat('cap:',
         |    CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
         |  FROM documents),
         |c AS (SELECT source, doc_id, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum
         |  FROM t)
         |SELECT source, doc_id, n_tokens, cum - n_tokens AS cum_before
         |FROM c WHERE cum - n_tokens < 1000""".stripMargin),

    // Differentially-private aggregate release (Laplace mechanism,
    // ε=1, sensitivity 1) over the (lang, source) count table — the
    // privacy gate a curation pipeline applies before publishing
    // corpus statistics. The mechanism shape is real (inverse-CDF
    // Laplace draw: noise = −b·sign(u−½)·ln(1−2|u−½|)); the uniform u
    // is a SEEDED per-group hash here (the x9/x22 determinism
    // discipline — reproducible across engines/runs, which a secure
    // release would replace with a CSPRNG draw, trading the oracle for
    // privacy). True counts are emitted alongside as the test witness;
    // a production release drops them. One group-sized hash agg + a
    // narrow projection — nothing changes at 100 TB.
    // Max-min fair budget allocation (water-filling) across sources —
    // the corpus-mixing operator behind "give every source its fair
    // share of the token budget": sources whose demand fits under the
    // water level keep it all; the rest split what remains equally
    // (largest-remainder tie-break by sort order). ENTIRELY integer:
    // sort demands ascending, one cumulative window finds the FIRST
    // source whose equal-split would exceed its demand's level
    // (d_i·k_i > remaining_i — the cut), fully-funded sources take
    // d_i, capped sources take ⌊remaining/k⌋ (+1 for the first
    // remainder positions), so Σalloc == min(B, Σd) exactly and both
    // engines agree bit-for-bit. Shape: one doc-level agg down to
    // O(sources) rows; the windows and the 1-row cut broadcast never
    // see document-sized data.
    // Temperature-scaled source mixing (the LLaMA/GPT-style data-mix
    // allocator, completing x26's water-filling): sampling weights
    // w_i = n_i^α with α = 0.5 flatten the source distribution —
    // big sources are down-weighted, small sources up-weighted — and
    // a 100k-token budget is split ∝ w_i with exact largest-remainder
    // rounding so Σalloc == B on the nose. ENTIRELY integer once
    // w_i = floor(sqrt(n_i)) is taken (IEEE sqrt is correctly rounded
    // on both engines, so the floor agrees bit-for-bit): base shares
    // and remainders are (B·w) div/mod ΣW in exact Longs, the top-up
    // ranks by (remainder desc, source) — no FP sum whose partial
    // order could drift cross-engine. `epochs` (alloc/n_i, how many
    // times the mix re-reads each source) is one rounded division.
    // O(sources) rows after one doc-level agg; the ranking window
    // sees only the source catalog, never documents.
    Query("x31_temperature_mix", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val B = 100000L
      val dem = Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(sum(TextOps.tokenCount(col("text"))).as("n_tokens"))
        .withColumn("weight",
          floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
      val tot = dem.agg(sum(col("weight")).as("wsum"))
      val a = dem.crossJoin(broadcast(tot))
        .withColumn("base", expr(s"($B * weight) div wsum"))
        .withColumn("rem", expr(s"($B * weight) % wsum"))
      val sumBase = a.agg(sum(col("base")).as("allocated"))
      val wr = Window.orderBy(col("rem").desc, col("source").asc)
      a.crossJoin(broadcast(sumBase))
        .withColumn("rk", row_number().over(wr).cast("long"))
        .withColumn("alloc", col("base") +
          when(col("rk") <= lit(B) - col("allocated"), 1L)
            .otherwise(0L))
        .select(col("source"), col("n_tokens"), col("weight"),
          col("alloc"),
          round(col("alloc").cast("double") /
            col("n_tokens").cast("double"), 6).as("epochs"))
    },
      // x31: same integer temperature allocation; floor(sqrt()) agrees
      // because IEEE-754 sqrt is correctly rounded on both engines, and
      // everything after it is exact Long div/mod.
      s"""WITH dem AS (SELECT source,
         |    CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |w AS (SELECT source, n_tokens,
         |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
         |      AS weight
         |  FROM dem),
         |t AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM w),
         |a AS (SELECT source, n_tokens, weight,
         |    (100000 * weight) // wsum AS base,
         |    (100000 * weight) % wsum AS rem
         |  FROM w, t),
         |sb AS (SELECT CAST(sum(base) AS BIGINT) AS allocated FROM a),
         |r AS (SELECT a.*, CAST(row_number() OVER (ORDER BY rem DESC,
         |    source) AS BIGINT) AS rk FROM a)
         |SELECT source, n_tokens, weight,
         |  base + (CASE WHEN rk <= 100000 - allocated
         |    THEN 1 ELSE 0 END) AS alloc,
         |  round(CAST(base + (CASE WHEN rk <= 100000 - allocated
         |      THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(n_tokens AS DOUBLE), 6) AS epochs
         |FROM r, sb""".stripMargin),

    Query("x26_fair_share", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val B = 20000L
      val dem = Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(sum(TextOps.tokenCount(col("text"))).as("demand"))
      val w = Window.orderBy(col("demand").asc, col("source").asc)
      val r = dem
        .withColumn("idx", row_number().over(w).cast("long"))
        .withColumn("prefix", sum(col("demand")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val n1 = r.agg(count(lit(1)).as("n"))
      val r2 = r.crossJoin(broadcast(n1))
        .withColumn("k", col("n") - col("idx") + 1)
        .withColumn("remaining",
          lit(B) - (col("prefix") - col("demand")))
        .withColumn("cut_here",
          col("demand") * col("k") > col("remaining"))
      val cut = r2.filter(col("cut_here")).agg(min(col("idx"))
        .as("cut_idx"))
      val cutRow = r2.join(broadcast(cut),
          col("idx") === col("cut_idx"))
        .select(lit(1).as("dummy"), col("cut_idx"),
          col("remaining").as("rem_cut"), col("k").as("k_cut"))
      r2.withColumn("dummy", lit(1))
        .join(broadcast(cutRow), Seq("dummy"), "left")
        .select(col("source"), col("demand"),
          when(col("cut_idx").isNull || col("idx") < col("cut_idx"),
            col("demand"))
            .otherwise(expr("rem_cut div k_cut") +
              when(col("idx") - col("cut_idx") + 1 <=
                col("rem_cut") % col("k_cut"), 1L).otherwise(0L))
            .as("alloc"),
          (col("cut_idx").isNotNull && col("idx") >= col("cut_idx"))
            .as("is_capped"))
    },
      // x26: same integer water-filling; DuckDB's // is the same floor
      // division on the same non-negative integers.
      s"""WITH dem AS (SELECT source,
         |    CAST(sum(len($toksSql)) AS BIGINT) AS demand
         |  FROM documents GROUP BY 1),
         |r AS (SELECT source, demand,
         |    CAST(row_number() OVER (ORDER BY demand, source)
         |      AS BIGINT) AS idx,
         |    CAST(sum(demand) OVER (ORDER BY demand, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS prefix
         |  FROM dem),
         |n1 AS (SELECT count(*) AS n FROM r),
         |r2 AS (SELECT r.*, n1.n, n1.n - idx + 1 AS k,
         |    20000 - (prefix - demand) AS remaining,
         |    demand * (n1.n - idx + 1) > 20000 - (prefix - demand)
         |      AS cut_here
         |  FROM r, n1),
         |cut AS (SELECT min(idx) AS cut_idx FROM r2 WHERE cut_here),
         |cr AS (SELECT cut.cut_idx, r2.remaining AS rem_cut,
         |    r2.k AS k_cut
         |  FROM r2 JOIN cut ON r2.idx = cut.cut_idx)
         |SELECT r2.source, r2.demand,
         |  CASE WHEN cr.cut_idx IS NULL OR r2.idx < cr.cut_idx
         |    THEN r2.demand
         |    ELSE cr.rem_cut // cr.k_cut
         |      + (CASE WHEN r2.idx - cr.cut_idx + 1
         |          <= cr.rem_cut % cr.k_cut THEN 1 ELSE 0 END)
         |    END AS alloc,
         |  cr.cut_idx IS NOT NULL AND r2.idx >= cr.cut_idx
         |    AS is_capped
         |FROM r2 LEFT JOIN cr ON TRUE""".stripMargin),

    Query("x25_dp_release", (s, d) => {
      val g = Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_true"))
      val u = (TextOps.md5Prefix60(concat(lit("dp:"), col("lang"),
        lit("|"), col("source"))).cast("double") + lit(0.5)) /
        lit(1.152921504606846976e18)
      val c = u - lit(0.5)
      g.select(col("lang"), col("source"), col("n_true"),
        round(col("n_true").cast("double") -
          signum(c) * log(lit(1.0) - lit(2.0) * abs(c)), 6)
          .as("n_released"))
    },
      // x25: identical inverse-CDF Laplace draw from the same seeded
      // per-group hash; u can never be exactly 0.5 ((h+0.5)/2^60 with
      // integer h), so sign(u−½) is never 0.
      """WITH g AS (SELECT lang, source, count(*) AS n_true
        |  FROM documents GROUP BY 1, 2),
        |h AS (SELECT lang, source, n_true,
        |  (CAST(CAST(concat('0x', substr(md5(concat('dp:', lang, '|',
        |      source)), 1, 15)) AS BIGINT) AS DOUBLE) + 0.5)
        |    / 1152921504606846976.0 AS u
        |  FROM g)
        |SELECT lang, source, n_true,
        |  round(CAST(n_true AS DOUBLE)
        |    - sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 6)
        |    AS n_released
        |FROM h""".stripMargin
  ))

  private val toksSql =
    """list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')"""

  /** piiText in DuckDB (same doc_id-derived planting formula). */
  private val piiSql =
    """concat(text,
      |  CASE WHEN doc_id % 3 <> 0
      |    THEN concat(' contact user', CAST(doc_id AS VARCHAR), '@mail',
      |      CAST(doc_id % 7 AS VARCHAR), '.org') ELSE '' END,
      |  CASE WHEN doc_id % 4 = 0
      |    THEN concat(' call +1-555-',
      |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) ELSE '' END)"""
      .stripMargin

  private val emailSql = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneSql = "\\+1-555-[0-9]{4}"

}
