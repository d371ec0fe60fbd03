package graft


/** Hand-computed pins for the ml family: closed-form OLS and the ridge
  * path over exact integer moments. Fixtures are built so the solve is
  * EXACT in double arithmetic (integral solutions, small determinants),
  * making the expected values arithmetic identities, not tolerances.
  */
class MlSpec extends SparkTestBase {

  /** lineitem fixture in the quantized units ml1 regresses on:
    * x1 = floor(quantity), x2 = floor(discount·100),
    * y = floor(extendedprice/10).
    */
  private def writeLineitem(
      rows: Seq[(String, Long, Long, Long)]): String = {
    import spark.implicits._
    val li = rows.toDF("l_returnflag", "x1", "x2", "yq")
      .selectExpr("l_returnflag",
        "CAST(x1 AS DOUBLE) AS l_quantity",
        "CAST(x2 AS DOUBLE) / 100.0 AS l_discount",
        "CAST(yq AS DOUBLE) * 10.0 AS l_extendedprice")
    val dir = sharedTempDir("graft_ml").toString
    li.coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  // group A: y = 2 + 3·x1 − x2 exactly (5 non-collinear points);
  // group R: constant y = 7 with varying x1/x2 — betas (7, 0, 0) and
  // the SST = 0 guard must report R² = 1, not NaN
  private lazy val dir = writeLineitem(Seq(
    ("A", 1L, 0L, 5L), ("A", 2L, 0L, 8L), ("A", 1L, 5L, 0L),
    ("A", 3L, 5L, 6L), ("A", 4L, 2L, 12L),
    ("R", 1L, 0L, 7L), ("R", 2L, 5L, 7L), ("R", 3L, 2L, 7L)))

  test("ml1_ols: exact fit recovers integral betas and R²=1") {
    val got = SparkEntry.queries("ml1_ols")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(got.keySet == Set("A", "R"))
    assert(got("A") == ((5L, 2.0, 3.0, -1.0, 1.0)), s"got ${got("A")}")
    // constant-y group: intercept-only fit, zero slopes, guarded R²
    assert(got("R") == ((3L, 7.0, 0.0, 0.0, 1.0)), s"got ${got("R")}")
  }

  test("singular groups take the intercept-only fallback (ADVICE r14)") {
    // n = 1 (S) and exactly-collinear x2 = 2·x1 (C): both have det
    // exactly 0.0 in double arithmetic (all moment products are small
    // integers, exactly representable), so the guard must fire and
    // emit b0 = ȳ, b1 = b2 = 0 — never ±Inf/NaN. These are the cases
    // the det <> 0.0 guard actually covers; near-singular (tiny
    // nonzero det) groups deliberately take the Cramer branch.
    val dg = writeLineitem(Seq(
      ("S", 4L, 1L, 9L),
      ("C", 1L, 2L, 3L), ("C", 2L, 4L, 5L), ("C", 3L, 6L, 10L)))
    val got = SparkEntry.queries("ml1_ols")(spark, dg)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got("S") == ((1L, 9.0, 0.0, 0.0)), s"got ${got("S")}")
    assert(got("C") == ((3L, 6.0, 0.0, 0.0)), s"got ${got("C")}")
  }

  test("ml2_ridge_path: λ=0 arm is OLS; zero-slope group is λ-invariant") {
    val rows = SparkEntry.queries("ml2_ridge_path")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(rows.size == 8, s"2 groups × 4 λ, got ${rows.size}")
    assert(rows(("A", 0.0)) == ((2.0, 3.0, -1.0)))
    // b1 = b2 = 0 solves the ridge equations at EVERY λ when y is
    // constant — the penalty term vanishes on the zero slopes
    for (lam <- Seq(0.0, 0.1, 1.0, 10.0))
      assert(rows(("R", lam)) == ((7.0, 0.0, 0.0)),
        s"λ=$lam got ${rows(("R", lam))}")
    // penalized arms stay finite and shrink the fit away from exact
    val (_, b1p, _) = rows(("A", 10.0))
    assert(b1p != 3.0 && !b1p.isNaN && !b1p.isInfinite,
      s"λ=10 should perturb beta1, got $b1p")
  }
}
