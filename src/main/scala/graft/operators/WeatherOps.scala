package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's transform/aggregate/join surface (SURVEY.md §2.2–2.4),
  * as pure `DataFrame => DataFrame` functions. File:line cites are to
  * `/root/reference/src/weather_report_pipeline/weather_report_data_full_load_pipeline.py`
  * (`FULL`) and `..._inc_load_pipeline.py` (`INC`).
  *
  * All of these are single Catalyst expressions / logical operators — no
  * driver materialization, no UDFs — so they whole-stage-codegen and scale
  * linearly with partition count.
  */
object WeatherOps {

  // ---- P1–P6: unit conversions + projection (FULL:63-83) ------------------

  /** P1: Kelvin → Celsius (`FULL:67`). */
  def kelvinToCelsius(c: Column): Column = c - lit(273.15)

  /** P2: m/s → km/h (`FULL:67-68`). */
  def msToKmh(c: Column): Column = c * lit(3.6)

  /** P1+P2+P3+P4+P5+P6: the reference's `process_spark_data` (FULL:63-83).
    * Derives rounded Celsius/km-h columns, stamps processing time, drops the
    * raw columns, fixes the 10-column order. `clock` is injectable so tests
    * and verified queries stay deterministic (P3 uses non-deterministic
    * `current_timestamp()` at FULL:68-69).
    */
  def processObservations(df: DataFrame,
      clock: Column = current_timestamp()): DataFrame =
    df.withColumn("Temperature", kelvinToCelsius(col("Temperature")))
      .withColumn("WindSpeed", msToKmh(col("WindSpeed")))
      .withColumn("jobdate", clock)
      .withColumn("Temperature_in_Celsius", round(col("Temperature"), 2))
      .withColumn("WindSpeed_km_per_hour", round(col("WindSpeed"), 2))
      .drop("Temperature", "WindSpeed")
      .select("country", "city", "latitude", "longitude", "weatherDate",
        "Temperature_in_Celsius", "WindSpeed_km_per_hour", "Humidity",
        "WeatherDescription", "jobdate")

  // ---- P7: period filter (FULL:101) --------------------------------------

  /** P7 with the SURVEY.md §1.2 cleanup: end bound is EXCLUSIVE of
    * `endExclusive` (the reference compares formatted strings inclusively,
    * silently dropping everything after midnight of the last day).
    */
  def periodFilter(df: DataFrame, tsCol: String, start: Column,
      endExclusive: Column): DataFrame =
    df.filter(col(tsCol) >= start && col(tsCol) < endExclusive)

  // ---- P8–P10: recency gate (INC:85-99) ----------------------------------

  /** P8+P9+P10: keep rows whose `tsCol` is within `seconds` of `now`
    * (reference: age = unix_timestamp(now) - unix_timestamp(jobdate),
    * keep 0 <= age <= 3600, drop the scratch column — INC:86-95; the
    * reference's `from pyspark import F` at INC:5 is a crash-at-import bug,
    * we implement the documented intent).
    *
    * `now` is a Column so callers can pass a deterministic clock (e.g. the
    * batch max timestamp) — required for oracle-verified runs and the right
    * call anyway: at scale, "wall clock on whichever executor" is a
    * correctness bug.
    */
  def recencyFilter(df: DataFrame, tsCol: String, now: Column,
      seconds: Long): DataFrame = {
    val age = unix_timestamp(now) - unix_timestamp(col(tsCol))
    df.withColumn("time_diff", age)
      .filter(col("time_diff") >= 0 && col("time_diff") <= seconds)
      .drop("time_diff")
  }

  // ---- A1: weekly average (FULL:86-94) ------------------------------------

  /** The A1/A2 2dp mean in EXACT integer arithmetic: observations
    * quantize to cents (exact recovery for the pipeline's P4-rounded
    * 2dp values; a raw double quantizes half-up at the cent), the
    * mean rounds half-AWAY-FROM-ZERO at integer cents via magnitude
    * division, and ONE long→double conversion ends the computation.
    * `round(avg(x), 2)` on a double is the same number EXCEPT when
    * the true mean sits exactly on a half-cent, where engines
    * legitimately disagree on rounding the double (DuckDB's
    * scale-multiply-then-nearbyint vs Spark's BigDecimal HALF_UP —
    * the st1/q2 lesson from the sf1/sf0.001 gates); integer division
    * cannot disagree. Magnitude form because Spark's DIV truncates
    * toward zero while DuckDB's // floors — identical only on
    * nonnegative operands.
    */
  private def centsMeanExpr(outCol: String): String =
    "CAST(CASE WHEN __c < 0 THEN -((-__c + __n DIV 2) DIV __n) " +
      s"ELSE (__c + __n DIV 2) DIV __n END AS DOUBLE) / 100.0 AS $outCol"

  /** Group by (keys..., ISO week of `tsCol`), round(avg(valueCol), 2)
    * computed exactly by [[centsMeanExpr]]. Computed grouping expression
    * aliased inside groupBy, exactly like the reference's `weekofyear`
    * key (FULL:90). Plans as partial + final hash aggregate — map-side
    * combine keeps the shuffle proportional to group cardinality, not
    * row count.
    *
    * `__n` counts NON-NULL values (`count(valueCol)`, not `count(*)`) so
    * the mean keeps `avg()`'s null-skipping semantics: NULL cents are
    * skipped by the sum, so counting them in the denominator would
    * silently shrink the mean. The oracle mirror counts the same column.
    */
  def weeklyAvg(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, outCol: String): DataFrame =
    df.groupBy((keys.map(col) :+ weekofyear(col(tsCol)).as("week")): _*)
      .agg(sum(floor(col(valueCol) * 100 + lit(0.5)).cast("long"))
        .as("__c"), count(col(valueCol)).as("__n"))
      .selectExpr((keys :+ "week" :+ centsMeanExpr(outCol)): _*)

  // ---- A2: period average (FULL:97-115) -----------------------------------

  def periodAvg(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, outCol: String, start: Column,
      endExclusive: Column): DataFrame =
    periodFilter(df, tsCol, start, endExclusive)
      .groupBy(keys.map(col): _*)
      .agg(sum(floor(col(valueCol) * 100 + lit(0.5)).cast("long"))
        .as("__c"), count(col(valueCol)).as("__n"))
      .selectExpr((keys :+ centsMeanExpr(outCol)): _*)

  // ---- J1: left-anti incremental dedup (FULL:160-171) ---------------------

  /** New batch ⟕̸ existing on a composite natural key (FULL:163-167): the
    * idempotency mechanism for an append-only sink. Catalyst plans
    * BroadcastHashJoin(LeftAnti) when one side is small; at 100 TB both
    * sides shuffle-partition on the key (SortMergeJoin) and AQE handles
    * skew. Callers with a provably-bounded new batch can pass
    * `broadcast(newBatch)` themselves.
    */
  def antiJoinNewRows(newBatch: DataFrame, existing: DataFrame,
      keys: Seq[String]): DataFrame =
    newBatch.join(existing.select(keys.map(col): _*), keys, "left_anti")
}
