package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Schemas

/** Sources (SURVEY.md §2.1, S1–S5).
  *
  * The reference ingests by driver-side HTTP fetch + Python flatten + pandas
  * (`weather_report_data_full_load_pipeline.py:8-58`) — a pattern that dies at
  * scale because the whole dataset is materialized on the driver. Here every
  * source lands directly in a distributed DataFrame: parquet scans get column
  * pruning + predicate pushdown for free; the JSON path parses with
  * `from_json` + `explode` on executors.
  */
trait Source {
  def load(spark: SparkSession): DataFrame
}

/** S5-analog / test-table scan: one parquet per table under a scale-factor
  * dir (TESTDATA.md). At 100 TB these become partitioned directories; the
  * API is unchanged.
  */
final case class ParquetTableSource(dir: String, table: String) extends Source {
  def load(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")
}

/** Schema-DECLARED scan over the other lake landing formats (csv,
  * json-lines, orc) — the S5 trait generalized beyond parquet. The
  * schema is required, never inferred: inference costs an extra full
  * read of the data and guesses types from whatever rows it samples
  * (a 100 TB landing dir cannot be read twice, and a column that looks
  * integral in the sample may not be). csv/json get no pushdown —
  * they're landing formats; convert to parquet before querying
  * repeatedly (orc prunes + pushes down like parquet).
  */
final case class FormatTableSource(format: String, path: String,
    schema: org.apache.spark.sql.types.StructType,
    options: Map[String, String] = Map.empty) extends Source {
  require(Set("csv", "json", "orc").contains(format),
    s"unsupported landing format: $format")
  // csv: quoted newlines-in-values are legal CSV and Spark's writer
  // emits them, but the default reader splits records on raw newlines —
  // multiLine makes the round trip lossless. The cost is that a
  // multiLine csv FILE is not splittable (parallelism = number of
  // files, not blocks); acceptable for a landing format, another
  // reason querying happens on parquet.
  private def defaults: Map[String, String] = format match {
    case "csv" => Map("multiLine" -> "true")
    case _ => Map.empty
  }
  def load(spark: SparkSession): DataFrame =
    spark.read.format(format).options(defaults ++ options)
      .schema(schema).load(path)
}

/** Convenience accessors for the driver-provided tables.
  *
  * Resolution is MEMOIZED per (session, dir, table) — the catalog
  * discipline: `spark.read.parquet` re-lists the path and re-infers the
  * schema from footers on EVERY call, a driver-side filesystem round
  * trip that a suite invoking hundreds of queries pays hundreds of
  * times (measured: a visible slice of the ~0.25 s floor-class query
  * wall at sf0.1). A real deployment resolves a table once in its
  * catalog; the memo ([[graft.SessionMemo]]) is that resolution.
  * DataFrames are immutable, so sharing the object is safe.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.SessionMemo(spark, dir, "table." + name)(
      ParquetTableSource(dir, name).load(spark))

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which vanilla Spark rejects
    * ([PARQUET_TYPE_ILLEGAL]). We read nanos as long (runtime-settable
    * legacy conf, so this works under any driver-built session) and floor
    * to micros — lossless for this data (no sub-µs components), and the
    * same truncation DuckDB applies reading the file as TIMESTAMP.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // The conf is consulted only during eager schema inference inside
    // `spark.read.parquet(...)` (probe-verified: a frame inferred under
    // the flag keeps executing correctly after the flag is restored), so
    // save/set/restore leaves no session-visible side effect.
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "true")
    val df =
      try apply(s, d, "events")
      finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}

/** S1+S2+S3+S4 replacement: parse OpenWeatherMap-shaped forecast JSON into
  * the flat observation frame, entirely on executors.
  *
  * Reference behavior being reproduced (file:line cites are to
  * `/root/reference/src/weather_report_pipeline/weather_report_data_full_load_pipeline.py`):
  *  - explode `data['list']` (py:24)
  *  - `dt` epoch seconds → timestamp (py:25-26; reference formats a string,
  *    we keep TimestampType — SURVEY.md §1.2 cleanup)
  *  - `main.temp`, `main.humidity`, `wind.speed` (py:27-29)
  *  - `weather[0].description` (py:30 — unguarded index; we null-safe it
  *    with `element_at`, coalesced to "" like the city defaults)
  *  - city metadata with empty-string/null defaults (py:40-45) replicated
  *    to every row (pandas broadcast → here just columns of the same row)
  */
object ForecastJsonSource {

  /** Parse a DataFrame with a single string column `payload` (one JSON
    * document per row — e.g. one per city fetch) into flat observations.
    */
  def parse(payloads: DataFrame): DataFrame = {
    val parsed = payloads
      .select(from_json(col("payload"), Schemas.forecastJson).as("j"))
    parsed
      .select(
        col("j.city").as("city_meta"),
        explode(col("j.list")).as("e"))
      .select(
        coalesce(col("city_meta.country"), lit("")).as("country"),
        coalesce(col("city_meta.name"), lit("")).as("city"),
        col("city_meta.coord.lat").as("latitude"),
        col("city_meta.coord.lon").as("longitude"),
        to_timestamp(from_unixtime(col("e.dt"))).as("weatherDate"),
        col("e.main.temp").as("Temperature"),
        col("e.main.humidity").cast("int").as("Humidity"),
        col("e.wind.speed").as("WindSpeed"),
        coalesce(try_element_at(col("e.weather"), lit(1))
          .getField("description"), lit("")).as("WeatherDescription"))
  }

  /** Test/driver entry: read files of raw JSON text (one doc per file/line). */
  def load(spark: SparkSession, path: String): DataFrame =
    parse(spark.read.text(path).withColumnRenamed("value", "payload"))

  /** The reference's E1 source wiring end-to-end: fetch each url on
    * executors ([[HttpJsonSource]]), parse to flat observations — ready
    * for [[graft.pipeline.WeatherPipeline.fullLoad]].
    */
  def fromUrls(spark: SparkSession, urls: Seq[String]): DataFrame =
    parse(HttpJsonSource(urls).load(spark))
}
