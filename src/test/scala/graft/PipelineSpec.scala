package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{WeatherPipeline, WeatherSinks}
import graft.sinks.ParquetSink

/** E1/E2 end-to-end (SURVEY §3): full load, then re-run — the J1 anti-join
  * must make the fact append idempotent; reports append per run.
  */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def batch = Seq(
    ("US", "Houston", 29.76, -95.36, ts("2023-11-17 00:00:00"), 300.0, 70, 5.0, "clear"),
    ("US", "Houston", 29.76, -95.36, ts("2023-11-17 03:00:00"), 290.0, 55, 2.0, "rain"),
    ("US", "Austin", 30.27, -97.74, ts("2023-11-17 00:00:00"), 295.0, 61, 1.0, "mist")
  ).toDF("country", "city", "latitude", "longitude", "weatherDate",
    "Temperature", "Humidity", "WindSpeed", "WeatherDescription")

  test("full load twice: fact table deduped, reports appended") {
    withTempDir("graft-pipe") { dir =>
      val sinks = WeatherSinks(
        ParquetSink(s"$dir/fact"), ParquetSink(s"$dir/weekly"),
        ParquetSink(s"$dir/humidity"))
      val start = lit("2023-11-17 00:00:00").cast("timestamp")
      val end = lit("2023-11-18 00:00:00").cast("timestamp")
      val clock = lit("2023-11-25 12:00:00").cast("timestamp")

      WeatherPipeline.fullLoad(spark, batch, sinks, start, end, clock)
      assert(sinks.fact.read(spark).count() == 3)
      assert(sinks.weekly.read(spark).count() == 2)
      assert(sinks.humidity.read(spark).count() == 2)

      // second run, same batch: no new facts (J1), reports append again
      WeatherPipeline.fullLoad(spark, batch, sinks, start, end, clock)
      assert(sinks.fact.read(spark).count() == 3)
      assert(sinks.weekly.read(spark).count() == 4)
    }
  }

  test("incremental load applies recency gate before dedup") {
    withTempDir("graft-pipe-inc") { dir =>
      val sinks = WeatherSinks(
        ParquetSink(s"$dir/fact"), ParquetSink(s"$dir/weekly"),
        ParquetSink(s"$dir/humidity"))
      val start = lit("2023-11-17 00:00:00").cast("timestamp")
      val end = lit("2023-11-18 00:00:00").cast("timestamp")
      val clock = lit("2023-11-25 12:00:00").cast("timestamp")

      // batch max ts = 03:00; 1h window keeps only the 03:00 row
      WeatherPipeline.incrementalLoad(spark, batch, sinks, start, end, clock)
      assert(sinks.fact.read(spark).count() == 1)
      assert(sinks.fact.read(spark).head().getAs[java.sql.Timestamp]("weatherDate")
        == ts("2023-11-17 03:00:00"))
    }
  }

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
