package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its Spark build over (session, scale
  * dir), the DuckDB SQL that must return the same rows on the same
  * parquet tables, and the shared frames its build reads. Each family
  * object lists its queries in one `registry`; [[SparkEntry]] derives
  * the driver's name-keyed maps from them. SharedFrameSpec checks
  * `reads` against the reads each build actually makes.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    reads: Seq[SharedFrame[_]] = Nil)
