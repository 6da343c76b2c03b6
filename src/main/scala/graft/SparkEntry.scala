package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{DatalogQueries, GraphQueries, PipelineQueries, RelationalQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. TPC-H Q5 expressed entirely in the datalog engine:
    * deductive rule + ref-graph traversal + predicates + binding fns +
    * exact aggregation, compiled to one Catalyst plan. */
  def entry(spark: SparkSession): DataFrame =
    DatalogQueries.queries("dl_q5")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    DatalogQueries.queries ++ RelationalQueries.queries ++
      PipelineQueries.queries ++ GraphQueries.queries

  /** The local session builder every graft entry point starts from:
    * `local[cpus]`, `shufflePartitions` shuffle partitions, UTC session
    * time zone (the NTZ branch of `TestData.tsNs` depends on it), no UI,
    * parquet INT64 TIMESTAMP(NANOS) read as long nanos (`TestData`
    * converts), and prunable bucketed scans kept bucketed: the planner
    * otherwise un-buckets a scan with no distribution-needing parent
    * and loses the single-bucket prune of EAVT point reads
    * (`FactDb.entity`). Callers add their own `.config` calls before
    * `getOrCreate()`. */
  def localSession(cpus: Int, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    DatalogQueries.oracle ++ RelationalQueries.oracle ++
      PipelineQueries.oracle ++ GraphQueries.oracle
}
