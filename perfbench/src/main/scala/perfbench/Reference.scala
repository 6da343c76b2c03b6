package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit, sum}

/** The yardstick of the gated read figures: a plain Spark SQL query with
  * no graft code in it, a join and an aggregate over two of the
  * benchmark's parquet tables, planned and run in a session of its own.
  * It runs after every measured read; a read's cost is then stated in
  * units of this query's latency on the same JVM at the same time, so a
  * shared host that runs slower for a minute (other tenants, CPU steal)
  * slows both and the ratio stays put. */
object Reference {
  /** The query's latency on a quiet host: a 4-core, 15 GB virtual machine
    * measured 240–280 ms. Set-up time is scaled to such a host (see
    * `setup_s` in the README); any fixed value would do, as long as it
    * stays the same between the runs that are compared. */
  val NominalMs = 250.0

  def apply(spark: SparkSession, dataDir: String): () => Unit = {
    val plain = spark.newSession()
    () => {
      val c = plain.read.parquet(s"$dataDir/customer.parquet")
      val n = plain.read.parquet(s"$dataDir/nation.parquet")
      val rows = c.join(n, c("c_nationkey") === n("n_nationkey")).groupBy("n_regionkey")
        .agg(count(lit(1)), sum("c_acctbal")).collect()
      require(rows.length == 5, s"reference query returned ${rows.length} rows, not 5")
    }
  }
}
