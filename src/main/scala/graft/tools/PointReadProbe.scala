package graft.tools

import graft.sources.{Catalog, FactLogIO, PointRead}
import org.apache.spark.sql.functions.col

/** Micro-benchmark for the OLTP point-read paths: the Spark-job read
  * (FactDb.entity over the single-bucket-pruned scan) vs the
  * driver-side parquet read (PointRead.entityDirect). Prints one JSON
  * line with warm medians; run against an SF dir:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.PointReadProbe"
  */
object PointReadProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkEntry.localSession(8, 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val db = graft.core.TestData.eventsDb(spark, sfDir)
    val table = "graft_pointread_probe"
    Catalog.recreate(spark, table) {
      FactLogIO.writeBucketedTable(db, table, buckets = 8)
    }
    val served = db.copy(log = spark.table(table)
      .select(graft.core.FactStore.factSchema.fieldNames.toIndexedSeq.map(col): _*))
    val eids = (0L until 20L).map(_ + graft.core.TestData.UserBase)

    def medianMs(f: Long => Unit): Double = {
      eids.take(3).foreach(f) // warm
      val ts = eids.map { e =>
        val t0 = System.nanoTime(); f(e); (System.nanoTime() - t0) / 1e6
      }.sorted
      ts(ts.size / 2)
    }
    val direct = medianMs(e => PointRead.entityDirect(spark, table, db, e): Unit)
    val job = medianMs(e => served.entity(e).collect(): Unit)
    println(s"""{"metric":"point_read_warm_ms","direct":$direct,"spark_job":$job,"sf":"$sfDir"}""")
    spark.stop()
  }
}
