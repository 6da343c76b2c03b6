package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The read-only Datalog workload over the bulk-melted test tables: each
  * op is one `SparkEntry.queries` key, consumed in full (every row and column
  * collected to the driver). The first result of every key (the warm-up
  * pass) is written out for the oracle check; every later result of the
  * key must match it. */
object SfReads {
  val Datalog = Seq("dl_join", "dl_agg", "dl_not", "dl_rule_rec", "dl_q5", "dl_asof",
    "dl_asof_bucketed", "dl_historical", "dl_pull", "dl_lookup")

  final class Runner(spark: SparkSession, h: Harness, dataDir: String, dumpDir: String) {
    /** key -> (row count, content signature) of its first result */
    private val first = mutable.Map.empty[String, (Long, String)]

    def op(key: String): OpRecord = {
      h.run("read", key) { op =>
        val df = op.span("compile")(SparkEntry.queries(key)(spark, dataDir))
        op.span("plan")(df.queryExecution.executedPlan)
        (df.schema, op.span("execute")(df.collect()))
      } { case (schema, rows) =>
        val got = (rows.length.toLong, Canon.signature(rows))
        first.get(key) match {
          case Some(expected) => (got._1, expected == got)
          case None =>
            dump(key, schema, rows)
            first(key) = got
            (got._1, true)
        }
      }
    }

    private def dump(key: String, schema: StructType, rows: Array[Row]): Unit =
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dumpDir/$key")

    /** One pass over `keys` in a seeded order. */
    def pass(keys: Seq[String], seed: Long): Unit =
      new Random(seed).shuffle(keys).foreach(op(_))
  }
}
