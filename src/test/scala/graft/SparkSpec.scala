package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  implicit def sparkImplicit: SparkSession = spark
}

object SparkSpec {
  lazy val session: SparkSession = SparkEntry.localSession(4, 4).getOrCreate()
}
