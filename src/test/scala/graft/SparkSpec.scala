package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, guide-recommended). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session()

  lazy val sf0001: Tables = Tables(spark, "/root/testdata/sf0.001")
  lazy val sf001: Tables = Tables(spark, "/root/testdata/sf0.01")
}

object SparkSpec {
  /** The live spec session, or a new one if none is running. */
  def session(): SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
