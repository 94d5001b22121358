package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // same extensions as GraftSession: specs must see the harness's
      // optimizer (plan-shape pins would otherwise test a different engine)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // same local filesystem as GraftSession: every file a spec writes,
      // checkpoints included, goes through the harness's FS classes
      .config(GraftSession.localFs)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
