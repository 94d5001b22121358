package graft

import org.apache.spark.sql.SparkSession
import graft.ops.CacheRegistry

/** Ad-hoc profiling harness: times named queries (all when no names given)
  * and prints the formatted physical plan, so plan regressions are visible
  * without waiting for the driver's bench round.
  * Usage: runMain graft.Profile <sfDir> [query ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = GraftSession.builder(cpus)
    sys.env.get("PROFILE_HUGE_METHOD").foreach(v =>
      b.config("spark.sql.codegen.hugeMethodLimit", v))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val n = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[profile] $name%-28s $sec%8.2fs rows=$n")
      if (sys.env.contains("PROFILE_EXPLAIN")) df.explain("formatted")
      // POST-EXECUTION plan: AQE's final stages (join strategy switches,
      // coalesced reads, reused exchanges/stages) only exist after the
      // action — explain() before execution shows isFinalPlan=false trees
      if (sys.env.contains("PROFILE_EXECUTED")) {
        // drive THIS queryExecution's plan (a .count() would execute a
        // separate aggregate query and leave this AQE tree un-finalized)
        val qe = df.queryExecution
        qe.executedPlan.execute().count()
        println(qe.executedPlan.toString)
      }
      // operators persist() shared subplans; drop them so later queries in
      // this session are not measured under accumulated storage pressure
      CacheRegistry.drain()
      spark.catalog.clearCache()
      // ContextCleaner is weak-ref driven: on a large heap GC may never run
      // between queries, so broadcasts/shuffle files from 40+ queries pile
      // up and progressively poison the session. Force the cycle.
      System.gc()
    }
    spark.stop()
  }
}
