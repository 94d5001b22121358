package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.Rollup
import graft.queries.Enrich
import graft.sources.Tables

/** SCALE evidence for [[Rollup.refreshStatsLadder]]: a FIXED ~1-month
  * delta folded into ladders of growing span. The claim is O(delta +
  * touched partitions) — refresh time must stay flat while the store
  * span (and so the hourly rung's row/partition count) grows. Spans are
  * built by time-shifting the sf fixture (5 months per copy, like the
  * SCALE.md monthly-dashboard rungs); the delta is the final month
  * re-shifted past the end so it always touches ~31 fresh day-partitions.
  */
object LadderStress {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spans = if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
                else Seq(6, 24, 96)
    val spark = graft.GraftSession.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val raw0 = Enrich.securityEvents(Tables.events(spark, dir))
    val kmvIn = graft.functions.Hashing.md5Long(col("user_id").cast("string"))
    for (span <- spans) {
      val shifted = (0 until span).map(i =>
        raw0.withColumn("ts", expr(s"timestampadd(MONTH, ${5 * i}, ts)")))
      val store = shifted.reduce(_ union _)
      val base = java.nio.file.Files
        .createTempDirectory(graft.io.Artifacts.root, s"graft_ladderstress_${span}_").toString
      val L = Rollup.StatsLadder(base, "ts", "value", Seq("event_type"),
        kmvOf = Some((kmvIn, 32)))
      val t0 = System.nanoTime()
      Rollup.buildStatsLadder(spark, store, L)
      val tBuild = (System.nanoTime() - t0) / 1e9
      // fixed delta: one month of rows landing just past the store's end
      val delta = raw0.filter(month(col("ts")) === 1)
        .withColumn("ts", expr(s"timestampadd(MONTH, ${5 * span}, ts)"))
      // min-of-2: single-shot timings swing ±40% on this box
      val times = (1 to 2).map { _ =>
        val t1 = System.nanoTime()
        Rollup.refreshStatsLadder(spark, delta, L)
        (System.nanoTime() - t1) / 1e9
      }
      val nH = spark.read.parquet(L.hourlyPath).count()
      println(f"DIAG span=${span * 5}%d-months hourlyRows=$nH%d " +
        f"build=$tBuild%.1fs refreshFixedDelta=${times.min}%.1fs")
    }
    spark.stop()
  }
}
