package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Maintenance-sink scaling stress — pins the store-size-independence
  * claims of [[graft.ops.Rollup.refreshAdditive]] and
  * [[graft.streaming.UpsertSink]] (SCALE.md round-10 rows):
  *
  *  - `refreshAdditive` claims O(delta + touched partitions): store
  *    growth in the wild is MORE day-partitions at constant partition
  *    size, so a fixed 2-day delta must cost the same against a 10×
  *    store. Also measured: 10× BIGGER partitions (same day count) —
  *    expected ~linear in the touched-partition size, which is exactly
  *    the claim's boundary, stated rather than hidden.
  *
  *  - `UpsertSink` claims O(batch + touched buckets): the merge reads
  *    only the buckets the batch's keys hash into. A fixed delta aimed
  *    at one bucket must cost the same against a 10× store WHEN nBuckets
  *    scales with the key universe (bucket size constant — the
  *    deployment knob), and ~10× against a 10× store at FIXED nBuckets
  *    (bucket size grew 10×) — the second row documents why nBuckets is
  *    a scale parameter, not a constant.
  *
  * Times are min-of-2 after a warmup apply (the ScaleStress discipline:
  * single-shot times on this shared box swing ±40%). Prints a markdown
  * table; paste into SCALE.md.
  */
object SinkStress {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("FATAL")
    import spark.implicits._

    def tmp(prefix: String): String =
      Files.createTempDirectory(graft.io.Artifacts.root, prefix).toString

    def timeIt(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def minOf2(f: => Unit): Double = { f; math.min(timeIt(f), timeIt(f)) }

    // ---- refreshAdditive -------------------------------------------------
    // store grain: (day, k) -> cnt; delta: 20k rows over 2 days
    def rollStore(days: Int, rowsPerDay: Int): String = {
      val p = tmp("graft_sinkstress_roll_") + "/store"
      spark.range(days.toLong * rowsPerDay).select(
          (col("id") % days).as("day"), (col("id") % 1000).as("k"),
          lit(1L).as("cnt"))
        .groupBy("day", "k").agg(sum("cnt").as("cnt"))
        .write.partitionBy("day").parquet(p)
      p
    }
    val rollDelta = spark.range(20000).select(
      (col("id") % 2).as("day"), (col("id") % 1000).as("k"), lit(1L).as("cnt"))
    def applyRoll(store: String): Unit =
      graft.ops.Rollup.refreshAdditive(spark, store, rollDelta,
        "day", Seq("k"), Seq("cnt"))

    val rollBase = rollStore(100, 20000)   // 2M source rows, 100 partitions
    val roll10d  = rollStore(1000, 20000)  // 10x MORE partitions
    val roll10w  = rollStore(100, 200000)  // 10x BIGGER partitions
    val tRollBase = minOf2(applyRoll(rollBase))
    val tRoll10d  = minOf2(applyRoll(roll10d))
    val tRoll10w  = minOf2(applyRoll(roll10w))

    // ---- UpsertSink ------------------------------------------------------
    // store layout = the sink's own output: (k, ver, v) partitioned by
    // bucket = pmod(k, nBuckets); delta: 20k updates aimed at ONE bucket
    def upsertStore(keys: Long, nBuckets: Int): String = {
      val p = tmp("graft_sinkstress_upsert_") + "/state"
      spark.range(keys).select(col("id").as("k"), lit(0L).as("ver"),
          (col("id") % 97).as("v"),
          pmod(col("id"), lit(nBuckets.toLong)).as("bucket"))
        .write.partitionBy("bucket").parquet(p)
      p
    }
    def applyUpsert(store: String, nBuckets: Int, ver: Long): Unit = {
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[(Long, Long, Long)]
      // keys ≡ 0 (mod nBuckets): the whole delta lands in bucket 0
      ms.addData((0 until 20000).map(i =>
        (i.toLong * nBuckets, ver, ver + 1L)))
      graft.streaming.UpsertSink.availableNow(
        ms.toDF().toDF("k", "ver", "v"), store,
        tmp("graft_sinkstress_ckpt_"), "k", Seq("ver"), nBuckets)
      ()
    }
    // min-of-2 with distinct versions (each apply is a fresh stream+ckpt;
    // re-applying a higher version is a normal CDC progression)
    var verSeq = 0L
    def minOf2Upsert(store: String, nBuckets: Int): Double = {
      def once(): Double = { verSeq += 1; val v = verSeq
        timeIt(applyUpsert(store, nBuckets, v)) }
      once(); math.min(once(), once())
    }
    val upBase    = upsertStore(1000000L, 64)   // 1M keys, 64 buckets
    val upScaled  = upsertStore(10000000L, 640) // 10x keys, 10x buckets
    val upFixed   = upsertStore(10000000L, 64)  // 10x keys, FIXED buckets
    val tUpBase   = minOf2Upsert(upBase, 64)
    val tUpScaled = minOf2Upsert(upScaled, 640)
    val tUpFixed  = minOf2Upsert(upFixed, 64)

    println("| op | store | config | fixed delta | sec |")
    println("|---|---|---|---|---|")
    println(f"| refreshAdditive | 100 days x 20k | base | 20k rows / 2 days | $tRollBase%.2f |")
    println(f"| refreshAdditive | 1000 days x 20k (10x partitions) | flat expected | 20k rows / 2 days | $tRoll10d%.2f |")
    println(f"| refreshAdditive | 100 days x 200k (10x partition size) | linear-in-touched expected | 20k rows / 2 days | $tRoll10w%.2f |")
    println(f"| UpsertSink | 1M keys, 64 buckets | base | 20k keys / 1 bucket | $tUpBase%.2f |")
    println(f"| UpsertSink | 10M keys, 640 buckets | scaled buckets: flat expected | 20k keys / 1 bucket | $tUpScaled%.2f |")
    println(f"| UpsertSink | 10M keys, 64 buckets | fixed buckets: ~10x bucket expected | 20k keys / 1 bucket | $tUpFixed%.2f |")
    spark.stop()
  }
}
