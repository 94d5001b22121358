package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamingRollup

/** T2/T3 streaming semantics: watermarked hourly tumbling rollup; late data
  * beyond the watermark is DROPPED (documented delta vs the reference's
  * accept-forever additive merge — SURVEY §2.7 T3).
  */
class StreamingRollupSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("hourly windows close when the watermark passes; late rows dropped") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Long)]
    val rollup = StreamingRollup.hourly(
      input.toDF().toDF("ts", "dim", "cnt"), "ts", "cnt", Seq("dim"),
      lateness = "1 hour", sumColName = "sv")
    val q = rollup.writeStream
      .format("memory").queryName("rollup_mem").outputMode("append").start()
    try {
      input.addData(
        (ts("2024-07-24 10:05:00"), "a", 1L),
        (ts("2024-07-24 10:45:00"), "a", 2L),
        (ts("2024-07-24 10:50:00"), "b", 4L),
        (ts("2024-07-24 11:10:00"), "a", 8L))
      q.processAllAvailable()
      // advance event time so the watermark (max ts - 1h) passes hour 10/11
      input.addData((ts("2024-07-24 13:30:00"), "a", 0L))
      q.processAllAvailable()
      input.addData((ts("2024-07-24 14:30:00"), "a", 0L))
      q.processAllAvailable()

      def table() = spark.table("rollup_mem")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
        .toSet
      val closed = table()
      assert(closed.contains(("2024-07-24 10:00:00.0", "a", 3L)))
      assert(closed.contains(("2024-07-24 10:00:00.0", "b", 4L)))
      assert(closed.contains(("2024-07-24 11:00:00.0", "a", 8L)))

      // a row 4.5h late, far behind the watermark: dropped, sums unchanged
      input.addData((ts("2024-07-24 10:07:00"), "a", 100L))
      q.processAllAvailable()
      input.addData((ts("2024-07-24 15:30:00"), "a", 0L))
      q.processAllAvailable()
      assert(table().count(_._1 == "2024-07-24 10:00:00.0") === 2)
      assert(table().contains(("2024-07-24 10:00:00.0", "a", 3L)))
    } finally q.stop()
  }

  test("kafka sink payload: group-key partition affinity, null-safe keys") {
    val rows = Seq(
      (ts("2024-07-24 10:00:00"), "a", 1L),
      (ts("2024-07-24 10:00:00"), "a", 2L),   // same group, new measure
      (ts("2024-07-24 10:00:00"), null, 3L),  // null dim
      (ts("2024-07-24 11:00:00"), "a", 4L))
      .toDF("hour", "dim", "sv")
    val out = StreamingRollup.kafkaPayload(rows, Seq("hour", "dim"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.forall(_._1.length === 64)) // sha256 hex
    // successive updates of one (hour, dim) group share a key => same
    // Kafka partition; measure changes must NOT change the key
    assert(out(0)._1 === out(1)._1)
    assert(out(0)._1 !== out(3)._1)
    // value carries the whole row as field-named JSON
    assert(out(0)._2.contains(""""sv":1"""))
    assert(out(1)._2.contains(""""sv":2"""))
    // null dim is dropped from the key struct's JSON but still yields a
    // stable, distinct key
    assert(out(2)._1 !== out(0)._1)
  }

  test("streaming rollup matches batch rollup on the same closed windows") {
    implicit val ctx = spark.sqlContext
    val rows = Seq(
      (ts("2024-07-24 10:05:00"), "a", 1L),
      (ts("2024-07-24 10:45:00"), "b", 2L),
      (ts("2024-07-24 11:20:00"), "a", 4L))
    val input = MemoryStream[(Timestamp, String, Long)]
    val rollup = StreamingRollup.hourly(
      input.toDF().toDF("ts", "dim", "cnt"), "ts", "cnt", Seq("dim"),
      lateness = "30 minutes", sumColName = "sv")
    val q = rollup.writeStream
      .format("memory").queryName("rollup_parity").outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData((ts("2024-07-24 18:00:00"), "z", 0L))
      q.processAllAvailable()
      input.addData((ts("2024-07-24 19:00:00"), "z", 0L))
      q.processAllAvailable()
      val streamed = spark.table("rollup_parity")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
        .filter(_._1.startsWith("2024-07-24 1"))
        .toSet
      val batch = graft.ops.Rollup.hourly(
          rows.toDF("ts", "dim", "cnt"), "ts", "cnt", Seq("dim"),
          hourColName = "hour", sumColName = "sv")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
        .toSet
      assert(batch.subsetOf(streamed))
    } finally q.stop()
  }

  test("T5 backpressure: maxFilesPerTrigger bounds every micro-batch's input") {
    import org.apache.spark.sql.types._
    withTempDir("bp_") { root =>
      val in = java.nio.file.Files.createDirectory(root.resolve("in"))
      val out = java.nio.file.Files.createDirectory(root.resolve("out"))
      val ckpt = java.nio.file.Files.createDirectory(root.resolve("ckpt"))
      // a 5-file backlog, 3 rows each — a restart-into-backlog shape
      for (f <- 0 until 5) {
        java.nio.file.Files.writeString(in.resolve(s"drop$f.json"),
          (0 until 3).map(i => s"""{"k": "f$f-$i", "v": ${f * 10 + i}}""")
            .mkString("\n"))
      }
      val schema = StructType(Seq(
        StructField("k", StringType), StructField("v", LongType)))
      val src = graft.streaming.StreamingRollup.jsonFileSource(
        spark, in.toString, schema, maxFilesPerTrigger = Some(1))
      val q = src.writeStream
        .format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      // the backlog drained as >= 5 bounded batches, never one unbounded one
      assert(batches.length >= 5, batches.mkString(","))
      assert(batches.forall(_ <= 3), batches.mkString(","))
      assert(spark.read.parquet(out.toString).count() === 15)
    }
  }
}
