package graft

import org.apache.spark.sql.types._
import graft.streaming.StreamingRollup

/** S1/S3/S5 streaming-source analog: file-drop JSON with a pinned schema,
  * drained via AvailableNow (T1 batch-parity cadence) through the rollup.
  */
class StreamingSourceSpec extends SparkSpec {

  test("json file source -> hourly rollup -> parquet sink, exactly-once drain") {
    withTempDir("stream_") { root =>
      val in = java.nio.file.Files.createDirectory(root.resolve("in"))
      val out = java.nio.file.Files.createDirectory(root.resolve("out"))
      val ckpt = java.nio.file.Files.createDirectory(root.resolve("ckpt"))
      java.nio.file.Files.writeString(in.resolve("batch1.json"),
        """{"ts": "2024-07-24 10:05:00", "dim": "a", "cnt": 1}
          |{"ts": "2024-07-24 10:45:00", "dim": "a", "cnt": 2}
          |{"ts": "2024-07-24 11:10:00", "dim": "b", "cnt": 4}""".stripMargin)
      val schema = StructType(Seq(
        StructField("ts", TimestampType),
        StructField("dim", StringType),
        StructField("cnt", LongType)))
      val src = StreamingRollup.jsonFileSource(spark, in.toString, schema)
      val rollup = StreamingRollup.hourly(src, "ts", "cnt", Seq("dim"),
        lateness = "0 seconds", sumColName = "sv")
      val q = StreamingRollup.startParquetSink(rollup, out.toString, ckpt.toString)
      q.awaitTermination(60000) // AvailableNow terminates after draining
      // append mode with watermark 0: windows <= max event time emit on the
      // final empty batch; hour 11 stays open (nothing passed its end)
      val got = spark.read.parquet(out.toString)
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
        .toSet
      assert(got === Set(("2024-07-24 10:00:00.0", "a", 3L)))

      // restart over the same checkpoint: already-committed input is NOT
      // reprocessed (exactly-once vs the reference's replay double-count)
      val q2 = StreamingRollup.startParquetSink(
        StreamingRollup.hourly(
          StreamingRollup.jsonFileSource(spark, in.toString, schema),
          "ts", "cnt", Seq("dim"), lateness = "0 seconds", sumColName = "sv"),
        out.toString, ckpt.toString)
      q2.awaitTermination(60000)
      assert(spark.read.parquet(out.toString).count() === 1)
    }
  }
}
