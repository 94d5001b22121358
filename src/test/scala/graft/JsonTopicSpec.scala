package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.sources.Tables
import graft.streaming.{JsonTopic, Landing}

/** The broker-free JSON topic every streaming-parity drain reads: a
  * written frame drains back unchanged, an unordered topic replays as four
  * batches, ordered appends replay one per batch in append order, and a
  * frame whose columns differ from the topic's fails at the write. Plus
  * `Tables.eventsStream`, the streaming twin of `Tables.events`. */
class JsonTopicSpec extends SparkSpec {
  import spark.implicits._

  /** Drain `stream` with one AvailableNow run under `dir`; returns the
    * landed rows (tagged with `batch_id`) and the input-batch count. */
  private def drain(stream: DataFrame, dir: java.nio.file.Path): (DataFrame, Int) = {
    val n = Landing.availableNow(stream, s"$dir/out", s"$dir/ckpt",
      OutputMode.Append, withBatchId = true)
    (spark.read.parquet(s"$dir/out"), n)
  }

  test("a frame with a float array and a null field drains back unchanged") {
    withTempDir("graft_topic_") { dir =>
      val frame = Seq(
        (1L, Option("a"), Option(Seq(1.5f, -2.25f, 3.0e-7f)), 0.1),
        (2L, None, Option(Seq.empty[Float]), -7.0),
        (3L, Option("c"), None, Double.MaxValue))
        .toDF("k", "s", "vec", "x")
      val (out, _) = drain(JsonTopic(s"$dir/src").write(frame).stream(), dir)
      val back = out.drop("batch_id")
      // types as written; decoded fields are nullable, so compare without it
      assert(back.schema.map(f => (f.name, f.dataType.simpleString)) ===
        frame.schema.map(f => (f.name, f.dataType.simpleString)))
      assert(back.exceptAll(frame).isEmpty)
      assert(frame.exceptAll(back).isEmpty)
    }
  }

  test("an unordered topic drains in four input batches") {
    withTempDir("graft_topic_") { dir =>
      val frame = spark.range(1000).select(col("id").as("k"), (col("id") % 7).as("v"))
      val (out, n) = drain(JsonTopic(s"$dir/src").write(frame).stream(), dir)
      assert(n === 4)
      assert(out.select("k").distinct().count() === 1000)
    }
  }

  test("ordered appends arrive one file per batch, in append order") {
    withTempDir("graft_topic_") { dir =>
      val topic = JsonTopic(s"$dir/src")
      Seq(3L, 1L, 2L).foreach { tag =>
        topic.append(spark.range(50).select(lit(tag).as("tag"), col("id")))
      }
      val (out, n) = drain(topic.stream(), dir)
      assert(n === 3)
      val byBatch = out.groupBy("batch_id").agg(collect_set(col("tag")).as("tags"),
        count(lit(1)).as("n")).orderBy("batch_id").as[(Long, Seq[Long], Long)].collect()
      assert(byBatch.map(b => (b._2, b._3)).toSeq ===
        Seq((Seq(3L), 50L), (Seq(1L), 50L), (Seq(2L), 50L)))
    }
  }

  test("a frame whose column types differ from the topic's throws") {
    withTempDir("graft_topic_") { dir =>
      val topic = JsonTopic(s"$dir/src")
      Seq((1L, "a")).toDF("user_id", "event_type").write.parquet(s"$dir/first")
      topic.append(spark.read.parquet(s"$dir/first"))
      // a sentinel built from non-null literals matches: nullability is not part of the shape
      topic.append(spark.createDataFrame(Seq((-1L, "x"))).toDF("user_id", "event_type"))
      val e = intercept[IllegalArgumentException](
        topic.append(Seq((-1, "x")).toDF("user_id", "event_type")))
      assert(e.getMessage.contains("user_id:int"), e.getMessage)
      intercept[IllegalArgumentException](
        topic.write(Seq((-1L, "x")).toDF("user_id", "type")))
    }
  }

  test("Tables.eventsStream at sf0.01 drains to the rows of Tables.events") {
    withTempDir("graft_topic_") { dir =>
      val sf = "/root/testdata/sf0.01"
      val (out, _) = drain(Tables.eventsStream(spark, sf), dir)
      val streamed = out.drop("batch_id")
      val batch = Tables.events(spark, sf)
      assert(streamed.schema === batch.schema)
      assert(streamed.exceptAll(batch).isEmpty)
      assert(batch.exceptAll(streamed).isEmpty)
      assert(batch.count() > 0)
    }
  }
}
