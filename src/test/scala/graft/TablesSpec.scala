package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.LongType

import graft.queries.Enrich
import graft.sources.Tables

/** S4/S5: dynamic-schema JSON ingestion — the schema must be the UNION over
  * all rows/files, fixing the reference's first-row-only inference
  * (reference clickhouse/helpers.py:166-169 silently drops keys that first
  * appear in later rows). Plus the parquet schema catalog behind
  * `Tables.read`: memoized per file listing and conf state, never stale.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("readJsonUnioned unions ragged schemas across rows and files") {
    withTempDir("ragged_json") { dir =>
      java.nio.file.Files.writeString(dir.resolve("a.json"),
        """{"id": 1, "early_key": "x"}
          |{"id": 2, "late_key": 7}""".stripMargin)
      java.nio.file.Files.writeString(dir.resolve("b.json"),
        """{"id": 3, "file2_only": true, "early_key": "y"}""")
      val df = Tables.readJsonUnioned(spark, dir.toString)
      assert(df.columns.sorted.toSeq ===
        Seq("early_key", "file2_only", "id", "late_key"))
      assert(df.count() === 3)
      // rows lacking a key read as null, not dropped
      assert(df.filter(df("late_key").isNotNull).count() === 1)
    }
  }

  test("pinned schema overrides inference for streaming use") {
    withTempDir("pinned_json") { dir =>
      java.nio.file.Files.writeString(dir.resolve("a.json"),
        """{"id": 1, "extra": "dropped"}""")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType)))
      val df = Tables.readJsonUnioned(spark, dir.toString, Some(schema))
      assert(df.columns.toSeq === Seq("id"))
    }
  }

  /** Spark jobs started while `body` runs, counted after the listener bus
    * has delivered every event (before and after). */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }

  test("a second Tables.read of an unchanged table runs no Spark job") {
    withTempDir("graft_catalog_") { dir =>
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
      // the stock open infers the schema in a job: the count is not vacuous
      assert(jobsDuring(spark.read.parquet(s"$dir/t.parquet").schema) >= 1)
      val first = Tables.read(spark, dir.toString, "t")
      assert(jobsDuring {
        val again = Tables.read(spark, dir.toString, "t")
        assert(again.schema === first.schema)
      } === 0)
      assert(Tables.read(spark, dir.toString, "t").count() === 2)
    }
  }

  test("a rewritten table with an added column is inferred again") {
    withTempDir("graft_catalog_") { dir =>
      Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
      assert(Tables.schema(spark, dir.toString, "t").fieldNames.toSeq === Seq("k", "v"))
      Seq((1L, "a", 2.5)).toDF("k", "v", "w").write.mode("overwrite").parquet(s"$dir/t.parquet")
      assert(Tables.schema(spark, dir.toString, "t").fieldNames.toSeq === Seq("k", "v", "w"))
      assert(Tables.read(spark, dir.toString, "t").as[(Long, String, Double)].collect().toSeq ===
        Seq((1L, "a", 2.5)))
    }
  }

  test("toggling nanosAsLong on a TIMESTAMP(NANOS) file changes the served schema") {
    withTempDir("graft_catalog_") { dir =>
      // Spark cannot write TIMESTAMP(NANOS); the parquet example writer can
      val pq = MessageTypeParser.parseMessageType(
        "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
      val w = ExampleParquetWriter.builder(new Path(s"$dir/n.parquet"))
        .withType(pq).withConf(spark.sparkContext.hadoopConfiguration).build()
      try w.write(new SimpleGroupFactory(pq).newGroup().append("ts", 1700000000123456789L))
      finally w.close()
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val prev = spark.conf.getOption(key)
      def tsType(nanosAsLong: Boolean) = {
        spark.conf.set(key, nanosAsLong.toString)
        val stock = scala.util.Try(spark.read.parquet(s"$dir/n.parquet").schema("ts").dataType)
        val served = scala.util.Try(Tables.schema(spark, dir.toString, "n")("ts").dataType)
        assert(served.toOption === stock.toOption, s"nanosAsLong=$nanosAsLong")
        served
      }
      try {
        assert(tsType(nanosAsLong = true).toOption === Some(LongType))
        // without the legacy conf the file is not read as Long any more
        assert(!tsType(nanosAsLong = false).toOption.contains(LongType))
        assert(tsType(nanosAsLong = true).toOption === Some(LongType))
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("every sf0.01 fixture table's memoized schema equals stock inference") {
    val sf = "/root/testdata/sf0.01"
    Tables.ensureNanosConf(spark)
    val present = Tables.names.filter(t => new java.io.File(s"$sf/$t.parquet").exists)
    assert(present.nonEmpty)
    present.foreach { t =>
      val stock = spark.read.parquet(s"$sf/$t.parquet").schema
      assert(Tables.schema(spark, sf, t) === stock, t)
      assert(Tables.read(spark, sf, t).schema === stock, t)
    }
  }

  test("Enrich.securityEvents appends its 20 columns in one projection") {
    withTempDir("graft_enrich_") { dir =>
      Seq((7L, 1700000000000000L, 3L, "view", 1.5))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.parquet(s"$dir/ev")
      val ev = spark.read.parquet(s"$dir/ev")
      val enriched = Enrich.securityEvents(ev)
      assert(enriched.columns.toSeq === ev.columns.toSeq ++ Seq(
        "source_ip", "destination_ip", "source_ip_packed", "destination_ip_packed",
        "destination_port", "category", "highlevelcategory", "domain_id", "qid",
        "device_type", "source_port", "event_count", "rule_name", "source_geo",
        "dest_geo", "mitre_tactic", "mitre_technique", "action", "policy_name",
        "log_source_id"))
      enriched.queryExecution.analyzed match {
        case Project(_, _: LogicalRelation) =>
        case other => fail(s"expected one Project over the relation:\n$other")
      }
    }
  }
}
