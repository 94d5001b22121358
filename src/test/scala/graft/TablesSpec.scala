package graft

import java.nio.file.{Files, Paths, Path => NioPath}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.LongType

import graft.io.Artifacts
import graft.queries.{Enrich, EventQueries, ViewQueries}
import graft.sources.Tables

/** S4/S5: dynamic-schema JSON ingestion — the schema must be the UNION over
  * all rows/files, fixing the reference's first-row-only inference
  * (reference clickhouse/helpers.py:166-169 silently drops keys that first
  * appear in later rows). Plus the parquet schema catalog behind
  * `Tables.read`: memoized per file listing and conf state, never stale.
  * Plus the security-event landing every `events` query reads
  * (`Enrich.landed`): equal to the derivation, landed once per `events`
  * listing, shared by all callers.
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

  private val sf = "/root/testdata/sf0.01"

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

  private def copyEvents(to: NioPath): Unit =
    Files.copy(Paths.get(s"$sf/events.parquet"), to.resolve("events.parquet"))

  private def securityLandings: Set[NioPath] = {
    val ls = Files.list(Artifacts.root)
    try ls.iterator.asScala.filter(_.getFileName.toString.startsWith("graft_security_events_")).toSet
    finally ls.close()
  }

  test("the landed security events equal the derivation at sf0.01") {
    Tables.ensureNanosConf(spark)
    val landed = Enrich.landed(spark, sf)
    val derived = Enrich.securityEvents(Tables.events(spark, sf))
    assert(landed.schema.map(f => (f.name, f.dataType)) ===
      derived.schema.map(f => (f.name, f.dataType)))
    assert(landed.exceptAll(derived).isEmpty)
    assert(derived.exceptAll(landed).isEmpty)
    assert(landed.count() > 0)
  }

  test("a second security-event query build reads the same landing and runs no Spark job") {
    val q = EventQueries.queries("q_p7_timerange")
    q(spark, sf)
    val path = Enrich.landedPath(spark, sf)
    var again: DataFrame = null
    assert(jobsDuring { again = q(spark, sf) } === 0)
    assert(Enrich.landedPath(spark, sf) === path)
    assert(again.inputFiles.nonEmpty)
    assert(again.inputFiles.forall(_.contains(path)), again.inputFiles.toSeq)
  }

  test("a rewritten events.parquet is landed again into a new directory") {
    withTempDir("graft_landing_") { d =>
      val dir = d.toString
      copyEvents(d)
      // the CREEvents view's event total and the same total over the landed rows
      def viewTotal = ViewQueries.globalView(spark, dir, "CREEvents")
        .agg(sum("sum_event_count")).head().getLong(0)
      def landedTotal = Enrich.landed(spark, dir).filter(col("event_type") === "click")
        .agg(sum("event_count")).head().getLong(0)
      val raw = spark.read.parquet(s"$sf/events.parquet")
      val first = Enrich.landedPath(spark, dir)
      assert(Enrich.landed(spark, dir).count() === raw.count())
      val fullTotal = viewTotal
      assert(fullTotal === landedTotal)
      val fewer = raw.filter(col("event_id") % 3 === 0)
      fewer.write.mode("overwrite").parquet(s"$dir/events.parquet")
      val second = Enrich.landedPath(spark, dir)
      assert(second !== first)
      assert(Enrich.landed(spark, dir).count() === fewer.count())
      assert(fewer.count() < raw.count())
      // the views follow the rewrite too
      assert(viewTotal === landedTotal)
      assert(viewTotal < fullTotal)
    }
  }

  test("an EventQueries query and a ViewQueries view over one dir share one landing") {
    withTempDir("graft_landing_") { d =>
      val dir = d.toString
      copyEvents(d)
      val before = securityLandings
      val view = ViewQueries.globalView(spark, dir, "UBA")
      val added = securityLandings -- before
      assert(added.size === 1)
      val q = EventQueries.queries("q_p7_timerange")(spark, dir)
      assert(securityLandings -- before === added)
      assert(Enrich.landedPath(spark, dir) === added.head.toString)
      assert(q.inputFiles.forall(_.contains(added.head.toString)), q.inputFiles.toSeq)
      assert(view.count() > 0 && q.count() > 0)
    }
  }
}
