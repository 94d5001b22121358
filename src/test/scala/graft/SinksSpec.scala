package graft

import org.apache.spark.sql.functions._
import graft.ops.Rollup

/** S7/A3: day-partitioned parquet retention write (MergeTree analog). */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("writePartitionedByDay produces prunable day partitions") {
    withTempDir("a3_sink") { dir =>
      val path = dir.toString
      val df = Seq(
        ("2024-07-24 10:00:00", 1L), ("2024-07-24 23:59:59", 2L),
        ("2024-07-25 00:00:00", 4L))
        .toDF("s", "v").select(to_timestamp(col("s")).as("ts"), col("v"))
      Rollup.writePartitionedByDay(df, "ts", path)

      // physical layout: one directory per day
      val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
        .map(_.getName).sorted
      assert(dirs.toSeq === Seq("yyyymmdd=20240724", "yyyymmdd=20240725"))

      // a day filter prunes to one partition at planning time
      val read = spark.read.parquet(path).filter(col("yyyymmdd") === "20240724")
      assert(read.collect().map(_.getAs[Long]("v")).sorted.toSeq === Seq(1L, 2L))
      val scan = read.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters"), scan)
    }
  }

  test("compactPartitions: one file per partition in place, rows unchanged") {
    withTempDir("graft_compact_spec_") { dir =>
      val path = dir.toString
      val rows = (1 to 400).map(i => (s"d${i % 3}", i.toLong, i * 1.5))
      rows.toDF("d", "k", "v")
        .repartition(5) // every task writes into every partition -> ~15 files
        .write.mode("overwrite").partitionBy("d").parquet(path)
      val (parts, before, after) = Rollup.compactPartitions(spark, path, "d")
      assert(parts === 3L)
      assert(before > after, s"expected fewer files: $before -> $after")
      assert(after === 3L, "one file per partition")
      val got = spark.read.parquet(path).select("d", "k", "v")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._2)
      assert(got.toSeq === rows.sortBy(_._2))
    }
  }

  test("refreshAdditive: delta merges touched partitions; untouched files never rewritten") {
    withTempDir("graft_refresh_spec_") { dir =>
      val path = dir.toString
      Seq(("d0", "x", 2L, 10L), ("d1", "x", 5L, 50L))
        .toDF("d", "k", "n", "cents")
        .write.mode("overwrite").partitionBy("d").parquet(path)
      def files(p: String) = new java.io.File(s"$path/d=$p").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSet
      val d1Before = files("d1")
      // delta touches d0 (additive) and creates d2; d1 must not be touched
      val delta = Seq(("d0", "x", 1L, 7L), ("d0", "y", 3L, 30L), ("d2", "x", 4L, 40L))
        .toDF("d", "k", "n", "cents")
      Rollup.refreshAdditive(spark, path, delta, "d",
        keyCols = Seq("k"), sumCols = Seq("n", "cents"))
      val got = spark.read.parquet(path).select("d", "k", "n", "cents")
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
      assert(got === Map(
        ("d0", "x") -> ((3L, 17L)), ("d0", "y") -> ((3L, 30L)),
        ("d1", "x") -> ((5L, 50L)), ("d2", "x") -> ((4L, 40L))))
      assert(files("d1") === d1Before, "untouched partition was rewritten")
    }
  }

  test("refreshAdditive: a delta touching the NULL partition merges, not replaces") {
    withTempDir("graft_refresh_null_") { dir =>
      val path = dir.toString
      Seq((Option("d0"), "x", 2L), (Option.empty[String], "x", 5L))
        .toDF("d", "k", "n")
        .write.mode("overwrite").partitionBy("d").parquet(path)
      Rollup.refreshAdditive(spark,
        path, Seq((Option.empty[String], "x", 3L)).toDF("d", "k", "n"),
        "d", keyCols = Seq("k"), sumCols = Seq("n"))
      val got = spark.read.parquet(path).select("d", "n")
        .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
      // null-partition state merged additively (5 + 3), d0 untouched
      assert(got === Map(Option("d0") -> 2L, None -> 8L))
    }
  }

  test("UpsertSink fails loudly on a null key instead of corrupting state") {
    withTempDir("graft_upsert_null_") { dir =>
      val root = dir.toString
      val src = s"$root/src"
      new java.io.File(src).mkdirs()
      java.nio.file.Files.write(new java.io.File(src, "b0.json").toPath,
        """{"ver":1,"payload":"nokey"}""".getBytes("UTF-8"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "k BIGINT, ver BIGINT, payload STRING")
      val decoded = graft.streaming.KafkaSource.decodeJson(
        spark.readStream.option("maxFilesPerTrigger", "1").text(src), schema)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        graft.streaming.UpsertSink.availableNow(decoded,
          s"$root/state", s"$root/ckpt", keyCol = "k", orderCols = Seq("ver"))
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("upsert keys must be non-null")), e)
    }
  }

  test("UpsertSink: latest-per-key state, bucket layout, multi-batch drain") {
    withTempDir("graft_upsert_spec_") { dir =>
      val root = dir.toString
      val src = s"$root/src"; val state = s"$root/state"; val ckpt = s"$root/ckpt"
      new java.io.File(src).mkdirs()
      // two sequentially-landed files -> two micro-batches; key 1 is
      // superseded in batch 2, key 7 arrives only in batch 2
      def land(name: String, lines: Seq[String], mtime: Long): Unit = {
        val f = new java.io.File(src, name)
        java.nio.file.Files.write(f.toPath,
          lines.mkString("\n").getBytes("UTF-8"))
        assert(f.setLastModified(mtime))
      }
      val t0 = System.currentTimeMillis() - 600000L
      land("b0.json", Seq(
        """{"k":1,"ver":10,"payload":"old"}""",
        """{"k":2,"ver":11,"payload":"keep"}"""), t0)
      land("b1.json", Seq(
        """{"k":1,"ver":20,"payload":"new"}""",
        """{"k":7,"ver":12,"payload":"late"}"""), t0 + 60000L)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "k BIGINT, ver BIGINT, payload STRING")
      val decoded = graft.streaming.KafkaSource.decodeJson(
        spark.readStream.option("maxFilesPerTrigger", "1").text(src), schema)
      val batches = graft.streaming.UpsertSink.availableNow(
        decoded, state, ckpt, keyCol = "k", orderCols = Seq("ver"), nBuckets = 4)
      assert(batches === 2, "expected one micro-batch per landed file")
      val st = spark.read.parquet(state)
        .select("k", "ver", "payload").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      assert(st === Map(
        1L -> ((20L, "new")), 2L -> ((11L, "keep")), 7L -> ((12L, "late"))))
      // state is physically bucket-partitioned (the pruned-merge layout)
      val dirs = new java.io.File(state).listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("bucket="))
      assert(dirs.nonEmpty)
    }
  }

  test("UpsertSink: torn commit (crash mid-swap) replays clean via undo recovery") {
    import org.apache.hadoop.fs.Path
    withTempDir("graft_upsert_torn_") { dir =>
      val root = dir.toString
      val src = s"$root/src"; val state = s"$root/state"; val ckpt = s"$root/ckpt"
      new java.io.File(src).mkdirs()
      def land(name: String, lines: Seq[String], mtime: Long): Unit = {
        val f = new java.io.File(src, name)
        java.nio.file.Files.write(f.toPath,
          lines.mkString("\n").getBytes("UTF-8"))
        assert(f.setLastModified(mtime))
      }
      val t0 = System.currentTimeMillis() - 600000L
      land("b0.json", Seq(
        """{"k":1,"ver":10,"payload":"old"}""",
        """{"k":5,"ver":11,"payload":"keep"}"""), t0)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "k BIGINT, ver BIGINT, payload STRING")
      def drain(): Int = graft.streaming.UpsertSink.availableNow(
        graft.streaming.KafkaSource.decodeJson(
          spark.readStream.option("maxFilesPerTrigger", "1").text(src), schema),
        state, ckpt, keyCol = "k", orderCols = Seq("ver"), nBuckets = 4)
      drain()
      val sp = new Path(state)
      val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)

      // Simulate a crash INSIDE the swap window of a later batch touching
      // bucket 1 (k=1 and k=5 both hash there, pmod(k,4)): the live bucket
      // was already moved into the undo dir, a DAMAGED half-written bucket
      // sits in its place (empty dir — the exact state the old dynamic
      // overwrite could leave, which also used to crash the direct read),
      // and the manifest records the bucket existed.
      val live = new Path(sp, "bucket=1")
      val undo = new Path(sp, ".graft_undo/999")
      fs.mkdirs(undo)
      assert(fs.rename(live, new Path(undo, "bucket=1")))
      fs.mkdirs(live) // damaged: exists but holds zero data files
      val out = fs.create(new Path(undo, "MANIFEST"), true)
      out.write("1 1\n".getBytes("UTF-8")); out.close()
      // also a stray staged dir from the crashed batch
      fs.mkdirs(new Path(sp, ".graft_stage/999/bucket=1"))

      // replayed/next batch: recovery must restore the saved bucket before
      // merging, so k=1 upgrades from the ORIGINAL ver=10 state and k=5
      // survives untouched
      land("b1.json", Seq("""{"k":1,"ver":20,"payload":"new"}"""), t0 + 60000L)
      drain()
      val st = spark.read.parquet(state)
        .select("k", "ver", "payload").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      assert(st === Map(1L -> ((20L, "new")), 5L -> ((11L, "keep"))))
      assert(!fs.exists(new Path(sp, ".graft_undo")), "undo dir not cleaned")
      assert(!fs.exists(new Path(sp, ".graft_stage")), "stage dir not cleaned")
    }
  }

  test("UpsertSink recover: half-committed previously-absent bucket is removed") {
    import org.apache.hadoop.fs.Path
    withTempDir("graft_upsert_rec_") { dir =>
      val root = dir.toString
      val sp = new Path(s"$root/state")
      val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // bucket=2 did NOT exist before the crashed batch (manifest says 0)
      // but its staged data already renamed in → recovery must delete it
      // to restore the pre-batch state
      fs.mkdirs(new Path(sp, "bucket=2"))
      val f = fs.create(new Path(sp, "bucket=2/part-0.parquet"), true)
      f.write(Array[Byte](1, 2, 3)); f.close()
      val undo = new Path(sp, ".graft_undo/7")
      fs.mkdirs(undo)
      val out = fs.create(new Path(undo, "MANIFEST"), true)
      out.write("2 0\n".getBytes("UTF-8")); out.close()
      graft.streaming.UpsertSink.recover(fs, sp)
      assert(!fs.exists(new Path(sp, "bucket=2")))
      assert(!fs.exists(new Path(sp, ".graft_undo")))
    }
  }

  test("q_p8 plan prunes day partitions via PartitionFilters, no data filter") {
    val df = graft.SparkEntry.queries("q_p8_partition_pruning")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // the day range must land in PartitionFilters (pruned at planning),
    // with a non-empty predicate on the partition column
    assert(plan.contains("PartitionFilters: ["), plan)
    val pf = plan.split("PartitionFilters: ")(1)
    assert(pf.contains("yyyymmdd"), plan)
    assert(df.collect().map(_.getAs[Long]("n")).sum > 0)
  }
}
