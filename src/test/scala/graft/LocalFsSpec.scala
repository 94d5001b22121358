package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}
import graft.ops.Rollup
import graft.streaming.{Landing, StreamingRollup}

/** The fork-free `file://` classes against stock Hadoop: same modes, same
  * link statuses, same rename semantics — and no process starts. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private val Root = URI.create("file:///")
  private val StockAbstractFs = "org.apache.hadoop.fs.local.LocalFs"

  private def conf(umask: String, abstractFs: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c.set("fs.AbstractFileSystem.file.impl", abstractFs)
    c
  }

  private def init[F <: FileSystem](fs: F, c: Configuration): F = { fs.initialize(Root, c); fs }

  /** relative path -> permission bits (sticky included) of every entry. */
  private def modes(root: File): Map[String, Int] = {
    val base = root.toPath
    Files.walk(base).iterator.asScala.filter(_ != base).map { p =>
      base.relativize(p).toString -> (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap
  }

  /** Files and directories through both Hadoop APIs, default and explicit
    * permissions, plus a sticky-bit directory (the stock-fallback path). */
  private def populate(root: File, fs: FileSystem, fc: FileContext): Unit = {
    def p(name: String) = new Path(root.toURI.toString, name)
    fs.create(p("fs_default")).close()
    fs.create(p("fs_640"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close()
    fs.create(p("fs_chmod")).close()
    fs.setPermission(p("fs_chmod"), new FsPermission("604"))
    fs.mkdirs(p("fs_dir"))
    fs.mkdirs(p("fs_dir_750/sub"), new FsPermission("750"))
    // mkdirs drops the sticky bit with the umask; setPermission keeps it
    fs.mkdirs(p("fs_sticky"))
    fs.setPermission(p("fs_sticky"), new FsPermission("1777"))
    fc.create(p("fc_default"), EnumSet.of(CreateFlag.CREATE)).close()
    fc.create(p("fc_640"), EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.perms(new FsPermission("640"))).close()
    fc.mkdir(p("fc_dir"), FsPermission.getDirDefault, true)
    fc.mkdir(p("fc_dir_750/sub"), new FsPermission("750"), true)
  }

  test("permissions match stock chmod under the same umask, both Hadoop APIs") {
    for (umask <- Seq("022", "077", "002")) {
      withTempDir("localfs_perm") { root =>
        val stockRoot = Files.createDirectory(root.resolve("stock")).toFile
        val graftRoot = Files.createDirectory(root.resolve("graft")).toFile
        val stockConf = conf(umask, StockAbstractFs)
        val graftConf = conf(umask, classOf[ForkFreeLocalFs].getName)
        populate(stockRoot, init(new LocalFileSystem, stockConf), FileContext.getFileContext(Root, stockConf))
        populate(graftRoot, init(new ForkFreeLocalFileSystem, graftConf), FileContext.getFileContext(Root, graftConf))
        val want = modes(stockRoot)
        assert(modes(graftRoot) === want, s"umask $umask")
        // the comparison saw real bits: sidecars, umasked and explicit modes, sticky
        val mask = ~Integer.parseInt(umask, 8)
        assert(want.keySet.contains(".fc_640.crc") && want.keySet.contains(".fs_640.crc"))
        assert(want("fs_640") === (Integer.parseInt("640", 8) & mask))
        assert(want("fc_dir_750/sub") === (Integer.parseInt("750", 8) & mask))
        assert(want("fs_chmod") === Integer.parseInt("604", 8))
        assert(want("fs_sticky") === Integer.parseInt("1777", 8))
      }
    }
  }

  test("getFileLinkStatus matches stock: file, directory, symlink, missing (FNFE)") {
    val c = conf("022", StockAbstractFs)
    val stock = init(new RawLocalFileSystem, c)
    val graft = init(new ForkFreeRawLocalFileSystem, c)
    withTempDir("localfs_link") { dir =>
      val root = dir.toFile
      Files.write(new File(root, "f").toPath, "payload".getBytes(UTF_8))
      new File(root, "d").mkdir()
      Files.createSymbolicLink(new File(root, "link").toPath, new File(root, "f").toPath)
      Files.createSymbolicLink(new File(root, "dangling").toPath, new File(root, "gone").toPath)

      def view(fs: FileSystem, p: Path) = Try(fs.getFileLinkStatus(p)).map { s =>
        (s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getPath.toString,
          if (s.isSymlink) s.getSymlink.toString else "", s.getModificationTime)
      }.toEither.left.map(_.getClass.getName)

      for (name <- Seq("f", "d", "link", "dangling", "missing")) {
        val file = new File(root, name)
        // qualified (what Spark passes) and bare (what stock readlink can see)
        for (p <- Seq(new Path(file.toURI), new Path(file.getPath))) {
          assert(view(graft, p) === view(stock, p), s"$name as $p")
        }
      }
      assert(view(graft, new Path(new File(root, "missing").toURI)) ===
        Left(classOf[FileNotFoundException].getName))
      assert(view(graft, new Path(new File(root, "link").getPath)).exists(_._3), "symlink seen")
      assert(view(graft, new Path(new File(root, "d").toURI)).exists(_._2), "directory seen")
    }
  }

  test("FileContext.rename with and without OVERWRITE matches stock; .crc follows") {
    def run(abstractFs: String) = {
      val fc = FileContext.getFileContext(Root, conf("022", abstractFs))
      withTempDir("localfs_rename") { dir =>
        val root = dir.toFile
        def p(name: String) = new Path(root.toURI.toString, name)
        def write(name: String, body: String): Unit = {
          val out = fc.create(p(name), EnumSet.of(CreateFlag.CREATE))
          try out.write(body.getBytes(UTF_8)) finally out.close()
        }
        def read(name: String): String = {
          val in = fc.open(p(name))
          try new String(in.readAllBytes(), UTF_8) finally in.close()
        }
        def listing() = root.list().toSeq.sorted
        write("a", "A")
        write("b", "B")
        val refused = Try(fc.rename(p("a"), p("b"))).failed.toOption.map(_.getClass)
        val afterRefused = listing()
        fc.rename(p("a"), p("b"), Options.Rename.OVERWRITE)
        val afterOverwrite = (listing(), read("b"))
        fc.rename(p("b"), p("c"))
        (refused, afterRefused, afterOverwrite, listing(), read("c"))
      }
    }
    val stock = run(StockAbstractFs)
    val graft = run(classOf[ForkFreeLocalFs].getName)
    assert(graft === stock)
    assert(graft._1 === Some(classOf[FileAlreadyExistsException]))
    assert(graft._2 === Seq(".a.crc", ".b.crc", "a", "b"))
    assert(graft._3 === ((Seq(".b.crc", "b"), "A")))
    assert(graft._4 === Seq(".c.crc", "c"))
  }

  test("session resolves file:// to the fork-free classes, FileSystem cache included") {
    val hc = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(Root, hc)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem],
      s"FileSystem.get(file:///) gave ${fs.getClass.getName}: a stock instance was cached " +
        "JVM-wide before the session set fs.file.impl")
    val afs = FileContext.getFileContext(Root, hc).getDefaultFileSystem
    assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass.getName)
  }

  test("a stateful Landing drain starts no process; landed rollup == batch rollup") {
    withTempDir("localfs_drain") { root =>
      val pages = Files.createDirectory(root.resolve("pages")).toFile
      val base = 1721815200L // 2024-07-24 10:00:00 UTC
      // four pages in event-time order; the hour-10 groups span the first
      // three, so the rollup state carries across micro-batches
      val rows = (0 until 4).map { page =>
        (0 until 30).map { i =>
          val t = base + page * 1200L + i * 40L
          s"""{"t":$t,"dim":"${Seq("a", "b", "c")(i % 3)}","cnt":${page * 30 + i}}"""
        }
      }
      rows.zipWithIndex.foreach { case (lines, i) =>
        Files.write(Paths.get(pages.getPath, f"page-$i%02d.json"), lines.asJava)
      }
      val schema = "t BIGINT, dim STRING, cnt BIGINT"
      def events(df: org.apache.spark.sql.DataFrame) =
        df.select(timestamp_seconds(col("t")).as("ts"), col("dim"), col("cnt"))
      val stream = events(spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(pages.getPath))
      val rollup = StreamingRollup.hourly(stream, "ts", "cnt", Seq("dim"))
      val out = Files.createDirectory(root.resolve("out")).toFile
      val sink = new File(out, "sink").getPath

      // two JVM-wide probes fork once, on first use, at a time of their own:
      // Hadoop Shell's setsid check (class init) and the executor metrics'
      // `getconf PAGESIZE` (first heartbeat). Run both before recording.
      assert(!org.apache.hadoop.util.Shell.WINDOWS)
      Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      val batches =
        try Landing.availableNow(rollup, sink, new File(out, "ckpt").getPath, OutputMode.Update,
          withBatchId = true)
        finally rec.stop()
      val jfr = new File(out, "drain.jfr").toPath
      rec.dump(jfr)
      rec.close()
      val forks = RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command")).toList
      assert(forks === Nil) // stock Hadoop: 540 chmod/readlink forks on this drain
      assert(batches === 4)

      val landed = spark.read.parquet(sink).groupBy("hour", "dim")
        .agg(max_by(col("sum_value"), col("batch_id")).as("sum_value"))
      val want = Rollup.hourly(events(spark.read.schema(schema).json(pages.getPath)), "ts", "cnt", Seq("dim"))
      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.select(col("hour").cast("string"), col("dim"), col("sum_value")).as[(String, String, Long)]
          .collect().toSet
      assert(rowsOf(landed) === rowsOf(want))
      assert(rowsOf(want).size === 6) // hours 10 and 11 x three dims
    }
  }
}
