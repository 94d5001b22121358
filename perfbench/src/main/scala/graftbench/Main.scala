package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.GraftBenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, StreamingQueryProgress}

import graft.{GraftSession, SparkEntry}
import graft.ops.CacheRegistry
import graft.streaming.Landing

/** The benchmark's JVM side. One process, one client, closed loop; the
  * workloads are described in ../LAYERS.md. Prints human-readable lines
  * and, last, one JSON result line.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --src DIR --work DIR --expected FILE [--record FILE]
  */
object Main {

  /** One or two queries per family of the reference's AQL surface:
    * predicates and CIDR, lookups, reference sets, the two production
    * queries, rollups (raw and navigated), normalization, DSv2 pushdown. */
  val AqlDashboard: Seq[String] = Seq(
    "q_p4_in_notin", "q_p6_incidr_native", "q_p7_timerange",
    "q_j1_domainname", "q_j1_fullnetworkname_domain",
    "q_j2_refset_anti", "q_j2_refset_semi", "q_j3_globalview",
    "q_allowed_inbound", "q_allowed_outbound",
    "q_a1_hourly_rollup", "q_a2_nav_dashboard",
    "q_f1_weekfrom", "q_f2_rename", "q_f6_sanitize",
    "q_s1_dsv2", "q_s5_props_json")

  /** Rows of the events table each AQL query answers over (gen_tables.py
    * sizes); `events_per_s` on the query workload counts these. */
  val EventsPerQuery = 100000L

  val IngestRollup = "ingest_rollup"
  val Workloads: Seq[String] = Seq("aql_dashboard", IngestRollup)

  /** Task slots: the session runs `local[cpus]`. */
  val cpus: Int = Runtime.getRuntime.availableProcessors

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, src: File, work: File, expected: File,
                        record: Option[File])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), new File(need("src")), new File(need("work")), new File(need("expected")),
      m.get("record").map(new File(_)))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    a.work.mkdirs()
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(cpus.toString)
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionNs = System.nanoTime() - t0
    val bench = new Bench(spark, a, sessionNs)
    val result = try {
      if (a.workload == IngestRollup) bench.ingest() else bench.queries(AqlDashboard)
    } finally spark.stop()
    result.report.foreach(println)
    println(result.json)
  }
}

final case class Result(correct: Boolean, attempted: Int, failed: Int,
                        metrics: Seq[(String, Double, String)], report: Seq[String]) {
  def json: String = Json.obj(Seq(
    "correct" -> correct.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
    "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })))
}

/** One query of a pass: its segment times and what it returned. `hash` is
  * set only when the result was hashed (the warm pass and recording). */
final case class QueryRun(name: String, key: String, buildNs: Long, planNs: Long, execNs: Long,
                          cleanupNs: Long, rows: Option[Long], hash: Option[String],
                          error: Option[String], phasesMs: Map[String, Long], graftRuleNs: Long,
                          graftInv: Long, graftEff: Long, spanNs: Long, types: String) {
  def latencyNs: Long = buildNs + planNs + execNs
}

/** One AvailableNow drain of the ingest pages. */
final case class Drain(buildNs: Long, execNs: Long, cleanupNs: Long,
                       batches: Seq[StreamingQueryProgress], sinkFiles: Int, sinkBytes: Long,
                       spanId: Int) {
  def latencyNs: Long = buildNs + execNs
}

final class Bench(spark: SparkSession, a: Main.Args, sessionNs: Long) {
  private val sc = spark.sparkContext
  private val heap = new Heap
  private val traceTracer = new Tracer(true)
  private val noTracer = new Tracer(false)
  private var tracer = noTracer
  private var probing = false
  private val report = ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0
  private var seq = 0
  // job start/end times are epoch ms; spans use nanoTime
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private def note(s: String): Unit = report += s

  private def expected: Map[String, (Long, String)] =
    if (!a.expected.isFile) Map.empty
    else {
      val Entry = """"([a-z0-9_]+)":\s*\{"rows":\s*(\d+),\s*"hash":\s*"([0-9a-f]+)"""".r
      Entry.findAllMatchIn(new String(Files.readAllBytes(a.expected.toPath), "UTF-8"))
        .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
    }

  /** Between operations: collect, note the heap the finished operation
    * still holds (its cached frames included), then release its caches.
    * The collection comes first so the reading is a live set, not a point
    * on the allocation sawtooth. */
  private def clean(): Unit = {
    drainBus() // queued listener events hold task metrics until delivered
    System.gc()
    heap.sample()
    CacheRegistry.drain()
    spark.catalog.clearCache()
  }

  /** Runs `body` as segment `seg` of operation `key`: a span, plus the
    * local properties the probe attributes Spark jobs by. */
  private def segment[T](key: String, seg: String)(body: => T): (T, Long) =
    tracer.span(seg) {
      if (probing) {
        sc.setLocalProperty(Probe.SegKey, s"$key:$seg")
        sc.setLocalProperty(Probe.SpanKey, tracer.current.toString)
      }
      val t0 = System.nanoTime()
      try (body, System.nanoTime() - t0)
      finally if (probing) {
        sc.setLocalProperty(Probe.SegKey, null)
        sc.setLocalProperty(Probe.SpanKey, null)
      }
    }

  /** Runs `body` with the probe listening and spans recorded. Returns its
    * result and wall, attaching and draining the probe included. */
  private def traced[T](p: Probe)(body: => T): (T, Long) = timed {
    sc.addSparkListener(p)
    probing = true
    tracer = traceTracer
    try body
    finally {
      drainBus()
      sc.removeSparkListener(p)
      probing = false
      tracer = noTracer
    }
  }

  private def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val v = body
    (v, System.nanoTime() - t0)
  }

  /** Probe-on and probe-off units in the order on, off, off, on: warm-up
    * still under way falls on both sides alike. `unit(i)` runs the i-th
    * unit; returns the traced units' results and the traced and untraced
    * walls. */
  private def abba[T](p: Probe)(unit: Int => T): (Seq[T], Long, Long) = {
    val (t0, w0) = traced(p)(unit(0))
    val (_, w1) = timed(unit(1))
    val (_, w2) = timed(unit(2))
    val (t3, w3) = traced(p)(unit(3))
    (Seq(t0, t3), w0 + w3, w1 + w2)
  }

  private def drainBus(): Unit = GraftBenchBridge.drainListenerBus(sc)

  private def oneLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200)}"

  // ---------------------------------------------------------------- queries

  /** Executes the physical plan already built (so nothing is re-planned and
    * no output column is pruned) and hashes every row. */
  private def digest(qe: QueryExecution, name: String): Digest = {
    val fields = RowHash.sortedFields(qe.analyzed.schema)
    SQLExecution.withNewExecutionId(qe, Some(s"graftbench $name")) {
      qe.executedPlan.execute()
        .mapPartitions(it => Iterator.single(RowHash.digest(it, fields)))
        .collect().foldLeft(RowHash.Zero)(_ + _)
    }
  }

  /** The timed sink: executes the same physical plan and counts its rows.
    * Every output column is computed, since the plan's output is fixed;
    * nothing is copied, rendered or hashed. */
  private def countRows(qe: QueryExecution, name: String): Long =
    SQLExecution.withNewExecutionId(qe, Some(s"graftbench $name")) {
      qe.executedPlan.execute().mapPartitions { it =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator.single(n)
      }.collect().sum
    }

  /** Runs query `name` once. With `hash` (the warm pass and recording) its
    * exec segment hashes the result; otherwise it only counts the rows. */
  def runQuery(name: String, hash: Boolean): QueryRun = {
    seq += 1
    val key = seq.toString
    var out: QueryRun = null
    val spanT0 = System.nanoTime()
    tracer.span(s"query:$name") {
      var build, plan, exec = 0L
      var rows: Option[Long] = None
      var hex: Option[String] = None
      var error: Option[String] = None
      var qe: QueryExecution = null
      try {
        val (df, b) = segment(key, "build")(SparkEntry.queries(name)(spark, a.data))
        build = b
        qe = df.queryExecution
        plan = segment(key, "plan")(qe.executedPlan)._2
        if (hash) {
          val (d, e) = segment(key, "exec")(digest(qe, name))
          exec = e
          rows = Some(d.rows)
          hex = Some(d.hex)
        } else {
          val (n, e) = segment(key, "exec")(countRows(qe, name))
          exec = e
          rows = Some(n)
        }
      } catch { case e: Throwable => error = Some(oneLine(e)) }
      val cleanup = segment(key, "cleanup")(clean())._2
      val (phases, rules) =
        if (qe == null) (Map.empty[String, Long], Seq.empty[(Long, Long, Long)])
        else (qe.tracker.phases.map { case (k, v) => k -> v.durationMs },
          qe.tracker.rules.collect { case (r, s) if r.startsWith("graft.plans.") =>
            (s.totalTimeNs, s.numInvocations, s.numEffectiveInvocations)
          }.toSeq)
      val types = if (qe == null) "" else qe.analyzed.schema.fields.sortBy(_.name)
        .map(f => s"${f.name}:${f.dataType.simpleString}").mkString("\u0001")
      out = QueryRun(name, key, build, plan, exec, cleanup, rows, hex, error, phases,
        rules.map(_._1).sum, rules.map(_._2).sum, rules.map(_._3).sum, 0L, types)
    }
    out.copy(spanNs = System.nanoTime() - spanT0)
  }

  /** A hashed run must match the recorded row count and hash; a counted
    * run, the recorded row count. */
  private def verify(r: QueryRun, exp: Map[String, (Long, String)]): Unit = {
    attempted += 1
    val ok = exp.get(r.name).exists { case (rows, hash) =>
      r.rows.contains(rows) && r.hash.forall(_ == hash)
    }
    if (!ok) {
      failed += 1
      val got = r.error.getOrElse(s"rows=${r.rows.getOrElse("?")} hash=${r.hash.getOrElse("-")}")
      note(s"WRONG ${r.name}: $got; expected ${exp.get(r.name).fold("no record")(e => s"rows=${e._1} hash=${e._2}")}")
    }
  }

  /** The seed shuffles every timed pass; an odd pass replays the previous
    * one reversed, so the two see every pair of queries in both orders and
    * a run's timings do not hinge on the order the seed drew. (The warm
    * pass runs in list order, so every run enters its timed passes with
    * the same history.) */
  private def order(names: Seq[String], pass: Int): Seq[String] =
    if (pass % 2 == 1) order(names, pass - 1).reverse
    else new scala.util.Random(a.seed * 1000003L + pass).shuffle(names)

  /** One timed pass, its rows counted and checked. */
  private def timedPass(names: Seq[String], pass: Int,
                        exp: Map[String, (Long, String)]): Seq[QueryRun] = {
    tracer.span(s"pass:$pass") {
      order(names, pass).map { n => val r = runQuery(n, hash = false); verify(r, exp); r }
    }
  }

  def queries(names: Seq[String]): Result =
    a.record.fold(timedQueries(names))(record(names, _))

  private def timedQueries(names: Seq[String]): Result = {
    val exp = expected
    val warmT0 = System.nanoTime()
    val warm = names.map { n => val r = runQuery(n, hash = true); verify(r, exp); r }
    val warmNs = System.nanoTime() - warmT0
    note("warm pass: " + warm.map(r => f"${r.name} ${r.spanNs / 1e6}%.0f").mkString(", "))
    val setupS = (sessionNs + warmNs) / 1e9
    val heapMb = heap.peakMb
    note(f"setup: session ${sessionNs / 1e6}%.0f ms, warm pass ${warmNs / 1e6}%.0f ms")

    if (!a.trace) {
      // whole passes, in mirrored pairs, until `seconds` have elapsed
      val runs = ArrayBuffer.empty[QueryRun]
      val t0 = System.nanoTime()
      var pass = 0
      while (pass < 2 || pass % 2 == 1 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        runs ++= timedPass(names, 2 + pass, exp)
        pass += 1
      }
      note(f"timed: $pass passes of ${names.size} queries in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      val lat = runs.map(_.latencyNs / 1e6).toSeq
      val execMs = runs.map(_.execNs / 1e6).toSeq
      val tail = Stats.tail(lat)
      val bTail = Stats.tail(execMs)
      note(f"query_tail_ms: ${tail.describe}; batch_tail_ms: ${bTail.describe}")
      runs.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
        note(f"  $n%-28s ${Stats.median(rs.map(_.latencyNs / 1e6).toSeq)}%9.1f ms")
      }
      queryResult(Seq(
        ("queries_per_s", runs.size / (lat.sum / 1e3), "1/s"),
        ("query_p50_ms", Stats.median(lat), "ms"),
        ("query_tail_ms", tail.value, "ms"),
        ("events_per_s", runs.size * Main.EventsPerQuery / (execMs.sum / 1e3), "1/s"),
        ("batch_p50_ms", Stats.median(execMs), "ms"),
        ("batch_tail_ms", bTail.value, "ms"),
        ("setup_s", setupS, "s"),
        ("success_ratio", (attempted - failed).toDouble / attempted, "ratio"),
        ("heap_peak_mb", heapMb, "MB")))
    } else {
      // traced passes 2 and 3 (a mirrored pair), each beside an untraced
      // replay of the same order as the overhead baseline
      val p = new Probe
      val gc0 = heap.gcMs
      val (tracedRuns, tWall, uWall) = abba(p)(i => timedPass(names, 2 + i / 2, exp))
      val gcMs = heap.gcMs - gc0
      note(f"per pass: traced ${tWall / 2e9}%.2f s, untraced ${uWall / 2e9}%.2f s")
      queryLayers(p, tracedRuns.flatten, warmNs, gcMs, tWall.toDouble / uWall - 1.0)
    }
  }

  private def queryResult(metrics: Seq[(String, Double, String)]): Result =
    Result(failed == 0, attempted, failed, metrics, report.toSeq)

  private def jobSpans(p: Probe): Unit =
    p.jobs(_ => true).foreach { j =>
      tracer.add(Span(tracer.newId(), j.span, s"job:${j.id} ${j.callSite}",
        clockOffsetNs + j.startMs * 1000000L, clockOffsetNs + j.endMs * 1000000L))
    }

  /** Spans and per-operation records, written once the run has ended,
    * beside the run's work directory (which is removed). */
  private def writeTrace(extra: String): Unit = {
    val dir = new File(a.work.getParentFile, "traces")
    dir.mkdirs()
    val f = new File(dir, s"trace-${a.workload}-${a.seed}.json")
    Files.write(f.toPath, (Spans.toJson(traceTracer.spans).dropRight(2) +
      s""",\n"records": $extra}\n""").getBytes("UTF-8"))
    note(s"trace written to ${f.getPath}")
  }

  private def moduleJobs(p: Probe, mods: Modules, module: String): Seq[JobRec] =
    p.jobs(_ => true).filter(j => mods.ofCallSite(j.callSite) == module)

  /** Per-layer metrics of the two traced passes `runs`. */
  private def queryLayers(p: Probe, runs: Seq[QueryRun], warmNs: Long, gcMs: Long,
                          overhead: Double): Result = {
    val mods = Modules.scan(a.src)
    tracer = traceTracer
    jobSpans(p)
    val per = 2.0
    // build + plan + exec must cover each query span minus its cleanup
    val gaps = runs.filter(_.error.isEmpty).map { r =>
      val inner = r.spanNs - r.cleanupNs
      math.abs(inner - r.latencyNs).toDouble / inner
    }
    note(f"segment coverage: build+plan+exec within ${gaps.maxOption.getOrElse(0.0) * 100}%.2f%% " +
      "of every query span (cleanup excluded)")
    val records = runs.map { r =>
      val w = p.work(_.startsWith(s"${r.key}:"))
      Json.obj(Seq("query" -> Json.str(r.name), "build_ms" -> Json.num(r.buildNs / 1e6),
        "plan_ms" -> Json.num(r.planNs / 1e6), "exec_ms" -> Json.num(r.execNs / 1e6),
        "cleanup_ms" -> Json.num(r.cleanupNs / 1e6),
        "build_jobs" -> p.work(_ == s"${r.key}:build").jobs.toString,
        "exec_jobs" -> p.work(_ == s"${r.key}:exec").jobs.toString,
        "tasks" -> w.tasks.toString, "task_ms" -> w.runMs.toString,
        "input_bytes" -> w.inputBytes.toString,
        "shuffle_write_bytes" -> w.shuffleWriteBytes.toString))
    }.mkString("[\n", ",\n", "]")
    writeTrace(records)
    layers(p, mods, 2, buildMs = runs.map(_.buildNs / 1e6).sum,
      execMs = runs.map(_.execNs / 1e6).sum, cleanupMs = runs.map(_.cleanupNs / 1e6).sum,
      busyMs = runs.map(_.latencyNs / 1e6).sum, warmNs, gcMs, overhead,
      plans = Seq(
        "plans.analysis_ms" -> runs.map(_.phasesMs.getOrElse("analysis", 0L)).sum / per,
        "plans.optimizer_ms" -> runs.map(_.phasesMs.getOrElse("optimization", 0L)).sum / per,
        "plans.planning_ms" -> runs.map(_.phasesMs.getOrElse("planning", 0L)).sum / per,
        "plans.graft_rule_ms" -> runs.map(_.graftRuleNs).sum / 1e6 / per,
        "plans.graft_rule_effective_ratio" -> {
          val inv = runs.map(_.graftInv).sum
          if (inv == 0) 0.0 else runs.map(_.graftEff).sum.toDouble / inv
        }),
      streaming = Bench.StreamingLayers.map(_ -> 0.0))
  }

  /** Per-layer metrics, per traced pass or drain, every name present:
    * `plans` is empty on the ingest drain, whose plans are built per
    * micro-batch inside the stream, and `streaming` is all zero on the query
    * workload. `busyMs` is the wall the slots could have been busy in. */
  private def layers(p: Probe, mods: Modules, n: Int, buildMs: Double, execMs: Double,
                     cleanupMs: Double, busyMs: Double, warmNs: Long, gcMs: Long,
                     overhead: Double, plans: Seq[(String, Double)],
                     streaming: Seq[(String, Double)]): Result = {
    val per = n.toDouble
    val all = p.work(_ => true)
    val execW = p.work(_.endsWith(":exec"))
    val execJobs = p.jobs(_.endsWith(":exec"))
    val srcJobs = moduleJobs(p, mods, "sources")
    val m = (Seq(
      "sources.jobs" -> srcJobs.size / per,
      "sources.job_ms" -> srcJobs.map(j => j.endMs - j.startMs).sum / per,
      "queries.build_ms" -> buildMs / per,
      "queries.build_jobs" -> p.work(_.endsWith(":build")).jobs / per,
      "ops.jobs" -> moduleJobs(p, mods, "ops").size / per,
      "exec.ms" -> execMs / per,
      "exec.jobs" -> execW.jobs / per,
      "exec.job_floor_ms" -> (if (execJobs.isEmpty) 0.0
        else Stats.median(execJobs.map(j => (j.endMs - j.startMs).toDouble))),
      "exec.stages" -> execW.stages / per,
      "exec.tasks" -> execW.tasks / per,
      "exec.task_s" -> all.runMs / 1000.0 / per,
      "exec.slot_busy" -> Stats.slotBusy(all.runMs.toDouble, busyMs, Main.cpus),
      "exec.input_bytes" -> all.inputBytes / per,
      "exec.shuffle_write_bytes" -> all.shuffleWriteBytes / per,
      "exec.shuffle_read_bytes" -> all.shuffleReadBytes / per,
      "exec.spill_bytes" -> all.spillBytes / per,
      "exec.gc_ms" -> all.gcMs / per,
      "setup.session_ms" -> sessionNs / 1e6,
      "setup.warm_ms" -> warmNs / 1e6,
      "ops.cleanup_ms" -> cleanupMs / per,
      "jvm.gc_ms" -> gcMs / per,
      "trace.overhead_ratio" -> overhead) ++ plans ++ streaming).toMap.withDefaultValue(0.0)
    val metrics = Bench.LayerNames.map(name => (name, m(name), Bench.unitOf(name)))
    Result(failed == 0, attempted, failed, metrics, report.toSeq)
  }

  private def record(names: Seq[String], out: File): Result = {
    val oracles = SparkEntry.oracleSql
    val lines = names.map { n =>
      val r = runQuery(n, hash = true)
      val (rows, hash) = (r.rows, r.hash) match {
        case (Some(k), Some(h)) => (k, h)
        case _ => throw new IllegalStateException(s"$n failed: ${r.error}")
      }
      s"  ${Json.str(n)}: " + Json.obj(Seq("rows" -> rows.toString, "hash" -> Json.str(hash),
        "types" -> Json.str(r.types), "sql" -> oracles.get(n).fold("null")(Json.str)))
    }
    Files.write(out.toPath, lines.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
    Result(correct = true, names.size, 0, Seq(("recorded", names.size.toDouble, "count")), Nil)
  }

  // ----------------------------------------------------------------- ingest

  private val progress = ArrayBuffer.empty[StreamingQueryProgress]
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e.progress)
  })

  def ingest(): Result = {
    val pages = new File(a.work, "pages")
    val gen = Ingest.generate(a.seed, pages)
    note(s"generated ${gen.events} events (${gen.malformed} malformed) in ${gen.files.size} pages")
    var drains = 0
    /** One drain: build and exec are timed; the output check runs after
      * them, outside every segment, so its jobs are neither timed nor
      * attributed; cleanup follows. */
    def drain(): Drain = {
      seq += 1
      drains += 1
      val key = seq.toString
      val root = new File(a.work, s"drain-$drains")
      var d: Drain = null
      tracer.span("drain") {
        val spanId = tracer.current
        progress.synchronized(progress.clear())
        val (stream, buildNs) = segment(key, "build")(Ingest.stream(spark, pages.getPath))
        val sink = new File(root, "sink").getPath
        val (_, execNs) = segment(key, "exec") {
          Landing.availableNow(stream, sink, new File(root, "ckpt").getPath,
            OutputMode.Update(), withBatchId = true)
        }
        drainBus()
        val batches = progress.synchronized(progress.toList)
        val files = Option(new File(sink).listFiles).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
        tracer.span("check")(checkDrain(batches, sink, pages.getPath, gen))
        val cleanupNs = segment(key, "cleanup")(clean())._2
        d = Drain(buildNs, execNs, cleanupNs, batches, files.size, files.map(_.length).sum, spanId)
      }
      deleteTree(root)
      d
    }

    // the first timed drains still ran 15-20% slower than later ones after
    // one warm drain (JIT), so two warm the pipeline
    val warmT0 = System.nanoTime()
    drain()
    drain()
    val warmNs = System.nanoTime() - warmT0
    val setupS = (sessionNs + warmNs) / 1e9
    val heapMb = heap.peakMb
    note(f"setup: session ${sessionNs / 1e6}%.0f ms, warm drains ${warmNs / 1e6}%.0f ms")

    def dur(b: StreamingQueryProgress, k: String): Double =
      Option(b.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    if (!a.trace) {
      val ds = ArrayBuffer.empty[Drain]
      val t0 = System.nanoTime()
      while (ds.size < 3 || (System.nanoTime() - t0) / 1e9 < a.seconds) ds += drain()
      deleteTree(pages)
      val events = ds.map(_.batches.map(_.numInputRows).sum).sum
      val triggerMs = ds.flatMap(_.batches.map(dur(_, "triggerExecution"))).toSeq
      val trig = ds.flatMap(_.batches.filter(_.numInputRows > 0)).map(dur(_, "triggerExecution")).toSeq
      val drainMs = ds.map(_.latencyNs / 1e6).toSeq
      note(f"timed: ${ds.size} drains, $events events in ${drainMs.sum / 1e3}%.2f s of draining " +
        f"(${(System.nanoTime() - t0) / 1e9}%.2f s with checks and cleanup)")
      val tail = Stats.tail(trig)
      val qTail = Stats.tail(drainMs)
      note(f"batch_tail_ms: ${tail.describe}; query_tail_ms: ${qTail.describe}")
      queryResult(Seq(
        ("queries_per_s", ds.size / (drainMs.sum / 1e3), "1/s"),
        ("query_p50_ms", Stats.median(drainMs), "ms"),
        ("query_tail_ms", qTail.value, "ms"),
        ("events_per_s", events / (triggerMs.sum / 1e3), "1/s"),
        ("batch_p50_ms", Stats.median(trig), "ms"),
        ("batch_tail_ms", tail.value, "ms"),
        ("setup_s", setupS, "s"),
        ("success_ratio", (attempted - failed).toDouble / attempted, "ratio"),
        ("heap_peak_mb", heapMb, "MB")))
    } else {
      val p = new Probe
      val gc0 = heap.gcMs
      val (ds, tWall, uWall) = abba(p)(_ => drain())
      val gcMs = heap.gcMs - gc0
      deleteTree(pages)
      note(f"per drain: traced ${tWall / 2e9}%.2f s, untraced ${uWall / 2e9}%.2f s")
      ingestLayers(p, ds, warmNs, gcMs, tWall.toDouble / uWall - 1.0)
    }
  }

  private var ingestExpected: Option[(Seq[String], Digest)] = None

  private def checkDrain(batches: Seq[StreamingQueryProgress], sink: String, pages: String,
                         gen: Ingest.Generated): Unit = {
    attempted += 1
    val input = batches.map(_.numInputRows).sum
    val decoded = batches.flatMap(b => Option(b.observedMetrics.get("decoded")))
      .map(_.getAs[Long]("rows")).sum
    val dropped = input - decoded
    val (dimCols, e) = ingestExpected.getOrElse {
      val exp = Ingest.expected(spark, pages)
      val v = (exp.columns.toSeq.filterNot(c => c == "hour" || c == "sum_value"),
        digest(exp.queryExecution, "ingest expected"))
      ingestExpected = Some(v)
      v
    }
    val g = digest(Ingest.landed(spark, sink, dimCols).queryExecution, "ingest check")
    val ok = input == gen.events && dropped == gen.malformed && e == g
    if (!ok) {
      failed += 1
      note(s"WRONG drain: input=$input (generated ${gen.events}), corrupt dropped=$dropped " +
        s"(generated ${gen.malformed}), landed rows=${g.rows} hash=${g.hex}, " +
        s"batch rollup rows=${e.rows} hash=${e.hex}")
    }
  }

  /** Per-layer metrics of the two traced drains `ds`. */
  private def ingestLayers(p: Probe, ds: Seq[Drain], warmNs: Long, gcMs: Long,
                           overhead: Double): Result = {
    val mods = Modules.scan(a.src)
    tracer = traceTracer
    jobSpans(p)
    // micro-batch spans, with their durationMs phases laid out in trigger order
    val phaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
      "commitOffsets")
    ds.foreach { d =>
      d.batches.foreach { b =>
        val startNs = clockOffsetNs + java.time.Instant.parse(b.timestamp).toEpochMilli * 1000000L
        val trig = b.durationMs.get("triggerExecution").longValue * 1000000L
        val id = tracer.newId()
        tracer.add(Span(id, d.spanId, s"batch:${b.batchId}", startNs, startNs + trig))
        var t = startNs
        phaseOrder.foreach { ph =>
          Option(b.durationMs.get(ph)).map(_.longValue * 1000000L).filter(_ > 0).foreach { ns =>
            tracer.add(Span(tracer.newId(), id, ph, t, t + ns))
            t += ns
          }
        }
      }
    }
    writeTrace(ds.map(d => Json.obj(Seq("drain_ms" -> Json.num(d.latencyNs / 1e6),
      "batches" -> d.batches.size.toString, "sink_files" -> d.sinkFiles.toString))).mkString("[", ",", "]"))
    val per = ds.size.toDouble
    val batches = ds.flatMap(_.batches.filter(_.numInputRows > 0))
    def med(k: String) = Stats.median(batches.map(b =>
      Option(b.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val input = ds.map(_.batches.map(_.numInputRows).sum).sum
    val decoded = ds.flatMap(_.batches.flatMap(b => Option(b.observedMetrics.get("decoded"))))
      .map(_.getAs[Long]("rows")).sum
    val stateRows = ds.map(_.batches.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum)
      .getOrElse(0L)).sum
    val stateMem = batches.map(_.stateOperators.map(_.memoryUsedBytes).sum).maxOption.getOrElse(0L)
    val execMs = ds.map(_.execNs / 1e6).sum
    val streaming = Seq(
      "streaming.batches" -> batches.size / per,
      "streaming.rows_per_batch" -> input.toDouble / math.max(1, batches.size),
      "streaming.trigger_ms" -> med("triggerExecution"),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.get_batch_ms" -> med("getBatch"),
      "streaming.planning_ms" -> med("queryPlanning"),
      "streaming.wal_commit_ms" -> med("walCommit"),
      "streaming.state_rows" -> stateRows / per,
      "streaming.state_mem_bytes" -> stateMem.toDouble,
      "streaming.sink_files" -> ds.map(_.sinkFiles).sum / per,
      "streaming.sink_bytes" -> ds.map(_.sinkBytes).sum / per,
      "streaming.corrupt_dropped" -> (input - decoded) / per)
    layers(p, mods, ds.size, buildMs = ds.map(_.buildNs / 1e6).sum, execMs = execMs,
      cleanupMs = ds.map(_.cleanupNs / 1e6).sum, busyMs = ds.map(_.latencyNs / 1e6).sum,
      warmNs, gcMs, overhead, plans = Nil, streaming = streaming)
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

object Bench {
  val StreamingLayers: Seq[String] = Seq(
    "streaming.batches", "streaming.rows_per_batch", "streaming.trigger_ms",
    "streaming.add_batch_ms", "streaming.get_batch_ms", "streaming.planning_ms",
    "streaming.wal_commit_ms", "streaming.state_rows", "streaming.state_mem_bytes",
    "streaming.sink_files", "streaming.sink_bytes", "streaming.corrupt_dropped")

  val LayerNames: Seq[String] = Seq(
    "sources.jobs", "sources.job_ms", "queries.build_ms", "queries.build_jobs", "ops.jobs",
    "plans.analysis_ms", "plans.optimizer_ms", "plans.planning_ms", "plans.graft_rule_ms",
    "plans.graft_rule_effective_ratio",
    "exec.ms", "exec.jobs", "exec.job_floor_ms", "exec.stages", "exec.tasks",
    "exec.task_s", "exec.slot_busy", "exec.input_bytes", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.gc_ms") ++ StreamingLayers ++ Seq(
    "setup.session_ms", "setup.warm_ms", "ops.cleanup_ms", "jvm.gc_ms", "trace.overhead_ratio")

  def unitOf(name: String): String = name match {
    case n if n.endsWith("ms") => "ms"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_bytes") => "bytes"
    case n if n.endsWith("ratio") || n.endsWith("slot_busy") => "ratio"
    case "streaming.rows_per_batch" => "rows"
    case _ => "count"
  }
}
