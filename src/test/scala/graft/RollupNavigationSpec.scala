package graft

import org.apache.spark.sql.functions._
import graft.plans.RollupNavigation

/** Aggregate navigation: hour-or-coarser aggregates over the registered
  * raw frame rewrite onto the materialized hourly rollup (plan-pinned),
  * results identical, and the rule STANDS DOWN when the raw store's
  * signature no longer matches the registration (stale rollup) or when
  * the shape can't be served (row-level filter, unsupported aggregate).
  * r11 widens the served surface: COUNT/MIN/MAX/AVG over the stats
  * rollup, dim-filter replay, global and dims-only groupings.
  *
  * Fixture values are DYADIC rationals ((i % 8) * 0.25): every partial
  * double sum is exact under ANY association, so navigated results are
  * compared with exact equality — no rounding indirection.
  */
class RollupNavigationSpec extends SparkSpec {
  import spark.implicits._

  /** (rawPath, sumOnlyRollupPath, statsRollupPath) */
  private def fixture(root: String): (String, String, String) = {
    val raw = s"$root/events"; val roll = s"$root/rollup"
    val stats = s"$root/rollup_stats"
    val base = 1700000000000000L
    (0 until 5000).map { i =>
      (new java.sql.Timestamp(base / 1000 + i * 97000L),
        if (i % 3 == 0) "view" else "purchase", (i % 8) * 0.25)
    }.toDF("ts", "event_type", "value")
      .write.mode("overwrite").parquet(raw)
    spark.read.parquet(raw)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(sum("value").as("sum_value"))
      .write.mode("overwrite").parquet(roll)
    graft.ops.Rollup.hourlyStats(spark.read.parquet(raw), "ts", "value",
        dims = Seq("event_type"), hourColName = "hour")
      .write.mode("overwrite").parquet(stats)
    (raw, roll, stats)
  }

  private def registerStats(raw: String, stats: String): Unit =
    RollupNavigation.register(spark, spark.read.parquet(raw), "ts",
      Seq("event_type"), "value", stats, "hour", "sum_value",
      cntCol = Some("cnt"), minCol = Some("min_value"),
      maxCol = Some("max_value"), cntMeasureCol = Some("cnt_measure"))

  private def dayAgg(raw: String) =
    spark.read.parquet(raw)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(sum("value").as("s"))

  private def navigated(df: org.apache.spark.sql.DataFrame): Boolean = {
    val p = df.queryExecution.optimizedPlan.toString
    !p.contains("ts#") && (p.contains("sum_value") || p.contains("cnt#") ||
      p.contains("cnt_measure") || p.contains("min_value") ||
      p.contains("max_value"))
  }

  test("day-grain SUM over raw navigates to the rollup; values identical; stale gate stands down") {
    withTempDir("graft_nav_") { dir =>
      val (raw, roll, _) = fixture(dir.toString)
      // dyadic values: double sums are exact under any association —
      // exact-equality compare
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2))).toSet
      val expected = rows(dayAgg(raw))
      try {
        RollupNavigation.register(spark, spark.read.parquet(raw), "ts",
          Seq("event_type"), "value", roll, "hour", "sum_value")
        val q = dayAgg(raw)
        val plan = q.queryExecution.optimizedPlan.toString
        assert(plan.contains("sum_value"), s"not navigated:\n$plan")
        assert(!plan.contains("ts#"), s"raw scan survived navigation:\n$plan")
        assert(rows(q) === expected)

        // hour-grain (the rollup's own grain) navigates too
        val hq = spark.read.parquet(raw)
          .groupBy(date_trunc("hour", col("ts")).as("hour"))
          .agg(sum("value").as("s"))
        assert(hq.queryExecution.optimizedPlan.toString.contains("sum_value"))

        // STALE: a new file landing in the raw store flips the signature
        Seq((new java.sql.Timestamp(1700990000000L), "view", 1.0))
          .toDF("ts", "event_type", "value")
          .write.mode("append").parquet(raw)
        val p2 = dayAgg(raw).queryExecution.optimizedPlan.toString
        assert(p2.contains("ts#") && !p2.contains("sum_value"),
          s"rule must stand down on a stale rollup:\n$p2")
      } finally RollupNavigation.clear()
    }
  }

  test("COUNT/MIN/MAX/AVG navigate onto the stats rollup; values exactly the raw answers") {
    withTempDir("graft_nav_") { dir =>
      val (raw, _, stats) = fixture(dir.toString)
      def mixed() = spark.read.parquet(raw)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), min("value").as("mn"),
          max("value").as("mx"), avg("value").as("av"), sum("value").as("sv"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSet
      val expected = rows(mixed()) // rule not yet registered: raw plan
      try {
        registerStats(raw, stats)
        val q = mixed()
        assert(navigated(q), q.queryExecution.optimizedPlan.toString)
        // dyadic sums: AVG's Σsum/Σcnt recombination is exact too
        assert(rows(q) === expected)
      } finally RollupNavigation.clear()
    }
  }

  test("a dim filter REPLAYS over the rollup; measure/time/nondeterministic filters stand down") {
    withTempDir("graft_nav_") { dir =>
      val (raw, _, stats) = fixture(dir.toString)
      def filtered() = spark.read.parquet(raw)
        .filter(col("event_type") === "view")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(sum("value").as("s"), count(lit(1)).as("n"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getTimestamp(0), r.getDouble(1), r.getLong(2))).toSet
      val expected = rows(filtered())
      try {
        registerStats(raw, stats)
        val q = filtered()
        assert(navigated(q), q.queryExecution.optimizedPlan.toString)
        assert(rows(q) === expected)

        // row-level (measure) filter cannot replay over pre-aggregated rows
        val f = spark.read.parquet(raw).filter(col("value") > 1.0)
          .groupBy(date_trunc("day", col("ts"))).agg(sum("value"))
        assert(!navigated(f))
        // time filter: the rollup carries hour starts, not raw timestamps
        val t = spark.read.parquet(raw)
          .filter(col("ts") > lit("2023-11-15").cast("timestamp"))
          .groupBy(date_trunc("day", col("ts"))).agg(sum("value"))
        assert(!navigated(t))
        // nondeterministic predicate never replays (must be one the
        // optimizer can't remove: Spark 4 simplifies rand() > -1 away via
        // rand's [0,1) range, leaving a clean — navigable — aggregate)
        val nd = spark.read.parquet(raw).filter(rand() > 0.5)
          .groupBy(date_trunc("day", col("ts"))).agg(sum("value"))
        assert(!navigated(nd))
      } finally RollupNavigation.clear()
    }
  }

  test("global and dims-only groupings navigate (the dashboard totals row)") {
    withTempDir("graft_nav_") { dir =>
      val (raw, _, stats) = fixture(dir.toString)
      def global() = spark.read.parquet(raw)
        .agg(count(lit(1)).as("n"), sum("value").as("s"))
      def byDim() = spark.read.parquet(raw)
        .groupBy("event_type").agg(sum("value").as("s"), max("value").as("mx"))
      val expGlobal = global().collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      val expDim = byDim().collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
      try {
        registerStats(raw, stats)
        val g = global()
        assert(navigated(g), g.queryExecution.optimizedPlan.toString)
        assert(g.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet === expGlobal)
        val d = byDim()
        assert(navigated(d), d.queryExecution.optimizedPlan.toString)
        assert(d.collect()
          .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet === expDim)
      } finally RollupNavigation.clear()
    }
  }

  test("navigation declines shapes the rollup cannot serve exactly") {
    withTempDir("graft_nav_") { dir =>
      val (raw, roll, stats) = fixture(dir.toString)
      try {
        registerStats(raw, stats)
        // sub-hour grain
        val m = spark.read.parquet(raw)
          .groupBy(date_trunc("minute", col("ts"))).agg(sum("value"))
        assert(!navigated(m))
        // COUNT(measure) counts non-nulls — it rides the cnt_measure
        // column (r12), NOT the COUNT(*) cnt column
        val cm = spark.read.parquet(raw)
          .groupBy(date_trunc("day", col("ts"))).agg(count(col("value")).as("n"))
        assert(navigated(cm), cm.queryExecution.optimizedPlan.toString)
        // ...but COUNT of a non-measure column has no hourly partial
        val c = spark.read.parquet(raw)
          .groupBy(date_trunc("day", col("ts"))).agg(count(col("event_type")))
        assert(!navigated(c))
        // DISTINCT aggregates have no hourly partial
        val dd = spark.read.parquet(raw)
          .groupBy(date_trunc("day", col("ts"))).agg(countDistinct(col("value")))
        assert(!navigated(dd))
        // grouping by a column the rollup doesn't carry
        val g = spark.read.parquet(raw)
          .groupBy(date_trunc("day", col("ts")), col("value"))
          .agg(sum("value"))
        assert(!navigated(g))
        // a COUNT(*)-only aggregate over a DIFFERENT table traces no
        // column — relation identity must come from the scan itself, so
        // an unrelated table's count must never ride this rollup's cnt
        val other = s"$dir/other"
        Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "v")
          .write.mode("overwrite").parquet(other)
        val oc = spark.read.parquet(other).agg(count(lit(1)).as("n"))
        assert(!navigated(oc), oc.queryExecution.optimizedPlan.toString)
        assert(oc.head().getLong(0) === 3L)
      } finally RollupNavigation.clear()

      // a SUM-ONLY registration declines the widened shapes
      try {
        RollupNavigation.register(spark, spark.read.parquet(raw), "ts",
          Seq("event_type"), "value", roll, "hour", "sum_value")
        val a = spark.read.parquet(raw)
          .groupBy(date_trunc("day", col("ts"))).agg(avg("value"))
        assert(!navigated(a))
        val n = spark.read.parquet(raw)
          .groupBy(date_trunc("day", col("ts"))).agg(count(lit(1)))
        assert(!navigated(n))
      } finally RollupNavigation.clear()
    }
  }

  test("registration REJECTS a row-filtered raw frame (a subset rollup must never answer for the table)") {
    withTempDir("graft_nav_") { dir =>
      val (raw, _, stats) = fixture(dir.toString)
      try {
        val filtered = spark.read.parquet(raw).filter(col("event_type") === "view")
        val ex = intercept[IllegalArgumentException] {
          RollupNavigation.register(spark, filtered, "ts",
            Seq("event_type"), "value", stats, "hour", "sum_value")
        }
        assert(ex.getMessage.contains("no Filter"))
        // and nothing got registered: queries over the root stay raw
        assert(!navigated(dayAgg(raw)))
      } finally RollupNavigation.clear()
    }
  }

  test("AVG over a NULL-bearing measure recombines on COUNT(measure), matching the raw answer") {
    withTempDir("graft_nav_null_") { dir =>
      val root = dir.toString
      val raw = s"$root/events"; val stats = s"$root/rollup_stats"
      val base = 1700000000000000L
      // every 5th measure NULL; one event_type ("gap") ALL-null — its AVG
      // is null, and the navigated divide must yield null, not a
      // divide-by-zero (ANSI) or 0
      (0 until 4000).map { i =>
        val et = if (i % 11 == 0) "gap" else if (i % 3 == 0) "view" else "purchase"
        val v: Option[Double] =
          if (et == "gap" || i % 5 == 0) None else Some((i % 8) * 0.25)
        (new java.sql.Timestamp(base / 1000 + i * 97000L), et, v)
      }.toDF("ts", "event_type", "value")
        .write.mode("overwrite").parquet(raw)
      graft.ops.Rollup.hourlyStats(spark.read.parquet(raw), "ts", "value",
          dims = Seq("event_type"), hourColName = "hour")
        .write.mode("overwrite").parquet(stats)
      def q() = spark.read.parquet(raw)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(avg("value").as("av"), count(col("value")).as("nv"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getTimestamp(0), r.getString(1),
          if (r.isNullAt(2)) null else r.getDouble(2), r.getLong(3))).toSet
      val expected = rows(q())
      assert(expected.exists(_._3 == null), "fixture must exercise the all-null group")
      try {
        registerStats(raw, stats)
        val nav = q()
        assert(navigated(nav), nav.queryExecution.optimizedPlan.toString)
        assert(rows(nav) === expected)
      } finally RollupNavigation.clear()
    }
  }

  test("EMPTY store: global COUNT(*) navigates to 0 (coalesce), not NULL; SUM stays NULL") {
    withTempDir("graft_nav_empty_") { dir =>
      val root = dir.toString
      val raw = s"$root/events"; val stats = s"$root/rollup_stats"
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("ts", TimestampType),
        StructField("event_type", StringType), StructField("value", DoubleType)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode("overwrite").parquet(raw)
      graft.ops.Rollup.hourlyStats(spark.read.parquet(raw), "ts", "value",
          dims = Seq("event_type"), hourColName = "hour")
        .write.mode("overwrite").parquet(stats)
      try {
        registerStats(raw, stats)
        val g = spark.read.parquet(raw)
          .agg(count(lit(1)).as("n"), count(col("value")).as("nv"),
            sum("value").as("s"))
        assert(navigated(g), g.queryExecution.optimizedPlan.toString)
        val r = g.head()
        assert(r.getLong(0) === 0L, "COUNT(*) over an empty store must be 0")
        assert(r.getLong(1) === 0L, "COUNT(measure) over an empty store must be 0")
        assert(r.isNullAt(2), "SUM over an empty store must be NULL")
      } finally RollupNavigation.clear()
    }
  }

  test("warm freshness check is O(1): repeated plans do ZERO deep store listings") {
    withTempDir("graft_nav_") { dir =>
      val (raw, _, stats) = fixture(dir.toString)
      try {
        registerStats(raw, stats)
        assert(navigated(dayAgg(raw))) // prime the token cache
        val before = RollupNavigation.deepListings.get()
        (1 to 5).foreach { _ =>
          assert(navigated(dayAgg(raw)))
          assert(navigated(spark.read.parquet(raw)
            .groupBy("event_type").agg(max("value").as("mx"))))
        }
        assert(RollupNavigation.deepListings.get() === before,
          "warm plans must not deep-list the raw store")
        // a landed batch moves the shallow token -> ONE deep re-list, rule
        // stands down, and detecting the same staleness again is O(1)
        Seq((new java.sql.Timestamp(1700990000000L), "view", 1.0))
          .toDF("ts", "event_type", "value")
          .write.mode("append").parquet(raw)
        assert(!navigated(dayAgg(raw)))
        val afterStale = RollupNavigation.deepListings.get()
        assert(afterStale === before + 1)
        assert(!navigated(dayAgg(raw)))
        assert(RollupNavigation.deepListings.get() === afterStale,
          "re-detecting a known-stale store must stay O(1)")
      } finally RollupNavigation.clear()
    }
  }

  /** Which rollup store does the optimized plan scan? Identified by the
    * file relation's root paths. */
  private def scannedStore(df: org.apache.spark.sql.DataFrame,
                           stores: Map[String, String]): Option[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val roots = df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }
    }.flatten
    stores.collectFirst {
      case (name, path) if roots.exists(_.contains(path)) => name }
  }

  test("GRAIN LADDER: coarsest serving rung wins; week rides daily; hour rides hourly; global rides monthly") {
    withTempDir("graft_nav_") { dir =>
      val (raw, _, stats) = fixture(dir.toString)
      val base = stats.stripSuffix("/rollup_stats")
      val daily = s"$base/rollup_daily"; val monthly = s"$base/rollup_monthly"
      val hourlyDf = spark.read.parquet(stats)
      graft.ops.Rollup.reaggregateStats(hourlyDf, "hour", "day", Seq("event_type"))
        .write.mode("overwrite").parquet(daily)
      graft.ops.Rollup.reaggregateStats(spark.read.parquet(daily), "bucket",
          "month", Seq("event_type"))
        .write.mode("overwrite").parquet(monthly)
      val stores = Map("hourly" -> stats, "daily" -> daily, "monthly" -> monthly)
      def reg(path: String, tc: String, g: String): Unit =
        RollupNavigation.register(spark, spark.read.parquet(raw), "ts",
          Seq("event_type"), "value", path, tc, "sum_value",
          cntCol = Some("cnt"), minCol = Some("min_value"),
          maxCol = Some("max_value"), cntMeasureCol = Some("cnt_measure"),
          grain = g)
      def agg(level: String) = spark.read.parquet(raw)
        .groupBy(date_trunc(level, col("ts")).as("b"), col("event_type"))
        .agg(sum("value").as("s"), count(lit(1)).as("n"),
          min("value").as("mn"), max("value").as("mx"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2),
          r.getLong(3), r.getDouble(4), r.getDouble(5))).toSet
      // raw truth BEFORE registration (dyadic values: exact equality)
      val truthM = rows(agg("month")); val truthW = rows(agg("week"))
      val truthH = rows(agg("hour")); val truthD = rows(agg("day"))
      try {
        reg(stats, "hour", "hour"); reg(daily, "bucket", "day")
        reg(monthly, "bucket", "month")
        // month query: monthly rung (not just any rung)
        assert(scannedStore(agg("month"), stores) === Some("monthly"))
        assert(rows(agg("month")) === truthM)
        // week buckets split months -> daily is the coarsest that composes
        assert(scannedStore(agg("week"), stores) === Some("daily"))
        assert(rows(agg("week")) === truthW)
        // hour: only the hourly rung serves
        assert(scannedStore(agg("hour"), stores) === Some("hourly"))
        assert(rows(agg("hour")) === truthH)
        assert(scannedStore(agg("day"), stores) === Some("daily"))
        assert(rows(agg("day")) === truthD)
        // no time bucket at all: ANY rung serves -> coarsest (monthly)
        val global = spark.read.parquet(raw)
          .groupBy("event_type").agg(sum("value").as("s"))
        assert(scannedStore(global, stores) === Some("monthly"))
        // quarter/year compose from months
        val yearly = spark.read.parquet(raw)
          .groupBy(date_trunc("year", col("ts")).as("y"))
          .agg(avg("value").as("a"), count(col("value")).as("nv"))
        assert(scannedStore(yearly, stores) === Some("monthly"))
      } finally RollupNavigation.clear()
    }
  }

  test("KMV sketch navigation: kMinima over raw rewrites to mergeMinima over stored states, bit-identical; wrong k / wrong input decline") {
    import graft.functions.{Hashing, Kmv}
    withTempDir("graft_nav_") { dir =>
      val (raw, _, _) = fixture(dir.toString)
      val root = raw.stripSuffix("/events")
      val stats = s"$root/rollup_kmv"
      val kmvIn = Hashing.md5Long(col("event_type")) // low-card but exact
      graft.ops.Rollup.hourlyStats(spark.read.parquet(raw), "ts", "value",
          dims = Seq("event_type"), hourColName = "hour",
          kmvOf = Some((kmvIn, 8)))
        .write.mode("overwrite").parquet(stats)
      def q(k: Int, in: org.apache.spark.sql.Column) = spark.read.parquet(raw)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(Kmv.kMinima(in, k).as("m"))
      // raw truth BEFORE registration
      val truth = q(8, kmvIn).collect()
        .map(r => (r.getTimestamp(0), r.getSeq[Long](1).toList)).toMap
      try {
        RollupNavigation.register(spark, spark.read.parquet(raw), "ts",
          Seq("event_type"), "value", stats, "hour", "sum_value",
          kmv = Some((kmvIn, 8, "kmv_minima")))
        val nav = q(8, kmvIn)
        val plan = nav.queryExecution.optimizedPlan.toString
        assert(!plan.contains("ts#") && plan.contains("kmv_minima"),
          s"not navigated:\n$plan")
        val got = nav.collect()
          .map(r => (r.getTimestamp(0), r.getSeq[Long](1).toList)).toMap
        assert(got === truth, "merged sketch states must be bit-identical to raw sketching")
        // wrong k: the stored states can't serve a different sketch width
        assert(q(4, kmvIn).queryExecution.optimizedPlan.toString.contains("ts#"),
          "k mismatch must decline")
        // different hash input: sketches of another column must not serve
        val other = Hashing.md5Long(col("value").cast("string"))
        assert(q(8, other).queryExecution.optimizedPlan.toString.contains("ts#"),
          "different sketch input must decline")
      } finally RollupNavigation.clear()
    }
  }

  test("COUNT(DISTINCT dim) navigates; COUNT(DISTINCT measure) declines (rollup keeps no raw values)") {
    withTempDir("graft_nav_") { dir =>
      val (raw, _, stats) = fixture(dir.toString)
      try {
        registerStats(raw, stats)
        def q(c: org.apache.spark.sql.Column) = spark.read.parquet(raw)
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(countDistinct(c).as("nd"), count(lit(1)).as("n"))
        val dimQ = q(col("event_type"))
        assert(navigated(dimQ), dimQ.queryExecution.optimizedPlan.toString)
        // truth from a disarmed run
        RollupNavigation.clear()
        val truth = q(col("event_type")).collect()
          .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
        registerStats(raw, stats)
        assert(dimQ.collect()
          .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet === truth)
        // DISTINCT over the measure cannot be served by partials
        assert(!navigated(q(col("value"))), "COUNT(DISTINCT measure) must decline")
      } finally RollupNavigation.clear()
    }
  }

  test("COMPUTED dims/measure navigate (HLL register shape): max-of-maxes over per-hour register rollup") {
    import graft.functions.{Hashing, Hll}
    withTempDir("graft_nav_") { dir =>
      val (raw, _, _) = fixture(dir.toString)
      val base = raw.stripSuffix("/events")
      def frame = {
        val h = Hashing.md5Long(col("value").cast("string"))
        spark.read.parquet(raw)
          .withColumn("reg_idx", Hll.regIdx(h)).withColumn("rho", Hll.rho(h))
      }
      // rho's trailing int→int cast is REDUNDANT and SimplifyCasts strips
      // it from query plans — registration must normalize identically or
      // this shape silently never matches (the r12 regression this pins)
      val L = graft.ops.Rollup.StatsLadder(s"$base/hll", "ts", "rho",
        Seq("event_type", "reg_idx"))
      graft.ops.Rollup.buildStatsLadder(spark, frame, L)
      def q() = frame.groupBy(col("event_type"), col("reg_idx"))
        .agg(max(col("rho")).as("rho"))
      val truth = q().collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
      try {
        graft.ops.Rollup.registerStatsLadder(spark, frame, L)
        val nav = q()
        val plan = nav.queryExecution.optimizedPlan.toString
        assert(!plan.contains("ts#"), s"not navigated:\n$plan")
        assert(nav.collect()
          .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet === truth)
      } finally RollupNavigation.clear()
    }
  }

  test("TIME-RANGE replay: aligned bounds navigate rung-aware; unaligned bounds stand down") {
    withTempDir("graft_nav_") { dir =>
      val (raw, _, stats) = fixture(dir.toString)
      val base = stats.stripSuffix("/rollup_stats")
      val daily = s"$base/rollup_daily"
      graft.ops.Rollup.reaggregateStats(spark.read.parquet(stats), "hour",
          "day", Seq("event_type"))
        .write.mode("overwrite").parquet(daily)
      val stores = Map("hourly" -> stats, "daily" -> daily)
      // fixture starts 2023-11-14T22:13:20Z; UTC-day/hour boundaries:
      val nov15 = new java.sql.Timestamp(1700006400000L)        // day-aligned
      val nov17 = new java.sql.Timestamp(1700179200000L)        // day-aligned
      val nov15_06 = new java.sql.Timestamp(1700028000000L)     // hour-aligned only
      val nov15_0630 = new java.sql.Timestamp(1700029800000L)   // unaligned
      def q(lo: java.sql.Timestamp, hi: java.sql.Timestamp) =
        spark.read.parquet(raw)
          .filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
          .groupBy(date_trunc("day", col("ts")).as("d"), col("event_type"))
          .agg(sum("value").as("s"), count(lit(1)).as("n"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet
      val truthDay = rows(q(nov15, nov17))
      val truthHour = rows(q(nov15_06, nov17))
      try {
        registerStats(raw, stats)
        RollupNavigation.register(spark, spark.read.parquet(raw), "ts",
          Seq("event_type"), "value", daily, "bucket", "sum_value",
          cntCol = Some("cnt"), minCol = Some("min_value"),
          maxCol = Some("max_value"), cntMeasureCol = Some("cnt_measure"),
          grain = "day")
        // day-aligned bounds: the DAILY rung serves with a bucket-range filter
        assert(scannedStore(q(nov15, nov17), stores) === Some("daily"))
        assert(rows(q(nov15, nov17)) === truthDay)
        // hour-aligned-only lower bound: daily declines, hourly serves
        assert(scannedStore(q(nov15_06, nov17), stores) === Some("hourly"))
        assert(rows(q(nov15_06, nov17)) === truthHour)
        // unaligned bound: no rung can replay it -> raw scan
        assert(scannedStore(q(nov15_0630, nov17), stores) === None,
          "an unaligned bound must stand the rule down")
      } finally RollupNavigation.clear()
    }
  }

  test("PRODUCTION nav queries all truly navigate (no silent raw-scan fallback)") {
    // regression pin: CollapseProject merges display projections
    // (round/date_format) into the aggregate list; before r12's
    // general-output rewrite, q_a2_nav_multimeasure passed its ORACLE
    // while silently scanning raw — plan identity is the feature, so the
    // oracle alone cannot gate it
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val dir = "/root/testdata/sf0.001"
    val navNames = SparkEntry.queries.keys.filter(_.startsWith("q_a2_nav")).toSeq :+
      "q_a2_reagg_navigated"
    try {
      navNames.foreach { name =>
        val df = SparkEntry.queries(name)(spark, dir)
        val roots = df.queryExecution.optimizedPlan.collect {
          case lr: LogicalRelation => lr.relation match {
            case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
        }.flatten
        assert(!roots.exists(_.contains("events.parquet")),
          s"$name fell back to the raw scan: $roots")
      }
    } finally RollupNavigation.clear()
  }

  test("HLL ladder: the monthly COUNT(DISTINCT) dashboard reads the MONTHLY register rung") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val dir = "/root/testdata/sf0.001"
    try {
      val df = SparkEntry.queries("q_a2_nav_hll_monthly")(spark, dir)
      val roots = df.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
      }.flatten
      // rung selection: month buckets are servable by hour/day/month
      // grains; the coarsest (monthly, ~720x fewer rows than hourly) must
      // win, and no raw-events scan may survive
      assert(roots.nonEmpty && roots.forall(_.contains("/monthly")),
        s"expected only the monthly rung, scanned: $roots")
      assert(df.collect().nonEmpty)
    } finally RollupNavigation.clear()
  }

  test("GRAIN LADDER: a stale coarse rung stands down, finer fresh rung still serves") {
    withTempDir("graft_nav_") { dir =>
      val (raw, _, stats) = fixture(dir.toString)
      val base = stats.stripSuffix("/rollup_stats")
      val daily = s"$base/rollup_daily"
      graft.ops.Rollup.reaggregateStats(spark.read.parquet(stats), "hour",
          "day", Seq("event_type"))
        .write.mode("overwrite").parquet(daily)
      val stores = Map("hourly" -> stats, "daily" -> daily)
      try {
        RollupNavigation.register(spark, spark.read.parquet(raw), "ts",
          Seq("event_type"), "value", stats, "hour", "sum_value", grain = "hour")
        // raw moves between the two registrations: the daily registration
        // captures the NEW signature, the hourly one is now stale
        Seq((new java.sql.Timestamp(1700991100000L), "view", 0.25))
          .toDF("ts", "event_type", "value")
          .write.mode("append").parquet(raw)
        graft.ops.Rollup.reaggregateStats(
            graft.ops.Rollup.hourlyStats(spark.read.parquet(raw), "ts", "value",
              dims = Seq("event_type"), hourColName = "hour"),
            "hour", "day", Seq("event_type"))
          .write.mode("overwrite").parquet(daily)
        RollupNavigation.register(spark, spark.read.parquet(raw), "ts",
          Seq("event_type"), "value", daily, "bucket", "sum_value", grain = "day")
        val q = dayAgg(raw)
        assert(scannedStore(q, stores) === Some("daily"),
          "fresh daily rung must serve while the stale hourly stands down")
        val truth = spark.read.parquet(raw)
          .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
          .agg(sum("value").as("s"))
        // both sides navigationally independent? truth re-navigates onto
        // daily too — compare against a DISARMED run instead
        RollupNavigation.clear()
        val expected = truth.collect()
          .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2))).toSet
        RollupNavigation.register(spark, spark.read.parquet(raw), "ts",
          Seq("event_type"), "value", daily, "bucket", "sum_value", grain = "day")
        val got = q.collect()
          .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2))).toSet
        assert(got === expected)
      } finally RollupNavigation.clear()
    }
  }

  test("RANDOMIZED differential: seeded dashboard shapes give identical results navigated and raw") {
    // Differential fuzzing of the whole navigation surface: one seeded
    // random fixture (null timestamps, null dims, null measures — every
    // boundary the rewrite must preserve), a two-rung ladder, and 24
    // random dashboard shapes composed from {grain, dim predicate,
    // aligned time range, aggregate subset}. Every shape's NAVIGATED
    // result must equal its RAW result exactly — the measure is integer,
    // so sums/averages are exact doubles and no rounding indirection is
    // needed. Guards against vacuity: most shapes must actually navigate.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val rnd = new scala.util.Random(20260815L)
    withTempDir("graft_nav_fuzz_") { dir =>
      val root = dir.toString
      val raw = s"$root/events"
      val baseMs = 1700000000000L
      val types = Array("view", "click", "purchase", null)
      (0 until 6000).map { i =>
        val ts = if (rnd.nextInt(50) == 0) null
          else new java.sql.Timestamp(baseMs + math.abs(rnd.nextLong() % (90L * 86400000L)))
        val v: java.lang.Long =
          if (rnd.nextInt(20) == 0) null else java.lang.Long.valueOf(rnd.nextInt(1000).toLong)
        (ts, types(rnd.nextInt(types.length)), v)
      }.toDF("ts", "event_type", "value").write.mode("overwrite").parquet(raw)
      val rawDf = spark.read.parquet(raw)
      graft.ops.Rollup.hourlyStats(rawDf, "ts", "value", Seq("event_type"), "hour")
        .write.mode("overwrite").parquet(s"$root/hourly")
      graft.ops.Rollup.reaggregateStats(
          spark.read.parquet(s"$root/hourly"), "hour", "day", Seq("event_type"))
        .write.mode("overwrite").parquet(s"$root/daily")
      def register(): Unit =
        Seq((s"$root/hourly", "hour", "hour"), (s"$root/daily", "bucket", "day"))
          .foreach { case (p, tc, g) =>
            RollupNavigation.register(spark, rawDf, "ts", Seq("event_type"),
              "value", p, tc, "sum_value", cntCol = Some("cnt"),
              cntMeasureCol = Some("cnt_measure"), minCol = Some("min_value"),
              maxCol = Some("max_value"), grain = g)
          }
      def alignedTs(dayOffset: Int): java.sql.Timestamp =
        java.sql.Timestamp.from(java.time.LocalDate.of(2023, 11, 15)
          .plusDays(dayOffset.toLong).atStartOfDay(java.time.ZoneOffset.UTC).toInstant)
      def shape(seed: Int): DataFrame = {
        val r = new scala.util.Random(seed)
        var df = rawDf
        r.nextInt(4) match { // dim predicate
          case 0 =>
          case 1 => df = df.filter(col("event_type") === "view")
          case 2 => df = df.filter(col("event_type") =!= "view")
          case 3 => df = df.filter(col("event_type").isin("view", "click"))
        }
        if (r.nextInt(2) == 1) { // aligned half-open time range
          val lo = r.nextInt(40); val hi = lo + 1 + r.nextInt(45)
          df = df.filter(col("ts") >= lit(alignedTs(lo)) && col("ts") < lit(alignedTs(hi)))
        }
        val groups: Seq[org.apache.spark.sql.Column] = r.nextInt(6) match {
          case 0 => Seq(date_trunc("hour", col("ts")).as("b"))
          case 1 => Seq(date_trunc("day", col("ts")).as("b"))
          case 2 => Seq(date_trunc("week", col("ts")).as("b"), col("event_type"))
          case 3 => Seq(date_trunc("month", col("ts")).as("b"), col("event_type"))
          case 4 => Seq(col("event_type")) // dims-only
          case 5 => Seq.empty              // global
        }
        val allAggs = Seq(
          sum("value").as("s"), count(lit(1)).as("n"), avg("value").as("a"),
          min("value").as("mn"), max("value").as("mx"),
          countDistinct(col("event_type")).as("nd"))
        val picked = allAggs.zipWithIndex.filter { case (_, i) => r.nextInt(2) == 0 || i == 0 }
          .map(_._1)
        df.groupBy(groups: _*).agg(picked.head, picked.tail: _*)
      }
      def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
      def readsRaw(df: DataFrame): Boolean =
        df.queryExecution.optimizedPlan.collect {
          case lr: LogicalRelation => lr.relation match {
            case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
        }.flatten.exists(_.contains("/events"))
      try {
        var navigatedCount = 0
        for (seed <- 1 to 24) {
          RollupNavigation.clear()
          val expected = rowsOf(shape(seed)) // raw truth, rule disarmed
          register()
          val q = shape(seed)
          if (!readsRaw(q)) navigatedCount += 1
          assert(rowsOf(q) === expected, s"seed $seed diverged")
        }
        // every shape here is servable (aligned bounds, registered dims,
        // served aggregate set) — if most ran raw the differential is vacuous
        assert(navigatedCount >= 16, s"only $navigatedCount/24 shapes navigated")
      } finally RollupNavigation.clear()
    }
  }
}
