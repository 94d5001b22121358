package graft

import org.apache.spark.sql.functions._
import graft.functions.Net
import graft.plans.{CidrRangeDerivation, GraftFunctions}

/** Native IpToLong expression + CIDR range-derivation optimizer rule. */
class PlansSpec extends SparkSpec {
  import spark.implicits._

  private val samples = Seq(
    "0.0.0.0", "255.255.255.255", "10.1.2.3", "192.168.0.1", "8.8.8.8",
    "1.2.3.4", "172.31.255.254",
    "256.1.1.1", "1.2.3", "1.2.3.4.5", "", "a.b.c.d", "01.2.3.4", "1..2.3",
    "999.999.999.999", "10.00.1.1", " 1.2.3.4", "1.2.3.4 ")

  test("native IpToLong agrees with the composed-builtin ipToLong") {
    val df = samples.toDF("ip").select(
      col("ip"),
      GraftFunctions.ipToLongNative(col("ip")).as("native"),
      Net.ipToLong(col("ip")).as("composed"),
      Net.isIpv4(col("ip")).as("valid"))
    df.collect().foreach { r =>
      val native = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val valid = r.getBoolean(3)
      // native is STRICT: null exactly when the strict validator rejects
      assert(native.isDefined === valid, s"ip='${r.getString(0)}'")
      if (valid) assert(native.get === r.getLong(2), s"ip='${r.getString(0)}'")
    }
  }

  test("incidrNative matches incidr on valid addresses") {
    val cidrs = Seq("10.0.0.0/8", "172.16.0.0/12", "1.2.3.4/32", "0.0.0.0/0")
    cidrs.foreach { c =>
      val got = samples.toDF("ip").select(
        GraftFunctions.incidrNative(c, col("ip")).as("n"),
        Net.incidr(c, col("ip")).as("b"),
        Net.isIpv4(col("ip")).as("v")).collect()
      got.foreach { r =>
        val n = !r.isNullAt(0) && r.getBoolean(0)
        val b = !r.isNullAt(1) && r.getBoolean(1)
        if (r.getBoolean(2)) assert(n === b, s"cidr $c")
        else assert(!n, s"cidr $c invalid ip must not match")
      }
    }
  }

  test("CidrRangeDerivation pushes bounds for annotated packed-IP columns") {
    withTempDir("cidr_push") { tmp =>
      val path = tmp.toString
      (0L until 4096L).map(i => i * 1048576L % 4294967296L).toDF("raw")
        .select(col("raw").as("ip_long", Net.packedIpv4Metadata))
        .write.mode("overwrite").parquet(path)
      val (net, mask) = Net.parseCidr("10.0.0.0/8")

      def query() = spark.read.parquet(path)
        .filter(col("ip_long").bitwiseAND(lit(mask)) === lit(net))

      val before = query().collect().map(_.getLong(0)).sorted
      val prev = spark.experimental.extraOptimizations
      spark.experimental.extraOptimizations = prev :+ CidrRangeDerivation
      try {
        val plan = query().queryExecution.executedPlan.toString
        assert(plan.contains("GreaterThanOrEqual(ip_long"), s"no pushed lower bound in:\n$plan")
        assert(plan.contains("LessThanOrEqual(ip_long"), s"no pushed upper bound in:\n$plan")
        val after = query().collect().map(_.getLong(0)).sorted
        assert(after.toSeq === before.toSeq)
        // idempotence: fixed-point optimizer batches must not stack bounds
        val conds = "GreaterThanOrEqual\\(ip_long".r.findAllIn(plan).size
        assert(conds <= 2, s"rule stacked duplicate bounds:\n$plan")
      } finally spark.experimental.extraOptimizations = prev
    }
  }

  test("P7 START/STOP bounds reach the parquet scan natively (fixture ts)") {
    // With the fixture's ts read as a native timestamp (TIMESTAMP(MICROS)
    // since round 6), Catalyst unwraps the NTZ->instant cast and Spark's
    // BUILT-IN parquet pushdown carries the time bounds to the scan —
    // no custom rule involved. This pin is what keeps a START/STOP query
    // row-group-prunable at 100 TB.
    val plan = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("ts") >= lit("2024-01-10") && col("ts") < lit("2024-01-20"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan)
    val pushed = plan.split("PushedFilters: ", 2)(1)
    assert(pushed.contains("GreaterThanOrEqual(ts,"), s"no pushed lower bound:\n$plan")
    assert(pushed.contains("LessThan(ts,"), s"no pushed upper bound:\n$plan")
  }

  test("NanosRangeDerivation pushes START/STOP bounds on a raw-nanos Long fixture") {
    // The TIMESTAMP(NANOS)-as-Long encoding events.parquet shipped with
    // through round 5. The rule is schema-gated by construction — it only
    // fires on the `timestamp_micros(x div 1000)` derivation normalizeTs
    // emits for LongType — so on native-timestamp fixtures it is inert and
    // the previous test's built-in pushdown takes over.
    withTempDir("nanos_push") { tmp =>
      val path = tmp.toString
      val base = 1704067200000000000L // 2024-01-01T00:00:00Z in nanos
      (0L until 720L).map(i => base + i * 3600L * 1000000000L)
        .toDF("ts").write.mode("overwrite").parquet(path)
      def query() = graft.sources.Tables.normalizeTs(spark.read.parquet(path))
        .filter(col("ts") >= lit("2024-01-10") && col("ts") < lit("2024-01-20"))
      val plan = query().queryExecution.executedPlan.toString
      assert(plan.contains("GreaterThanOrEqual(ts,"), s"no pushed lower bound:\n$plan")
      assert(plan.contains("LessThanOrEqual(ts,"), s"no pushed upper bound:\n$plan")
      // exact answer vs the arithmetic oracle: hours in [Jan 10, Jan 20)
      assert(query().count() === 240L)
    }
  }

  test("CidrRangeDerivation never touches unannotated 64-bit columns") {
    // x = net + 2^32 satisfies the mask-compare but would violate derived
    // bounds — without the domain annotation the rule must stay away.
    val (net, mask) = Net.parseCidr("10.0.0.0/8")
    val weird = net + 4294967296L
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ CidrRangeDerivation
    try {
      val df = Seq(net, weird, 0L).toDF("x")
        .filter(col("x").bitwiseAND(lit(mask)) === lit(net))
      assert(df.collect().map(_.getLong(0)).toSet === Set(net, weird))
      assert(!df.queryExecution.optimizedPlan.toString.contains(">="))
    } finally spark.experimental.extraOptimizations = prev
  }
}
