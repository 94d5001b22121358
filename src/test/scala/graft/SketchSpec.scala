package graft

import org.apache.spark.sql.functions._
import graft.functions.{Bloom, Hashing, Hll}

/** HyperLogLog + Bloom filter: parity with an independent driver-side
  * reference, raw-branch accuracy, mergeability, and the semi-join
  * reduction contract.
  */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference for the 60-bit cross-engine hash. */
  private def md5Long60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
  }

  private def refRegisters(values: Seq[String]): Map[Int, Int] =
    values.foldLeft(Map.empty[Int, Int]) { (m, v) =>
      val h = md5Long60(v)
      val idx = (h >>> Hll.WBits).toInt
      val w = h & Hll.WMask
      val rho = if (w == 0) Hll.MaxRho else Hll.MaxRho - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (m.getOrElse(idx, 0) >= rho) m else m.updated(idx, rho)
    }

  test("hll registers match an independent driver-side reference") {
    val vals = (0 until 5000).map(i => s"v$i")
    val df = vals.toDF("v")
    val h = Hashing.md5Long(col("v"))
    val regs = df.groupBy(Hll.regIdx(h).as("reg_idx")).agg(max(Hll.rho(h)).as("rho"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(regs === refRegisters(vals))
  }

  test("hll raw-branch estimate lands within 10% at n >> 2.5m") {
    val n = 20000
    val df = (0 until n).map(i => s"user-$i").toDF("v")
    val h = Hashing.md5Long(col("v"))
    val regs = df.groupBy(Hll.regIdx(h).as("reg_idx")).agg(max(Hll.rho(h)).as("rho"))
    val est = regs.agg(count(lit(1)).as("n_present"),
        sum(Hll.registerTerm("rho")).as("s_present"))
      .select(Hll.estimate(lit(Hll.M.toLong) - col("n_present"),
        Hll.harmonicS(col("n_present"), col("s_present"))).as("est"))
      .head().getDouble(0)
    // With m=512 registers the standard error is ~1.04/sqrt(512) = 4.6%.
    assert(math.abs(est - n) / n < 0.10, s"estimate $est too far from $n")
    // Raw branch really fired: the linear-counting branch is capped at
    // values far below n when most registers are occupied.
    assert(est > 2.5 * Hll.M)
  }

  test("hll registers merge by max (saved-aggregate re-agg shape)") {
    val vals = (0 until 3000).map(i => s"m$i")
    val (a, b) = vals.splitAt(1300) // overlapping would also be fine
    def regsOf(vs: Seq[String]): Map[Int, Int] = {
      val h = Hashing.md5Long(col("v"))
      vs.toDF("v").groupBy(Hll.regIdx(h).as("reg_idx")).agg(max(Hll.rho(h)).as("rho"))
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    }
    val merged = (regsOf(a).toSeq ++ regsOf(b).toSeq)
      .groupBy(_._1).map { case (k, kv) => k -> kv.map(_._2).max }
    assert(merged === regsOf(vals))
  }

  test("bloom has no false negatives and few false positives") {
    val keys = (0 until 800).map(i => s"k$i")
    val dim = keys.toDF("k")
    val bm = Bloom.build(dim, col("k"), k = 4, mBits = 1 << 16)
    val members = dim.filter(Bloom.mightContain(col("k"), bm, 4, 1 << 16)).count()
    assert(members === 800L) // every inserted key passes
    val nonMembers = (0 until 20000).map(i => s"absent$i").toDF("k")
      .filter(Bloom.mightContain(col("k"), bm, 4, 1 << 16)).count()
    assert(nonMembers < 200L, s"fpp too high: $nonMembers/20000") // expect ~0 at 4e-6
  }

  test("bloom prefilter preserves the exact semi-join result while reducing rows") {
    val dim = (0 until 50).map(i => (i * 7L, s"d$i")).toDF("key", "payload")
    val fact = (0 until 5000).map(i => (i.toLong, i % 3)).toDF("key", "grp")
    val bm = Bloom.build(dim.select("key"), col("key").cast("string"), k = 4, mBits = 1 << 16)
    val pre = fact.filter(Bloom.mightContain(col("key").cast("string"), bm, 4, 1 << 16))
    assert(pre.count() < fact.count()) // the reduction is real
    val withBloom = pre.join(broadcast(dim.select("key")), Seq("key"), "left_semi")
      .orderBy("key").collect().map(_.getLong(0)).toSeq
    val exact = fact.join(broadcast(dim.select("key")), Seq("key"), "left_semi")
      .orderBy("key").collect().map(_.getLong(0)).toSeq
    assert(withBloom === exact)
  }

  test("histogram bin clamps, handles the degenerate domain, and estimates within bin width") {
    import graft.functions.Histogram
    val vals = (0 until 10000).map(_.toDouble)
    val df = vals.toDF("v")
    // bins clamp to [0, 255]
    val bins = df.select(Histogram.bin(col("v"), 0.0, 9999.0, 256).as("b"))
      .agg(min("b"), max("b")).head()
    assert(bins.getInt(0) === 0 && bins.getInt(1) === 255)
    // degenerate lo==hi domain maps everything to bin 0
    assert(df.select(Histogram.bin(col("v"), 5.0, 5.0, 256).as("b"))
      .filter(col("b") =!= 0).count() === 0L)
    // p95 estimate of uniform [0, 9999] lands within one bin width of 9500
    val hist = df.groupBy(Histogram.bin(col("v"), 0.0, 9999.0, 256).as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("bin")
    val b95 = hist.select(col("bin"), sum("cnt").over(w).as("cum"))
      .filter(col("cum") * 100 >= lit(95) * 10000).agg(min("bin")).head().getInt(0)
    val est = 0.0 + b95 * 9999.0 / 256.0
    assert(math.abs(est - 9500.0) <= 9999.0 / 256.0 + 1e-9, s"p95 estimate $est")
  }

  test("histograms from disjoint partitions merge by adding counts") {
    import graft.functions.Histogram
    val (a, b) = (0 until 8000).map(_.toDouble).splitAt(3000)
    def histOf(vs: Seq[Double]): Map[Int, Long] =
      vs.toDF("v").groupBy(Histogram.bin(col("v"), 0.0, 7999.0, 256).as("bin"))
        .agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val merged = (histOf(a).toSeq ++ histOf(b).toSeq)
      .groupBy(_._1).map { case (k, kv) => k -> kv.map(_._2).sum }
    assert(merged === histOf(a ++ b))
  }

  test("bloom membership test stays a scan-side filter upstream of the join") {
    // A file-backed fact: over a LocalRelation the optimizer folds the
    // filter away entirely, which would hide the plan shape under test.
    withTempDir("bloomplan") { tmp =>
      val dir = tmp.toString
      (0 until 5000).map(_.toLong).toDF("key").write.mode("overwrite").parquet(dir)
      val dim = (0 until 50).map(i => i * 7L).toDF("key")
      val bm = Bloom.build(dim, col("key").cast("string"), k = 4, mBits = 1 << 16)
      val fact = spark.read.parquet(dir)
      val joined = fact.filter(Bloom.mightContain(col("key").cast("string"), bm, 4, 1 << 16))
        .join(broadcast(dim), Seq("key"), "left_semi")
      val plan = joined.queryExecution.executedPlan.toString
      val filterAt = plan.indexOf("getbit")
      val joinAt = plan.indexOf("BroadcastHashJoin")
      assert(filterAt >= 0 && joinAt >= 0)
      // Tree prints root-first: the join must appear before (above) the filter.
      assert(joinAt < filterAt, "bloom test should sit below the join, on the scan side")
    }
  }

  test("count-min registers match an independent driver-side reference") {
    import graft.functions.CountMin
    val d = 4; val w = 16
    val tokens = (0 until 500).map(i => s"tok${i % 37}")
    val ref = new Array[Long](d * w)
    tokens.foreach { t =>
      (0 until d).foreach { s =>
        ref(s * w + (md5Long60(t + "#" + s) % w).toInt) += 1L
      }
    }
    val got = tokens.toDF("token")
      .agg(CountMin.sketch(col("token"), d, w)).head.getSeq[Long](0)
    assert(got.toArray.toSeq === ref.toSeq)
  }

  test("count-min estimate: always >= exact, == exact when collision-free") {
    import graft.functions.CountMin
    val tokens = Seq.fill(40)("alpha") ++ Seq.fill(7)("beta") ++ Seq("gamma")
    val df = tokens.toDF("token")
    // narrow sketch: overestimates possible but never under
    val narrow = df.agg(CountMin.sketch(col("token"), d = 2, w = 4))
      .head.getSeq[Long](0).toArray
    val estN = df.distinct()
      .withColumn("est", CountMin.estimate(col("token"), narrow, d = 2, w = 4))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(estN("alpha") >= 40L && estN("beta") >= 7L && estN("gamma") >= 1L)
    // wide sketch: 3 distinct tokens in 4x1024 registers collide with
    // probability ~0 under the fixed md5 family — estimates are exact
    val wide = df.agg(CountMin.sketch(col("token"), d = 4, w = 1024))
      .head.getSeq[Long](0).toArray
    val estW = df.distinct()
      .withColumn("est", CountMin.estimate(col("token"), wide, d = 4, w = 1024))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(estW === Map("alpha" -> 40L, "beta" -> 7L, "gamma" -> 1L))
  }
}
