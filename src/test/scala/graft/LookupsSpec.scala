package graft

import org.apache.spark.sql.functions._
import graft.ops.Lookups

/** J1/J2: broadcast dimension lookups, reference sets, network hierarchy
  * (SURVEY §2.3).
  */
class LookupsSpec extends SparkSpec {
  import spark.implicits._

  private def facts = Seq((1, "x"), (2, "y"), (99, "z")).toDF("k", "v")
  private def dim = Seq((1, "one"), (2, "two")).toDF("id", "name")

  test("lookup resolves via broadcast left join, null for missing keys") {
    val out = Lookups.lookup(facts, dim, "k", "id", "name", "kname")
      .orderBy("k").collect()
    assert(out.map(r => Option(r.getAs[String]("kname"))).toSeq ===
      Seq(Some("one"), Some("two"), None))
    assert(!out(0).schema.fieldNames.contains("__lk_key"))
  }

  test("inReferenceSet / notInReferenceSet partition the fact rows") {
    val refs = Seq("x", "y").toDF("m")
    val in = Lookups.inReferenceSet(facts, refs, "v").collect().map(_.getInt(0)).toSet
    val notIn = Lookups.notInReferenceSet(facts, refs, "v").collect().map(_.getInt(0)).toSet
    assert(in === Set(1, 2))
    assert(notIn === Set(99))
  }

  test("networkNameExpr falls back to default for malformed addresses") {
    val hierarchy = Seq("10.0.0.0/8" -> "corp")
    val got = Seq("10.1.2.3", "266.1.1.1", "host-7", "")
      .toDF("ip")
      .select(Lookups.networkNameExpr(hierarchy, col("ip")).as("n"))
      .collect().map(_.getString(0)).toSeq
    // '266.1.1.1' would pack numerically into 10.0.0.0/8; the strict
    // parser nulls it out instead
    assert(got === Seq("corp", "other", "other", "other"))
  }

  test("networkNameDomainExpr resolves the same IP per domain") {
    val byDomain = Map(
      1 -> Seq("10.0.0.0/8" -> "corp", "10.99.0.0/16" -> "dmz"),
      2 -> Seq("10.99.0.0/16" -> "lab2"))
    val rows = Seq(
      ("10.99.1.1", 1), // dmz in domain 1 (longest prefix)
      ("10.99.1.1", 2), // lab2 in domain 2 — same IP, different tenant
      ("10.1.2.3", 2),  // no /8 entry in domain 2
      ("10.1.2.3", 9))  // domain with no hierarchy
      .toDF("ip", "dom")
    val got = rows.select(Lookups.networkNameDomainExpr(
        byDomain, col("ip"), col("dom")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("dmz", "lab2", "other", "other"))
  }

  test("networkNameExpr does longest-prefix match with default") {
    val hierarchy = Seq(
      "10.0.0.0/8" -> "corp",
      "10.99.0.0/16" -> "dmz", // more specific wins despite listing order
      "192.168.0.0/16" -> "lab")
    val got = Seq("10.1.2.3", "10.99.1.1", "192.168.7.7", "8.8.8.8")
      .toDF("ip")
      .select(Lookups.networkNameExpr(hierarchy, col("ip")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("corp", "dmz", "lab", "other"))
  }

  test("networkName past the codegen bound: interval path == compiled chain, no Exchange") {
    // > MaxCompiledHierarchy entries with nesting, an equal-prefix tie, and
    // gaps: the auto-dispatched interval path must agree with the compiled
    // when-chain (built directly, ignoring the cap) entry for entry
    val n = Lookups.MaxCompiledHierarchy + 40
    val entries = (0 until n)
      .map(i => (s"10.${i / 256}.${i % 256}.0/24", s"net_$i")) ++
      Seq("10.0.0.0/8" -> "corp",          // umbrella under every /24
        "10.0.7.0/24" -> "aaa_tie",        // equal-prefix tie vs net_7 -> smallest name
        "192.168.0.0/16" -> "lab")
    val big = entries.toDF("cidr", "name")
    val ips = (0 until 400).map(i => s"10.${i % 4}.${(i * 7) % 256}.${i % 250}") ++
      Seq("192.168.9.9", "8.8.8.8", "266.1.1.1", "10.0.7.200")
    val facts = ips.zipWithIndex.map { case (ip, i) => (i, ip) }.toDF("id", "ip")

    val viaInterval = Lookups.networkName(facts, big, "ip", "n")
    // independent driver-side oracle (a when-chain this size overflows the
    // Column converter — the reason the 512 cap exists in the first place)
    def refMatch(ip: String): String = {
      val parts = ip.split("\\.")
      val packed =
        if (parts.length != 4 || parts.exists(p => p.isEmpty || p.toLong > 255)) -1L
        else parts.map(_.toLong).reduce(_ * 256 + _)
      if (packed < 0) "other"
      else entries.flatMap { case (cidr, name) =>
        val (net, mask) = graft.functions.Net.parseCidr(cidr)
        if ((packed & mask) == net)
          Some((-java.lang.Long.bitCount(mask), name)) else None
      }.minOption.map(_._2).getOrElse("other")
    }
    val a = viaInterval.orderBy("id").select("n").collect().map(_.getString(0)).toSeq
    val b = ips.map(refMatch)
    assert(a === b)
    assert(a.contains("corp") && a.contains("aaa_tie") && a.contains("other"))

    // the scale property: no join, no shuffle — one codegen'd probe per row.
    // (a file-backed fact side: the local-relation form above constant-folds
    // into a LocalTableScan, which would make this assertion vacuous)
    withTempDir("graft_ivl_plan_") { dir =>
      val tmp = dir.toString
      facts.write.mode("overwrite").parquet(tmp)
      val onFiles = Lookups.networkName(spark.read.parquet(tmp), big, "ip", "n")
      val plan = onFiles.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
      assert(plan.contains("graft_interval_lookup"), plan)
      assert(onFiles.orderBy("id").select("n").collect().map(_.getString(0)).toSeq === b)
    }
  }

  test("flattenHierarchy resolves longest-prefix winners over disjoint intervals") {
    val (los, names) = Lookups.flattenHierarchy(Seq(
      "10.0.0.0/8" -> "corp",
      "10.99.0.0/16" -> "dmz",
      "10.0.0.0/8" -> "beta")) // equal-prefix duplicate -> smallest name wins
    assert(los.head == 0L && names.head == null) // gap before 10/8
    assert(los.toSeq == Seq(0L,
      10L * 16777216,                      // 10.0.0.0 -> beta (tie: beta < corp)
      10L * 16777216 + 99L * 65536,        // 10.99.0.0 -> dmz
      10L * 16777216 + 100L * 65536,       // back to beta
      11L * 16777216))                     // gap after 10/8
    assert(names.toSeq == Seq(null, "beta", "dmz", "beta", null))
  }

  test("property: flattenHierarchy == reference longest-prefix match on random hierarchies") {
    import org.scalacheck.Gen
    val cidrGen = for {
      p <- Gen.chooseNum(4, 30)
      ip <- Gen.chooseNum(0L, 4294967295L)
    } yield {
      val mask = (0xFFFFFFFFL << (32 - p)) & 0xFFFFFFFFL
      val net = ip & mask
      s"${net >> 24 & 255}.${net >> 16 & 255}.${net >> 8 & 255}.${net & 255}/$p"
    }
    def ref(entries: Seq[(String, String)], ip: Long): String =
      entries.flatMap { case (cidr, name) =>
        val (net, mask) = graft.functions.Net.parseCidr(cidr)
        if ((ip & mask) == net)
          Some((-java.lang.Long.bitCount(mask), name)) else None
      }.minOption.map(_._2).orNull
    for (trial <- 0 until 25) {
      val entries = Gen.listOfN(40, cidrGen).sample.get.zipWithIndex
        .map { case (c, i) => (c, s"n${(i * 7 + trial) % 13}") } // name ties on purpose
      val (los, names) = graft.ops.Lookups.flattenHierarchy(entries)
      // probe every boundary region: lo-1, lo, hi-1, hi of every entry,
      // plus a spread of arbitrary points
      val bounds = entries.flatMap { case (cidr, _) =>
        val (net, mask) = graft.functions.Net.parseCidr(cidr)
        val size = (1L << 32) >>> java.lang.Long.bitCount(mask)
        Seq(net - 1, net, net + size - 1, net + size)
      }.filter(p => p >= 0 && p < (1L << 32))
      val spread = Gen.listOfN(100, Gen.chooseNum(0L, 4294967295L)).sample.get
      (bounds ++ spread).foreach { ip =>
        val idx = graft.plans.IntervalLookup.floorIndex(los, ip)
        val got = if (idx < 0) null else names(idx)
        assert(got == ref(entries, ip),
          s"trial $trial ip $ip: interval=$got ref=${ref(entries, ip)}")
      }
    }
  }

  test("interval FULLNETWORKNAME enriches a stream (pure expression, no state)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    // > 512 entries so the auto-dispatch picks the interval expression
    val big = ((0 until 600).map(i => (s"10.${i / 256}.${i % 256}.0/24", s"net_$i")) :+
      ("192.168.0.0/16" -> "lab")).toDF("cidr", "name")
    val in = MemoryStream[String]
    val enriched = Lookups.networkName(in.toDF().toDF("ip"), big, "ip", "n")
    val q = enriched.writeStream.format("memory")
      .queryName("ivl_stream").outputMode("append").start()
    try {
      in.addData("10.0.5.9", "192.168.1.1", "8.8.8.8", "bogus")
      q.processAllAvailable()
      val got = spark.table("ivl_stream").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got === Map("10.0.5.9" -> "net_5", "192.168.1.1" -> "lab",
        "8.8.8.8" -> "other", "bogus" -> "other"))
    } finally q.stop()
  }

  test("networkNameJoin == compiled chain (longest prefix, default, malformed)") {
    val table = Seq(
      ("10.0.0.0/8", "corp"),
      ("10.99.0.0/16", "dmz"),
      ("192.168.0.0/16", "lab")).toDF("cidr", "name")
    val facts = Seq(("a", "10.1.2.3"), ("b", "10.99.1.1"), ("c", "192.168.7.7"),
      ("d", "8.8.8.8"), ("e", "266.1.1.1")).toDF("id", "ip")
    val viaJoin = Lookups.networkNameJoin(facts, table, "ip", "n")
      .orderBy("id").select("id", "n")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val viaChain = Lookups.networkName(facts, table, "ip", "n")
      .orderBy("id").select("id", "n")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(viaJoin === viaChain)
    assert(viaJoin.map(_._2) === Seq("corp", "dmz", "lab", "other", "other"))
  }

  test("networkNameJoin tie-break on equal-length overlaps == compiled chain") {
    // two /8 entries covering the same IP: both paths must pick the
    // lexicographically smallest name (the pinned tie contract)
    val table = Seq(("10.0.0.0/8", "beta"), ("10.0.0.0/8", "alpha")).toDF("cidr", "name")
    val facts = Seq(("a", "10.1.2.3")).toDF("id", "ip")
    val viaJoin = Lookups.networkNameJoin(facts, table, "ip", "n")
      .select("n").head().getString(0)
    val viaChain = Lookups.networkName(facts, table, "ip", "n")
      .select("n").head().getString(0)
    assert(viaJoin === "alpha")
    assert(viaChain === "alpha")
  }
}
