package graft

import org.apache.spark.sql.functions._
import graft.queries.AnalyticsQueries

/** Invariants of the behavioral-analytics family (cohort retention, SCD2
  * expansion, Markov transitions, association rules) on the sf0.001
  * fixture — structural properties the DuckDB hash compare can't state
  * (conservation, interval chaining, probability mass).
  */
class AnalyticsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) = AnalyticsQueries.queries(name)(spark, dir)

  test("cohort retention: offset-0 is the cohort itself; counts never exceed it") {
    val rows = q("q_cohort_retention").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (off, nActive, nCohort, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(off >= 0L)
      assert(nActive <= nCohort,
        s"cohort ${r.getLong(0)} offset $off: $nActive > $nCohort")
      if (off == 0L) assert(nActive === nCohort && ppm === 1000000L)
      assert(ppm >= 0L && ppm <= 1000000L)
    }
    // every customer lands in exactly one cohort: offset-0 sizes sum to
    // the distinct customer count
    val nCust = graft.sources.Tables.orders(spark, dir)
      .select("o_custkey").distinct().count()
    val cohortSum = rows.filter(_.getLong(1) == 0L).map(_.getLong(2)).sum
    assert(cohortSum === nCust)
  }

  test("scd2: intervals chain per key, exactly one current version each") {
    val rows = q("q_cdc_scd2")
      .select("user_id", "valid_from_us", "valid_to_us", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))
    val byUser = rows.groupBy(_._1)
    byUser.foreach { case (u, vs) =>
      assert(vs.count(_._4) === 1, s"user $u: != 1 current version")
      val sorted = vs.sortBy(_._2).toSeq
      // each non-final interval closes exactly where the next opens
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._3.contains(b._2),
          s"user $u: interval chain broken at ${a._2}")
        case _ =>
      }
      assert(sorted.last._3.isEmpty && sorted.last._4)
    }
    // expansion is row-preserving
    assert(rows.length.toLong ===
      graft.sources.Tables.events(spark, dir).count())
  }

  test("markov transitions: row probability mass ~ 1e6, counts conserve") {
    val rows = q("q_markov_transitions").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byPrev = rows.groupBy(_._1)
    byPrev.foreach { case (p, vs) =>
      val mass = vs.map(_._4).sum
      // floor-ppm rows: total within n_next of exactly 1e6
      assert(mass <= 1000000L && mass > 1000000L - vs.length,
        s"prev=$p mass=$mass")
    }
    // total transitions = total events - one lead-in per active user
    val ev = graft.sources.Tables.events(spark, dir)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_._3).sum === expected)
  }

  test("funnel: stage counts monotone non-increasing; tolerance only shrinks") {
    val stages = q("q_funnel_timebound").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stages.keySet === Set(1L, 2L, 3L))
    assert(stages(1L) >= stages(2L) && stages(2L) >= stages(3L))
    assert(stages(1L) > 0L)

    q("q_asof_tolerance").collect().foreach { r =>
      val (n, m, w) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(m <= n && w <= m,
        s"user ${r.getLong(0)}: tolerance must only shrink matches")
    }
  }

  test("native session_window == island sessionize away from exact boundaries") {
    // the two formulations differ only when a gap is EXACTLY 30 min
    // (island: same session; session_window: new) — the fixture's
    // microsecond timestamps make that measure-zero, so cross-validating
    // them pins Spark's built-in against our island window end to end
    val native = q("q_sessionize_native").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val island = graft.queries.EventQueries.queries("q_sessionize")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(native === island)
  }

  test("rolling WAU: dau <= wau <= sum of the trailing week's dau") {
    val rows = q("q_rolling_wau").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val dauBy = rows.map(r => r._1 -> r._2).toMap
    rows.foreach { case (day, dau, wau) =>
      val weekSum = (day - 6 to day).flatMap(dauBy.get).sum
      assert(dau <= wau && wau <= weekSum, s"day $day: $dau/$wau/$weekSum")
    }
  }

  test("streaming funnel == batch funnel; state genuinely spans batches") {
    val streamed = q("q_t18_streaming_funnel").collect()
      .map(r => (r.getLong(0), (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))))
      .toMap
    val batch = q("q_funnel_timebound").collect()
      .map(r => (r.getLong(0), (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))))
      .toMap
    assert(streamed === batch)
    // the topic is 4 time-ranged files at maxFilesPerTrigger=1 — the
    // Update-mode landing must show users re-emitted across batches
    // (otherwise the "streaming" test degenerated to one batch)
    val sink = AnalyticsQueries.streamedFunnelSink(spark, dir)
    val perUser = spark.read.parquet(sink).groupBy("user_id").count()
      .agg(max("count")).head().getLong(0)
    assert(perUser > 1L, "expected multi-batch per-user emissions")
  }

  test("trending/entropy/zipf/classifier/hll-set fixture invariants") {
    // trending: dyadic weights bound the score by [max-day count · 2^30,
    // total count · 2^30]
    val ev = graft.sources.Tables.events(spark, dir)
    val trend = q("q_trending_decay").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val perType = ev.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    trend.foreach { case (t, s) =>
      assert(s > 0L && s <= perType(t) * (1L << 30), s"type $t score $s")
    }

    // entropy: 0 ≤ H ≤ ln(n_distinct), zero iff single-token vocab
    graft.queries.DocQueries.queries("q_txt_entropy")(spark, dir).collect()
      .foreach { r =>
        val (nd, h) = (r.getLong(2), r.getLong(3))
        assert(h >= 0L && h <= math.floor(1e6 * math.log(nd.toDouble)).toLong + nd)
        if (nd == 1L) assert(h === 0L)
      }

    // zipf: OLS slope of a non-increasing frequency spectrum is ≤ 0
    val z = graft.queries.DocQueries.queries("q_txt_zipf")(spark, dir).head()
    assert(z.getLong(0) >= 2L && z.getDouble(1) <= 0.0)

    // classifier: the kept flag is exactly the logit sign
    graft.queries.PipelineQueries.queries("q_curation_classifier")(spark, dir)
      .collect().foreach { r =>
        assert(r.getBoolean(2) === (r.getLong(1) > 0L))
      }

    // HLL set algebra: union bounds and inclusion-exclusion consistency
    val s1 = q("q_hll_intersection").head()
    val (nA, nB, nU, nI) = (s1.getLong(4), s1.getLong(5), s1.getLong(6), s1.getLong(7))
    assert(nU >= math.max(nA, nB) && nU <= nA + nB && nI === nA + nB - nU)
    val (eA, eB, eU) = (s1.getDouble(0), s1.getDouble(1), s1.getDouble(2))
    assert(math.abs(eU - nU) / nU < 0.1 && math.abs(eA - nA) / nA < 0.1 &&
      math.abs(eB - nB) / nB < 0.1)
  }

  test("streaming left-outer join: null emission real, matched <= rows") {
    val rows = q("q_t21_streaming_leftjoin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (u, n, m) => assert(m <= n, s"user $u") }
    // the outer path must actually fire: some purchase has no in-window
    // signup (otherwise this is the inner join in disguise)
    assert(rows.exists { case (_, n, m) => m < n },
      "no unmatched purchases — outer emission untested")
  }

  test("ewmaDaily: alternate (window, half-life) matches a brute-force reference") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    // two series, sparse days, counts that differ per day
    val day = 86400000000L
    val evs = Seq(
      ("a", 0L, 3), ("a", 1L, 1), ("a", 4L, 2), ("a", 7L, 5),
      ("b", 2L, 4), ("b", 3L, 1)
    ).flatMap { case (t, d, n) => Seq.fill(n)((t, d * day + 17L)) }
      .toDF("event_type", "t_us")
      .select(col("event_type"), timestamp_micros(col("t_us")).as("ts"))
    val w = 8; val h = 2
    val got = graft.ops.TimeSeries.ewmaDaily(evs, col("event_type"),
        col("ts"), windowDays = w, halfLifeDays = h)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // reference: per report day, sum over the window of n * 2^(maxShift
    // - off div h) — the block-dyadic staircase the operator documents
    val counts = Map(("a", 0L) -> 3L, ("a", 1L) -> 1L, ("a", 4L) -> 2L,
      ("a", 7L) -> 5L, ("b", 2L) -> 4L, ("b", 3L) -> 1L)
    val maxShift = (w - 1) / h
    val maxDay = 7L
    for (t <- Seq("a", "b"); rd <- 0L to maxDay) {
      val u = (0 until w).map { off =>
        counts.getOrElse((t, rd - off), 0L) * (1L << (maxShift - off / h))
      }.sum
      if (u > 0 || got.contains((t, rd))) {
        assert(got((t, rd))._1 === u, s"series $t day $rd")
        assert(got((t, rd))._2 ===
          math.rint(u.toDouble / (1L << maxShift) * 1e6) / 1e6, s"series $t day $rd")
      }
    }
    // the dyadic-precision guard fires rather than wrapping shiftleft
    val ex = intercept[IllegalArgumentException] {
      graft.ops.TimeSeries.ewmaDaily(evs, col("event_type"), col("ts"),
        windowDays = 80, halfLifeDays = 1)
    }
    assert(ex.getMessage.contains("62-bit"))
  }

  test("assoc rules: support bounds, confidence/lift consistency") {
    val rows = q("q_assoc_rules").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ante, cons) = (r.getString(0), r.getString(1))
      val (ab, a, b2) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val (conf, lift) = (r.getLong(5), r.getLong(6))
      assert(ab <= math.min(a, b2), s"($ante,$cons): supp_ab exceeds a side")
      assert(conf === 1000000L * ab / a)
      assert(lift >= 0L)
    }
  }
}
