package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.io.Artifacts
import graft.ops.{Profiling, TextAnalysis => TA}
import graft.sources.Tables
import graft.streaming.JsonTopic

/** Data-quality surface: dataset profiling, declarative constraint
  * validation, and distribution-drift monitoring (`ops/Profiling`).
  * These run over the TPC-H star tables — the engine-side analog of the
  * schema trust the reference extends to QRadar's typed API responses,
  * made explicit and checked (and the standard pre-training gate for a
  * 100 TB corpus snapshot: profile → validate → drift-compare vs the
  * previous snapshot before any tokens are spent on it).
  */
object QualityQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Numeric profile of lineitem: count/nulls/exact-distinct/min/max
    // plus an exact fixed-point mean per column — one column-pruned
    // single-distinct aggregate per column, unioned (the r11 measured
    // decision: the former one-Expand multi-distinct scan pushed 5x the
    // rows through the distinct aggregate, 10x slower; see
    // Profiling.profileNumeric).
    "q_profile_numeric" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      Profiling.profileNumeric(li, Seq(
        "l_orderkey" -> 1L,
        "l_quantity" -> 100L,
        "l_extendedprice" -> 100L,
        "l_discount" -> 100L))
    }),

    // Categorical profile: flags/status plus the shipdate as epoch-micros
    // (its exact Long mean-sum would overflow 2^63, so it profiles as
    // min/max/distinct only — the documented wide-integer path).
    "q_profile_categorical" -> ((s, dir) => {
      val li = Tables.normalizeTs(Tables.lineitem(s, dir), "l_shipdate")
        .withColumn("l_shipdate_us", unix_micros(col("l_shipdate")))
      Profiling.profileCategorical(li,
        Seq("l_returnflag", "l_linestatus", "l_shipdate_us"))
    }),

    // Declarative constraint report (deequ-style): predicate checks are
    // ONE conditional-sum aggregate per table; uniqueness is a distinct
    // count; referential integrity is a left-semi join on the key. The
    // priority_urgent check is expected to FAIL on the fixture — the
    // report's job is to say so, not to be green.
    "q_validate_constraints" -> ((s, dir) => constraintReport(s, dir)),

    // The whole quality gate as ONE lazy plan (the q_pipeline_e2e
    // discipline): constraint report ∪ drift verdict ∪ per-group
    // outlier-rate verdicts, uniform (check_name, metric_ppm, passed)
    // rows — the single DataFrame a scheduler would assert on before
    // promoting a corpus snapshot. No driver actions anywhere in the
    // composition; every branch keeps its own scale shape.
    "q_quality_gate_e2e" -> ((s, dir) => {
      val drift = psiReport(s, dir).select(
        lit("orders.price_drift_psi").as("check_name"),
        floor(col("psi") * lit(1e6)).cast("long").as("metric_ppm"),
        (col("psi") <= 0.25).as("passed"))
      val outliers = madReport(s, dir).select(
        concat(lit("lineitem.outlier_rate."), col("l_returnflag")).as("check_name"),
        Profiling.ppm(col("n_outliers"), col("n")).as("metric_ppm"),
        (Profiling.ppm(col("n_outliers"), col("n")) <= 10000L).as("passed"))
      constraintReport(s, dir).unionByName(drift).unionByName(outliers)
    }),

    // PSI drift between the fixture's early and late order halves
    // (split at the midpoint of the o_orderdate range): did the
    // totalprice distribution shift over time? Laplace-smoothed
    // 20-equal-width-bin PSI; every arithmetic step IEEE-replayed by the
    // oracle.
    "q_drift_psi" -> ((s, dir) => psiReport(s, dir)),

    // Binned two-sample KS drift — the distribution-free companion to
    // q_drift_psi over the same early/late order split: max |ECDF_A −
    // ECDF_B| at the bin boundaries. PSI's Laplace-smoothed log-ratio
    // weights the body of the distribution; KS catches a shifted tail
    // that smoothing washes out — a monitor wants both numbers. Same
    // scale shape as PSI: one binning pass, then every window runs over
    // the 20 count rows.
    "q_drift_ks" -> ((s, dir) => {
      val o = Tables.normalizeTs(Tables.orders(s, dir), "o_orderdate")
        .withColumn("__dus", unix_micros(col("o_orderdate")))
      val ds = o.agg(min("__dus").as("__mind"), max("__dus").as("__maxd"))
      val sliced = o.crossJoin(broadcast(ds))
        .withColumn("__a", col("__dus") < expr("(__mind + __maxd) div 2"))
      Profiling.ksDrift(sliced, col("o_totalprice"), col("__a"), 20)
    }),

    // Streaming daily-volume anomaly — the ingest-time shape of
    // q_anomaly_daily_volume, over the events firehose: per-day counts
    // aggregate in Update mode (O(days) state, monotone ⇒ read-side max
    // compaction), the trailing 7-day μ±2σ band derives batch-side from
    // the compacted day table (config-scale, ~365 rows/year at any
    // corpus size). Oracle = the identical band computed batch over the
    // full events table, so the streamed monitor must match it exactly.
    "q_t17_streaming_anomaly" -> ((s, dir) => {
      val byDay = streamedDailyCounts(s, dir)
      val win = org.apache.spark.sql.expressions.Window
        .orderBy("day").rowsBetween(-7, -1)
      val s1 = sum(col("n")).over(win).cast("double")
      val s2 = sum(col("n") * col("n")).over(win).cast("double")
      byDay
        .withColumn("cnt", count(lit(1)).over(win))
        .withColumn("mean7", s1 / lit(7.0))
        .withColumn("var7", (s2 - s1 * s1 / lit(7.0)) / lit(7.0))
        .filter(col("cnt") === 7)
        .select(col("day"), col("n"), round(col("mean7"), 4).as("mean7"),
          (col("n").cast("double") >
            col("mean7") + lit(2.0) * sqrt(col("var7"))).as("spike"))
    }),

    // Token-distribution drift — the text-native sibling of the PSI
    // monitor: Laplace-smoothed KL divergence of the token distributions
    // between a reference source (src0) and the rest of the corpus,
    // surfacing the top-20 drift-contributing tokens (the actionable
    // part of a vocabulary-shift alert: WHICH words moved). Counts are
    // exact; totals come back as a broadcast 1-row literal (never a
    // vocab-wide single-task window); top-k plans as
    // TakeOrderedAndProject.
    "q_drift_tokens" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select((col("source") === "src0").as("a"),
          explode(TA.tokens(col("text"))).as("token"))
      val counts = toks.groupBy("token").agg(
        sum(when(col("a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("a"), 1L).otherwise(0L)).as("cb"))
      val tot = counts.agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"),
        count(lit(1)).as("v"))
      val j = counts.crossJoin(broadcast(tot))
      val p = (col("ca") + lit(1L)).cast("double") /
        (col("ta") + col("v")).cast("double")
      val q = (col("cb") + lit(1L)).cast("double") /
        (col("tb") + col("v")).cast("double")
      j.withColumn("contrib", p * log(p / q))
        .orderBy(abs(col("contrib")).desc, col("token"))
        .limit(20)
        .select(col("token"), col("ca"), col("cb"),
          (round(col("contrib"), 6) + lit(0.0)).as("contrib"))
    }),

    // Embedding covariance diagnostics — anisotropy/collapse check before
    // a table backs an ANN index: exact upper-triangle covariance of the
    // milli-quantized vectors via per-partition outer-product folding
    // (shuffle carries partitions × dim², never corpus × dim²).
    "q_emb_covariance" -> ((s, dir) =>
      Profiling.embCovariance(Tables.embeddings(s, dir), "embedding")),

    // Embedding-table QA census — the gate an ANN pipeline runs before
    // indexing a new vector snapshot: per label, zero-norm vectors (a
    // dead encoder emits them; cosine against one is undefined) and
    // exact integer norm² + dimension bounds over the milli-quantized
    // vectors. One scan, config-scale output; min/max (not sums) keep
    // every value inside Long at any corpus size.
    "q_emb_quality" -> ((s, dir) => {
      import graft.ops.Similarity
      val n2 = aggregate(Similarity.quantize(col("embedding")), lit(0L),
        (acc: Column, x: Column) => acc + x * x)
      Tables.embeddings(s, dir)
        .select(col("label").cast("long").as("label"), n2.as("n2"),
          size(col("embedding")).cast("long").as("d"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(col("n2") === 0L, 1L).otherwise(0L)).as("n_zero"),
          min(col("n2")).as("min_n2"), max(col("n2")).as("max_n2"),
          min(col("d")).as("min_dim"), max(col("d")).as("max_dim"))
    }),

    // Label-separability QA: intra-label spread vs nearest-other-centroid
    // distance over the embeddings table — "are these labels learnable
    // from these vectors" before classifier training spends compute.
    "q_label_separability" -> ((s, dir) =>
      Profiling.labelSeparability(Tables.embeddings(s, dir),
        "embedding", "label")),

    // Audit manifest — the dataset-versioning fingerprint: per day, the
    // row count plus an ORDER-INDEPENDENT content fingerprint (modular
    // sum of per-row md5 hashes over the full row repr). Any inserted,
    // dropped, or mutated row moves the day's fingerprint; summation
    // order never does, so the manifest is identical under any
    // partitioning/cluster size — what makes it usable as a cross-run
    // integrity check on a 100 TB snapshot (one scan, config-scale
    // output). Sums widen through DECIMAL(38,0)/HUGEINT, then reduce
    // mod 2^61 to a comparable BIGINT.
    "q_audit_manifest" -> ((s, dir) => {
      val rowRepr = concat_ws("|", col("event_id"),
        expr("unix_micros(ts)"), col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long"))
      Tables.events(s, dir)
        .select(expr("unix_micros(ts) div 86400000000").as("day"),
          graft.functions.Hashing.md5Long(rowRepr).as("h"))
        .groupBy("day")
        .agg(count(lit(1)).as("n"),
          pmod(sum(col("h").cast("decimal(38,0)")),
            lit(2305843009213693952L)).cast("long").as("fingerprint"))
    }),

    // The audit manifest maintained AT INGEST — q_audit_manifest's
    // per-day fingerprints as streaming state; must equal the batch
    // recompute exactly (shared oracle). An ingest-time manifest means
    // snapshot integrity is continuously available instead of a
    // post-hoc full scan.
    "q_t25_streaming_manifest" -> ((s, dir) => {
      streamedManifest(s, dir)
        .select(col("day"), col("n"),
          pmod(col("hsum"), lit(2305843009213693952L))
            .cast("long").as("fingerprint"))
    }),

    // Pairwise Pearson correlation of the lineitem measures in ONE pass:
    // all ten moment sums ride a single partial+final aggregate with
    // DECIMAL(38,0) accumulators (Σy² at cents quantization brushes 2^63
    // by sf0.1 — the documented wide-integer path; DuckDB's HUGEINT sums
    // mirror it exactly), then each correlation is one pinned
    // left-associated double chain over the exact integer moments.
    // Per-row products stay far under 2^63; only the sums widen.
    "q_profile_correlation" -> ((s, dir) => {
      val dec = "decimal(38,0)"
      val li = Tables.lineitem(s, dir).select(
        round(col("l_quantity") * 100).cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y"),
        round(col("l_discount") * 100).cast("long").as("z"))
      val a = li.agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
        sum(col("z").cast(dec)).as("sz"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"),
        sum((col("y") * col("y")).cast(dec)).as("syy"),
        sum((col("z") * col("z")).cast(dec)).as("szz"),
        sum((col("x") * col("y")).cast(dec)).as("sxy"),
        sum((col("x") * col("z")).cast(dec)).as("sxz"),
        sum((col("y") * col("z")).cast(dec)).as("syz"))
      def corr(sab: Column, sa: Column, sb: Column,
               saa: Column, sbb: Column): Column =
        round((col("n") * sab - sa * sb).cast("double") /
          sqrt((col("n") * saa - sa * sa).cast("double")) /
          sqrt((col("n") * sbb - sb * sb).cast("double")), 6) + lit(0.0)
      a.select(col("n"),
        corr(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"))
          .as("corr_qty_price"),
        corr(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
          .as("corr_qty_disc"),
        corr(col("syz"), col("sy"), col("sz"), col("syy"), col("szz"))
          .as("corr_price_disc"))
    }),

    // Chi-square independence test: event_type × day-of-week (an
    // engine-neutral integer weekday — epoch-day mod 7). Observed and
    // marginal counts are exact integers; each cell's contribution is
    // floored to integer micro-units BEFORE summing, so the statistic is
    // a sum of Longs — exact under any partitioning and cell order (a
    // naive double Σ over cells would hash differently per plan). The
    // marginals broadcast (config-scale: types × 7 cells).
    "q_stat_chisq" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr("(unix_micros(ts) div 86400000000) % 7").as("wd"))
      val cells = ev.groupBy("event_type", "wd").agg(count(lit(1)).as("o"))
      val rows = cells.groupBy("event_type").agg(sum(col("o")).as("rs"))
      val cols2 = cells.groupBy("wd").agg(sum(col("o")).as("cs"))
      val tot = cells.agg(sum(col("o")).as("t"))
      // marginal product as a DOUBLE product, not a Long one: rs·cs is
      // ~ (n/|types|)·(n/7) and crosses 2^63 near 1.6e10 events — well
      // inside the 100 TB posture. The double product rounds once,
      // identically on both engines (oracle mirrors the cast order).
      val e = col("rs").cast("double") * col("cs").cast("double") / col("t")
      val d = col("o").cast("double") - e
      val contrib = floor(lit(1000000.0) * d * d / e).cast("long")
      cells.join(broadcast(rows), "event_type").join(broadcast(cols2), "wd")
        .crossJoin(broadcast(tot))
        .agg(count(lit(1)).as("n_cells"),
          sum(contrib).as("chi2_u"))
        .select(col("n_cells"), col("chi2_u"),
          round(col("chi2_u").cast("double") / lit(1e6), 4).as("chi2"))
    }),

    // Top principal component by exact-integer power iteration — one
    // outer-product-fold pass over the corpus, then config-scale driver
    // math the oracle replays operation for operation (8 unrolled CTE
    // stages). See Profiling.pcaTopComponent.
    "q_emb_pca" -> ((s, dir) =>
      Profiling.pcaTopComponent(Tables.embeddings(s, dir), "embedding")),

    // Apply the learned component at corpus scale — the feature-serving
    // shape: loadings collect once (config-scale), then the projection
    // is a pure per-row zip_with dot product against the broadcast
    // literal (no shuffle until the bucket census; zip_with evaluates
    // the quantized array ONCE per row, unlike a Generate lambda).
    // Integer headroom: |x·v| <= 1300·1e6·64 ≈ 8.3e10 per vector.
    "q_emb_pca_project" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      val loadings: Seq[Long] = Profiling.pcaTopComponent(em, "embedding")
        .collect().sortBy(_.getLong(0)).map(_.getLong(1)).toSeq
      em.select(graft.ops.Similarity.quantize(col("embedding")).as("q"))
        .select(aggregate(
          zip_with(col("q"), typedlit(loadings), (x, y) => x * y),
          lit(0L), (a, x) => a + x).as("proj"))
        .groupBy(expr("proj div 100000000").as("bucket"))
        .agg(count(lit(1)).as("n"))
    }),

    // Daily-volume anomaly monitor: per-day order counts against a
    // trailing 7-day mean ± 2σ band (the standard ops alert for ingest
    // spikes/drops). The rolling window runs over DAY aggregates — a
    // config-scale table (~years × 365 rows), so the single-partition
    // ordered window is fine at any corpus size; the corpus itself only
    // pays one count aggregate. Exact integer day sums; variance from
    // exact Σx/Σx² (sqrt is IEEE-exact, the determinism boundary).
    "q_anomaly_daily_volume" -> ((s, dir) => {
      val o = Tables.normalizeTs(Tables.orders(s, dir), "o_orderdate")
      val byDay = o.select(expr("unix_micros(o_orderdate) div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("n"))
      val win = org.apache.spark.sql.expressions.Window
        .orderBy("day").rowsBetween(-7, -1)
      val s1 = sum(col("n")).over(win).cast("double")
      val s2 = sum(col("n") * col("n")).over(win).cast("double")
      byDay
        .withColumn("cnt", count(lit(1)).over(win))
        .withColumn("mean7", s1 / lit(7.0))
        .withColumn("var7", (s2 - s1 * s1 / lit(7.0)) / lit(7.0))
        .filter(col("cnt") === 7)
        .select(col("day"), col("n"), round(col("mean7"), 4).as("mean7"),
          (col("n").cast("double") >
            col("mean7") + lit(2.0) * sqrt(col("var7"))).as("spike"))
    }),

    // Smoothed target encoding — the classic categorical feature:
    // enc(cat) = (Σ target + m·prior)/(n + m) with m = 100, prior = the
    // global mean. Exact integer-cents arithmetic end to end (sums,
    // floor-div prior, floor-div encoding) so the feature is bit-stable
    // across partitionings — an encoder that drifts between training
    // runs silently shifts the model. One config-scale aggregate pair.
    "q_feat_target_encode" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderpriority").as("cat"),
        round(col("o_totalprice") * lit(100)).cast("long").as("cents"))
      val g = o.groupBy("cat").agg(sum(col("cents")).as("sc"),
        count(lit(1)).as("n"))
      val tot = g.agg(sum(col("sc")).as("ts"), sum(col("n")).as("tn"))
      g.crossJoin(broadcast(tot))
        .withColumn("enc_cents", expr("(sc + 100 * (ts div tn)) div (n + 100)"))
        .select(col("cat"), col("n"),
          round(col("enc_cents").cast("double") / lit(100.0), 2).as("enc"))
    }),

    // Weight-of-evidence encoding — the third member of the encoder
    // family (smoothed target, LOO, WOE): woe(cat) = ln(P(cat|good) /
    // P(cat|bad)), the credit-scoring / binary-classification standard.
    // Laplace-smoothed so an empty cell can't reach ln(0); the ln value
    // is floor-quantized to integer micros (never an unrounded ln in
    // the hash), and the information value (IV) contribution rides
    // along the same way. One config-scale aggregate pair.
    "q_feat_woe" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderpriority").as("cat"),
        (col("o_orderstatus") === "F").as("bad"))
      val g = o.groupBy("cat").agg(
        sum(when(!col("bad"), 1L).otherwise(0L)).as("good_c"),
        sum(when(col("bad"), 1L).otherwise(0L)).as("bad_c"))
      val tot = g.agg(sum(col("good_c")).as("good_t"),
        sum(col("bad_c")).as("bad_t"), count(lit(1)).as("k"))
      val pg = (col("good_c") + lit(1L)).cast("double") /
        (col("good_t") + col("k")).cast("double")
      val pb = (col("bad_c") + lit(1L)).cast("double") /
        (col("bad_t") + col("k")).cast("double")
      g.crossJoin(broadcast(tot))
        .select(col("cat"), col("good_c"), col("bad_c"),
          floor(lit(1e6) * log(pg / pb)).cast("long").as("woe_u"),
          floor(lit(1e6) * ((pg - pb) * log(pg / pb))).cast("long").as("iv_u"))
    }),

    // Leave-one-out target encoding — the leakage-safe variant (a row
    // must not see its own target inside its feature, the same
    // discipline as the near-dup-aware split): per row,
    // enc_i = (Σcat − target_i + m·prior)/(n−1 + m). Same exact-cents
    // integer arithmetic; per-row application is a broadcast join of
    // the config-scale category sums + one scan.
    "q_feat_target_encode_loo" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_orderpriority").as("cat"),
        round(col("o_totalprice") * lit(100)).cast("long").as("cents"))
      val g = o.groupBy("cat").agg(sum(col("cents")).as("sc"),
        count(lit(1)).as("n"))
      val tot = g.agg(sum(col("sc")).as("ts"), sum(col("n")).as("tn"))
      o.join(broadcast(g), Seq("cat")).crossJoin(broadcast(tot))
        .withColumn("enc_cents",
          expr("(sc - cents + 100 * (ts div tn)) div (n - 1 + 100)"))
        .select(col("o_orderkey"), col("cat"),
          round(col("enc_cents").cast("double") / lit(100.0), 2).as("enc"))
    }),

    // Quantile normalization (rank-to-uniform) of extendedprice within
    // returnflag groups — via the binned ECDF, never a per-group rank
    // window (one task per group at 100 TB).
    "q_feat_quantile_norm" -> ((s, dir) =>
      Profiling.quantileNormBinned(Tables.lineitem(s, dir),
        col("l_returnflag"), col("l_extendedprice"),
        keys = Seq("l_orderkey", "l_linenumber"), nBins = 100)),

    // Exact median WITHOUT a global sort — the order-statistic shape that
    // survives 100 TB (a global ORDER BY is one task at the limit;
    // `percentile` buffers values per group): one binning aggregate
    // locates the k-th value's bin (config-scale counts to the driver),
    // one filtered scan of ONLY that bin picks it exactly. The value is
    // PICKED, not computed — no floating arithmetic touches the result,
    // so the oracle (a row_number selection) matches bit for bit.
    "q_agg_exact_median" -> ((s, dir) =>
      Profiling.exactMedianBinned(Tables.lineitem(s, dir),
        col("l_extendedprice"))),

    // Grouped exact quantiles (p10/p50/p90) with the same no-sort
    // discipline, per group: the per-group percentile/sort forms hold a
    // whole group's values in one task at 100 TB; this pays one
    // config-scale (group × bin) metadata aggregate and one hit-bin scan.
    // Values are picked, never computed — bit-exact under any
    // partitioning.
    "q_agg_exact_quantiles" -> ((s, dir) =>
      Profiling.exactQuantilesBinnedGrouped(Tables.lineitem(s, dir),
          col("l_returnflag"), col("l_extendedprice"), Seq(10, 50, 90))
        .withColumnRenamed("grp", "l_returnflag")),

    // Robust per-group outlier census: median/MAD (the estimator that
    // doesn't move when the outliers it hunts do), flag |x−med| >
    // 3·1.4826·MAD. Exact percentiles (Spark `percentile` ==
    // DuckDB `quantile_cont` under the (n−1)p rule, parity pinned round
    // 4), medians rounded to 4dp so both engines threshold on the same
    // shared value. Groups are config-scale → both stat joins broadcast;
    // three scans, no data-scale state.
    "q_outlier_mad" -> ((s, dir) => madReport(s, dir)),

    // Snapshot diff — the data-versioning audit between two corpus
    // snapshots: full-outer join on the key, null-safe column compare,
    // 4-row status census (added/removed/changed/same). The fixture has
    // one snapshot, so the second is derived with planted differences
    // (the synthetic-signal pattern): A = the early date half, B = all
    // orders minus the %101 keys (removals vs B / additions in B) with
    // totalprice perturbed on the %97 keys (changes).
    "q_snapshot_diff" -> ((s, dir) => {
      val (mid, _, _) = driftParams(s, dir)
      val o = Tables.normalizeTs(Tables.orders(s, dir), "o_orderdate")
        .withColumn("__dus", unix_micros(col("o_orderdate")))
      val snapA = o.filter(col("__dus") < mid)
      val snapB = o.filter(col("o_orderkey") % 101 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 97 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      Profiling.snapshotDiff(snapA, snapB, "o_orderkey",
        Seq("o_totalprice", "o_orderstatus"))
    }),

    // Streaming constraint validation — the ingest-time shape of
    // q_validate_constraints' orders checks: conditional sums aggregate
    // globally in Update mode (one row of monotone counters, the
    // smallest possible streaming state), the report derives from the
    // compacted landing. Oracle = the same four checks computed batch
    // over the full table, so the streamed report must match it exactly.
    "q_t16_streaming_validate" -> ((s, dir) => {
      val sums = streamedOrderCheckSums(s, dir)
      val checks = Seq(
        "orders.custkey_complete" -> "g0", "orders.status_domain" -> "g1",
        "orders.totalprice_positive" -> "g2", "orders.priority_urgent" -> "g3")
      val entries = checks.map { case (n, g) =>
        val m = Profiling.ppm(col(g), col("t"))
        struct(lit(n).as("check_name"), m.as("metric_ppm"),
          (m >= 1000000L).as("passed"))
      }
      sums.select(inline(array(entries: _*)))
    }),

    // Streaming drift monitor — the ingest-time shape of q_drift_psi:
    // the LATE order half arrives as a JSON topic and its per-bin counts
    // aggregate in Update mode (bin boundaries are frozen from the
    // reference snapshot's stats, the production contract for a serving
    // monitor); counts are monotone so the landing compacts with a plain
    // max. Read side full-joins the streamed bins against the static
    // reference half and replays the identical PSI arithmetic — the
    // oracle IS q_drift_psi's, so the streamed monitor must reproduce
    // the batch score bit for bit.
    "q_t15_streaming_drift" -> ((s, dir) => {
      val refBins = driftReferenceBins(s, dir)
      val streamed = streamedDriftBins(s, dir)
      val joined = refBins.join(streamed, Seq("bin"), "full_outer")
        .select(col("bin"), coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb"))
      val all = org.apache.spark.sql.expressions.Window.partitionBy()
      val p = (col("ca") + lit(1L)).cast("double") /
        (sum(col("ca")).over(all) + lit(20L)).cast("double")
      val q = (col("cb") + lit(1L)).cast("double") /
        (sum(col("cb")).over(all) + lit(20L)).cast("double")
      joined.withColumn("__contrib", (p - q) * log(p / q))
        .agg(count(lit(1)).as("n_bins"),
          round(sum(col("__contrib")), 4).as("psi"))
    }))

  /** Landing for q_t16_streaming_validate: orders stream in as a JSON
    * topic and the four predicate-check conditional sums aggregate
    * GLOBALLY in Update mode (a single row of monotone counters — the
    * smallest possible streaming state); the landing compacts with the
    * usual read-side max. Constraint validation at ingest: the report is
    * live after every micro-batch instead of waiting for a batch sweep.
    */
  private def streamedOrderCheckSums(s: SparkSession, dir: String): DataFrame = {
    val out = Artifacts.drain("stream_validate", dir, OutputMode.Update) { src =>
      val decoded = JsonTopic(src).write(Tables.orders(s, dir).select("o_orderkey",
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")).stream()
      decoded.agg(count(lit(1)).as("t"),
        sum(when(col("o_custkey").isNotNull, 1L).otherwise(0L)).as("g0"),
        sum(when(col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("g1"),
        sum(when(col("o_totalprice") > 0, 1L).otherwise(0L)).as("g2"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("g3"))
    }
    s.read.parquet(out).agg(max(col("t")).as("t"), max(col("g0")).as("g0"),
      max(col("g1")).as("g1"), max(col("g2")).as("g2"), max(col("g3")).as("g3"))
  }

  /** Landing for q_t17_streaming_anomaly: events arrive as a JSON topic
    * (timestamps serialized as epoch-micros Longs — no format round-trip)
    * and per-day counts aggregate in Update mode. Counts are monotone
    * non-decreasing across batches, so the read side compacts with a
    * plain max per day — the q_t15/q_t16 landing discipline.
    */
  private def streamedDailyCounts(s: SparkSession, dir: String): DataFrame = {
    val out = Artifacts.drain("stream_anomaly", dir, OutputMode.Update) { src =>
      JsonTopic(src).write(Tables.events(s, dir)
          .select(col("event_id"), unix_micros(col("ts")).as("ts_us")))
        .stream()
        .select(expr("ts_us div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("n"))
    }
    s.read.parquet(out).groupBy("day").agg(max(col("n")).as("n"))
  }

  /** Shared oracle for the batch and streamed audit manifests. */
  private def sqlManifest: String = {
    val repr = "event_id || '|' || epoch_us(ts) || '|' || user_id || " +
      "'|' || event_type || '|' || CAST(round(value*100) AS BIGINT)"
    s"""WITH r AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    ${graft.functions.Hashing.sqlMd5Long(repr)} AS h
       |  FROM events)
       |SELECT day, count(*) AS n,
       |  CAST(sum(h) % 2305843009213693952 AS BIGINT) AS fingerprint
       |FROM r GROUP BY 1""".stripMargin
  }

  /** Landing for q_t25_streaming_manifest: per-day (row count, modular
    * md5 fingerprint sum) aggregates at INGEST — the audit manifest
    * maintained as the data lands rather than recomputed per snapshot.
    * The fingerprint sum accumulates in DECIMAL(38,0) state (Update
    * mode); day sums are additive re-emissions, so the landing tags
    * batch_id and the read side keeps each day's LATEST emission (the t2
    * parity discipline), reducing mod 2^61 batch-side.
    */
  private def streamedManifest(s: SparkSession, dir: String): DataFrame = {
    val out = Artifacts.drain("stream_manifest", dir, OutputMode.Update,
        withBatchId = true) { src =>
      val decoded = JsonTopic(src).write(Tables.events(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"), col("user_id"),
          col("event_type"), round(col("value") * 100).cast("long").as("cents")))
        .stream()
      val rowRepr = concat_ws("|", col("event_id"), col("ts_us"),
        col("user_id"), col("event_type"), col("cents"))
      decoded
        .select(expr("ts_us div 86400000000").as("day"),
          graft.functions.Hashing.md5Long(rowRepr)
            .cast("decimal(38,0)").as("h"))
        .groupBy("day")
        .agg(count(lit(1)).as("n"), sum(col("h")).as("hsum"))
    }
    s.read.parquet(out).groupBy("day")
      .agg(max_by(col("n"), col("batch_id")).as("n"),
        max_by(col("hsum"), col("batch_id")).as("hsum"))
  }

  /** The declarative constraint report (see q_validate_constraints). */
  private def constraintReport(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    val oChecks = Profiling.predicateChecks(o, Seq(
      Profiling.Check("orders.custkey_complete",
        col("o_custkey").isNotNull, 1000000L),
      Profiling.Check("orders.status_domain",
        col("o_orderstatus").isin("O", "F", "P"), 1000000L),
      Profiling.Check("orders.totalprice_positive",
        col("o_totalprice") > 0, 1000000L),
      Profiling.Check("orders.priority_urgent",
        col("o_orderpriority") === "1-URGENT", 1000000L)))
    val liChecks = Profiling.predicateChecks(li, Seq(
      Profiling.Check("lineitem.quantity_range",
        col("l_quantity").between(1, 50), 1000000L),
      Profiling.Check("lineitem.discount_range",
        col("l_discount") >= 0 && col("l_discount") <= 0.1, 1000000L)))
    val uq = Profiling.uniquenessCheck(o, "o_orderkey",
      "orders.orderkey_unique", 1000000L)
    val ri = Profiling.riCheck(li, "l_orderkey", o, "o_orderkey",
      "lineitem.orderkey_in_orders", 1000000L)
    oChecks.unionByName(liChecks).unionByName(uq).unionByName(ri)
  }

  /** The (n_bins, psi) drift score (see q_drift_psi). */
  private def psiReport(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.normalizeTs(Tables.orders(s, dir), "o_orderdate")
      .withColumn("__dus", unix_micros(col("o_orderdate")))
    val ds = o.agg(min("__dus").as("__mind"), max("__dus").as("__maxd"))
    val sliced = o.crossJoin(broadcast(ds))
      .withColumn("__a", col("__dus") < expr("(__mind + __maxd) div 2"))
    Profiling.psiDrift(sliced, col("o_totalprice"), col("__a"), 20)
  }

  /** The per-group median/MAD outlier census (see q_outlier_mad). */
  private def madReport(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("x"))
    val med = li.groupBy("g")
      .agg(round(expr("percentile(x, 0.5)"), 4).as("med"))
    val dev = li.join(broadcast(med), Seq("g"))
      .withColumn("absdev", abs(col("x") - col("med")))
    val mad = dev.groupBy("g")
      .agg(round(expr("percentile(absdev, 0.5)"), 4).as("mad"))
    dev.join(broadcast(mad), Seq("g"))
      .groupBy("g").agg(count(lit(1)).as("n"),
        max(col("med")).as("med"), max(col("mad")).as("mad"),
        sum(when(col("absdev") > lit(4.4478) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .withColumnRenamed("g", "l_returnflag")
  }

  /** Frozen drift-monitor parameters for `dir`: date midpoint + value
    * range, one config-scale collect (the reference-snapshot stats a
    * deployed monitor ships to its serving tier). */
  private def driftParams(s: SparkSession, dir: String): (Long, Double, Double) = {
    val o = Tables.normalizeTs(Tables.orders(s, dir), "o_orderdate")
      .withColumn("__dus", unix_micros(col("o_orderdate")))
    val r = o.agg(min("__dus").as("mind"), max("__dus").as("maxd"),
      min(col("o_totalprice").cast("double")).as("minv"),
      max(col("o_totalprice").cast("double")).as("maxv")).head()
    (Math.floorDiv(r.getLong(0) + r.getLong(1), 2L), r.getDouble(2), r.getDouble(3))
  }

  private def binCol(v: org.apache.spark.sql.Column, minv: Double,
                     maxv: Double): org.apache.spark.sql.Column = {
    val w = (maxv - minv) / 20.0
    if (w == 0.0) lit(0L)
    else least(floor((v.cast("double") - lit(minv)) / lit(w)).cast("long"),
      lit(19L))
  }

  /** The reference (early-half) bin counts, batch-derived. */
  private def driftReferenceBins(s: SparkSession, dir: String): DataFrame = {
    val (mid, minv, maxv) = driftParams(s, dir)
    Tables.normalizeTs(Tables.orders(s, dir), "o_orderdate")
      .filter(unix_micros(col("o_orderdate")) < mid)
      .select(binCol(col("o_totalprice"), minv, maxv).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("ca"))
  }

  /** Landing for q_t15_streaming_drift: late-half orders as a JSON topic,
    * binned against the frozen boundaries, counted per bin in Update mode
    * (O(nBins) state). Counts are monotone non-decreasing across batches,
    * so read-side compaction is a plain max — the same no-batch_id
    * discipline as the streamed CMS/HLL/histogram registers. */
  private def streamedDriftBins(s: SparkSession, dir: String): DataFrame = {
    val out = Artifacts.drain("stream_drift", dir, OutputMode.Update) { src =>
      val (mid, minv, maxv) = driftParams(s, dir)
      JsonTopic(src).write(Tables.normalizeTs(Tables.orders(s, dir), "o_orderdate")
          .filter(unix_micros(col("o_orderdate")) >= mid)
          .select("o_orderkey", "o_totalprice"))
        .stream()
        .select(binCol(col("o_totalprice"), minv, maxv).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cb"))
    }
    s.read.parquet(out).groupBy("bin").agg(max(col("cb")).as("cb"))
  }

  private def numProfileSql(c: String, q: Long): String =
    s"""SELECT '$c' AS col_name, count($c) AS n,
       |  count(*) - count($c) AS n_null,
       |  count(DISTINCT $c) AS n_distinct,
       |  CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v,
       |  round(CAST(sum(CAST(round($c * $q) AS BIGINT)) AS DOUBLE)
       |    / $q.0 / CAST(count($c) AS DOUBLE), 4) AS mean_v
       |FROM lineitem""".stripMargin

  private def catProfileSql(c: String): String =
    s"""SELECT '$c' AS col_name, count($c) AS n,
       |  count(*) - count($c) AS n_null,
       |  count(DISTINCT $c) AS n_distinct,
       |  CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
       |FROM base""".stripMargin

  private val sqlPpm =
    (g: String, t: String) =>
      s"CAST(floor(1e6 * CAST($g AS DOUBLE) / CAST($t AS DOUBLE)) AS BIGINT)"

  private def checkRowSql(src: String, name: String, g: String): String =
    s"""SELECT '$name' AS check_name, ${sqlPpm(g, "t")} AS metric_ppm,
       |  ${sqlPpm(g, "t")} >= 1000000 AS passed FROM $src""".stripMargin

  val oracles: Map[String, String] = Map(

    "q_profile_numeric" -> Seq(
      "l_orderkey" -> 1L, "l_quantity" -> 100L,
      "l_extendedprice" -> 100L, "l_discount" -> 100L)
      .map { case (c, q) => numProfileSql(c, q) }
      .mkString("\nUNION ALL\n"),

    "q_profile_categorical" ->
      ("""WITH base AS (SELECT l_returnflag, l_linestatus,
        |  epoch_us(l_shipdate) AS l_shipdate_us FROM lineitem)
        |""".stripMargin +
        Seq("l_returnflag", "l_linestatus", "l_shipdate_us")
          .map(catProfileSql).mkString("\nUNION ALL\n")),

    "q_validate_constraints" -> sqlValidate,

    // gate = constraint rows ∪ drift verdict ∪ outlier-rate verdicts,
    // each branch the corresponding standalone oracle re-shaped to the
    // uniform report row
    "q_quality_gate_e2e" ->
      (sqlValidate +
        """
          |UNION ALL
          |SELECT 'orders.price_drift_psi' AS check_name,
          |  CAST(floor(psi * 1e6) AS BIGINT) AS metric_ppm,
          |  psi <= 0.25 AS passed
          |FROM (""".stripMargin + sqlPsi + """) psiq
          |UNION ALL
          |SELECT 'lineitem.outlier_rate.' || l_returnflag AS check_name,
          |  CAST(floor(1e6 * CAST(n_outliers AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS metric_ppm,
          |  CAST(floor(1e6 * CAST(n_outliers AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) <= 10000 AS passed
          |FROM (""".stripMargin + sqlMad + ") madq"),

    "q_drift_tokens" ->
      """WITH t AS (SELECT source = 'src0' AS a,
        |    unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token,
        |    sum(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS cb
        |  FROM t GROUP BY 1),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
        |    CAST(sum(cb) AS BIGINT) AS tb, count(*) AS v FROM c),
        |x AS (SELECT token, ca, cb,
        |    (CAST(ca + 1 AS DOUBLE) / CAST(ta + v AS DOUBLE))
        |      * ln((CAST(ca + 1 AS DOUBLE) / CAST(ta + v AS DOUBLE))
        |          / (CAST(cb + 1 AS DOUBLE) / CAST(tb + v AS DOUBLE))) AS contrib
        |  FROM c CROSS JOIN tot)
        |SELECT token, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
        |  round(contrib, 6) + 0.0 AS contrib
        |FROM x ORDER BY abs(contrib) DESC, token LIMIT 20""".stripMargin,

    "q_label_separability" ->
      """WITH q AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        |  FROM embeddings),
        |e AS (SELECT vec_id, label, i, q[i] AS v
        |  FROM q, unnest(generate_series(1, len(q))) AS t(i)),
        |cs AS (SELECT label, i, CAST(sum(v) AS BIGINT) AS s, count(*) AS n
        |  FROM e GROUP BY 1, 2),
        |cent AS (SELECT label, i,
        |    CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS c FROM cs),
        |d AS (SELECT e.vec_id, e.label,
        |    CAST(sum((v - c) * (v - c)) AS BIGINT) AS d2
        |  FROM e JOIN cent ON e.label = cent.label AND e.i = cent.i
        |  GROUP BY 1, 2),
        |intra AS (SELECT label, count(*) AS n, CAST(sum(d2) AS BIGINT) AS S
        |  FROM d GROUP BY 1),
        |cd AS (SELECT a.label AS la,
        |    CAST(sum((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS dd
        |  FROM cent a JOIN cent b ON a.i = b.i AND a.label <> b.label
        |  GROUP BY a.label, b.label),
        |inter AS (SELECT la AS label, min(dd) AS i2 FROM cd GROUP BY 1)
        |SELECT intra.label, n,
        |  round(CAST(S AS DOUBLE) / n / 1e6, 4) AS intra_msd,
        |  round(CAST(i2 AS DOUBLE) / 1e6, 4) AS inter_min,
        |  round(CAST(i2 AS DOUBLE) * n / greatest(S, 1), 4) AS sep
        |FROM intra JOIN inter USING (label)""".stripMargin,

    "q_emb_pca" -> sqlPcaPower(8),

    "q_emb_pca_project" -> sqlPcaProject(8),

    "q_audit_manifest" -> sqlManifest,

    // the streamed manifest must equal the batch recompute exactly
    "q_t25_streaming_manifest" -> sqlManifest,

    "q_profile_correlation" ->
      """WITH q AS (SELECT CAST(round(l_quantity*100) AS BIGINT) AS x,
        |    CAST(round(l_extendedprice*100) AS BIGINT) AS y,
        |    CAST(round(l_discount*100) AS BIGINT) AS z FROM lineitem),
        |a AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
        |    sum(x*x) AS sxx, sum(y*y) AS syy, sum(z*z) AS szz,
        |    sum(x*y) AS sxy, sum(x*z) AS sxz, sum(y*z) AS syz FROM q)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(CAST(n*sxy - sx*sy AS DOUBLE)
        |    / sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
        |    / sqrt(CAST(n*syy - sy*sy AS DOUBLE)), 6) + 0.0 AS corr_qty_price,
        |  round(CAST(n*sxz - sx*sz AS DOUBLE)
        |    / sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
        |    / sqrt(CAST(n*szz - sz*sz AS DOUBLE)), 6) + 0.0 AS corr_qty_disc,
        |  round(CAST(n*syz - sy*sz AS DOUBLE)
        |    / sqrt(CAST(n*syy - sy*sy AS DOUBLE))
        |    / sqrt(CAST(n*szz - sz*sz AS DOUBLE)), 6) + 0.0 AS corr_price_disc
        |FROM a""".stripMargin,

    "q_stat_chisq" ->
      """WITH c AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000) % 7 AS wd, count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rs FROM c GROUP BY 1),
        |w AS (SELECT wd, CAST(sum(o) AS BIGINT) AS cs FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(o) AS BIGINT) AS t FROM c),
        |k AS (SELECT c.o,
        |    CAST(r.rs AS DOUBLE) * CAST(w.cs AS DOUBLE) / t.t AS e
        |  FROM c JOIN r USING (event_type) JOIN w USING (wd) CROSS JOIN t),
        |u AS (SELECT CAST(floor(1000000.0 * (CAST(o AS DOUBLE) - e)
        |    * (CAST(o AS DOUBLE) - e) / e) AS BIGINT) AS cu FROM k)
        |SELECT count(*) AS n_cells, CAST(sum(cu) AS BIGINT) AS chi2_u,
        |  round(CAST(sum(cu) AS DOUBLE) / 1e6, 4) AS chi2
        |FROM u""".stripMargin,

    "q_emb_quality" ->
      """WITH em AS (SELECT CAST(label AS BIGINT) AS label,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q,
        |    len(embedding) AS d
        |  FROM embeddings),
        |n AS (SELECT label, d,
        |    CAST(COALESCE(list_sum(list_transform(q, x -> x * x)), 0)
        |      AS BIGINT) AS n2
        |  FROM em)
        |SELECT label, count(*) AS n_vectors,
        |  CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(min(n2) AS BIGINT) AS min_n2, CAST(max(n2) AS BIGINT) AS max_n2,
        |  CAST(min(d) AS BIGINT) AS min_dim, CAST(max(d) AS BIGINT) AS max_dim
        |FROM n GROUP BY 1""".stripMargin,

    "q_emb_covariance" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        |  FROM embeddings),
        |e AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS i, q[i] AS v
        |  FROM q, unnest(generate_series(1, len(q))) AS t(i)),
        |p AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.v * b.v) AS BIGINT) AS sij
        |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY 1, 2),
        |s AS (SELECT i, CAST(sum(v) AS BIGINT) AS s FROM e GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM q)
        |SELECT p.i, p.j, p.sij,
        |  round(CAST(n * sij - si.s * sj.s AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e6, 6) + 0.0 AS cov
        |FROM p JOIN s si ON si.i = p.i JOIN s sj ON sj.i = p.j
        |CROSS JOIN nn""".stripMargin,

    "q_anomaly_daily_volume" ->
      """WITH d AS (SELECT epoch_us(o_orderdate) // 86400000000 AS day FROM orders),
        |byday AS (SELECT day, count(*) AS n FROM d GROUP BY 1),
        |w AS (SELECT day, n,
        |    count(*) OVER win AS cnt,
        |    CAST(sum(n) OVER win AS DOUBLE) AS s1,
        |    CAST(sum(n * n) OVER win AS DOUBLE) AS s2
        |  FROM byday
        |  WINDOW win AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT day, n, round(s1 / 7.0, 4) AS mean7,
        |  CAST(n AS DOUBLE) > s1 / 7.0 + 2.0 * sqrt((s2 - s1 * s1 / 7.0) / 7.0) AS spike
        |FROM w WHERE cnt = 7""".stripMargin,

    "q_feat_target_encode" ->
      """WITH o AS (SELECT o_orderpriority AS cat,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |g AS (SELECT cat, CAST(sum(cents) AS BIGINT) AS sc, count(*) AS n
        |  FROM o GROUP BY 1),
        |t AS (SELECT CAST(sum(sc) AS BIGINT) AS ts,
        |    CAST(sum(n) AS BIGINT) AS tn FROM g)
        |SELECT cat, n,
        |  round(CAST((sc + 100 * (ts // tn)) // (n + 100) AS DOUBLE) / 100.0, 2) AS enc
        |FROM g, t""".stripMargin,

    "q_feat_woe" ->
      """WITH o AS (SELECT o_orderpriority AS cat,
        |    o_orderstatus = 'F' AS bad FROM orders),
        |g AS (SELECT cat,
        |    CAST(sum(CASE WHEN NOT bad THEN 1 ELSE 0 END) AS BIGINT) AS good_c,
        |    CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS bad_c
        |  FROM o GROUP BY 1),
        |t AS (SELECT CAST(sum(good_c) AS BIGINT) AS good_t,
        |    CAST(sum(bad_c) AS BIGINT) AS bad_t, count(*) AS k FROM g)
        |SELECT cat, good_c, bad_c,
        |  CAST(floor(1e6 * ln((CAST(good_c + 1 AS DOUBLE) / CAST(good_t + k AS DOUBLE))
        |    / (CAST(bad_c + 1 AS DOUBLE) / CAST(bad_t + k AS DOUBLE)))) AS BIGINT) AS woe_u,
        |  CAST(floor(1e6 * (((CAST(good_c + 1 AS DOUBLE) / CAST(good_t + k AS DOUBLE))
        |      - (CAST(bad_c + 1 AS DOUBLE) / CAST(bad_t + k AS DOUBLE)))
        |    * ln((CAST(good_c + 1 AS DOUBLE) / CAST(good_t + k AS DOUBLE))
        |      / (CAST(bad_c + 1 AS DOUBLE) / CAST(bad_t + k AS DOUBLE))))) AS BIGINT) AS iv_u
        |FROM g, t""".stripMargin,

    "q_feat_target_encode_loo" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority AS cat,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |g AS (SELECT cat, CAST(sum(cents) AS BIGINT) AS sc, count(*) AS n
        |  FROM o GROUP BY 1),
        |t AS (SELECT CAST(sum(sc) AS BIGINT) AS ts,
        |    CAST(sum(n) AS BIGINT) AS tn FROM g)
        |SELECT o_orderkey, o.cat,
        |  round(CAST((sc - cents + 100 * (ts // tn)) // (n - 1 + 100) AS DOUBLE) / 100.0, 2) AS enc
        |FROM o JOIN g ON g.cat = o.cat, t""".stripMargin,

    "q_feat_quantile_norm" ->
      """WITH base AS (SELECT l_orderkey, l_linenumber, l_returnflag AS g,
        |    CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem),
        |st AS (SELECT g, min(v) AS minv, max(v) AS maxv FROM base GROUP BY 1),
        |b AS (SELECT l_orderkey, l_linenumber, base.g,
        |    CASE WHEN (maxv - minv) / 100.0 = 0 THEN 0
        |      ELSE least(CAST(floor((v - minv) / ((maxv - minv) / 100.0)) AS BIGINT), 99)
        |    END AS bin
        |  FROM base JOIN st ON st.g = base.g),
        |c AS (SELECT g, bin, count(*) AS c FROM b GROUP BY 1, 2),
        |cum AS (SELECT g, bin,
        |    COALESCE(CAST(sum(c) OVER (PARTITION BY g ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb,
        |    CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM c)
        |SELECT b.l_orderkey, b.l_linenumber, b.g AS grp, b.bin,
        |  CAST(floor(1e6 * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS norm_ppm
        |FROM b JOIN cum ON cum.g = b.g AND cum.bin = b.bin""".stripMargin,

    "q_outlier_mad" -> sqlMad,

    "q_agg_exact_quantiles" ->
      """WITH s AS (SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n FROM s),
        |qs AS (SELECT CAST(q_pct AS BIGINT) AS q_pct
        |  FROM (VALUES (10), (50), (90)) t(q_pct))
        |SELECT g AS l_returnflag, q_pct, CAST(n AS BIGINT) AS n, v AS value
        |FROM r, qs
        |WHERE rn = CAST(floor(q_pct / 100.0 * (n - 1)) AS BIGINT) + 1""".stripMargin,

    "q_agg_exact_median" ->
      """WITH s AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
        |    row_number() OVER (ORDER BY CAST(l_extendedprice AS DOUBLE)) AS rn,
        |    count(*) OVER () AS n
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |SELECT CAST(n AS BIGINT) AS n, v AS median
        |FROM s WHERE rn = (n + 1) // 2""".stripMargin,

    "q_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p,
        |    o_orderstatus AS st, epoch_us(o_orderdate) AS dus FROM orders),
        |ds AS (SELECT (min(dus) + max(dus)) // 2 AS mid FROM o),
        |a AS (SELECT k, p, st FROM o, ds WHERE dus < mid),
        |b AS (SELECT k, CASE WHEN k % 97 = 0 THEN p + 1.0 ELSE p END AS p, st
        |  FROM o WHERE k % 101 <> 0),
        |j AS (SELECT a.k AS ak, b.k AS bk, a.p AS ap, b.p AS bp,
        |    a.st AS ast, b.st AS bst
        |  FROM a FULL JOIN b ON a.k = b.k)
        |SELECT status, count(*) AS n FROM (
        |  SELECT CASE WHEN ak IS NULL THEN 'added'
        |    WHEN bk IS NULL THEN 'removed'
        |    WHEN (ap IS DISTINCT FROM bp) OR (ast IS DISTINCT FROM bst)
        |      THEN 'changed'
        |    ELSE 'same' END AS status FROM j) t
        |GROUP BY 1""".stripMargin,

    "q_t16_streaming_validate" ->
      ("""WITH oc AS (SELECT count(*) AS t,
        |    sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS g0,
        |    sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS g1,
        |    sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS g2,
        |    sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS g3
        |  FROM orders)
        |""".stripMargin +
        Seq(
          checkRowSql("oc", "orders.custkey_complete", "g0"),
          checkRowSql("oc", "orders.status_domain", "g1"),
          checkRowSql("oc", "orders.totalprice_positive", "g2"),
          checkRowSql("oc", "orders.priority_urgent", "g3"))
          .mkString("\nUNION ALL\n")),

    // The streamed monitor's oracle IS the batch PSI computation: the
    // Update-mode landing must reproduce the batch score bit for bit.
    "q_t15_streaming_drift" -> sqlPsi,

    "q_drift_psi" -> sqlPsi,

    "q_drift_ks" ->
      """WITH o AS (SELECT o_totalprice AS v, epoch_us(o_orderdate) AS dus FROM orders),
        |ds AS (SELECT min(dus) AS mind, max(dus) AS maxd FROM o),
        |sl AS (SELECT v, dus < (mind + maxd) // 2 AS a FROM o, ds),
        |st AS (SELECT CAST(min(v) AS DOUBLE) AS minv, CAST(max(v) AS DOUBLE) AS maxv FROM sl),
        |b AS (SELECT CASE WHEN (maxv - minv) / 20.0 = 0 THEN 0
        |    ELSE least(CAST(floor((CAST(v AS DOUBLE) - minv) / ((maxv - minv) / 20.0)) AS BIGINT), 19) END AS bin, a
        |  FROM sl, st),
        |c AS (SELECT bin, sum(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS cb FROM b GROUP BY 1),
        |k AS (SELECT
        |    CAST(sum(ca) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |      / CAST(sum(ca) OVER () AS DOUBLE) AS fa,
        |    CAST(sum(cb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |      / CAST(sum(cb) OVER () AS DOUBLE) AS fb
        |  FROM c)
        |SELECT count(*) AS n_bins, round(max(abs(fa - fb)), 6) AS ks FROM k""".stripMargin,

    // The streamed monitor's oracle is the identical band computed batch
    // over the full events table.
    "q_t17_streaming_anomaly" ->
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day FROM events),
        |byday AS (SELECT day, count(*) AS n FROM d GROUP BY 1),
        |w AS (SELECT day, n,
        |    count(*) OVER win AS cnt,
        |    CAST(sum(n) OVER win AS DOUBLE) AS s1,
        |    CAST(sum(n * n) OVER win AS DOUBLE) AS s2
        |  FROM byday
        |  WINDOW win AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT day, n, round(s1 / 7.0, 4) AS mean7,
        |  CAST(n AS DOUBLE) > s1 / 7.0 + 2.0 * sqrt((s2 - s1 * s1 / 7.0) / 7.0) AS spike
        |FROM w WHERE cnt = 7""".stripMargin)

  /** Oracle replay of the exact-integer PCA power iteration: the scatter
    * matrix A = n·S_ij − S_i·S_j from the milli-quantized vectors, the
    * bit-length right-shift, and `iters` UNROLLED matrix-vector stages —
    * each MATERIALIZED (an unmaterialized chain re-inlines the whole
    * stage prefix into every probe, the documented sqlBpeTrain trap).
    * Every step is BIGINT add/multiply/truncating-divide/bit-length, so
    * the loadings match the Scala driver loop bit for bit.
    */
  private def sqlPcaCtes(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""w$k AS MATERIALIZED (SELECT aq.i, CAST(sum(aq.a * v${k - 1}.v) AS BIGINT) AS w
         |  FROM aq JOIN v${k - 1} ON v${k - 1}.i = aq.j GROUP BY 1),
         |m$k AS (SELECT max(abs(w)) AS m FROM w$k),
         |v$k AS MATERIALIZED (SELECT i, w // (m // 1000000 + 1) AS v
         |  FROM w$k, m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |e AS MATERIALIZED (SELECT vec_id, CAST(i - 1 AS BIGINT) AS i, q[i] AS v
       |  FROM q, unnest(generate_series(1, len(q))) AS t(i)),
       |s AS (SELECT i, CAST(sum(v) AS BIGINT) AS s FROM e GROUP BY 1),
       |p AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.v * b.v) AS BIGINT) AS sij
       |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2),
       |nn AS (SELECT count(*) AS n FROM q),
       |a0 AS (SELECT p.i, p.j, CAST(nn.n * p.sij - si.s * sj.s AS BIGINT) AS a
       |  FROM p JOIN s si ON si.i = p.i JOIN s sj ON sj.i = p.j CROSS JOIN nn),
       |af AS (SELECT i, j, a FROM a0
       |       UNION ALL SELECT j, i, a FROM a0 WHERE i < j),
       |sh AS (SELECT greatest(0, length(bin(max(abs(a)))) - 24) AS sh FROM af),
       |aq AS MATERIALIZED (SELECT i, j, a // (CAST(1 AS BIGINT) << sh) AS a
       |  FROM af, sh),
       |v0 AS (SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS v FROM af),
       |""".stripMargin + steps
  }

  private def sqlPcaPower(iters: Int): String =
    sqlPcaCtes(iters) + "\n" +
      s"""SELECT i, v AS loading_u,
         |  round(CAST(v AS DOUBLE) / 1e6, 6) + 0.0 AS loading FROM v$iters""".stripMargin

  /** Projection census: each vector's integer dot product with the
    * iterated loadings, bucketed at 1e8 — the apply-the-learned-transform
    * serving shape over the corpus.
    */
  private def sqlPcaProject(iters: Int): String =
    sqlPcaCtes(iters) + ",\n" +
      s"""proj AS MATERIALIZED (SELECT e.vec_id, CAST(sum(e.v * vv.v) AS BIGINT) AS p
         |  FROM e JOIN v$iters vv ON vv.i = e.i GROUP BY 1)
         |SELECT p // 100000000 AS bucket, count(*) AS n
         |FROM proj GROUP BY 1""".stripMargin

  private def sqlMad: String =
    """WITH li AS (SELECT l_returnflag AS g, l_extendedprice AS x FROM lineitem),
      |med AS (SELECT g, round(quantile_cont(x, 0.5), 4) AS med FROM li GROUP BY 1),
      |dev AS (SELECT li.g, x, med, abs(x - med) AS absdev
      |  FROM li JOIN med USING (g)),
      |mad AS (SELECT g, round(quantile_cont(absdev, 0.5), 4) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT dev.g AS l_returnflag, count(*) AS n, max(med) AS med,
      |  max(mad) AS mad,
      |  CAST(sum(CASE WHEN absdev > 4.4478 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM dev JOIN mad USING (g) GROUP BY 1""".stripMargin

  private def sqlValidate: String =
    ("""WITH oc AS (SELECT count(*) AS t,
      |    sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS g0,
      |    sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS g1,
      |    sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS g2,
      |    sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS g3
      |  FROM orders),
      |lc AS (SELECT count(*) AS t,
      |    sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS g0,
      |    sum(CASE WHEN l_discount >= 0 AND l_discount <= 0.1 THEN 1 ELSE 0 END) AS g1
      |  FROM lineitem),
      |uq AS (SELECT count(DISTINCT o_orderkey) AS g, count(*) AS t FROM orders),
      |ri AS (SELECT (SELECT count(*) FROM lineitem
      |    WHERE l_orderkey IN (SELECT o_orderkey FROM orders)) AS g,
      |    (SELECT count(*) FROM lineitem) AS t)
      |""".stripMargin +
      Seq(
        checkRowSql("oc", "orders.custkey_complete", "g0"),
        checkRowSql("oc", "orders.status_domain", "g1"),
        checkRowSql("oc", "orders.totalprice_positive", "g2"),
        checkRowSql("oc", "orders.priority_urgent", "g3"),
        checkRowSql("lc", "lineitem.quantity_range", "g0"),
        checkRowSql("lc", "lineitem.discount_range", "g1"),
        checkRowSql("uq", "orders.orderkey_unique", "g"),
        checkRowSql("ri", "lineitem.orderkey_in_orders", "g"))
        .mkString("\nUNION ALL\n"))

  private def sqlPsi: String =
      """WITH o AS (SELECT o_totalprice AS v, epoch_us(o_orderdate) AS dus FROM orders),
        |ds AS (SELECT min(dus) AS mind, max(dus) AS maxd FROM o),
        |sl AS (SELECT v, dus < (mind + maxd) // 2 AS a FROM o, ds),
        |st AS (SELECT CAST(min(v) AS DOUBLE) AS minv, CAST(max(v) AS DOUBLE) AS maxv FROM sl),
        |b AS (SELECT CASE WHEN (maxv - minv) / 20.0 = 0 THEN 0
        |    ELSE least(CAST(floor((CAST(v AS DOUBLE) - minv) / ((maxv - minv) / 20.0)) AS BIGINT), 19) END AS bin, a
        |  FROM sl, st),
        |c AS (SELECT bin, sum(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS cb FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(cb) AS BIGINT) AS tb FROM c),
        |x AS (SELECT CAST(ca + 1 AS DOUBLE) / CAST(ta + 20 AS DOUBLE) AS p,
        |    CAST(cb + 1 AS DOUBLE) / CAST(tb + 20 AS DOUBLE) AS q FROM c, t)
        |SELECT count(*) AS n_bins, round(sum((p - q) * ln(p / q)), 4) AS psi FROM x""".stripMargin
}
