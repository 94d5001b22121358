package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Artifacts
import graft.sources.Tables

/** Analytical query shapes over the star schema (SURVEY §2.4 superset +
  * §2.6 capability superset: sort/limit/top-k, window functions).
  *
  * These are the bench-bearing queries: multi-way joins (broadcast small
  * dims, shuffle the facts), partial+final hash aggregation, window
  * evaluation. Money aggregates use exact integer-cents arithmetic (see
  * below) so results are bit-identical across engines and partitionings at
  * any scale factor.
  */
object TpchQueries {

  // ---- exact money arithmetic ----
  // Monetary inputs are 2-decimal doubles; summing their float products is
  // order-dependent in the last ulps, which can flip round(.,2) at a 0.005
  // boundary once row counts grow. Instead: quantize each factor to integer
  // hundredths (exact — products stay far below 2^53), compute per-row
  // cents with one correctly-rounded division, sum in BIGINT (exact, any
  // order), divide once for display. DuckDB mirrors every step.
  import org.apache.spark.sql.Column
  private def c100(c: Column): Column = round(c * lit(100)).cast("long")
  private def discCents: Column =
    round(c100(col("l_extendedprice")) * (lit(100L) - c100(col("l_discount"))) / lit(100.0)).cast("long")
  private def chargeCents: Column =
    round(c100(col("l_extendedprice")) * (lit(100L) - c100(col("l_discount"))) *
      (lit(100L) + c100(col("l_tax"))) / lit(10000.0)).cast("long")
  private def disp(sumCents: Column): Column =
    round(sumCents.cast("double") / lit(100.0), 2)

  private val sqlPriceC = "CAST(round(l_extendedprice*100) AS BIGINT)"
  private val sqlDiscC =
    s"CAST(round($sqlPriceC * (100 - CAST(round(l_discount*100) AS BIGINT)) / CAST(100.0 AS DOUBLE)) AS BIGINT)"
  private val sqlChargeC =
    s"CAST(round($sqlPriceC * (100 - CAST(round(l_discount*100) AS BIGINT)) * (100 + CAST(round(l_tax*100) AS BIGINT)) / CAST(10000.0 AS DOUBLE)) AS BIGINT)"
  private def sqlDisp(sumExpr: String): String =
    s"round(CAST($sumExpr AS DOUBLE) / CAST(100.0 AS DOUBLE), 2)"

  /** Landings for the source-format roundtrip queries: lineitem's key
    * measure columns (quantized to exact integers BEFORE the text write —
    * float-text roundtripping is the classic CSV corruption vector; an
    * integer survives any formatter) written once per JVM as gzip CSV
    * with a header and as ORC, read back through the respective sources
    * with an EXPLICIT schema (schema-on-read contract: inference is
    * banned on ingest paths — S4's lesson). Oracle aggregates the
    * original parquet — any row or value the format layer dropped or
    * bent breaks the hash.
    */
  private def roundtripPath(s: SparkSession, dir: String, fmt: String): String =
    Artifacts.land(s"src_$fmt", dir) { out =>
      val slim0 = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity").cast("long").as("qty"),
        c100(col("l_extendedprice")).as("price_c"))
      // gzip is UNSPLITTABLE: however large the landing grows, each .gz
      // file is one reader task forever (guide §2.5 "input skew: one huge
      // unsplittable file — fix at the source"). Chunk the write by the
      // INPUT's byte size, not the core count, so the layout rule is
      // scale-adaptive: chunks = ceil(input_bytes / chunkBytes). The
      // local default (8 MB of parquet per chunk ≈ 30-40 MB of inflated
      // JSON text) keeps sf-fixture file counts small while giving the
      // decode real parallelism; a production deployment raises
      // spark.graft.roundtrip.chunkBytes toward 128-512 MB so files land
      // in the guide §6 size band. ORC is splittable — no chunking needed.
      val chunks = {
        val p = new org.apache.hadoop.fs.Path(s"$dir/lineitem.parquet")
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val bytes = fs.getContentSummary(p).getLength
        val target = s.conf.getOption("spark.graft.roundtrip.chunkBytes")
          .map(_.toLong).getOrElse(8L << 20)
        math.max(1L, (bytes + target - 1) / target).toInt
      }
      // hash-partition on the (high-cardinality, deterministic) order key —
      // NOT round-robin: AQE's local shuffle read collapses a round-robin
      // repartition of a single-mapper scan back to one output partition
      // (observed: chunks=2, every row in part-00001), and round-robin
      // retry semantics need the pre-shuffle sort anyway (guide §2.5)
      val slim = if (fmt == "orc") slim0
        else slim0.repartition(chunks, col("l_orderkey"))
      val w = slim.write.mode("overwrite")
      fmt match {
        case "csv" => w.option("header", "true").option("compression", "gzip").csv(out)
        case "orc" => w.orc(out)
        // the reference's actual wire format: gzip JSON lines
        // (qradar/qradarconnector.py streams gzipped JSON results)
        case "json" => w.option("compression", "gzip").json(out)
      }
    }
  private def roundtripAgg(df: DataFrame): DataFrame =
    df.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("sum_qty"),
        sum(col("price_c")).as("sum_price_c"),
        countDistinct(col("l_orderkey")).as("n_orders"))
  private val sqlRoundtrip =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
      |    AS sum_price_c,
      |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      |FROM lineitem GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Source-format breadth: the same slimmed fact read back through the
    // CSV (gzip, header, explicit schema) and ORC sources must aggregate
    // identically to the parquet original.
    "q_src_csv_roundtrip" -> ((s, dir) => {
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "l_orderkey BIGINT, l_linenumber BIGINT, l_returnflag STRING, " +
          "qty BIGINT, price_c BIGINT")
      roundtripAgg(s.read.schema(schema).option("header", "true")
        .csv(roundtripPath(s, dir, "csv")))
    }),
    "q_src_orc_roundtrip" -> ((s, dir) =>
      roundtripAgg(s.read.orc(roundtripPath(s, dir, "orc")))),
    // JSON-lines (gzip) — the reference's own result wire format; the
    // explicit schema keeps the read one pass (no inference scan).
    "q_src_json_roundtrip" -> ((s, dir) => {
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "l_orderkey BIGINT, l_linenumber BIGINT, l_returnflag STRING, " +
          "qty BIGINT, price_c BIGINT")
      roundtripAgg(s.read.schema(schema)
        .json(roundtripPath(s, dir, "json")))
    }),

    // Pricing-summary aggregation (partial+final HashAggregate over the
    // biggest fact table; the A1 rollup shape minus time).
    "q_agg_pricing" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          disp(sum(c100(col("l_quantity")))).as("sum_qty"),
          disp(sum(c100(col("l_extendedprice")))).as("sum_base_price"),
          disp(sum(discCents)).as("sum_disc_price"),
          disp(sum(chargeCents)).as("sum_charge"),
          count(lit(1)).as("count_order"))
    }),

    // Multi-way join: facts shuffle-join, dims broadcast; revenue per nation.
    "q_join_revenue_nation" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      val cust = Tables.customer(s, dir)
      val nat = Tables.nation(s, dir)
      val reg = Tables.region(s, dir)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
        .agg(
          disp(sum(discCents)).as("revenue"),
          count(lit(1)).as("n"))
        .select("region_name", "nation_name", "revenue", "n")
    }),

    // Skew-mitigated fact-fact join (hot-key salting): identical results
    // to the plain join, hot keys spread over 8 sub-keys. Oracle is the
    // UNSALTED join — proving the rewrite is result-invariant.
    "q_join_salted_skew" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.ops.SkewJoin.saltedInner(li, ord, "l_orderkey", saltBuckets = 8)
        .groupBy(col("o_orderpriority"))
        .agg(
          disp(sum(discCents)).as("revenue"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          count(lit(1)).as("n"))
    }),

    // §2.6 superset: global top-k (order by + limit) with deterministic
    // tie-break on the rounded measure.
    // Per-GROUP top-k as a mergeable aggregate (functions/TopK): the
    // window form (`row_number` over every order) sorts the whole table
    // behind one shuffle to keep 3 rows/group; the aggregator keeps a
    // sorted ≤3 array per group map-side, so only O(k) state per group
    // crosses the exchange — TakeOrderedAndProject's idea, grouped.
    // Prices quantized to integer cents keep the oracle hash-exact.
    "q_agg_topk_mapside" -> ((s, dir) => {
      import graft.functions.TopK
      Tables.orders(s, dir)
        .select(col("o_orderpriority").as("priority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderkey"))
        .groupBy("priority")
        .agg(TopK.topK(col("cents"), col("o_orderkey"), 3).as("top"))
        .select(col("priority"), posexplode(col("top")))
        .select(col("priority"), (col("pos") + 1).cast("long").as("rnk"),
          col("col._2").as("o_orderkey"), col("col._1").as("price_cents"))
    }),

    "q_topk_customers" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      val cust = Tables.customer(s, dir)
      val rev = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(disp(sum(discCents)).as("revenue"))
      // Distributed top-k: orderBy+limit plans as TakeOrderedAndProject
      // (per-partition heaps + driver merge of k rows — no global sort, no
      // single-partition window over the full aggregate). The row_number
      // window then runs over just the k survivors.
      val top = rev.orderBy(col("revenue").desc, col("c_custkey")).limit(10)
      val w = Window.orderBy(col("revenue").desc, col("c_custkey"))
      top.withColumn("rnk", row_number().over(w).cast("long"))
        .select("rnk", "c_custkey", "c_name", "revenue")
    }),

    // §2.6 superset: FULL OUTER join — per-nation counts of high-balance
    // customers and suppliers, either side possibly absent. Both inputs
    // are pre-aggregated (25-row sides), so the outer join is broadcast-
    // scale regardless of fact size.
    "q_join_fullouter" -> ((s, dir) => {
      val cust = Tables.customer(s, dir).filter(col("c_acctbal") > 9000)
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_rich_cust"))
      val supp = Tables.supplier(s, dir).filter(col("s_acctbal") > 9000)
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_rich_supp"))
      cust.join(supp, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
          coalesce(col("n_rich_cust"), lit(0L)).as("n_rich_cust"),
          coalesce(col("n_rich_supp"), lit(0L)).as("n_rich_supp"))
    }),

    // §2.6 superset: PIVOT with a pinned value list (deterministic column
    // set — never corpus-inferred, which would change the schema when a
    // status disappears from a slice). Plans as one conditional aggregate.
    "q_pivot_orders" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
    }),

    // §2.4 superset: GROUPING SETS with grouping() disambiguation markers
    // (one shuffle, Expand feeds all three groupings). Exact integer-cents
    // money totals as everywhere.
    "q_agg_groupingsets" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT o_orderpriority, o_orderstatus,
          |  CAST(grouping(o_orderpriority) AS INT) AS g_p,
          |  CAST(grouping(o_orderstatus) AS INT) AS g_s,
          |  count(*) AS n,
          |  round(CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE) / CAST(100.0 AS DOUBLE), 2) AS sum_price
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""".stripMargin)
    }),

    // §2.4 superset: exact percentiles (linear interpolation over the
    // sorted group — Spark `percentile`, DuckDB `quantile_cont` compute
    // the same (n-1)*p rule).
    "q_agg_percentiles" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
          round(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"))
    }),

    // §2.6 superset: partitioned window function — top-3 customers per
    // nation by account balance.
    "q_window_top3_per_nation" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val nat = Tables.nation(s, dir)
      val w = Window.partitionBy(col("n_name"))
        .orderBy(round(col("c_acctbal"), 2).desc, col("c_custkey"))
      cust.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("n_name").as("nation_name"), col("rnk").cast("long").as("rnk"),
          col("c_custkey"), round(col("c_acctbal"), 2).as("acctbal"))
    }),

    // §2.6 superset: distribution window functions — ntile quartiles and
    // cume_dist per nation (both engines implement the SQL-standard
    // larger-first ntile split and rows<=current/n cume_dist). One shuffle
    // on the partition key shared by both windows.
    "q_window_ntile" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(round(col("c_acctbal"), 2), col("c_custkey"))
      Tables.customer(s, dir)
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("cd", round(cume_dist().over(w), 4))
        .groupBy("c_nationkey", "quartile")
        .agg(count(lit(1)).as("n"),
          round(max(col("cd")), 4).as("max_cd"),
          round(sum(round(col("c_acctbal"), 2)), 2).as("sum_bal"))
    }),

    // Window-function completeness: nth_value over the FULL-partition
    // frame (the default running frame would return null until row n)
    // plus lag with an explicit default — the value-navigation family
    // members the suite hadn't pinned. Same deterministic order as the
    // ntile query; sampled output filter after the window.
    "q_window_nth_lag" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(round(col("c_acctbal"), 2), col("c_custkey"))
      val full = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"),
          nth_value(col("c_custkey"), 2).over(full).as("second_cust"),
          lag(col("c_custkey"), 1, -1L).over(w).as("prev_cust"),
          lead(col("c_custkey"), 1, -1L).over(w).as("next_cust"))
        .filter(col("c_custkey") % 7 === 0)
    }),

    // Window-function completeness: percent_rank over the same
    // deterministic (bal, custkey) order as the ntile query — the
    // remaining SQL-standard rank family member. The sampled output
    // filter applies AFTER the window (ranks computed over the full
    // partition, output kept compact).
    "q_window_percent_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(round(col("c_acctbal"), 2), col("c_custkey"))
      Tables.customer(s, dir)
        .withColumn("pr", round(percent_rank().over(w), 6) + lit(0.0))
        .filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), col("c_nationkey"), col("pr"))
    }),

    // §2.4 superset: multi-level ROLLUP (region -> nation -> total) in one
    // pass — Catalyst expands grouping sets before the single shuffle.
    "q_agg_rollup" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val nat = Tables.nation(s, dir)
      val reg = Tables.region(s, dir)
      cust.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name").as("region_name"), col("n_name").as("nation_name"))
        .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 2).as("sum_bal"))
    }),

    // §2.4 superset: full CUBE over two dimensions (all 4 grouping sets in
    // one shuffle).
    "q_agg_cube" -> ((s, dir) => {
      Tables.orders(s, dir)
        .cube(col("o_orderstatus").as("status"), col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_price"))
    }),

    // §2.4 superset: exact distinct aggregation (expands to two-phase
    // aggregate; the approx_count_distinct variant is engine-built-in).
    "q_agg_distinct" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_custs"),
          count(lit(1)).as("n_orders"))
    }),

    // Semi-join shape on facts: orders that have at least one high-discount line.
    "q_semijoin_orders" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).filter(col("l_discount") >= 0.09)
      Tables.orders(s, dir)
        .join(li.select("l_orderkey").distinct(), col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
    }),

    // Bloom-filter semi-join reduction: the ~750-key dim side is compiled
    // into a 2^16-bit bitmap (one tiny agg, 8 KiB literal) and the fact
    // scan is prefiltered by a pure-codegen membership test BEFORE the
    // join — at scale only candidate rows reach the join/shuffle (the
    // deterministic analog of AQE's runtime bloom filter; fpp ~4e-6 at
    // n=750/k=4). The exact semi join after it makes false positives
    // semantically invisible, which is why the plain semi-join SQL is the
    // oracle. BloomSpec pins zero false negatives + the prefilter's
    // reduction; the build collect is config-scale (1024 words).
    "q_join_bloom" -> ((s, dir) => {
      import graft.functions.Bloom
      val dim = Tables.orders(s, dir).filter(col("o_totalprice") > 475000.0)
        .select("o_orderkey")
      val bm = Bloom.build(dim, col("o_orderkey").cast("string"), k = 4, mBits = 1 << 16)
      Tables.lineitem(s, dir)
        .filter(Bloom.mightContain(col("l_orderkey").cast("string"), bm, k = 4, mBits = 1 << 16))
        .join(broadcast(dim), col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
    }),

    // Iterative graph analytics: PageRank over the supplier↔part supply
    // graph (distinct lineitem pairs, symmetrized; node ids = key×2 for
    // suppliers, key×2+1 for parts — disjoint Long spaces). Three power
    // iterations as DataFrame joins against the once-persisted edge
    // table (ops/Graph — the Pregel layout: edges partitioned by src,
    // ranks co-keyed; zero driver state), exact integer rank arithmetic
    // so the hash matches the oracle's unrolled CTEs. Centrality = which
    // suppliers/parts anchor the supply network — the graph-side analog
    // of the near-dup cluster representative ranking.
    "q_graph_pagerank" -> ((s, dir) => {
      import graft.ops.Graph
      val li = Tables.lineitem(s, dir)
        .select((col("l_suppkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
      // Cost attribution (OPTIMIZATION_r16.md): r16 re-measured prep at 1.2 s of
      // the ~5.6 s steady query — the rounds, not prep, carry the rest
      // (the r14 "prep dominates" reading didn't survive re-measurement
      // on a quiet box). Two "obvious" prep rewrites measured WORSE and
      // were reverted in r14: distinct-before-mirror re-executes the
      // distinct per union branch (+3 s), and persisting the distincted
      // base changes the cached-union stats enough to degrade the round
      // joins (+3.7 s). r16 restructure: the degree join is folded out
      // of the round loop (edeg persisted once) and `symmetric = true`
      // (this union IS the symmetrization) drops the node-universe
      // distinct and the per-round dangling backfill join — identical
      // integer ranks, 3 joins + 1 agg per round down to 1 join + 1 agg.
      val edges = li.union(li.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      Graph.pagerank(edges, iters = 3, symmetric = true)
        .select(col("node"),
          when(col("node") % 2 === 0, lit("supplier")).otherwise(lit("part")).as("kind"),
          (col("node") / lit(2)).cast("long").as("orig_id"), col("rank"))
        .orderBy(col("rank").desc, col("node")).limit(30)
    })
  )

  val oracles: Map[String, String] = Map(
    "q_src_csv_roundtrip" -> sqlRoundtrip,
    "q_src_orc_roundtrip" -> sqlRoundtrip,
    "q_src_json_roundtrip" -> sqlRoundtrip,

    "q_window_nth_lag" ->
      """WITH t AS (SELECT c_custkey, c_nationkey,
        |    nth_value(c_custkey, 2) OVER (PARTITION BY c_nationkey
        |      ORDER BY round(c_acctbal, 2), c_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS second_cust,
        |    lag(c_custkey, 1, -1) OVER (PARTITION BY c_nationkey
        |      ORDER BY round(c_acctbal, 2), c_custkey) AS prev_cust,
        |    lead(c_custkey, 1, -1) OVER (PARTITION BY c_nationkey
        |      ORDER BY round(c_acctbal, 2), c_custkey) AS next_cust
        |  FROM customer)
        |SELECT c_custkey, c_nationkey, second_cust,
        |  CAST(prev_cust AS BIGINT) AS prev_cust,
        |  CAST(next_cust AS BIGINT) AS next_cust
        |FROM t WHERE c_custkey % 7 = 0""".stripMargin,

    "q_window_percent_rank" ->
      """WITH t AS (SELECT c_custkey, c_nationkey,
        |    round(percent_rank() OVER (PARTITION BY c_nationkey
        |      ORDER BY round(c_acctbal, 2), c_custkey), 6) + 0.0 AS pr
        |  FROM customer)
        |SELECT c_custkey, c_nationkey, pr FROM t
        |WHERE c_custkey % 7 = 0""".stripMargin,

    "q_join_fullouter" ->
      """SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
        |  COALESCE(c.n_rich_cust, 0) AS n_rich_cust,
        |  COALESCE(s.n_rich_supp, 0) AS n_rich_supp
        |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_rich_cust
        |      FROM customer WHERE c_acctbal > 9000 GROUP BY 1) c
        |FULL JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_rich_supp
        |           FROM supplier WHERE s_acctbal > 9000 GROUP BY 1) s
        |ON c.nationkey = s.nationkey""".stripMargin,

    "q_pivot_orders" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY 1""".stripMargin,

    "q_agg_groupingsets" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_p,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_s,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE) / CAST(100.0 AS DOUBLE), 2) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""".stripMargin,

    "q_agg_percentiles" ->
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        |  round(quantile_cont(o_totalprice, 0.99), 4) AS p99
        |FROM orders GROUP BY 1""".stripMargin,

    "q_agg_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
        |  ${sqlDisp("sum(CAST(round(l_quantity*100) AS BIGINT))")} AS sum_qty,
        |  ${sqlDisp(s"sum($sqlPriceC)")} AS sum_base_price,
        |  ${sqlDisp(s"sum($sqlDiscC)")} AS sum_disc_price,
        |  ${sqlDisp(s"sum($sqlChargeC)")} AS sum_charge,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2""".stripMargin,

    "q_join_revenue_nation" ->
      s"""SELECT r.r_name AS region_name, n.n_name AS nation_name,
        |  ${sqlDisp(s"sum(${sqlDiscC.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")})")} AS revenue,
        |  count(*) AS n
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY 1, 2""".stripMargin,

    "q_join_salted_skew" ->
      s"""SELECT o.o_orderpriority,
        |  ${sqlDisp(s"sum(${sqlDiscC.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")})")} AS revenue,
        |  CAST(sum(l.l_quantity) AS BIGINT) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin,

    // the selection the aggregate must reproduce exactly: the same
    // (value desc, id asc) rule as a per-group row_number
    "q_agg_topk_mapside" ->
      """SELECT priority, rnk, o_orderkey, price_cents FROM (
        |  SELECT o_orderpriority AS priority,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC, o_orderkey) AS rnk,
        |    o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders) ranked
        |WHERE rnk <= 3""".stripMargin,

    "q_topk_customers" ->
      s"""SELECT * FROM (
        |  SELECT row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rnk,
        |         c_custkey, c_name, revenue
        |  FROM (SELECT c.c_custkey, c.c_name,
        |          ${sqlDisp(s"sum(${sqlDiscC.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")})")} AS revenue
        |        FROM lineitem l
        |        JOIN orders o ON l.l_orderkey = o.o_orderkey
        |        JOIN customer c ON o.o_custkey = c.c_custkey
        |        GROUP BY 1, 2) rev
        |) ranked WHERE rnk <= 10""".stripMargin,

    "q_window_top3_per_nation" ->
      """SELECT * FROM (
        |  SELECT n.n_name AS nation_name,
        |         row_number() OVER (PARTITION BY n.n_name ORDER BY round(c.c_acctbal,2) DESC, c.c_custkey) AS rnk,
        |         c.c_custkey, round(c.c_acctbal,2) AS acctbal
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |) ranked WHERE rnk <= 3""".stripMargin,

    "q_agg_rollup" ->
      """SELECT r.r_name AS region_name, n.n_name AS nation_name,
        |  count(*) AS n, round(sum(c.c_acctbal),2) AS sum_bal
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY ROLLUP (r.r_name, n.n_name)""".stripMargin,

    "q_agg_distinct" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs,
        |  count(*) AS n_orders
        |FROM orders GROUP BY 1""".stripMargin,

    "q_agg_cube" ->
      """SELECT o_orderstatus AS status, o_orderpriority AS priority,
        |  count(*) AS n, round(sum(o_totalprice),2) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "q_semijoin_orders" ->
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount >= 0.09)
        |GROUP BY 1""".stripMargin,

    "q_join_bloom" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem l
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_orderkey = l.l_orderkey AND o.o_totalprice > 475000)
        |GROUP BY 1""".stripMargin,

    "q_window_ntile" ->
      """WITH t AS (
        |  SELECT c_nationkey,
        |    ntile(4) OVER w AS quartile,
        |    round(cume_dist() OVER w, 4) AS cd,
        |    round(c_acctbal, 2) AS bal
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY round(c_acctbal, 2), c_custkey))
        |SELECT c_nationkey, CAST(quartile AS BIGINT) AS quartile, count(*) AS n,
        |  round(max(cd), 4) AS max_cd, round(sum(bal), 2) AS sum_bal
        |FROM t GROUP BY 1, 2""".stripMargin,

    // three unrolled power iterations, integer-exact (`//` on non-negative
    // BIGINTs == the engine's integral div); DuckDB sum(BIGINT) → HUGEINT
    // needs the cast back
    "q_graph_pagerank" -> {
      def round(prev: String, cur: String): String =
        s"""c$cur AS (SELECT e.dst AS node,
           |    CAST(sum((r.rank * 850) // (1000 * d.outdeg)) AS BIGINT) AS m
           |  FROM e JOIN deg d ON e.src = d.src JOIN r$prev r ON r.node = e.src
           |  GROUP BY 1),
           |r$cur AS (SELECT n.node, CAST(150000 + COALESCE(c.m, 0) AS BIGINT) AS rank
           |  FROM n LEFT JOIN c$cur c ON n.node = c.node)""".stripMargin
      s"""WITH li AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem),
         |e AS (SELECT src, dst FROM li UNION SELECT dst, src FROM li),
         |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |n AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM n),
         |${round("0", "1")},
         |${round("1", "2")},
         |${round("2", "3")}
         |SELECT node, CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'part' END AS kind,
         |  node // 2 AS orig_id, rank
         |FROM r3 ORDER BY rank DESC, node LIMIT 30""".stripMargin
    }
  )
}
