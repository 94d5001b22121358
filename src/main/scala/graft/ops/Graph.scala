package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics as DataFrame joins — PageRank (Brin & Page,
  * WWW'98) in the classic distributed power-iteration shape: the edge
  * table is partitioned by source ONCE and persisted; each round joins
  * the current rank table to it, floor-divides each node's rank over its
  * out-degree, and re-aggregates contributions by destination. Driver
  * state is zero (no collect anywhere); per round the only shuffles are
  * the rank join and the contribution aggregate, both keyed on node id —
  * at 100 TB this is edges-partitioned-by-src + co-partitioned ranks,
  * the layout every bulk-synchronous graph engine (Pregel family) uses.
  *
  * Arithmetic is EXACT INTEGER throughout: ranks are parts-per-`Scale`
  * (1e6) and each contribution is one `floorDiv(rank * damping‰,
  * 1000 * outdeg)` — all values non-negative and < 2^40, so every engine
  * computes the identical number and the result is deterministic down to
  * the last unit (float PageRank differs by summation order; this one
  * hash-compares). The price is truncation leakage (rank mass strictly
  * decreases), which ranking consumers don't care about.
  */
object Graph {

  /** Parts-per-unit rank scale: rank 1.0 == 1,000,000. */
  val Scale: Long = 1000000L

  /** PageRank over directed `edges(src, dst)` (Long node ids, pre-deduped
    * by the caller if multiplicity shouldn't weight the walk). Every
    * node appearing as a src or dst participates; dangling nodes (no
    * out-edges) simply leak their damped mass — the bounded, documented
    * truncation semantics. Returns (node, rank) with rank in
    * parts-per-[[Scale]] after `iters` rounds from a uniform start.
    */
  def pagerank(edges: DataFrame, iters: Int, dampingPermille: Long = 850L,
               tolPpm: Long = 0L, symmetric: Boolean = false): DataFrame =
    pagerankWithRounds(edges, iters, dampingPermille, tolPpm, symmetric)._1

  /** [[pagerank]] plus the number of rounds actually executed — the
    * observable for convergence-mode callers (and its spec).
    *
    * `tolPpm` > 0 enables EARLY STOP: after each round the new rank table
    * is persisted and one extra aggregate computes max |Δrank| over the
    * co-keyed (prev, next) join; iteration ends once it is ≤ `tolPpm`.
    * The delta pass is the same node-keyed join shape as the round itself
    * (no new shuffle pattern, no driver state beyond one Long), so the
    * 100 TB posture is unchanged — the trade is one extra aggregate per
    * round for an iteration count that adapts to the graph instead of
    * being caller-pinned. `tolPpm` = 0 (the default, and the oracle
    * contract for q_graph_pagerank) keeps the fixed-`iters` behavior with
    * fully lazy rounds. Integer ranks make the test exact: a converged
    * graph reports Δ = 0, never a float residue.
    */
  def pagerankWithRounds(edges: DataFrame, iters: Int,
                         dampingPermille: Long = 850L,
                         tolPpm: Long = 0L,
                         symmetric: Boolean = false): (DataFrame, Int) = {
    require(iters >= 1 && iters <= 16, s"iters=$iters out of [1,16]")
    val base = Scale - dampingPermille * Scale / 1000L // (1-d) teleport mass
    // out-degree once; nodes = union of endpoints (persisted: every round
    // joins it and the final result unions it back for dangling nodes)
    val e = CacheRegistry.persist(
      edges.select(col("src").cast("long"), col("dst").cast("long")))
    val deg = CacheRegistry.persist(
      e.groupBy("src").agg(count(lit(1)).as("outdeg")))
    // PRE-JOINED degree-annotated edges, persisted ONCE (r16): the round
    // body used to run e ⋈ deg ⋈ rank — re-joining the (static) degree
    // onto the (static) edge table every round. Folding the static join
    // out of the loop removes one join per round at every scale (the
    // joined table is the same size as the edge table; at 100 TB it is
    // the materialized adjacency-with-degree layout a Pregel engine
    // keeps resident anyway).
    //
    // HASH-PARTITIONED BY src BEFORE the persist (r17): the cached table
    // now CARRIES the join's required partitioning, so no round ever
    // exchanges the edge table again — only the (node-keyed, far smaller)
    // rank side moves. Without this, every round's join re-shuffled the
    // full edge set: AQE plans the round join as SMJ from the unknown
    // rank-side estimate, materializes BOTH child shuffle stages, and
    // only then switches to broadcast — the edge shuffle write was
    // already paid, ×rounds (observed: 0 ReusedExchange across rounds).
    // With the partitioned+sorted cache (and AQE sizing of cached output,
    // GraftSession): q_graph_pagerank tasks 3395 → 145, summed task time
    // 74 → 10 s at sf0.1, round joins read the cache with no Exchange and
    // no Sort. This IS the "edges partitioned by source once" layout the
    // scaladoc promises.
    // sortWithinPartitions: the cached table also carries the SMJ's sort
    // order, so rounds that stay sort-merge (genuinely large rank tables)
    // never re-sort the edge set either — sorted once at build, like the
    // partitioning.
    val edeg = CacheRegistry.persist(
      e.join(deg, "src").repartition(col("src")).sortWithinPartitions("src"))
    // `symmetric = true` is the CALLER'S declaration that every node
    // occurs as BOTH src and dst (a symmetrized graph). Then (a) the
    // node universe is exactly deg's keys — the union-of-endpoints
    // distinct over 2|E| rows is pure waste — and (b) every node has an
    // in-neighbor with out-edges, so the per-round contribution aggregate
    // already covers every node and the nodes-backfill join (dangling
    // mass) is an identity. Declaring it on a non-symmetric graph would
    // silently drop source-only nodes — GraphSpec pins symmetric ==
    // general on a symmetrized fixture.
    val nodes =
      if (symmetric) CacheRegistry.persist(deg.select(col("src").as("node")))
      else CacheRegistry.persist(
        e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
          .distinct())
    // every node starts at Scale. `uniformRank` is the one rank all nodes
    // share while that holds (the start only): the round body's fast path
    var uniformRank: Option[Long] = Some(Scale)
    var rank = nodes.withColumn("rank", lit(Scale))
    // in tol mode each round's result is already persisted+materialized
    // by the delta action — reuse it as next round's prev instead of
    // re-registering the same frame
    var rankPersisted: Option[DataFrame] = None
    var rounds = 0
    var converged = false
    while (rounds < iters && !converged) {
      rounds += 1
      val prev = rankPersisted.getOrElse(CacheRegistry.persist(rank))
      // div(rank * d‰, 1000 * outdeg): INTEGRAL division (non-negative,
      // so truncation == floor) — a double quotient's rounding could
      // cross an integer boundary and flip the floor, breaking the
      // bit-exact oracle contract
      //
      // UNIFORM RANKS (r17, guide §2.4 remove shuffles outright): while
      // every node's rank is the one constant `uniformRank` — and every
      // edeg.src is a node by construction — the rank join is an
      // identity enrichment and the contribution is a pure projection of
      // the static edge table: no rank exchange, no join, identical
      // integers (div(r·d‰, 1000·outdeg) row for row). At any scale this
      // deletes one full co-partitioned join pass over the edge set. The
      // gate is the start value itself, not the round number, so a
      // non-uniform start can never take this path.
      val contrib = (uniformRank match {
        case Some(r) =>
          edeg.select(col("dst").as("node"),
            call_function("div", lit(r * dampingPermille),
              lit(1000L) * col("outdeg")).as("c"))
        case None =>
          edeg.join(prev.withColumnRenamed("node", "src"), "src")
            .select(col("dst").as("node"),
              call_function("div", col("rank") * lit(dampingPermille),
                lit(1000L) * col("outdeg")).as("c"))
      }).groupBy("node").agg(sum(col("c")).as("in_mass"))
      uniformRank = None
      // symmetric graphs: contrib already has one row per node (see
      // `nodes` above), so the backfill join is skipped — base + in_mass
      // directly. General graphs keep the left-join for dangling nodes.
      rank =
        if (symmetric)
          contrib.select(col("node"), (lit(base) + col("in_mass")).as("rank"))
        else nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            (lit(base) + coalesce(col("in_mass"), lit(0L))).as("rank"))
      if (tolPpm > 0L) {
        val next = CacheRegistry.persist(rank)
        val delta = next.select(col("node"), col("rank").as("r2"))
          .join(prev.select(col("node"), col("rank").as("r1")), "node")
          .agg(coalesce(max(abs(col("r2") - col("r1"))), lit(0L)))
          .head().getLong(0)
        if (delta <= tolPpm) converged = true
        rank = next
        rankPersisted = Some(next)
      } else rankPersisted = None
      CacheRegistry.release(prev)
    }
    (rank, rounds)
  }
}
