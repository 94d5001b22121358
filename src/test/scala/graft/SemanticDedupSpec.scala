package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.sources.Tables

/** Pins for the capped + auto-k semantic-dedup kernel:
  *  - deriveK's fixture value must equal the k the DuckDB oracles pin
  *    (q_dedup_semantic / _probe2 hardcode k=8 in SQL; a fixture-size
  *    drift must fail HERE, not as a silent oracle hash mismatch);
  *  - the hot-cell cap must engage on an adversarial identical-embedding
  *    cell (O(size) chained candidates, connectivity preserved), and must
  *    NOT perturb cells at or under the cap (bit-identical to all-pairs).
  */
class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // (cell, id, q, nrm) rows: `n` vectors in one cell, all with the same
  // nonzero quantized vector — the adversarial SemDeDup input (one
  // dominant embedding cluster; every pair is a true near-dup).
  private def identicalCell(cell: Long, n: Int, base: Long = 0L) = {
    val q = Array(3L, 4L, 0L, 0L)
    (0 until n).map(i => (cell, base + i, q, 25L)).toDF("cell", "id", "q", "nrm")
  }

  test("deriveK pins the oracle k at the verify fixtures and clamps at scale") {
    val n = Tables.embeddings(spark, sf).count()
    assert(n == 500L,
      s"embeddings fixture drifted to $n rows — re-derive the k the " +
        "q_dedup_semantic* oracle SQL pins (currently 8 = deriveK(500))")
    assert(Similarity.deriveK(n) == 8)
    assert(Similarity.deriveK(1L) == 8, "floor: tiny corpora keep k=8")
    // bounded-cell rule: k = N/64 — LINEAR in the corpus so Σ|cell|²
    // stays ~N×64 (the cbrt rule measured 15-28× runtime at 10× data)
    assert(Similarity.deriveK(2000L) == 31, "k tracks N/64")
    assert(Similarity.deriveK(20000L) == 313, "k tracks N/64 at stress scale")
    assert(Similarity.deriveK(1000000L) == 1024,
      "ceiling binds at 64k vectors; past it cellPairsCapped bounds volume")
    val ks = Seq(1L, 500L, 2000L, 20000L, 1000000L, 1000000000000L)
      .map(Similarity.deriveK)
    assert(ks == ks.sorted, "k must grow monotonically with the corpus")
  }

  test("hot cell contributes a chain: O(size) candidates, connectivity kept") {
    val n = 100
    val pairs = Similarity.cellPairsCapped(identicalCell(7L, n), maxCell = 10)
      .select("i", "j").as[(Long, Long)].collect().toSet
    // chain, not all-pairs: n-1 candidates instead of n*(n-1)/2 = 4950
    assert(pairs.size == n - 1, s"expected ${n - 1} chained pairs, got ${pairs.size}")
    assert(pairs == (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toSet,
      "chain must be sorted-adjacent (id_k, id_k+1) with i < j")
    // connectivity: since every chained pair here clears any tau (identical
    // vectors), transitive clustering reaches all n members from the chain
    val reached = scala.collection.mutable.Set(0L)
    pairs.toSeq.sorted.foreach { case (i, j) => if (reached(i)) reached += j }
    assert(reached.size == n, "chain must connect the whole cell")
  }

  test("diverse hot cell sign-splits into all-paired subcells, not a chain") {
    // 40 vectors in one cell, cap=10 -> bits=2 (probed elements 1 and 5):
    // four sign groups of 10, each exactly at the cap -> all-pairs within
    // each group (4 * 45 = 180 candidates), nothing cross-group, no chain
    val rows = for {
      g <- 0 until 4; r <- 0 until 10
    } yield {
      val s1 = if ((g & 1) == 0) 1L else -1L
      val s5 = if ((g & 2) == 0) 1L else -1L
      val q = Array(s1 * 3, 1L, 1L, 1L, s5 * 4, 1L, 1L, 1L)
      (0L, (g * 10 + r).toLong, q, q.map(x => x * x).sum)
    }
    val pairs = Similarity
      .cellPairsCapped(rows.toDF("cell", "id", "q", "nrm"), maxCell = 10)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(pairs.size == 4 * 45, s"expected 180 subcell all-pairs, got ${pairs.size}")
    assert(pairs.forall { case (i, j) => i / 10 == j / 10 },
      "pairs must stay within one sign subcell")
  }

  test("cap does not perturb cells at or under the bound") {
    // one hot cell (chained) + one small cell (must stay exact all-pairs)
    val m = identicalCell(1L, 20).union(identicalCell(2L, 5, base = 100L))
    val pairs = Similarity.cellPairsCapped(m, maxCell = 10)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val smallAllPairs = (for {
      i <- 100L until 105L; j <- (i + 1) until 105L
    } yield (i, j)).toSet
    assert(pairs.filter(_._1 >= 100L) == smallAllPairs,
      "small cell must be all-paired exactly")
    assert(pairs.count(_._1 < 100L) == 19, "hot cell must be chained")
  }

  test("streaming semantic dedup: no replay, parity with the batch cell-join") {
    import graft.queries.PipelineQueries
    val flags = PipelineQueries.queries("q_t12_streaming_semantic")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // NO-REPLAY pin on the RAW landing (before read-side compaction):
    // each arrival lives in exactly one micro-batch, so Update mode must
    // emit every flagged arrival exactly once — a second row for any j
    // would mean the backlog replayed
    val sink = PipelineQueries.streamedSemanticSink(spark, sf)
    val landed = spark.read.parquet(sink)
    val dupEmits = landed.groupBy("j").count().filter(col("count") > 1).count()
    assert(dupEmits == 0, "an arrival was emitted twice - backlog replayed")
    assert(landed.count() == flags.size.toLong)
    // batch parity: recompute the same flags with the batch operators
    // over the full drained backlog
    val em = Tables.embeddings(spark, sf)
    val corpus = em.filter(col("vec_id") < PipelineQueries.SemStreamCut)
    val cents = Similarity.kmeansTrain(corpus, "vec_id", "embedding", k = 8, iters = 2)
    def idx(df: org.apache.spark.sql.DataFrame) = Similarity
      .assignWithCentroidsTopP(df, "vec_id", "embedding", cents.toSeq, 1)
      .withColumn("nrm",
        aggregate(transform(col("q"), x => x * x), lit(0L), (acc, x) => acc + x))
      .filter(col("nrm") > 0L)
    val ci = idx(corpus).select(col("id").as("i"), col("q").as("qi"),
      col("nrm").as("ni"), col("cell"))
    val ai = idx(em.filter(col("vec_id") >= PipelineQueries.SemStreamCut))
      .select(col("id").as("j"), col("q").as("qj"), col("nrm").as("nj"), col("cell"))
    val craw = Similarity.dotQ(col("qi"), col("qj")).cast("double") /
      (sqrt(col("ni").cast("double")) * sqrt(col("nj").cast("double")))
    val batch = ai.join(ci, "cell").withColumn("craw", craw)
      .filter(col("craw") >= 0.44)
      .groupBy("j").agg(count(lit(1)).as("n_dups"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(flags == batch, "streamed flags must equal the batch cell-join")
    assert(flags.nonEmpty)
  }

  test("cellPairsLocalScored == cellPairsCapped + dot kernel, all group kinds") {
    // mixed input exercising every path at cap=10: a small all-pairs
    // cell, a diverse hot cell (sign-splits into subcells), and an
    // identical-content hot cell (unsplittable -> chain)
    val diverse = for {
      g <- 0 until 4; r <- 0 until 10
    } yield {
      val s1 = if ((g & 1) == 0) 1L else -1L
      val s5 = if ((g & 2) == 0) 1L else -1L
      val q = Array(s1 * 3, 1L, 1L, 1L, s5 * 4, 1L, 1L, 1L)
      (5L, (1000 + g * 10 + r).toLong, q, q.map(x => x * x).sum)
    }
    val m = identicalCell(1L, 25).union(identicalCell(2L, 6, base = 100L))
      .union(diverse.toDF("cell", "id", "q", "nrm"))
    val tau = -1.0 // keep every candidate so the PAIR SETS are compared whole
    def viaJoin = Similarity.cellPairsCapped(m, maxCell = 10)
      .collect().map { r =>
        val qa = r.getSeq[Long](2); val qb = r.getSeq[Long](3)
        val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
        (r.getLong(0), r.getLong(1), dot.toDouble /
          (math.sqrt(r.getLong(4).toDouble) * math.sqrt(r.getLong(5).toDouble)))
      }.toSet
    val local = Similarity.cellPairsLocalScored(m, tau, maxCell = 10)
      .as[(Long, Long, Double)].collect().toSet
    assert(local == viaJoin, "local kernel must emit the identical scored pair set")
    // and the tau filter prunes, never mutates, scores
    val filtered = Similarity.cellPairsLocalScored(m, 0.9, maxCell = 10)
      .as[(Long, Long, Double)].collect().toSet
    assert(filtered == local.filter(_._3 >= 0.9))
  }

  test("cellPairsLocalSpanning: exact same components as the full τ-pair set") {
    // the fused path's correctness claim: per-group spanning forests
    // generate the same global connectivity as every τ-pair. Mixed
    // fixture exercising all group kinds at cap=10 — small all-pairs,
    // diverse hot (sign-split subcells), identical hot (chain)
    val diverse = for {
      g <- 0 until 4; r <- 0 until 10
    } yield {
      val s1 = if ((g & 1) == 0) 1L else -1L
      val s5 = if ((g & 2) == 0) 1L else -1L
      val q = Array(s1 * 3, 1L, 1L, 1L, s5 * 4, 1L, 1L, 1L)
      (5L, (1000 + g * 10 + r).toLong, q, q.map(x => x * x).sum)
    }
    val m = identicalCell(1L, 25).union(identicalCell(2L, 6, base = 100L))
      .union(diverse.toDF("cell", "id", "q", "nrm"))
    def labelsOf(p: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val out = graft.ops.Dedup.dedupClusters(p, maxRounds = 30)
        .as[(Long, Long)].collect().toMap
      graft.ops.CacheRegistry.drain()
      out
    }
    for (tau <- Seq(-1.0, 0.9)) {
      val full = Similarity.cellPairsLocalScored(m, tau, maxCell = 10)
        .select("i", "j")
      val span = Similarity.cellPairsLocalSpanning(m, tau, maxCell = 10)
      val fullSet = full.as[(Long, Long)].collect().toSet
      val spanSet = span.as[(Long, Long)].collect().toSet
      // the forest is a SUBSET of the τ-pairs …
      assert(spanSet.subsetOf(fullSet), s"tau=$tau")
      // … with identical connected components
      assert(labelsOf(span) === labelsOf(full.toDF("i", "j")), s"tau=$tau")
    }
    // output bound: the 6-member all-pairs cell emits 15 τ-pairs but only
    // 5 spanning edges (|group|−1) — the O(pairs) → O(corpus) claim
    val spanAll = Similarity.cellPairsLocalSpanning(m, -1.0, maxCell = 10)
      .as[(Long, Long)].collect()
    assert(spanAll.count(p => p._1 >= 100L && p._1 < 1000L) === 5)
  }

  test("fixture cells sit below the default cap: capped == uncapped") {
    val em = Tables.embeddings(spark, sf)
    val k = Similarity.deriveK(em.count())
    val cents = Similarity.kmeansTrain(em, "vec_id", "embedding", k = k, iters = 2)
    val m = Similarity
      .assignWithCentroidsTopP(em, "vec_id", "embedding", cents.toSeq, p = 2)
      .withColumn("nrm",
        aggregate(transform(col("q"), x => x * x), lit(0L), (acc, x) => acc + x))
      .filter(col("nrm") > 0L)
      .select("cell", "id", "q", "nrm")
    val capped = Similarity.cellPairsCapped(m)
      .select("i", "j").distinct().as[(Long, Long)].collect().toSet
    val uncapped = Similarity.cellPairsCapped(m, maxCell = Int.MaxValue)
      .select("i", "j").distinct().as[(Long, Long)].collect().toSet
    assert(capped == uncapped,
      "DefaultMaxCell must not engage on the verify fixture (oracle is uncapped)")
    assert(capped.nonEmpty)
  }
}
