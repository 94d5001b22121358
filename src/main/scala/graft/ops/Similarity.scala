package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search: brute-force cosine top-k (baseline) and a
  * sign-LSH bucketed variant (the scale path).
  *
  * Cross-engine determinism: raw float32 math differs in the last ulp
  * between engines and summation orders, which would flip threshold and
  * ordering decisions. We therefore quantize embeddings to integer
  * milli-units (`round(x*1000)` as Long) — dot products of 64-dim vectors
  * then stay far below 2^53, so every engine computes the exact same
  * integers, and sqrt/division on those integers are correctly-rounded IEEE
  * ops with identical results everywhere. The DuckDB oracles mirror this.
  *
  * Vector math is pure Column arithmetic (unrolled element_at multiply-adds
  * in the hot pair scans; higher-order zip_with/aggregate for variable
  * dimension) — no UDFs, no driver collection.
  */
object Similarity {

  /** Quantize a float-array embedding to integer milli-units. The float is
    * widened to double BEFORE the multiply on both engines (float*int
    * promotion rules differ), keeping the product correctly rounded and
    * identical everywhere.
    */
  def quantize(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * lit(1000.0)).cast("long"))

  /** Integer dot product of two quantized vectors (variable dimension). */
  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Integer dot product with the dimension known at plan time, unrolled to
    * `element_at` multiply-adds. NOTE: measured SLOWER than the lambda form
    * at dim=64 on Spark 4.1 — the ~64-term expression blows the generated
    * method past the JIT's 8KB compile limit, so it runs interpreted.
    * Kept for small fixed dims; the O(n^2) hot path uses
    * [[cosinePairsKernel]] instead.
    */
  def dotQFixed(a: Column, b: Column, dim: Int): Column =
    (1 to dim).map(k => element_at(a, k) * element_at(b, k)).reduce(_ + _)

  /** Cosine similarity from quantized vectors (deterministic double). */
  def cosineQ(a: Column, b: Column): Column =
    dotQ(a, b).cast("double") /
      (sqrt(dotQ(a, a).cast("double")) * sqrt(dotQ(b, b).cast("double")))

  /** All near-duplicate pairs (i < j) with cosine >= tau, brute force.
    * O(n^2/2) pair evaluations of a constant-width sketch — the correctness
    * baseline the LSH variant is validated against.
    */
  def cosinePairs(em: DataFrame, idCol: String, embCol: String,
                  tau: Double, dim: Int = 64): DataFrame = {
    // Precompute each vector's norm ONCE (O(n) aggregates) so the O(n^2)
    // pair scan evaluates a single dot product per pair, not three.
    val q = CacheRegistry.persist(
      em.select(col(idCol), quantize(col(embCol)).as("q"))
        .withColumn("norm", sqrt(dotQ(col("q"), col("q")).cast("double"))))
    val l = q.select(col(idCol).as("i"), col("q").as("qi"), col("norm").as("ni"))
    val r = q.select(col(idCol).as("j"), col("q").as("qj"), col("norm").as("nj"))
    l.crossJoin(r).filter(col("i") < col("j"))
      .withColumn("cos",
        dotQ(col("qi"), col("qj")).cast("double") / (col("ni") * col("nj")))
      .filter(col("cos") >= tau)
      .select(col("i"), col("j"), round(col("cos"), 4).as("cos"))
  }

  /** All near-duplicate pairs, kernel form: the corpus (quantized to a
    * primitive Long matrix with precomputed norms) is broadcast once, and
    * each partition runs a tight j>i loop over its rows — no pair-row
    * materialization, no array copies per pair. This is the genuine
    * per-partition-imperative case: a BLAS-style O(n^2 * dim) kernel where
    * row-at-a-time plan execution pays 1KB of array copying per pair for
    * 64 multiplies of useful work.
    *
    * OPT-IN for broadcastable corpora only (~10^6 vectors): it collects the
    * corpus to the driver. The shipped query path and anything beyond that
    * ceiling must use [[cosinePairsBlocked]] — same math, same results, no
    * driver materialization.
    *
    * Results are bit-identical to [[cosinePairs]]: integer dot products,
    * IEEE sqrt/divide, and HALF_UP rounding exactly as Spark's `round`.
    */
  def cosinePairsKernel(em: DataFrame, idCol: String, embCol: String,
                        tau: Double): DataFrame = {
    val spark = em.sparkSession
    import spark.implicits._
    val q = em.select(col(idCol).cast("long"), quantize(col(embCol)))
      .as[(Long, Array[Long])]
    val matrix = q.collect().sortBy(_._1)
    val ids = matrix.map(_._1)
    val vecs = matrix.map(_._2)
    val norms = vecs.map(v => math.sqrt(v.map(x => x * x).sum.toDouble))
    val bcIds = spark.sparkContext.broadcast(ids)
    val bcVecs = spark.sparkContext.broadcast(vecs)
    val bcNorms = spark.sparkContext.broadcast(norms)
    val n = ids.length
    val par = spark.sparkContext.defaultParallelism
    spark.range(0, n.toLong, 1, par).as[Long].flatMap { ii =>
      val i = ii.toInt
      val ids = bcIds.value; val vecs = bcVecs.value; val norms = bcNorms.value
      val vi = vecs(i); val ni = norms(i); val id_i = ids(i)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var j = i + 1
      while (j < n) {
        val vj = vecs(j)
        var dot = 0L; var k = 0
        while (k < vi.length) { dot += vi(k) * vj(k); k += 1 }
        val cos = dot.toDouble / (ni * norms(j))
        if (cos >= tau) {
          val rounded = java.math.BigDecimal.valueOf(cos)
            .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
          out += ((id_i, ids(j), rounded))
        }
        j += 1
      }
      out
    }.toDF("i", "j", "cos")
  }

  /** Block count for [[cosinePairsBlocked]], from corpus stats:
    *  - memory ceiling: one block row materializes ~n/blocks vectors in a
    *    single `mapGroups` row, so blocks >= corpus_bytes / maxBlockBytes
    *    keeps every block row under a fixed byte budget (a hardcoded count
    *    would grow the row with the corpus and hit the JVM's 2 GB
    *    array/row ceiling long before compute matters);
    *  - parallelism floor: the kernel runs blocks*(blocks+1)/2 block-pair
    *    tasks, so blocks >= sqrt(2*parallelism) keeps every core busy.
    * Replication factor is `blocks` (each vector meets blocks-1 partner
    * blocks), the inherent all-pairs blocking trade — total shuffle bytes
    * grow with sqrt(parallelism) or corpus/maxBlockBytes, whichever binds.
    */
  def deriveBlocks(nVectors: Long, avgVecBytes: Double, parallelism: Int,
                   maxBlockBytes: Long = 64L << 20): Int = {
    val memFloor = math.ceil(nVectors * avgVecBytes / maxBlockBytes).toInt
    val parFloor = math.ceil(math.sqrt(2.0 * parallelism)).toInt
    math.max(1, math.max(memFloor, parFloor))
  }

  /** All near-duplicate pairs, blocked kernel form — the scale path of
    * [[cosinePairsKernel]] with NO driver materialization. Vectors are
    * grouped into `blocks` row blocks (by id mod blocks), the upper
    * triangle of block pairs is enumerated with a tiny self-join
    * (blocks^2/2 rows), and each block pair runs the same tight j-loop
    * kernel on two executor-resident arrays. Results are bit-identical to
    * [[cosinePairs]] and [[cosinePairsKernel]] (integer dot products,
    * IEEE sqrt/divide, HALF_UP rounding).
    *
    * `blocks <= 0` (the default) derives the count from corpus stats via
    * [[deriveBlocks]] — one metadata-sized aggregate (count + avg vector
    * width) decides the physical block layout, so the same call site stays
    * correctly sized from a 5k-row test table to a 100 TB corpus.
    */
  def cosinePairsBlocked(em: DataFrame, idCol: String, embCol: String,
                         tau: Double, blocks: Int = 0): DataFrame = {
    val spark = em.sparkSession
    import spark.implicits._
    // persist the projected+quantized frame FIRST: the auto-derive stats
    // aggregate then materializes the same cache the block build reuses —
    // ONE scan of the input total, not a separate stats read of the corpus
    val q = CacheRegistry.persist(
      em.select(col(idCol).cast("long").as("__id"), quantize(col(embCol)).as("__q")))
    val nBlocks =
      if (blocks > 0) blocks
      else {
        // 8 bytes per quantized element + ~24 of id/norm/array headers
        val stats = q.agg(count(lit(1)).as("n"),
          avg(size(col("__q")) * 8 + 24).as("b")).head()
        val n = stats.getLong(0)
        val avgBytes = if (stats.isNullAt(1)) 0.0 else stats.getDouble(1)
        deriveBlocks(n, avgBytes, spark.sparkContext.defaultParallelism)
      }
    // persist: both sides of the block-pair join reference this plan, and
    // without the cache the quantized read + shuffle + block build would
    // execute twice per invocation
    val blocked = CacheRegistry.persist(
      q.as[(Long, Array[Long])]
        .groupByKey(r => (((r._1 % nBlocks) + nBlocks) % nBlocks).toInt)
        .mapGroups { (b: Int, it: Iterator[(Long, Array[Long])]) =>
          val arr = it.map { case (id, v) =>
            (id, v, math.sqrt(v.map(x => x * x).sum.toDouble))
          }.toArray.sortBy(_._1)
          (b, arr)
        }.toDF("b", "rows"))
    val bl = blocked.select(col("b").as("b1"), col("rows").as("rows1"))
    val br = blocked.select(col("b").as("b2"), col("rows").as("rows2"))
    bl.join(br, col("b1") <= col("b2"))
      .select(col("b1").as("_1"), col("rows1").as("_2"),
        col("b2").as("_3"), col("rows2").as("_4"))
      .as[(Int, Array[(Long, Array[Long], Double)],
           Int, Array[(Long, Array[Long], Double)])]
      .flatMap { case (b1, arr1, b2, arr2) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        def emit(x: (Long, Array[Long], Double), y: (Long, Array[Long], Double)): Unit = {
          val (idX, vx, nx) = x; val (idY, vy, ny) = y
          var dot = 0L; var k = 0
          while (k < vx.length) { dot += vx(k) * vy(k); k += 1 }
          val cos = dot.toDouble / (nx * ny)
          if (cos >= tau) {
            val rounded = java.math.BigDecimal.valueOf(cos)
              .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
            out += ((math.min(idX, idY), math.max(idX, idY), rounded))
          }
        }
        if (b1 == b2) {
          var i = 0
          while (i < arr1.length) {
            var j = i + 1
            while (j < arr1.length) { emit(arr1(i), arr1(j)); j += 1 }
            i += 1
          }
        } else {
          var i = 0
          while (i < arr1.length) {
            var j = 0
            while (j < arr2.length) { emit(arr1(i), arr2(j)); j += 1 }
            i += 1
          }
        }
        out
      }.toDF("i", "j", "cos")
  }

  /** Brute-force cosine top-k: for each query vector (rows of `queries`),
    * the k nearest non-identical vectors. The query side is broadcast, so
    * the corpus is scanned once with no shuffle of the big side; ranking
    * uses a per-query window (k small).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, embCol: String, k: Int,
                     dim: Int = 64): DataFrame = {
    val c = corpus.select(col(idCol).as("cand_id"), quantize(col(embCol)).as("qc"))
      .withColumn("nc", sqrt(dotQ(col("qc"), col("qc")).cast("double")))
    val qs = queries.select(col(idCol).as("query_id"), quantize(col(embCol)).as("qq"))
      .withColumn("nq", sqrt(dotQ(col("qq"), col("qq")).cast("double")))
    val scored = c.crossJoin(broadcast(qs))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos",
        dotQ(col("qq"), col("qc")).cast("double") / (col("nq") * col("nc")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"), col("cand_id"),
        round(col("cos"), 4).as("cos"))
  }

  /** IVF (inverted-file) ANN: the corpus is partitioned into Voronoi cells
    * of `nCentroids` centroids; every vector joins the cell of its nearest
    * centroid; a query probes its `nprobe` nearest cells (the standard
    * recall dial — more probes, more of the corpus scanned). Centroids
    * here are the `nCentroids` lowest-id vectors — deterministic; a
    * production index would k-means them, which changes recall, not the
    * mechanics. Corpus cell assignment is one broadcast scan + max_by
    * partial aggregate (never a corpus-wide window); the query side is
    * tiny, so its nprobe-cell ranking may use a window. The search join
    * shuffles on the cell id — each cell holds ~n/nCentroids vectors,
    * which is the whole point at 100 TB scale.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, embCol: String, k: Int,
              nCentroids: Int, nprobe: Int = 1,
              trainedCentroids: Option[Seq[(Long, Array[Long])]] = None): DataFrame = {
    def prep(df: DataFrame, id: String) =
      df.select(col(idCol).as(id), quantize(col(embCol)).as(s"q_$id"))
        .withColumn(s"n_$id", sqrt(dotQ(col(s"q_$id"), col(s"q_$id")).cast("double")))
    // centroids: either [[kmeansTrain]]'s output (the production build) or
    // the deterministic lowest-id seed; either way a k-row local relation
    // broadcast to every assignment scan
    val cents = trainedCentroids match {
      case Some(tc) =>
        val spark = corpus.sparkSession
        import spark.implicits._
        tc.toDF("cid", "qc")
          .withColumn("nc", sqrt(dotQ(col("qc"), col("qc")).cast("double")))
      case None =>
        corpus.filter(col(idCol) < nCentroids)
          .select(col(idCol).as("cid"), quantize(col(embCol)).as("qc"))
          .withColumn("nc", sqrt(dotQ(col("qc"), col("qc")).cast("double")))
    }
    def assign(df: DataFrame, id: String) = {
      // Nearest centroid via a partial+final max_by aggregate — map-side
      // combine collapses the nCentroids-wide expansion before any shuffle,
      // vs a row_number window that would sort the whole expanded corpus.
      // Ties break to the lowest centroid id (struct compares cos first,
      // then -cid), matching the oracle's ORDER BY cos DESC, cid.
      df.crossJoin(broadcast(cents))
        .withColumn("__ccos",
          dotQ(col(s"q_$id"), col("qc")).cast("double") / (col(s"n_$id") * col("nc")))
        .groupBy(col(id))
        .agg(max_by(
          struct(col(s"q_$id").as("q"), col(s"n_$id").as("n"), col("cid")),
          struct(col("__ccos").as("cos"), (-col("cid")).as("negcid"))).as("best"))
        .select(col(id), col("best.q").as(s"q_$id"), col("best.n").as(s"n_$id"),
          col("best.cid").as("cell"))
    }
    val corpusCells = assign(prep(corpus, "cand_id"), "cand_id")
    // query side: nprobe nearest cells per query. Each corpus vector lives
    // in exactly one cell, so probing several cells never duplicates a
    // (query, candidate) pair.
    val qw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("__ccos").desc, col("cid"))
    val queryCells = prep(queries, "query_id").crossJoin(broadcast(cents))
      .withColumn("__ccos",
        dotQ(col("q_query_id"), col("qc")).cast("double") /
          (col("n_query_id") * col("nc")))
      .withColumn("__crk", row_number().over(qw))
      .filter(col("__crk") <= nprobe)
      .select(col("query_id"), col("q_query_id"), col("n_query_id"),
        col("cid").as("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    corpusCells.join(broadcast(queryCells), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos",
        dotQ(col("q_query_id"), col("q_cand_id")).cast("double") /
          (col("n_query_id") * col("n_cand_id")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"), col("cand_id"),
        round(col("cos"), 4).as("cos"))
  }

  private val knnAssignSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("rk",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("q",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false)),
    org.apache.spark.sql.types.StructField("nrm",
      org.apache.spark.sql.types.DoubleType, nullable = false)))

  private val knnPairSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("query_id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("cand_id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("cos",
      org.apache.spark.sql.types.DoubleType, nullable = false)))

  /** kNN GRAPH: every vector's top-k cosine neighbors among the
    * candidates its `nprobe` nearest cells hold — semantically
    * [[ivfTopK]] with the whole corpus as the query set, re-shaped for
    * that cardinality. The declarative form broadcasts the query rows
    * and evaluates each candidate cosine as an interpreted HOF
    * (measured 68 s at sf0.1: corpus × ~nprobe/k candidates ≈ 1M
    * interpreted 64-dim dots); this kernel shuffles each assignment row
    * ONCE (repartition by cell) and scores cells locally with plain
    * integer loops, emitting only per-(query, probed-cell) top-k rows
    * into the final per-query window — the cellPairsLocalScored lesson
    * applied to the graph shape (19× measured). Float shape identical
    * to ivfTopK (exact integer dot, correctly-rounded sqrt / multiply /
    * divide; assignment and ranking tie to the lowest cid/cand_id), so
    * it hash-matches the same declarative oracle.
    *
    * One assignment pass serves both roles: the rank-1 row of each
    * vector's probe list IS its membership row. Task memory is one
    * cell's rows (≈ nprobe·corpus/k at the deriveK posture; compose
    * with the hot-cell sign-split if a cell outgrows it — same caveat
    * as the semantic family).
    */
  def knnGraph(em: DataFrame, idCol: String, embCol: String,
               cents: Seq[(Long, Array[Long])], k: Int,
               nprobe: Int): DataFrame = {
    val assigned = probeAssign(em, idCol, embCol, cents, nprobe)
    val tagged = assigned.select(col("cell"), (col("rk") === 1).as("ism"),
      lit(true).as("isq"), col("id"), col("q"), col("nrm"))
    knnTopK(scoreCellsLocal(tagged, k), k)
  }

  /** Coarse-level cell count for the TWO-LEVEL index: k1 = k2 =
    * ceil(sqrt(N / [[TargetCellSize]])), so k1·k2 fine cells keep the
    * average fine population at the target while per-row assignment work
    * is k1 + k2 = O(sqrt(N)) instead of flat IVF's k = N/cell — total
    * assignment O(N^1.5/sqrt(cell)) → O(N·sqrt(N/cell)), vs the flat
    * optimum N^1.5 (SCALE.md "IVF boundary"). The 1024 cap bounds the
    * COARSE broadcast exactly like [[deriveK]]'s. Fine centroids are
    * TRAINED inside their coarse cell's task (emitting centroids only),
    * then COLLECTED and REBROADCAST as one fine map — the post-rework
    * design SCALE.md describes: serving needs every row to see its
    * probed coarse cells' fine centroids, and a broadcast map is one
    * config-scale shuffle-free lookup. The true ceiling is therefore the
    * FINE broadcast: k1·k2 ≤ 1024² ≈ 1M centroids, binding at
    * N ≈ 64·1024² ≈ 67M vectors per index shard (1000× flat IVF's 65k).
    * At this fixture's 64-long quantized dim that is ≤ ~0.5 GB; at
    * production embedding dims (e.g. 768 floats) a full-cap fine map is
    * MULTI-GB PER EXECUTOR — [[hierTagged]] guards the broadcast with
    * [[FineBroadcastBudgetBytes]] and refuses loudly past it, naming
    * index sharding (per-shard coarse training, union of per-shard edge
    * sets) as the scale-out step.
    */
  def deriveK2(nVectors: Long): Int =
    math.max(2L, math.min(1024L,
      math.ceil(math.sqrt(nVectors.toDouble / TargetCellSize)).toLong)).toInt

  /** TWO-LEVEL (hierarchical) IVF kNN graph — the scale path past flat
    * IVF's N^1.5 boundary (SCALE.md r14: `q_sim_knn_graph` read 63.7× at
    * 100× rows because cell population grows linearly once deriveK caps).
    *
    * Three stages:
    *  1. COARSE assignment ([[probeAssign]]): every vector multi-probes
    *     its `nprobe1` highest-cosine coarse cells (broadcast-literal
    *     kernel, ≤1024 × 64 longs).
    *  2. FINE TRAINING, one streaming pass per coarse cell (repartition
    *     members by cell): `k2` fine centroids per cell by the
    *     exact-integer Lloyd rules of [[kmeansTrain]] — seeds = the k2
    *     lowest member ids, `iters2` rounds of L2-argmin assignment with
    *     ties to the lowest seed id, floorDiv means, empty cells keep
    *     their previous centroid. Task memory is O(`trainCap2`): past the
    *     cap the training sample is the cap lowest md5Long(id) members
    *     (deterministic, order-independent — the [[TrainSampleCap]]
    *     posture; never fires at oracle scale). The stage emits only the
    *     k1·k2 centroids — config-scale metadata collected to the driver
    *     and rebroadcast, the same contract as the Lloyd loop itself
    *     (assignment state is k1·k2·dim longs ≈ 16 MB at 2M vectors;
    *     the ceiling binds at N ≈ 64·(k1·k2) vectors per index shard —
    *     1000× flat IVF's 65k for the same per-row assignment budget).
    *  3. FINE serving: each row looks up ITS coarse cell's fine
    *     centroids from the broadcast (per-row work k2 = O(sqrt N)
    *     cosines) — members tag their top-1 fine cell, query rows their
    *     top-`nprobe2` (max cos, ties to the lowest fcid =
    *     [[probeAssign]]'s serving rule). A fine cell is GLOBALLY
    *     identified by its seed's vec_id (seeds are distinct vectors, so
    *     no two cells share one), which makes the tagged rows exactly
    *     [[scoreCellsLocal]]'s input — the shared bounded top-k kernel
    *     scores each fine cell in its own task, and [[knnTopK]] merges.
    *
    * Why the granularity matters (measured, not theoretical): the first
    * cut of this operator trained AND scored inside one task per coarse
    * cell — at the 100× fixture one hot coarse cell put 10+ minutes of
    * scoring on a single thread while 31 cores idled (jstack'd). Fine
    * cells are the right task unit: ~[[TargetCellSize]] rows each,
    * nprobe1·nprobe2·|fine cell| candidates per query — constant at the
    * [[deriveK2]] sizing. A pathologically hot FINE cell (near-identical
    * vectors) remains the documented caveat shared with flat
    * [[knnGraph]] — compose with the sign-split if a corpus needs it.
    *
    * Exact-integer float discipline throughout (quantized dots, floorDiv
    * means, correctly-rounded sqrt/divide), so a DuckDB oracle replays
    * the whole derivation — coarse Lloyd, per-cell fine Lloyd, both
    * assignment rules, scoring — bit for bit.
    */
  def knnGraphHier(em: DataFrame, idCol: String, embCol: String,
                   coarseCents: Seq[(Long, Array[Long])], k: Int,
                   nprobe1: Int, k2: Int, iters2: Int, nprobe2: Int,
                   trainCap2: Int = 2048,
                   spreadSeeds: Boolean = true,
                   fineBroadcastBudget: Long = FineBroadcastBudgetBytes): DataFrame =
    knnTopK(scoreCellsLocal(hierTagged(em, idCol, embCol, coarseCents,
      nprobe1, k2, iters2, nprobe2, trainCap2, spreadSeeds,
      fineBroadcastBudget), k), k)

  /** Ceiling on the two-level index's fine-centroid broadcast (see
    * [[deriveK2]]): every executor holds the full fine map, so this is a
    * PER-EXECUTOR memory commitment, not a driver nicety. 512 MiB covers
    * the full 1024² centroid cap at this engine's 64-long quantized dim
    * (~0.5 GB) while refusing the multi-GB maps a production-dim
    * (768-float) corpus would produce near the cap — those corpora shard
    * the index instead ([[knnGraphHierSharded]]).
    */
  val FineBroadcastBudgetBytes: Long = 512L << 20

  /** SHARDED two-level IVF kNN graph — the scale-out step
    * [[hierFineMap]]'s broadcast guard names, made executable. Shard
    * `s = vec_id mod nShards` (deterministic, so a DuckDB oracle replays
    * the shard split); each shard trains its OWN coarse + fine geometry
    * on its members only, so per-shard fine maps are ~1/nShards of the
    * unsharded one and the broadcast ceiling moves to
    * nShards × ~67M vectors (the per-shard [[deriveK2]] bound) — the
    * answer for production-dim corpora whose single-index fine map
    * would blow [[FineBroadcastBudgetBytes]].
    *
    * Serving: every vector probes EVERY shard's index — members ride
    * their own shard's [[probeAssign]] rows (ism from rank-1 coarse ×
    * top-1 fine, exactly the single-index rule), cross-shard vectors are
    * served query-only ([[probeAssignQ]] + [[hierServeTagged]] with ism
    * masked false). Fine-cell ids are fine-seed vec_ids and shards are
    * disjoint vector sets, so fine cells are GLOBALLY disjoint across
    * shards: the union of shard tagged frames feeds the same
    * [[scoreCellsLocal]] kernel unchanged, and one global [[knnTopK]]
    * per query IS the cross-shard re-merge — no per-shard top-k pass,
    * no extra shuffle beyond the single-index plan's.
    *
    * Cost: queries pay nprobe1·nprobe2 fine-cell probes PER SHARD (the
    * sharding tax — candidate volume ×nShards at fixed fine-cell size);
    * training cost drops to Σ per-shard O(n_s·sqrt(n_s/cell)). Shard
    * counts and per-shard centroids stay config-scale driver metadata.
    */
  def knnGraphHierSharded(em: DataFrame, idCol: String, embCol: String,
      nShards: Int, k: Int, nprobe1: Int, iters2: Int, nprobe2: Int,
      trainCap2: Int = 2048, dim: Int = 64,
      fineBroadcastBudget: Long = FineBroadcastBudgetBytes): DataFrame = {
    require(nShards >= 1 && k >= 1 && nprobe1 >= 1 && nprobe2 >= 1)
    val idL = col(idCol).cast("long")
    // persisted: every shard reads the full quantized table for
    // cross-shard serving (nShards scans of one cached projection beats
    // nShards re-reads + re-quantizations of the source)
    val allQ = CacheRegistry.persist(
      em.select(idL.as("id"), quantize(col(embCol)).as("q")))
    // Shards are INDEPENDENT double-Lloyd chains (each a sequence of tiny
    // driver-coordinated jobs: count, seed collect, 2 coarse rounds, fine
    // collect) — run them from a thread pool so their per-job fixed
    // latencies overlap instead of serializing nShards chains (guide §2.6;
    // the pqTrain posture). Each shard's chain is bit-identical to its
    // sequential run, and the union below is in shard order, so the
    // result (and the DuckDB oracle hash) is unchanged — SimilaritySpec
    // pins nShards=1 == unsharded and cross-shard candidacy at nShards=2.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nShards)
    val tagged =
      try {
        val fs = (0 until nShards).map { s =>
          pool.submit(new java.util.concurrent.Callable[DataFrame] {
            def call(): DataFrame = {
              val shardRaw = em.filter(pmod(idL, lit(nShards.toLong)) === s)
              val nShard = shardRaw.count()
              val k1 = deriveK2(nShard)
              val np1 = math.min(nprobe1, k1)
              val cents = kmeansTrainSpread(shardRaw, idCol, embCol,
                k = k1, iters = 2, dim = dim, nKnown = nShard)
              val assigned = CacheRegistry.persist(
                probeAssign(shardRaw, idCol, embCol, cents.toSeq, np1))
              val fineMap = hierFineMap(
                hierFineCentroids(assigned, k2 = k1, iters2 = iters2,
                  trainCap2 = trainCap2).collect(),
                fineBroadcastBudget)
              val memberTagged = hierServeTagged(assigned, fineMap, nprobe2)
              val crossTagged = hierServeTagged(
                  probeAssignQ(
                    allQ.filter(pmod(col("id"), lit(nShards.toLong)) =!= s),
                    cents.toSeq, np1),
                  fineMap, nprobe2)
                .select(col("cell"), lit(false).as("ism"), col("isq"),
                  col("id"), col("q"), col("nrm"))
              memberTagged.unionByName(crossTagged)
            }
          })
        }
        fs.map(_.get()).reduce(_ unionByName _)
      } finally pool.shutdown()
    knnTopK(scoreCellsLocal(tagged, k), k)
  }

  /** Stages 1-3 of [[knnGraphHier]] up to the tagged frame (fine-cell,
    * ism, isq, id, q, nrm) — split out so diagnostics can census fine
    * cells without paying the scoring stage. */
  private[graft] def hierTagged(em: DataFrame, idCol: String, embCol: String,
                   coarseCents: Seq[(Long, Array[Long])],
                   nprobe1: Int, k2: Int, iters2: Int, nprobe2: Int,
                   trainCap2: Int = 2048,
                   spreadSeeds: Boolean = true,
                   fineBroadcastBudget: Long = FineBroadcastBudgetBytes): DataFrame = {
    require(k2 >= 1 && iters2 >= 0 && nprobe2 >= 1)
    // persisted: read twice (fine training members, serving rows); stays
    // registered so the returned plan's action reuses it — the harness's
    // CacheRegistry.drain() reclaims it (the kmeansLloyd convention)
    val assigned = CacheRegistry.persist(
      probeAssign(em, idCol, embCol, coarseCents, nprobe1))
    val fineMap = hierFineMap(
      hierFineCentroids(assigned, k2, iters2, trainCap2, spreadSeeds).collect(),
      fineBroadcastBudget)
    hierServeTagged(assigned, fineMap, nprobe2)
  }

  /** Stage 2 of [[knnGraphHier]] as a standalone pass: per-coarse-cell
    * fine Lloyd over [[probeAssign]] rows, emitting (cell, fcid, cq)
    * centroid rows ONLY — split out so the incremental store
    * ([[IncrementalIndex.Knn2]]) can materialize the frozen fine level
    * as a parquet table, the same freeze-at-build contract as the flat
    * store's `centroids/`. */
  private[graft] def hierFineCentroids(assigned: DataFrame, k2: Int,
      iters2: Int, trainCap2: Int = 2048,
      spreadSeeds: Boolean = true): DataFrame = {
    require(k2 >= 1 && iters2 >= 0)
    val fineSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("fcid",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cq",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false))))
    def md5Of(id: Long): Long = {
      // Hashing.md5Long replicated locally (60-bit hex prefix of the
      // string md5) — the thinning rule must stay the engine-wide one
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        h.take(8).map(b => f"${b & 0xFF}%02x").mkString.take(15), 16)
    }
    assigned.filter(col("rk") === 1)
      .select(col("cell"), col("id"), col("q"))
      .repartition(col("cell"))
      .sortWithinPartitions("cell", "id")
      .mapPartitions { rows =>
        val in = rows.buffered
        def group(): Iterator[org.apache.spark.sql.Row] = {
          val cell = in.head.getLong(0)
          // bounded deterministic reservoir: the trainCap2 LOWEST
          // md5Long(id) members, streamed — a hot coarse cell costs this
          // task O(cap) memory, never O(|cell|)
          val heap = new scala.collection.mutable.PriorityQueue[
            (Long, Long, Array[Long])]()(Ordering.by(_._1)) // max-heap on md5
          var under = true // md5 keys are lazily materialized at cap+1
          while (in.hasNext && in.head.getLong(0) == cell) {
            val r = in.next()
            val id = r.getLong(1)
            if (under) {
              heap.enqueue((0L, id, r.getSeq[Long](2).toArray))
              if (heap.size > trainCap2) {
                // cap exceeded: retro-key everything by md5, evict max
                val kept = heap.dequeueAll.map { t: (Long, Long, Array[Long]) =>
                  (md5Of(t._2), t._2, t._3) }
                heap.clear()
                heap.enqueue(kept: _*)
                heap.dequeue()
                under = false
              }
            } else {
              val hh = md5Of(id)
              if (hh < heap.head._1) {
                heap.dequeue()
                heap.enqueue((hh, id, r.getSeq[Long](2).toArray))
              }
            }
          }
          val train = heap.dequeueAll.toArray.sortBy(_._2) // ascending id
          val k2eff = math.min(k2, train.length)
          if (k2eff == 0) Iterator.empty
          else {
            val dim = train(0)._3.length
            // seeds: with spreadSeeds (production) the k2eff lowest
            // (md5Long(id), id) sample members — the kmeansTrainSpread
            // posture, per cell: lowest-ID fine seeds inherit the coarse
            // level's clustered-data degeneracy (a fine-cell census measured
            // one fine cell holding 56k of a 104k-member coarse cell).
            // Without it, the k2eff lowest ids (the Lloyd-replication
            // contract the differential spec pins). Either way the chosen
            // seeds are re-sorted by id: fine-cell identity IS the seed
            // id (globally unique — seeds are distinct vectors), and
            // ascending index order must be ascending fcid order so the
            // strict-compare ascending scans below tie to the lowest fcid
            val seedIdx: Array[Int] =
              if (!spreadSeeds) (0 until k2eff).toArray
              else train.indices
                .sortBy(i => (md5Of(train(i)._2), train(i)._2))
                .take(k2eff).sorted.toArray
            var cents = seedIdx.map(i => train(i)._3)
            var it = 0
            while (it < iters2) {
              val sums = Array.ofDim[Long](k2eff, dim)
              val cnts = new Array[Long](k2eff)
              var m = 0
              while (m < train.length) {
                val v = train(m)._3
                var bd = Long.MaxValue
                var bi = 0
                var ci = 0
                while (ci < k2eff) {
                  val cv = cents(ci)
                  var d = 0L
                  var j = 0
                  while (j < dim) { val t = v(j) - cv(j); d += t * t; j += 1 }
                  if (d < bd) { bd = d; bi = ci }
                  ci += 1
                }
                val s = sums(bi)
                var j2 = 0
                while (j2 < dim) { s(j2) += v(j2); j2 += 1 }
                cnts(bi) += 1
                m += 1
              }
              cents = Array.tabulate(k2eff) { ci =>
                if (cnts(ci) == 0) cents(ci)
                else {
                  val s = sums(ci)
                  val n = cnts(ci)
                  Array.tabulate(dim)(j => Math.floorDiv(s(j), n))
                }
              }
              it += 1
            }
            (0 until k2eff).iterator.map(i =>
              org.apache.spark.sql.Row(cell, train(seedIdx(i))._2, cents(i).toSeq))
          }
        }
        new Iterator[org.apache.spark.sql.Row] {
          private var out: Iterator[org.apache.spark.sql.Row] = Iterator.empty
          def hasNext: Boolean = {
            while (!out.hasNext && in.hasNext) out = group()
            out.hasNext
          }
          def next(): org.apache.spark.sql.Row = { hasNext; out.next() }
        }
      }(org.apache.spark.sql.Encoders.row(fineSchema))
  }

  /** k1·k2 collected fine-centroid rows (cell, fcid, cq) → the serving
    * map keyed by coarse cell — config-scale metadata, the documented
    * contract (NOT per-candidate data). Per-cell arrays are
    * fcid-ascending so positional scans tie to the lowest fcid.
    * BUDGET GUARD (see deriveK2's scaladoc): the fine map is the index's
    * true ceiling — k1·k2 centroids × dim longs ride one broadcast to
    * every executor. Refuse loudly past the budget rather than OOM a
    * fleet: past this point the corpus needs INDEX SHARDING (split the
    * corpus, train/serve a two-level index per shard, union the edge
    * sets — queries spanning shards re-merge with knnTopK). */
  private[graft] def hierFineMap(
      fineCollected: Array[org.apache.spark.sql.Row],
      fineBroadcastBudget: Long = FineBroadcastBudgetBytes)
      : Map[Long, (Array[Long], Array[Array[Long]], Array[Double])] = {
    val fineBytes = fineCollected.iterator
      .map(r => 24L + 8L * r.getSeq[Long](2).length).sum
    require(fineBytes <= fineBroadcastBudget,
      s"two-level IVF fine-centroid map is ~$fineBytes bytes " +
        s"(${fineCollected.length} fine centroids), over the " +
        s"$fineBroadcastBudget-byte broadcast budget: this corpus/dim " +
        "needs index sharding (per-shard coarse+fine training, per-shard " +
        "serving, knnTopK re-merge of per-shard edges) — a bigger " +
        "broadcast would ship multi-GB to every executor")
    fineCollected
      .groupBy(_.getLong(0))
      .map { case (cell, rs) =>
        val sorted = rs.sortBy(_.getLong(1))
        val fcids = sorted.map(_.getLong(1))
        val cs = sorted.map(_.getSeq[Long](2).toArray)
        val norms = cs.map { cv =>
          var d = 0L
          var i = 0
          while (i < cv.length) { d += cv(i) * cv(i); i += 1 }
          math.sqrt(d.toDouble)
        }
        cell -> (fcids, cs, norms)
      }
  }

  /** Stage 3 of [[knnGraphHier]] — SERVING against a frozen fine map:
    * each [[probeAssign]] row looks up its coarse cell's fine centroids
    * from the broadcast, members tag their top-1 fine cell, every row
    * tags its top-`nprobe2` as query probes (max cos, ties to the lowest
    * fcid). Split out so the incremental store can serve a DELTA batch
    * (and the streaming path an arriving micro-batch) against the
    * build-frozen two-level centroids without retraining anything. */
  private[graft] def hierServeTagged(assigned: DataFrame,
      fineMap: Map[Long, (Array[Long], Array[Array[Long]], Array[Double])],
      nprobe2: Int): DataFrame = {
    require(nprobe2 >= 1)
    val bc = assigned.sparkSession.sparkContext.broadcast(fineMap)
    val taggedSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("ism",
        org.apache.spark.sql.types.BooleanType, nullable = false),
      org.apache.spark.sql.types.StructField("isq",
        org.apache.spark.sql.types.BooleanType, nullable = false),
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("q",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false)),
      org.apache.spark.sql.types.StructField("nrm",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    assigned.mapPartitions { rows =>
      val fines = bc.value
      rows.flatMap { r =>
        val cell = r.getLong(0)
        fines.get(cell) match {
          case None => Iterator.empty // memberless coarse cell: no cands
          case Some((fcids, cents, norms)) =>
            val isMember = r.getInt(1) == 1
            val id = r.getLong(2)
            val vSeq = r.getSeq[Long](3)
            val v = vSeq.toArray
            val nrm = r.getDouble(4)
            val k2eff = fcids.length
            val dim = v.length
            val cos = new Array[Double](k2eff)
            var ci = 0
            while (ci < k2eff) {
              val cv = cents(ci)
              var dot = 0L
              var j = 0
              while (j < dim) { dot += v(j) * cv(j); j += 1 }
              cos(ci) = dot.toDouble / (nrm * norms(ci))
              ci += 1
            }
            val p2 = math.min(nprobe2, k2eff)
            val used = new Array[Boolean](k2eff)
            val picked = new Array[Int](p2)
            var rp = 0
            while (rp < p2) {
              var bi = -1
              var bc2 = Double.NegativeInfinity
              var i2 = 0
              while (i2 < k2eff) {
                // ascending-fcid scan + strict > = ties to lowest fcid
                if (!used(i2) && cos(i2) > bc2) { bc2 = cos(i2); bi = i2 }
                i2 += 1
              }
              if (bi == -1) { // all-NaN: lowest remaining fcid
                var i3 = 0
                while (bi == -1 && i3 < k2eff) {
                  if (!used(i3)) bi = i3
                  i3 += 1
                }
              }
              used(bi) = true
              picked(rp) = bi
              rp += 1
            }
            (0 until p2).iterator.map { p =>
              org.apache.spark.sql.Row(fcids(picked(p)),
                isMember && p == 0, true, id, vSeq, nrm)
            }
        }
      }
    }(org.apache.spark.sql.Encoders.row(taggedSchema))
  }

  /** Multi-probe COSINE assignment rows (cell, rk, id, q, nrm): each
    * vector probes its `nprobe` highest-cosine cells (max cos first,
    * ties to the lowest cid — ivfTopK's max_by rule); the rank-1 row IS
    * the membership row. Split out of [[knnGraph]] so the incremental
    * index store can assign a DELTA batch against snapshot centroids
    * without touching the corpus.
    */
  def probeAssign(em: DataFrame, idCol: String, embCol: String,
                  cents: Seq[(Long, Array[Long])], nprobe: Int): DataFrame =
    probeAssignQ(
      em.select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("q")),
      cents, nprobe)

  /** [[probeAssign]] over already-quantized (id, q) rows — the refresh
    * path re-probes vectors read back from the index store. */
  private[graft] def probeAssignQ(q: DataFrame,
      cents: Seq[(Long, Array[Long])], nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= cents.length)
    val carr = cents.toArray
    val cnorm = carr.map { case (_, cv) =>
      var d = 0L
      var i = 0
      while (i < cv.length) { d += cv(i) * cv(i); i += 1 }
      math.sqrt(d.toDouble)
    }
    spreadForKernel(q.select(col("id"), col("q"))).mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        val vSeq = r.getSeq[Long](1)
        val v = vSeq.toArray // primitive once; the loop reads k×dim times
        var selfDot = 0L
        var i = 0
        while (i < v.length) { selfDot += v(i) * v(i); i += 1 }
        val nv = math.sqrt(selfDot.toDouble)
        val cos = new Array[Double](carr.length)
        var ci = 0
        while (ci < carr.length) {
          val cv = carr(ci)._2
          var dot = 0L
          var j = 0
          while (j < cv.length) { dot += v(j) * cv(j); j += 1 }
          cos(ci) = dot.toDouble / (nv * cnorm(ci))
          ci += 1
        }
        // top-nprobe by (max cos, ties to the lowest cid — ivfTopK's
        // max_by rule) via linear argmax passes: O(k·nprobe) unboxed vs
        // the boxed O(k log k) sortBy per ROW (the 100× stress lesson,
        // same as assignWithCentroidsTopP)
        val picked = new Array[Int](nprobe)
        val used = new Array[Boolean](carr.length)
        var rp = 0
        while (rp < nprobe) {
          var bi = -1
          var bc2 = Double.NegativeInfinity
          var bid = Long.MaxValue
          var i2 = 0
          while (i2 < carr.length) {
            if (!used(i2)) {
              val c = cos(i2)
              val cid = carr(i2)._1
              if (c > bc2 || (c == bc2 && cid < bid)) { bc2 = c; bid = cid; bi = i2 }
            }
            i2 += 1
          }
          if (bi == -1) {
            // every remaining cosine is NaN (zero-norm vector/centroid):
            // the old total-order sort ranked NaNs last with the cid
            // tie-break — pick the lowest remaining cid
            var i3 = 0
            var bid3 = Long.MaxValue
            while (i3 < carr.length) {
              if (!used(i3) && carr(i3)._1 < bid3) { bid3 = carr(i3)._1; bi = i3 }
              i3 += 1
            }
          }
          used(bi) = true
          picked(rp) = bi
          rp += 1
        }
        (0 until nprobe).iterator.map { p =>
          org.apache.spark.sql.Row(carr(picked(p))._1, p + 1, id, vSeq, nv)
        }
      }
    }(org.apache.spark.sql.Encoders.row(knnAssignSchema))
  }

  /** Cell-local bounded top-k scoring over TAGGED rows (cell, ism, isq,
    * id, q, nrm): per cell the `ism` rows are the candidate set and
    * every `isq` row emits its top-k by (cos desc, cand_id asc) —
    * [[knnGraph]] tags every probe row a query and rank-1 rows members;
    * [[knnGraphHier]] tags fine cells; the incremental refresh feeds
    * members from the STORE and queries from the touched set only.
    * Emits cell-local winners; callers merge with [[knnTopK]]. One
    * shuffle, plain integer loops, task memory one (sub)cell's rows.
    *
    * HOT-CELL bound (the cellPairsCapped convention composed into the
    * kNN family): a cell whose MEMBER count exceeds `maxCell` would cost
    * queries×members dots in one group — a degenerate Lloyd cell on
    * clustered data put 9+ minutes of scoring on one task at the 100×
    * fixture (jstack'd). Such cells sign-split: members AND queries
    * re-bucket by ceil(log2(members/maxCell)) sign bits of spread-out
    * dimensions, and each query takes its top-k within its own subcell —
    * neighbors in cosine space agree on most signs, so the recall trade
    * is the sign-LSH one the semantic family documents (RECALL.md). The
    * hot set is a metadata-sized aggregate + broadcast; the no-hot-cell
    * case pays one map-side-combinable count. Every verify fixture's
    * cells sit far under the cap, so the DuckDB oracles see the exact
    * un-split semantics.
    */
  private[graft] def scoreCellsLocal(tagged: DataFrame, k: Int,
                                     maxCell: Int = DefaultMaxCell): DataFrame = {
    val hot = tagged.filter(col("ism")).groupBy("cell")
      .agg(count(lit(1)).as("msz")).filter(col("msz") > maxCell)
    val normal = tagged.join(broadcast(hot.select("cell")), Seq("cell"), "left_anti")
      .select(col("cell"), lit(0L).as("subcell"),
        col("ism"), col("isq"), col("id"), col("q"), col("nrm"))
    val bits = least(lit(MaxSplitBits),
      ceil(log(2.0, col("msz").cast("double") / maxCell))).cast("int")
    val subcell = (0 until MaxSplitBits).map { i =>
      when(lit(i) < col("__bits") &&
        try_element_at(col("q"), lit(1 + 4 * i)) >= 0L, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    val hotRows = tagged.join(broadcast(hot), Seq("cell"))
      .withColumn("__bits", bits)
      .select(col("cell"), subcell.as("subcell"),
        col("ism"), col("isq"), col("id"), col("q"), col("nrm"))
    normal.union(hotRows)
      // EXPLICIT partition count: this stage is CPU-dense (64-dim dots per
      // candidate) at modest byte volume, AQE's blind spot — it coalesces
      // the column-only repartition by SIZE (400k tagged rows ≈ 240 MB →
      // 4 partitions; 28 cores idled through the 100× scoring, jstack'd).
      // A user-specified count is exempt from AQE coalescing; 4× the
      // parallelism smooths unequal per-cell cost across the hash.
      .repartition(
        tagged.sparkSession.sparkContext.defaultParallelism * 4,
        col("cell"), col("subcell"))
      .sortWithinPartitions("cell", "subcell", "id")
      .mapPartitions { rows =>
        // q is a PRIMITIVE Array[Long], converted once per row at group
        // build: the scoring loop reads it |cands|×dim times per query —
        // through the boxed Seq view that was ~10^10 boxed accesses at the
        // 100× stress (318× time for 100× rows; primitive + the probe
        // fixes brought the family back sub-linear)
        type R = (Boolean, Boolean, Long, Array[Long], Double) // (ism, isq, id, q, nrm)
        val in = rows.buffered
        def group(): Iterator[org.apache.spark.sql.Row] = {
          val cell = in.head.getLong(0)
          val sub = in.head.getLong(1)
          val grp = scala.collection.mutable.ArrayBuffer.empty[R]
          while (in.hasNext && in.head.getLong(0) == cell &&
              in.head.getLong(1) == sub) {
            val r = in.next()
            grp += ((r.getBoolean(2), r.getBoolean(3), r.getLong(4),
              r.getSeq[Long](5).toArray, r.getDouble(6)))
          }
          val cands = grp.filter(_._1).toArray // ism rows = members
          grp.iterator.filter(_._2).flatMap { case (_, _, qid, qv, qn) =>
            // bounded local top-k by (cos desc, cand_id asc)
            val a = new Array[Double](k)
            val ii = new Array[Long](k)
            var n = 0
            var m = 0
            while (m < cands.length) {
              val (_, _, cid, cv, cn) = cands(m)
              if (cid != qid) {
                var dot = 0L
                var j = 0
                while (j < cv.length) { dot += qv(j) * cv(j); j += 1 }
                val c = dot.toDouble / (qn * cn)
                if (n < k || c > a(n - 1) || (c == a(n - 1) && cid < ii(n - 1))) {
                  var pos = if (n < k) n else k - 1
                  while (pos > 0 && (a(pos - 1) < c ||
                      (a(pos - 1) == c && ii(pos - 1) > cid))) {
                    a(pos) = a(pos - 1); ii(pos) = ii(pos - 1); pos -= 1
                  }
                  a(pos) = c; ii(pos) = cid
                  if (n < k) n += 1
                }
              }
              m += 1
            }
            (0 until n).iterator.map(p =>
              org.apache.spark.sql.Row(qid, ii(p), a(p)))
          }
        }
        new Iterator[org.apache.spark.sql.Row] {
          private var out: Iterator[org.apache.spark.sql.Row] = Iterator.empty
          def hasNext: Boolean = {
            while (!out.hasNext && in.hasNext) out = group()
            out.hasNext
          }
          def next(): org.apache.spark.sql.Row = { hasNext; out.next() }
        }
      }(org.apache.spark.sql.Encoders.row(knnPairSchema))
  }

  /** Global per-query merge of cell-local winners: (query_id, rnk,
    * cand_id, cos@4dp), rnk by (cos desc, cand_id asc). */
  private[graft] def knnTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("cand_id"), round(col("cos"), 4).as("cos"))
  }

  // ---- Product quantization (the compression half of IVF-PQ) ----

  /** Product-quantization codebooks (Jégou/Douze/Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the embedding
    * splits into `m` contiguous subspaces of dim/m dims, each trained to
    * its own k-codeword codebook by the SAME exact-integer Lloyd loop as
    * [[kmeansTrain]] (deterministic lowest-id seeds, floorDiv means) — so
    * the DuckDB oracle can rebuild every codebook bit for bit. A coded
    * vector then stores m small codes: m·log2(k) bits (4·4 bits = 2 bytes
    * here) versus 256 bytes of float32 — the memory-compression half of
    * IVF-PQ. At 100 TB, IVF cells prune WHICH candidates are scored and
    * PQ codes let each executor hold its partition of the corpus in RAM;
    * this provides the PQ half against the engine's existing IVF.
    */
  def pqTrain(em: DataFrame, idCol: String, embCol: String,
              m: Int = 4, k: Int = 16, iters: Int = 2,
              dim: Int = 64): Array[Array[(Long, Array[Long])]] = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val sub = dim / m
    // The m subspace trainings are INDEPENDENT Lloyd chains (each its own
    // sequence of tiny driver-coordinated jobs); run them from a small
    // thread pool so each chain's per-job fixed latency (plan + schedule +
    // collect) overlaps the others' instead of serializing m×iters jobs
    // (guide §2.6 "overlap independent jobs"). Each chain is bit-identical
    // to its sequential run — threads share nothing but the scheduler —
    // so every codebook (and the oracle hash) is unchanged; PqSpec pins
    // codebook equality against the sequential form.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(m)
    try {
      val fs = (0 until m).map { s =>
        pool.submit(new java.util.concurrent.Callable[Array[(Long, Array[Long])]] {
          def call(): Array[(Long, Array[Long])] =
            kmeansTrain(em.select(col(idCol),
                slice(col(embCol), s * sub + 1, sub).as("__sub")),
              idCol, "__sub", k, iters, sub)
        })
      }
      fs.map(_.get()).toArray
    } finally pool.shutdown()
  }

  private val pqCodeSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("codes",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false),
      nullable = false)))

  /** Corpus coded to per-subspace nearest codewords: (id, codes) with
    * codes(s) the index into books(s) ordered by cid (exact integer L2
    * argmin, ties to the lowest cid — [[assignCells]]'s rule). ONE typed
    * pass; the codebooks ride in the task closure (config-scale:
    * m·k·(dim/m) = dim·k longs).
    */
  def pqCode(em: DataFrame, idCol: String, embCol: String,
             books: Array[Array[(Long, Array[Long])]],
             dim: Int = 64): DataFrame = {
    val m = books.length
    val sub = dim / m
    val cents: Array[Array[Array[Long]]] = books.map(_.sortBy(_._1).map(_._2))
    em.select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("q"))
      .mapPartitions { rows =>
        rows.map { r =>
          val v = r.getSeq[Long](1)
          val codes = new Array[Int](m)
          var s = 0
          while (s < m) {
            val cs = cents(s)
            var bd = Long.MaxValue
            var bj = 0
            var j = 0
            while (j < cs.length) {
              val cv = cs(j)
              var d = 0L
              var i = 0
              while (i < sub) { val t = v(s * sub + i) - cv(i); d += t * t; i += 1 }
              if (d < bd) { bd = d; bj = j } // first win = lowest cid (sorted)
              j += 1
            }
            codes(s) = bj
            s += 1
          }
          org.apache.spark.sql.Row(r.getLong(0), codes.toSeq)
        }
      }(org.apache.spark.sql.Encoders.row(pqCodeSchema))
  }

  private val pqPartialSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("query_id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("cand_id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("adc",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** Asymmetric-distance (ADC) top-k over a PQ-coded corpus: for each
    * query, the k candidates minimizing Σ_s L2(query_sub_s,
    * codeword(codes(s))) — the query stays exact, candidates are
    * approximated by their codewords, distances come from per-query
    * lookup tables built ONCE on the driver (config-scale: queries ×
    * m × k longs) and shipped in the task closure. Scoring a candidate is
    * m array reads — no vector arithmetic on the corpus side, which is
    * the point of ADC at scale.
    *
    * Distributed top-k shape: per-partition bounded selection (each task
    * emits ≤ queries·k rows) below ONE global per-query window — the
    * shuffle carries O(partitions · queries · k), never the corpus. Self
    * matches are excluded. Output (query_id, rnk, cand_id, adc) with adc
    * the exact integer ADC distance (bit-reproducible by the oracle).
    */
  def pqSearchTopK(coded: DataFrame, queries: Array[(Long, Array[Long])],
                   books: Array[Array[(Long, Array[Long])]], k: Int,
                   dim: Int = 64): DataFrame = {
    val m = books.length
    val sub = dim / m
    val cents: Array[Array[Array[Long]]] = books.map(_.sortBy(_._1).map(_._2))
    val kk = cents(0).length
    val nq = queries.length
    val qids = queries.map(_._1)
    val luts: Array[Array[Long]] = queries.map { case (_, qv) =>
      val lut = new Array[Long](m * kk)
      var s = 0
      while (s < m) {
        var j = 0
        while (j < kk) {
          val cv = cents(s)(j)
          var d = 0L
          var i = 0
          while (i < sub) { val t = qv(s * sub + i) - cv(i); d += t * t; i += 1 }
          lut(s * kk + j) = d
          j += 1
        }
        s += 1
      }
      lut
    }
    val partial = coded.mapPartitions { rows =>
      // per-(query) sorted top-k arrays, (adc, id) ascending — k is small
      val accA = Array.fill(nq)(new Array[Long](k))
      val accI = Array.fill(nq)(new Array[Long](k))
      val accN = new Array[Int](nq)
      rows.foreach { r =>
        val id = r.getLong(0)
        val codes = r.getSeq[Int](1)
        var t = 0
        while (t < nq) {
          if (qids(t) != id) {
            val lut = luts(t)
            var adc = 0L
            var s = 0
            while (s < m) { adc += lut(s * kk + codes(s)); s += 1 }
            val n = accN(t)
            val a = accA(t)
            val ii = accI(t)
            if (n < k || adc < a(n - 1) || (adc == a(n - 1) && id < ii(n - 1))) {
              var pos = if (n < k) n else k - 1
              while (pos > 0 && (a(pos - 1) > adc ||
                  (a(pos - 1) == adc && ii(pos - 1) > id))) {
                a(pos) = a(pos - 1); ii(pos) = ii(pos - 1); pos -= 1
              }
              a(pos) = adc; ii(pos) = id
              if (n < k) accN(t) = n + 1
            }
          }
          t += 1
        }
      }
      (0 until nq).iterator.flatMap { t =>
        (0 until accN(t)).iterator.map(p =>
          org.apache.spark.sql.Row(qids(t), accI(t)(p), accA(t)(p)))
      }
    }(org.apache.spark.sql.Encoders.row(pqPartialSchema))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("adc"), col("cand_id"))
    partial.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("cand_id"), col("adc"))
  }

  /** IVF-PQ: the two halves composed — IVF cells prune WHICH candidates
    * are scored (each query reads only its `nprobe` nearest cells'
    * postings), PQ codes compress WHAT is scored (ADC from per-query
    * LUTs, no vector arithmetic on the corpus side). This is the
    * standard billion-scale ANN serving shape (FAISS's IVFADC): at
    * 100 TB the corpus is partitioned by cell, a query touches
    * nprobe/k of the partitions, and each partition's postings are m
    * bytes-ish per vector instead of 4·dim.
    *
    * Everything is exact-integer L2 (cells AND codes), so the whole
    * pipeline — training, assignment, probing, ADC — is reproducible
    * relationally by the oracle. Candidate filtering happens BEFORE the
    * bounded per-partition selection: a task emits ≤ queries·k rows of
    * only probed-cell candidates.
    */
  def ivfPqTopK(em: DataFrame, idCol: String, embCol: String,
                cents: Seq[(Long, Array[Long])],
                books: Array[Array[(Long, Array[Long])]],
                queries: Array[(Long, Array[Long])],
                k: Int, nprobe: Int, dim: Int = 64): DataFrame = {
    val m = books.length
    val sub = dim / m
    val cbooks: Array[Array[Array[Long]]] = books.map(_.sortBy(_._1).map(_._2))
    val kk = cbooks(0).length
    val nq = queries.length
    val qids = queries.map(_._1)
    val carr = cents.toArray
    // driver side (config-scale): each query's nprobe nearest cells by
    // exact L2 (ties to the lowest cid) + its ADC LUT
    val probed: Array[Set[Long]] = queries.map { case (_, qv) =>
      carr.map { case (cid, cv) =>
        var d = 0L
        var i = 0
        while (i < dim) { val t = qv(i) - cv(i); d += t * t; i += 1 }
        (d, cid)
      }.sortBy(identity).take(nprobe).map(_._2).toSet
    }
    val luts: Array[Array[Long]] = queries.map { case (_, qv) =>
      val lut = new Array[Long](m * kk)
      var s = 0
      while (s < m) {
        var j = 0
        while (j < kk) {
          val cv = cbooks(s)(j)
          var d = 0L
          var i = 0
          while (i < sub) { val t = qv(s * sub + i) - cv(i); d += t * t; i += 1 }
          lut(s * kk + j) = d
          j += 1
        }
        s += 1
      }
      lut
    }
    val corp = pqCode(em, idCol, embCol, books, dim)
      .join(assignWithCentroids(em, idCol, embCol, cents).select("id", "cell"), "id")
    val partial = corp.mapPartitions { rows =>
      val accA = Array.fill(nq)(new Array[Long](k))
      val accI = Array.fill(nq)(new Array[Long](k))
      val accN = new Array[Int](nq)
      rows.foreach { r =>
        val id = r.getLong(0)
        val codes = r.getSeq[Int](1)
        val cell = r.getLong(2)
        var t = 0
        while (t < nq) {
          if (qids(t) != id && probed(t).contains(cell)) {
            val lut = luts(t)
            var adc = 0L
            var s = 0
            while (s < m) { adc += lut(s * kk + codes(s)); s += 1 }
            val n = accN(t)
            val a = accA(t)
            val ii = accI(t)
            if (n < k || adc < a(n - 1) || (adc == a(n - 1) && id < ii(n - 1))) {
              var pos = if (n < k) n else k - 1
              while (pos > 0 && (a(pos - 1) > adc ||
                  (a(pos - 1) == adc && ii(pos - 1) > id))) {
                a(pos) = a(pos - 1); ii(pos) = ii(pos - 1); pos -= 1
              }
              a(pos) = adc; ii(pos) = id
              if (n < k) accN(t) = n + 1
            }
          }
          t += 1
        }
      }
      (0 until nq).iterator.flatMap { t =>
        (0 until accN(t)).iterator.map(p =>
          org.apache.spark.sql.Row(qids(t), accI(t)(p), accA(t)(p)))
      }
    }(org.apache.spark.sql.Encoders.row(pqPartialSchema))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("adc"), col("cand_id"))
    partial.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("cand_id"), col("adc"))
  }

  /** Elementwise mean-pooled embedding per group (centroid computation —
    * the feature-aggregation building block of IVF training, per-source
    * embedding drift monitoring, etc.). The scale-right shape: ONE
    * aggregate pass with `dim` sums as independent aggregate expressions,
    * so map-side partial aggregation collapses each partition to one row
    * per group BEFORE the shuffle — no posexplode row multiplication of
    * the corpus (n x dim rows through an exchange). The narrow (grp, pos,
    * mean) unpacking happens after aggregation, on O(groups) rows.
    * Quantized-integer sums keep the oracle exact.
    */
  def meanPool(em: DataFrame, groupExpr: Column, embCol: String,
               dim: Int = 64): DataFrame = {
    val q = quantize(col(embCol))
    val sums = (1 to dim).map(k => sum(element_at(q, k)).as(s"__s$k"))
    val agg = em.groupBy(groupExpr.as("grp"))
      .agg(count(lit(1)).as("n"), sums: _*)
    val posMeans = array((1 to dim).map(k =>
      struct(lit(k).as("pos"),
        (col(s"__s$k").cast("double") / col("n")).as("mean"))): _*)
    agg.select(col("grp"), col("n"), explode(posMeans).as("pm"))
      .select(col("grp"), col("n"), col("pm.pos").as("pos"),
        round(col("pm.mean"), 4).as("mean"))
  }

  /** Per-vector symmetric int8 quantization (the compression step before
    * an ANN index ships to serving): scale = 127 / max|x_d|, q_d =
    * round(x_d * scale). Pure per-row expression — quantization is scan
    * local, no shuffle. The scale factor is computed as `127.0 / max`
    * FIRST and then multiplied (one division per vector, and the exact
    * association the oracle mirrors so every rounded value matches).
    * All-zero vectors quantize to all zeros (guarded — the division would
    * yield NaN).
    */
  def quantizeInt8(emb: Column): Column = {
    val mx = array_max(transform(emb, x => abs(x.cast("double"))))
    when(mx === 0.0, transform(emb, _ => lit(0L)))
      .otherwise(transform(emb,
        x => round(x.cast("double") * (lit(127.0) / mx)).cast("long")))
  }

  /** K-means (Lloyd) training over quantized embeddings — the IVF
    * centroid-training step. Deterministic and oracle-exact:
    *  - vectors are milli-unit integers ([[quantize]]), so all distances
    *    are exact integer math in any engine;
    *  - init = the k lowest-id vectors; tie-broken argmin (distance, then
    *    centroid id); centroid update is elementwise floor(sum/n) —
    *    exact floor division on both engines;
    *  - empty cells keep their previous centroid.
    *
    * Distributed shape per round: ONE broadcast-compare scan (centroids
    * are a k x dim literal compiled into the assignment expression — no
    * join, no shuffle of the corpus) + ONE partial+final aggregate of
    * per-dimension sums (map-side combine collapses each partition to k
    * rows before the exchange). The driver holds only the k centroids
    * (config-scale metadata, like a broadcast variable) and loops
    * `iters` times — the corpus never leaves the executors.
    *
    * Returns the final assignment frame: (id, cell, dist) with dist the
    * exact squared integer distance to the winning centroid.
    */
  def kmeansLloyd(em: DataFrame, idCol: String, embCol: String,
                  k: Int, iters: Int, dim: Int = 64): DataFrame = {
    val q = CacheRegistry.persist(
      em.select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("q")))
    val cents = lloydLoop(q, k, iters, dim)
    // q stays registered (not released here): the returned plan still
    // reads it, so the caller's action reuses the cache and the harness's
    // CacheRegistry.drain() reclaims it after the action.
    assignCells(q, cents).select(col("id"), col("cell"), col("dist"))
  }

  /** Assignment of arbitrary vectors to PRE-TRAINED centroids — the
    * serving side of the IVF build. Stateless per row (centroids ride as
    * a k×dim broadcast literal inside the argmin expression), so the same
    * plan runs identically in batch and streaming. Returns (id, cell,
    * dist) with dist the exact squared integer distance.
    */
  def assignWithCentroids(em: DataFrame, idCol: String, embCol: String,
                          cents: Seq[(Long, Array[Long])]): DataFrame = {
    val q = em.select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("q"))
    assignCells(q, cents.toArray).select(col("id"), col("cell"), col("dist"))
  }

  /** Train and return the final centroids only (for feeding [[ivfTopK]]'s
    * `trainedCentroids` — the production IVF build: train, then index).
    */
  def kmeansTrain(em: DataFrame, idCol: String, embCol: String,
                  k: Int, iters: Int, dim: Int = 64): Array[(Long, Array[Long])] = {
    val q = CacheRegistry.persist(
      em.select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("q")))
    val cents = lloydLoop(q, k, iters, dim)
    CacheRegistry.release(q)
    cents
  }

  /** [[kmeansTrain]] with SPREAD seeding: seeds are the k lowest
    * md5Long(id) vectors (ties to the lowest id) — a deterministic
    * uniform sample of the corpus instead of the k lowest IDS. Lowest-id
    * seeding is a measured scale trap on clustered corpora: when low ids
    * concentrate in one region (replicated fixtures, append-ordered
    * ingests), every seed lands there and two Lloyd rounds cannot undo
    * it — the 100× fixture trained ONE coarse cell holding 104k of 200k
    * vectors (SCALE.md r15 fine-cell census), which cascaded into a 15-billion-candidate
    * scoring budget. md5-order seeds land ∝ data density (the standard
    * random-init posture, made engine-reproducible), and the DuckDB
    * oracle replays the exact seed set via the same md5 expression.
    */
  def kmeansTrainSpread(em: DataFrame, idCol: String, embCol: String,
                        k: Int, iters: Int, dim: Int = 64,
                        nKnown: Long = -1L): Array[(Long, Array[Long])] = {
    val q = CacheRegistry.persist(
      em.select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("q")))
    // nKnown > 0: the caller already counted this corpus (deriveK2 does),
    // so skip the duplicate full-scan count (r16; one fewer job per
    // two-level build — the count still materializes q lazily via the
    // seed collect below)
    val n = if (nKnown > 0) nKnown else q.count()
    val tq =
      if (n <= TrainSampleCap) q
      else {
        val step = (n + TrainSampleCap - 1) / TrainSampleCap
        val s = q.filter(pmod(graft.functions.Hashing.md5Long(
          col("id").cast("string")), lit(step)) === 0L)
        if (s.count() >= k) s else q
      }
    val seeds: Array[(Long, Array[Long])] = tq
      .orderBy(graft.functions.Hashing.md5Long(col("id").cast("string")), col("id"))
      .limit(k).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val cents = lloydIterate(tq, seeds, k, iters, dim)
    CacheRegistry.release(q)
    cents
  }

  /** (dist, cid) struct candidates vs every centroid — the shared kernel
    * of single and multi-probe assignment. Lexicographic struct ordering
    * = min distance, ties to the lowest centroid id.
    */
  private def centroidCandidates(cents: Array[(Long, Array[Long])]): Column =
    array(cents.toIndexedSeq.map { case (cid, cv) =>
      val carr = typedLit(cv.toSeq)
      struct(
        aggregate(zip_with(col("q"), carr, (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, x) => acc + x).as("dist"),
        lit(cid).as("cid"))
    }: _*)

  /** Nearest-centroid assignment (argmin via array_min on the candidate
    * structs).
    */
  /** Output schema of the typed assignment kernels. */
  private val assignSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("q",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false)),
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("dist",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** Nearest-centroid assignment as ONE Row-typed mapPartitions pass —
    * plain JVM integer loops with the centroid array riding in the task
    * closure (config-scale: ≤ 1024 × 64 longs = 512 KiB at the deriveK
    * ceiling). The expression form (array_min over per-centroid
    * `aggregate(zip_with(...))` structs) evaluates every centroid's
    * distance INTERPRETED per row — at the linear-k rule (k = N/64) that
    * made assignment itself superlinear; the typed loop is the same
    * ~20× lesson as the semantic pair kernel (commit b6c18e7). Semantics
    * identical to `array_min` over (dist, cid) structs: min distance,
    * ties to the lowest centroid id — exact integer math either way, so
    * every oracle value is unchanged. Stateless per row: the same kernel
    * serves batch and streaming (q_t10/q_t12) alike.
    */
  private def assignCells(q: DataFrame,
                          cents: Array[(Long, Array[Long])]): DataFrame =
    spreadForKernel(q.select(col("id"), col("q"))).mapPartitions { rows =>
      rows.map { r =>
        val vSeq = r.getSeq[Long](1)
        val v = vSeq.toArray // primitive copy once; the loop reads k×dim times
        var bd = Long.MaxValue
        var bc = Long.MaxValue
        var ci = 0
        while (ci < cents.length) {
          val cv = cents(ci)._2
          var d = 0L
          var i = 0
          while (i < cv.length) { val t = v(i) - cv(i); d += t * t; i += 1 }
          val cid = cents(ci)._1
          if (d < bd || (d == bd && cid < bc)) { bd = d; bc = cid }
          ci += 1
        }
        org.apache.spark.sql.Row(r.getLong(0), vSeq, bc, bd)
      }
    }(org.apache.spark.sql.Encoders.row(assignSchema))

  /** MULTI-PROBE assignment: each vector lands in its `p` nearest cells —
    * the IVF-nprobe idea applied to the indexing side. A bucketed pair
    * operator over this assignment sees any pair sharing AT LEAST ONE of
    * the p cells, trading ~p× candidate volume for pair recall (measured
    * in RECALL.md). One row per (vector, probed cell); stateless per row,
    * centroids ride as a broadcast literal exactly like the top-1 path.
    *
    * `marginX` (0 = off) gates the EXTRA probes by centroid-distance
    * margin: rank-r > 1 cells are kept only while `dist_r <= marginX *
    * dist_1` (exact integer compare on the quantized L2 — cross-engine
    * stable). Rationale: the recall a 2nd probe buys comes from vectors
    * near a Voronoi BOUNDARY (d2 ≈ d1); a vector deep inside its cell
    * spends its extra probe on a far cell holding none of its near-dups
    * — pure Σ|cell|² candidate volume. MEASURED NEGATIVE on the recall
    * fixture (RECALL.md "Probe-2 margin gate"): in 64-dim quantized
    * embeddings every vector is near-equidistant to its top cells
    * (d2/d1 < 2 corpus-wide), so even marginX = 2 sheds zero rows — the
    * dial only bites on low-dimensional or strongly clustered data, and
    * the default path leaves it off.
    */
  def assignWithCentroidsTopP(em: DataFrame, idCol: String, embCol: String,
                              cents: Seq[(Long, Array[Long])], p: Int,
                              marginX: Long = 0L): DataFrame = {
    require(p >= 1 && p <= cents.length, s"p=$p out of range 1..${cents.length}")
    val q = spreadForKernel(
      em.select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("q")))
    val carr = cents.toArray
    // typed kernel (see assignCells): p smallest (dist, cid) per vector,
    // identical ordering to array_sort over the candidate structs
    q.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        val vSeq = r.getSeq[Long](1)
        // primitive copy ONCE per row: the Seq view boxes every element
        // access, and the distance loop reads it k×dim times (jstack'd
        // at 100×: the boxed path was the whole stage)
        val v = vSeq.toArray
        val ds = new Array[Long](carr.length)
        var ci = 0
        while (ci < carr.length) {
          val cv = carr(ci)._2
          var d = 0L
          var i = 0
          while (i < cv.length) { val t = v(i) - cv(i); d += t * t; i += 1 }
          ds(ci) = d
          ci += 1
        }
        // top-p by (dist, cid) via p linear argmin passes — O(k·p)
        // unboxed; the previous per-ROW sortBy over all k indices was
        // O(k log k) in BOXED tuples and dominated the 100× assignment
        // stage (p ≤ 2 in every caller). Ordering identical: min dist,
        // ties to the lowest centroid id.
        val ranked = new Array[Int](p)
        val used = new Array[Boolean](carr.length)
        var rp = 0
        while (rp < p) {
          var bi = -1
          var bd = Long.MaxValue
          var bc = Long.MaxValue
          var i2 = 0
          while (i2 < carr.length) {
            if (!used(i2)) {
              val d = ds(i2)
              val cid = carr(i2)._1
              if (d < bd || (d == bd && cid < bc)) { bd = d; bc = cid; bi = i2 }
            }
            i2 += 1
          }
          used(bi) = true
          ranked(rp) = bi
          rp += 1
        }
        val kept =
          if (marginX <= 0L) ranked.toSeq
          else ranked.take(1).toSeq ++
            ranked.drop(1).filter(i => ds(i) <= marginX * ds(ranked.head))
        kept.map(i => org.apache.spark.sql.Row(id, vSeq, carr(i)._1, ds(i)))
      }
    }(org.apache.spark.sql.Encoders.row(assignSchema))
  }

  /** Spread an under-parallel corpus before a per-row O(k·dim) kernel: a
    * single-file parquet corpus plans 1-8 input partitions, which leaves
    * 31 of 32 cores idle under the heaviest map in the family (jstack'd
    * at the 100× stress: ONE task running the whole assignment). The
    * round-robin shuffle moves only (id, q) rows — ~0.5 KiB each — and is
    * skipped when the scan already matches the session's parallelism.
    */
  private def spreadForKernel(q: DataFrame): DataFrame = {
    // streaming frames cannot be .rdd-probed (checkForBatch throws) and a
    // micro-batch's partitioning is the source's admission decision —
    // leave streams untouched
    if (q.isStreaming) return q
    val par = q.sparkSession.sparkContext.defaultParallelism
    if (q.rdd.getNumPartitions < par) q.repartition(par) else q
  }

  /** Default cap on one cell's pair expansion in [[cellPairsCapped]] —
    * same bound, same rationale, and same value as
    * [[Dedup.DefaultMaxBucket]]: an intra-cell all-pairs join is the one
    * place the cell design goes quadratic, and a single dominant embedding
    * cluster (boilerplate corpus, adversarial near-identical vectors) puts
    * a data-sized cell under it. Above the cap a cell contributes a
    * sorted-adjacent chain — O(size) candidates — instead of O(size²).
    */
  val DefaultMaxCell: Int = 4096

  /** Target mean cell population for [[deriveK]]: k = N/64 keeps the
    * intra-cell candidate volume Σ|cell|² ≈ N × 64 LINEAR in the corpus
    * for balanced cells.
    */
  val TargetCellSize: Long = 64L

  /** Cell count for the SemDeDup-family semantic dedup, derived from the
    * corpus vector count: BOUNDED-CELL rule k = N/[[TargetCellSize]],
    * clamped to [8, 1024]. k must grow LINEARLY with the corpus: with
    * balanced cells the pair kernel sees Σ|cell|² ≈ N²/k candidates, so
    * any sublinear-k rule leaves the kernel superlinear — the original
    * cbrt rule measured 15–28× runtime for 10× data (SCALE.md history)
    * because candidates grew ~N^(5/3); at k = N/64 the same 10× step is
    * ~10× candidates. What linear k costs, and how each cost is bounded:
    * per-row assignment work is N × k (handled by the typed argmin
    * kernel in [[assignCells]] — plain JVM arithmetic, not per-centroid
    * interpreted expressions), Lloyd training is sample-capped
    * ([[lloydLoop]] trains on ≤ [[TrainSampleCap]] vectors), and the
    * driver/centroid-broadcast state is capped by the 1024 ceiling
    * (64 KiB of centroids) — past the ceiling cells grow again and the
    * [[cellPairsCapped]] chain cap takes over as the volume bound.
    * At the 500-vector verify fixture this derives exactly 8, which the
    * DuckDB oracles pin (a fixture-size drift trips SemanticDedupSpec,
    * not a silent oracle mismatch).
    */
  def deriveK(nVectors: Long): Int =
    // clamp in Long BEFORE narrowing: round(10^12/64).toInt overflows
    math.max(8L, math.min(1024L,
      math.round(nVectors.toDouble / TargetCellSize))).toInt

  /** Max sign bits used to split a hot cell in [[cellPairsCapped]]:
    * 2^16 subcells bounds the split fan-out, and the probed dimensions
    * (1 + 4·i, i < 16 — spread across a 64-dim embedding) stay inside
    * the vector.
    */
  val MaxSplitBits: Int = 16

  /** Intra-cell candidate pairs with a hot-cell cap — the cell analog of
    * the LSH band-bucket bound in `Dedup.lshCandidatesImpl`, made
    * SPATIAL. Input: one row per (cell, id, q, nrm) assignment
    * (multi-probe assignments contribute one row per probed cell);
    * output: (i, j, qa, qb, na, nb) candidate pairs carrying both
    * vectors, i < j within every pair.
    *
    * Cells at or under `maxCell` are all-paired (exact). A hotter cell is
    * NOT id-chained directly — a k-means cell is a Voronoi region, not a
    * near-identical-signature bucket, so an id-order chain on diverse
    * content loses nearly every true pair (measured in RECALL.md: 0.005
    * direct recall at a forced cap). Instead the hot cell sign-splits:
    * members are re-bucketed by ceil(log2(size/maxCell)) sign bits of
    * spread-out dimensions (the sign-LSH family — neighbors in cosine
    * space agree on most signs), and subcells at or under the cap are
    * all-paired. A subcell STILL over the cap after splitting is, with
    * near-certainty, near-identical content (identical vectors share
    * every sign bit and never split) — exactly the case where the
    * sorted-adjacent chain id₁-id₂, id₂-id₃ … preserves the group:
    * every adjacent pair clears τ and transitive clustering merges the
    * whole subcell, the recall trade `Dedup.DefaultMaxBucket` documents.
    *
    * Candidate bound per hot cell of size s: ≤ 2^bits ≈ s/maxCell
    * all-paired subcells of ≤ maxCell² pairs each, plus O(s) chain links
    * → O(s · maxCell) — the same O(corpus × cap) worst case as the LSH
    * band path, one dominant embedding cluster included. The hot-cell
    * and hot-subcell key sets are each at most corpus/maxCell keys —
    * aggregated and broadcast, so the no-hot-cell case costs one
    * metadata-sized aggregate.
    */
  def cellPairsCapped(m: DataFrame, maxCell: Int = DefaultMaxCell): DataFrame = {
    def allPairsWithin(df: DataFrame, keys: Seq[String]): DataFrame = {
      val a = df.select(keys.map(k => col(k).as(s"${k}_a")) ++
        Seq(col("id").as("i"), col("q").as("qa"), col("nrm").as("na")): _*)
      val b = df.select(keys.map(k => col(k).as(s"${k}_b")) ++
        Seq(col("id").as("j"), col("q").as("qb"), col("nrm").as("nb")): _*)
      val cond = keys.map(k => col(s"${k}_a") === col(s"${k}_b"))
        .reduce(_ && _) && col("i") < col("j")
      a.join(b, cond).select("i", "j", "qa", "qb", "na", "nb")
    }
    val hot = m.groupBy("cell").agg(count(lit(1)).as("csz"))
      .filter(col("csz") > maxCell)
    val normal = m.join(broadcast(hot.select("cell")), Seq("cell"), "left_anti")
    val paired = allPairsWithin(normal, Seq("cell"))
    // hot path: sign-split by enough bits to target subcells ≤ maxCell
    val bits = least(lit(MaxSplitBits),
      ceil(log(2.0, col("csz").cast("double") / maxCell))).cast("int")
    // try_element_at: a probed dimension past the vector's length
    // contributes a zero bit instead of an ANSI out-of-bounds error
    val subcell = (0 until MaxSplitBits).map { i =>
      when(lit(i) < col("__bits") &&
        try_element_at(col("q"), lit(1 + 4 * i)) >= 0L, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val hotRows = m.join(broadcast(hot), Seq("cell"))
      .withColumn("__bits", bits)
      .withColumn("subcell", subcell)
    val hotSub = hotRows.groupBy("cell", "subcell")
      .agg(count(lit(1)).as("ssz")).filter(col("ssz") > maxCell)
      .select("cell", "subcell")
    val subPaired = allPairsWithin(
      hotRows.join(broadcast(hotSub), Seq("cell", "subcell"), "left_anti"),
      Seq("cell", "subcell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cell", "subcell").orderBy("id")
    val chained = hotRows.join(broadcast(hotSub), Seq("cell", "subcell"), "left_semi")
      .withColumn("__prev", lag(struct(col("id"), col("q"), col("nrm")), 1).over(w))
      .filter(col("__prev").isNotNull)
      .select(col("__prev.id").as("i"), col("id").as("j"),
        col("__prev.q").as("qa"), col("q").as("qb"),
        col("__prev.nrm").as("na"), col("nrm").as("nb"))
    paired.union(subPaired).union(chained)
  }

  /** Scored intra-cell pairs with the hot-cell cap, computed LOCALLY —
    * the shuffle-volume rework of [[cellPairsCapped]] + a cosine kernel.
    * Same pair SET and same float shape (exact integer dot, correctly
    * rounded sqrt/divide, τ-compare on the raw cosine) as running
    * [[cellPairsCapped]] through the row-typed dot kernel — pinned by
    * SemanticDedupSpec — but the candidate pairs are never materialized
    * as rows: the join form shipped every candidate carrying BOTH
    * 64-long vectors (measured ~1 KiB × Σ|cell|² through the shuffle —
    * the dominant cost at 10× scale), while this form shuffles each
    * assignment row ONCE (repartition by (cell, subcell) + local sort)
    * and emits only the τ-passing (i, j, c) triples from a per-group
    * loop. Task memory is bounded by construction: all-pairs groups
    * hold ≤ maxCell vectors (~2 MiB at the default cap), and
    * chain groups (unsplittable near-identical content) stream with one
    * row of lookahead — O(1) — so even a corpus-sized degenerate cell
    * cannot OOM a task.
    *
    * Phase A reuses cellPairsCapped's exact hot/subcell derivation
    * (metadata-sized aggregates, broadcast); phase B is the local pass.
    */
  def cellPairsLocalScored(m: DataFrame, tau: Double,
                           maxCell: Int = DefaultMaxCell): DataFrame = {
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("i",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("j",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    cellGroupedSorted(m, maxCell)
      .mapPartitions { rows =>
        type Member = (Long, Seq[Long], Long) // (id, q, nrm)
        def scoreOpt(a: Member, b: Member): Option[org.apache.spark.sql.Row] = {
          val qa = a._2; val qb = b._2
          var dot = 0L
          var i = 0
          val n = qa.length
          while (i < n) { dot += qa(i) * qb(i); i += 1 }
          val c = dot.toDouble /
            (math.sqrt(a._3.toDouble) * math.sqrt(b._3.toDouble))
          if (c >= tau) Some(org.apache.spark.sql.Row(a._1, b._1, c)) else None
        }
        val in = rows.buffered
        // lazy run-splitter over the (cell, subcell)-sorted partition;
        // each inner iterator MUST be drained before the next group is
        // requested (flatMap below guarantees it)
        val groups = new Iterator[(Boolean, Iterator[Member])] {
          def hasNext: Boolean = in.hasNext
          def next(): (Boolean, Iterator[Member]) = {
            val cell = in.head.getLong(0)
            val sub = in.head.getLong(1)
            val chain = in.head.getBoolean(2)
            (chain, new Iterator[Member] {
              def hasNext: Boolean = in.hasNext &&
                in.head.getLong(0) == cell && in.head.getLong(1) == sub
              def next(): Member = {
                val r = in.next(); (r.getLong(3), r.getSeq[Long](4), r.getLong(5))
              }
            })
          }
        }
        groups.flatMap { case (chain, members) =>
          if (chain) {
            // unsplittable near-identical group: sorted-adjacent pairs,
            // one row of lookahead — O(1) memory even for a degenerate
            // corpus-sized cell
            if (!members.hasNext) Iterator.empty
            else {
              var prev = members.next()
              members.flatMap { m => val p = prev; prev = m; scoreOpt(p, m) }
            }
          } else {
            // all-pairs group, ≤ maxCell members by construction (~2 MiB);
            // pairs generated lazily — nothing beyond the member array is
            // ever buffered
            val a = members.toArray
            a.indices.iterator.flatMap(i =>
              (i + 1 until a.length).iterator.flatMap(j => scoreOpt(a(i), a(j))))
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Phase A of the local pair kernels, shared by [[cellPairsLocalScored]]
    * and [[cellPairsLocalSpanning]]: [[cellPairsCapped]]'s exact
    * hot/subcell derivation (metadata-sized aggregates, broadcast), then
    * ONE shuffle of the assignment rows clustered by (cell, subcell) and
    * locally sorted — rows arrive as (cell, subcell, chain, id, q, nrm)
    * runs ready for a streaming per-group pass. The explicit partition
    * count exempts the CPU-dense pair stage from AQE size-coalescing
    * (same rationale as scoreCellsLocal).
    */
  private def cellGroupedSorted(m: DataFrame, maxCell: Int): DataFrame = {
    val hot = m.groupBy("cell").agg(count(lit(1)).as("csz"))
      .filter(col("csz") > maxCell)
    val normal = m.join(broadcast(hot.select("cell")), Seq("cell"), "left_anti")
      .select(col("cell"), lit(0L).as("subcell"), lit(false).as("chain"),
        col("id"), col("q"), col("nrm"))
    val bits = least(lit(MaxSplitBits),
      ceil(log(2.0, col("csz").cast("double") / maxCell))).cast("int")
    val subcell = (0 until MaxSplitBits).map { i =>
      when(lit(i) < col("__bits") &&
        try_element_at(col("q"), lit(1 + 4 * i)) >= 0L, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val hotRows = m.join(broadcast(hot), Seq("cell"))
      .withColumn("__bits", bits)
      .withColumn("subcell", subcell)
    val hotSub = hotRows.groupBy("cell", "subcell")
      .agg(count(lit(1)).as("ssz")).filter(col("ssz") > maxCell)
      .select(col("cell"), col("subcell"), lit(true).as("__chain"))
    val hotFlagged = hotRows.join(broadcast(hotSub), Seq("cell", "subcell"), "left")
      .select(col("cell"), col("subcell"),
        coalesce(col("__chain"), lit(false)).as("chain"),
        col("id"), col("q"), col("nrm"))
    normal.union(hotFlagged)
      .repartition(m.sparkSession.sparkContext.defaultParallelism * 4,
        col("cell"), col("subcell"))
      .sortWithinPartitions("cell", "subcell", "id")
  }

  /** SPANNING-FOREST variant of [[cellPairsLocalScored]] — the fused
    * pair→cluster path (SCALE.md r15: at 2M vectors the semantic pair
    * family is OUTPUT-bound — 1.1–1.7G τ-passing pairs materialized only
    * to be consumed by connected components). Per (cell, subcell) group
    * this emits a spanning forest of the group's τ-graph instead of every
    * τ-pair: a local union-find processes pairs in (i asc, j asc) order
    * and an edge is emitted ONLY when it joins two distinct local
    * components — ≤ |group|−1 rows per group, so the downstream edge
    * volume is O(corpus), never O(true pairs).
    *
    * Why the global components are EXACTLY preserved (DedupSpec pins it
    * differentially): within a group, a spanning forest generates the
    * same connectivity relation as the full τ-edge set; globally,
    * connectivity is the transitive closure of the UNION of per-group
    * relations, and replacing each member of a union by an equivalent
    * generator leaves the closure unchanged. Across groups the forests
    * may overlap or form cycles — [[Dedup.dedupClusters]] canonicalizes
    * and closes transitively, exactly as it does for the pair form.
    *
    * CPU also drops on dense groups: a pair whose endpoints are already
    * locally connected SKIPS its dot product entirely (two ~O(α)
    * find()s), so a fully-duplicate group costs O(g) dots + O(g²) finds
    * instead of O(g²) 64-dim dots. Chain groups (unsplittable
    * near-identical content) keep the O(1)-memory adjacent scan — their
    * τ-passing adjacent links are already forest-shaped.
    *
    * Output: (i, j) spanning edges, i < j within each group's emission.
    * No cosine column — the consumer is clustering, and dropping the
    * score is what makes skipping connected pairs' dots legal.
    */
  def cellPairsLocalSpanning(m: DataFrame, tau: Double,
                             maxCell: Int = DefaultMaxCell): DataFrame = {
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("i",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("j",
        org.apache.spark.sql.types.LongType, nullable = false)))
    cellGroupedSorted(m, maxCell)
      .mapPartitions { rows =>
        type Member = (Long, Seq[Long], Long) // (id, q, nrm)
        def clears(a: Member, b: Member): Boolean = {
          val qa = a._2; val qb = b._2
          var dot = 0L
          var i = 0
          val n = qa.length
          while (i < n) { dot += qa(i) * qb(i); i += 1 }
          dot.toDouble /
            (math.sqrt(a._3.toDouble) * math.sqrt(b._3.toDouble)) >= tau
        }
        val in = rows.buffered
        val groups = new Iterator[(Boolean, Iterator[Member])] {
          def hasNext: Boolean = in.hasNext
          def next(): (Boolean, Iterator[Member]) = {
            val cell = in.head.getLong(0)
            val sub = in.head.getLong(1)
            val chain = in.head.getBoolean(2)
            (chain, new Iterator[Member] {
              def hasNext: Boolean = in.hasNext &&
                in.head.getLong(0) == cell && in.head.getLong(1) == sub
              def next(): Member = {
                val r = in.next(); (r.getLong(3), r.getSeq[Long](4), r.getLong(5))
              }
            })
          }
        }
        groups.flatMap { case (chain, members) =>
          if (chain) {
            // adjacent τ-links are already ≤ g−1 edges — stream them
            if (!members.hasNext) Iterator.empty
            else {
              var prev = members.next()
              members.flatMap { mm =>
                val p = prev; prev = mm
                if (clears(p, mm)) Iterator.single(
                  org.apache.spark.sql.Row(p._1, mm._1))
                else Iterator.empty
              }
            }
          } else {
            // all-pairs group ≤ maxCell: local union-find, dot products
            // only for pairs that could still merge components
            val a = members.toArray
            val parent = Array.tabulate(a.length)(identity)
            def find(x: Int): Int = {
              var r = x
              while (parent(r) != r) r = parent(r)
              var c = x
              while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
              r
            }
            a.indices.iterator.flatMap(i =>
              (i + 1 until a.length).iterator.flatMap { j =>
                val ri = find(i); val rj = find(j)
                if (ri != rj && clears(a(i), a(j))) {
                  parent(rj) = ri
                  Iterator.single(org.apache.spark.sql.Row(a(i)._1, a(j)._1))
                } else Iterator.empty
              })
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Lloyd-training sample bound: past this corpus size, centroids train
    * on a deterministic md5-thinned sample instead of every vector.
    * Training cost is sample × k per round — with the linear-k deriveK
    * rule a full-corpus Lloyd would be N²/64 per round, and centroid
    * QUALITY converges with the sample, not the corpus (the standard
    * big-data k-means practice: train on a sample, assign everything).
    * Every verify fixture (≤ 2000 vectors) is under the bound, so the
    * sample IS the corpus there and the DuckDB oracles are untouched;
    * only stress-scale corpora thin.
    */
  val TrainSampleCap: Long = 4096L

  private def lloydLoop(q: DataFrame, k: Int, iters: Int,
                        dim: Int): Array[(Long, Array[Long])] = {
    val n = q.count()
    val tq =
      if (n <= TrainSampleCap) q
      else {
        // deterministic ~TrainSampleCap-row thinning: keep ids whose
        // 60-bit md5 lands in one residue class of the ceil(n/cap) step
        // (engine-reproducible, order-independent, no sort, no RNG)
        val step = (n + TrainSampleCap - 1) / TrainSampleCap
        val s = q.filter(pmod(graft.functions.Hashing.md5Long(
          col("id").cast("string")), lit(step)) === 0L)
        // hash variance can only starve seeds on pathological corpora;
        // fall back to the full corpus rather than train degenerate cells
        if (s.count() >= k) s else q
      }
    // orderBy(id).limit(k) honours the documented "k lowest-id vectors"
    // contract even when ids are sparse or offset (filter(id < k) would
    // silently seed fewer than k clusters on such corpora).
    val seeds: Array[(Long, Array[Long])] = tq.orderBy("id").limit(k).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    lloydIterate(tq, seeds, k, iters, dim)
  }

  /** Deterministic farthest-point seeding (the greedy max-min member of
    * the k-means++ family): seed 1 is the lowest-id vector; each next
    * seed is the vector maximizing the minimum squared distance to the
    * seeds chosen so far, ties to the lowest id. k-1 corpus scans, each
    * ONE `max_by` aggregate with the current seed set riding as a
    * broadcast literal — the driver holds only the seeds (config-scale).
    * Spread-out seeds remove the lowest-id seeding's failure mode (several
    * seeds landing in one natural cluster leaves other clusters split
    * across whichever centroid is least wrong — 2 Lloyd rounds cannot
    * undo it). Measured on the fixture in RECALL.md. At 100 TB, seed on a
    * uniform sample (seeding needs coverage, not every row); the scan
    * count is k-1 either way.
    *
    * Same contract as [[kmeansTrain]]; both run [[lloydIterate]], so a
    * caller can swap seeding without touching assignment/serving.
    */
  def kmeansTrainFarthest(em: DataFrame, idCol: String, embCol: String,
                          k: Int, iters: Int, dim: Int = 64): Array[(Long, Array[Long])] = {
    val q = CacheRegistry.persist(
      em.select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("q")))
    val seeds = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long])]
    seeds ++= q.orderBy("id").limit(1).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    require(seeds.nonEmpty, "k-means needs a non-empty corpus to seed")
    while (seeds.length < k) {
      val dists = seeds.toSeq.map { case (_, sv) =>
        aggregate(zip_with(col("q"), typedLit(sv.toSeq), (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, x) => acc + x)
      }
      // least() requires >= 2 args; the first round has a single seed
      val minDist = if (dists.length == 1) dists.head else least(dists: _*)
      // max over struct(d, -id): farthest first, ties to the LOWEST id —
      // deterministic because ids are unique
      val best = q
        .select(max_by(struct(col("id"), col("q")),
          struct(minDist.as("d"), (-col("id")).as("nid"))).as("b"))
        .head().getStruct(0)
      seeds += ((best.getLong(0), best.getSeq[Long](1).toArray))
    }
    val cents = lloydIterate(q, seeds.toArray, k, iters, dim)
    CacheRegistry.release(q)
    cents
  }

  private def lloydIterate(q: DataFrame, seeds: Array[(Long, Array[Long])],
                           k: Int, iters: Int,
                           dim: Int): Array[(Long, Array[Long])] = {
    var cents = seeds
    require(cents.length == k,
      s"k-means needs at least k=$k vectors to seed; corpus has ${cents.length}")
    require(cents.forall(_._2.length == dim),
      s"dim=$dim does not match the corpus vector length ${cents.head._2.length}")
    for (_ <- 1 to iters) {
      val sums = (1 to dim).map(d => sum(element_at(col("q"), d)).as(s"s$d"))
      val byCell = assignCells(q, cents).groupBy("cell")
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
        .map { r =>
          val n = r.getLong(1)
          (r.getLong(0),
            (1 to dim).map(d => Math.floorDiv(r.getLong(1 + d), n)).toArray)
        }.toMap
      cents = cents.map { case (cid, cv) => (cid, byCell.getOrElse(cid, cv)) }
    }
    cents
  }

  /** Sign-LSH bucket key: one bit per probed dimension (axis-aligned
    * random-hyperplane family), packed into a Long. Vectors in the same
    * bucket agree on the sign of every probed dimension. Comparing raw
    * floats to zero involves no arithmetic, so bucketing is exactly
    * reproducible in any engine.
    */
  def signBucket(emb: Column, dims: Seq[Int]): Column =
    dims.zipWithIndex.map { case (d, i) =>
      when(element_at(emb, d) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Bucketed ANN top-k: rank only within the query's sign bucket. The
    * bucket join replaces the all-pairs cross join — at scale each bucket
    * holds ~n/2^bits vectors, and the join shuffles on the bucket key.
    * Recall loss vs brute force is the standard LSH trade; increase bands
    * (multiple bucket columns) to recover recall.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, embCol: String, k: Int,
              dims: Seq[Int], dim: Int = 64): DataFrame = {
    val c = corpus.select(col(idCol).as("cand_id"),
      quantize(col(embCol)).as("qc"), signBucket(col(embCol), dims).as("bucket"))
      .withColumn("nc", sqrt(dotQ(col("qc"), col("qc")).cast("double")))
    val qs = queries.select(col(idCol).as("query_id"),
      quantize(col(embCol)).as("qq"), signBucket(col(embCol), dims).as("bucket"))
      .withColumn("nq", sqrt(dotQ(col("qq"), col("qq")).cast("double")))
    val scored = c.join(broadcast(qs), Seq("bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos",
        dotQ(col("qq"), col("qc")).cast("double") / (col("nq") * col("nc")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"), col("cand_id"),
        round(col("cos"), 4).as("cos"))
  }

  /** Multi-band sign-LSH top-k — the recall-recovery path [[lshTopK]]'s
    * scaladoc promises: a candidate survives if it shares ANY band's
    * bucket with the query, so miss probability compounds as
    * (1 - r)^bands instead of (1 - r). One scan per side computes every
    * band key (posexplode of the band array — no per-band re-scan), the
    * join shuffles on (band, bucket), and duplicate (query, cand) pairs
    * from multi-band collisions collapse in a partial-aggregated groupBy
    * before ranking. Candidate volume ≈ bands × n/2^planes per query —
    * still bucket-bounded, never all-pairs.
    */
  /** The 4×4 hyperplane banding shared by the q_sim_lsh_bands query, its
    * oracle, and the RECALL.md harness — one definition so the published
    * recall table always describes what the engine runs.
    */
  val DefaultLshBands: Seq[Seq[Int]] = Seq(
    Seq(1, 9, 17, 25), Seq(33, 41, 49, 57),
    Seq(2, 10, 18, 26), Seq(34, 42, 50, 58))

  def lshTopKBands(corpus: DataFrame, queries: DataFrame,
                   idCol: String, embCol: String, k: Int,
                   bands: Seq[Seq[Int]]): DataFrame = {
    def withBands(df: DataFrame, id: String, q: String, n: String) =
      df.select(col(idCol).as(id), quantize(col(embCol)).as(q),
          array(bands.map(d => signBucket(col(embCol), d)): _*).as("bb"))
        .withColumn(n, sqrt(dotQ(col(q), col(q)).cast("double")))
        .select(col(id), col(q), col(n),
          posexplode(col("bb")).as(Seq("band", "bucket")))
    val c = withBands(corpus, "cand_id", "qc", "nc")
    val qs = withBands(queries, "query_id", "qq", "nq")
    val scored = c.join(broadcast(qs), Seq("band", "bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos",
        dotQ(col("qq"), col("qc")).cast("double") / (col("nq") * col("nc")))
      .groupBy("query_id", "cand_id").agg(max(col("cos")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"), col("cand_id"),
        round(col("cos"), 4).as("cos"))
  }
}
