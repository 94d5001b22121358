package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Deduplication operators for training-data pipelines: exact hash dedup,
  * n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (the point of each variant):
  *  - exact: one shuffle on a 128-bit content hash — O(n) at any scale.
  *  - n-gram Jaccard: candidate pairs via shingle-equality join (blocking),
  *    never all-pairs; a `maxShingleDF` guard drops stop-shingles so one
  *    ubiquitous shingle cannot produce an O(df^2) join explosion at 100 TB.
  *  - MinHash+LSH: constant-size signature (16 hashes) per doc, band-bucket
  *    join (4 bands x 4 rows) so candidate generation is O(collisions), then
  *    exact-Jaccard verification of just the candidates.
  *  - SimHash: constant 60-bit sketch per doc; pair scan compares sketches
  *    with xor+bit_count (2 codegen'd ALU ops) instead of token sets.
  *
  * All hashing is md5-based ([[Hashing.md5Long]]) so the DuckDB oracle can
  * reproduce every signature bit-for-bit.
  *
  * Persist lifecycle: pair operators persist() shared subplans for the
  * duration of the returned plan's execution, registering each one with
  * [[CacheRegistry]]. After acting on a returned plan, call
  * `CacheRegistry.drain()` to unpersist them synchronously (the engine's
  * Bench/Verify/Profile harnesses do this after every query).
  */
object Dedup {

  /** Distinct word n-gram shingles per document: (idCol, shingle) rows.
    * Documents shorter than `n` tokens yield no rows.
    *
    * Typed flatMap, deliberately NOT an expression-tree explode: `Generate`
    * evaluates its generator expression in interpreted mode (no codegen),
    * and after CollapseProject inlines the tokenization into the shingle
    * lambda, `split` re-executes per shingle position — O(tokens^2) string
    * churn per document on the scan task (measured 10-100x blowup). The
    * compiled flatMap is one pass: split once, slide a window, dedup.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text == null) Iterator.empty
        else {
          val toks = text.split(" ", -1) // trailing-empty parity with string_split
          if (toks.length < n) Iterator.empty
          else {
            val seen = scala.collection.mutable.LinkedHashSet.empty[String]
            toks.sliding(n).foreach(w => seen += w.mkString(" "))
            seen.iterator.map(s => (id, s))
          }
        }
      }.toDF(idCol, "shingle")
  }

  /** Exact dedup: group identical content by md5, keep the minimum id as the
    * canonical survivor. Returns (content_hash, kept_id, n_copies).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_copies"))

  /** Exact n-gram Jaccard near-dup pairs (i < j) with similarity >= tau.
    * Candidates are pairs sharing >= 1 shingle — which makes the
    * stop-shingle guard load-bearing at scale: one shingle shared by d
    * documents contributes d^2/2 candidate rows, so a common phrase would
    * dominate the join (O(df^2) blowup). Two guard forms:
    *  - `maxShingleDF` > 0: absolute document-frequency cap;
    *  - `stopShingleFrac` > 0: corpus-relative cap
    *    `max(5, frac * n_docs)` derived declaratively (a one-row aggregate
    *    cross-joined in), so the same plan stays calibrated at any scale —
    *    no driver-side count, no constant to re-tune at 100 TB.
    * The resulting semantics are "Jaccard over non-stop shingles"; the
    * DuckDB oracles mirror the same cap rule.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, tau: Double = 0.5,
                   maxShingleDF: Int = 0,
                   stopShingleFrac: Double = 0.0): DataFrame = {
    val (inter, sizes) = pairIntersections(df, idCol, textCol, n,
      maxShingleDF, stopShingleFrac)
    inter
      .join(sizes.select(col(idCol).as("i"), col("sz").as("sz_i")), "i")
      .join(sizes.select(col(idCol).as("j"), col("sz").as("sz_j")), "j")
      .withColumn("jac",
        col("inter").cast("double") /
          (col("sz_i") + col("sz_j") - col("inter")).cast("double"))
      .filter(col("jac") >= tau)
      .select(col("i"), col("j"), col("inter"), round(col("jac"), 4).as("jac"))
  }

  /** Shared pair kernel: guarded shingle table -> per-doc sizes + unordered
    * pair intersection counts (i < j). The shingle table feeds three plan
    * branches (sizes + both join sides); persisted so tokenization/shingling
    * runs once, not per branch.
    */
  private def pairIntersections(df: DataFrame, idCol: String, textCol: String,
                                n: Int, maxShingleDF: Int,
                                stopShingleFrac: Double): (DataFrame, DataFrame) = {
    // Shingles are 64-bit-hashed BEFORE anything shuffles (the
    // substringRuns lesson, guide §2.3 "narrower types"): the ~20-60-byte
    // shingle string is the key of the guard aggregate, the guard join,
    // AND the pair self-join — as a string it means multi-hundred-MB hash
    // tables and 3-5× the exchange bytes at 10×+ data (the measured r6
    // cache-pressure blowup). Per-doc shingle sets stay distinct under
    // hashing barring a collision; a collision only changes a result if
    // two distinct shingles collide inside one pair's intersection (or
    // merge two guard counts across the cap boundary) — P ≈ 3e-7 per
    // corpus at 2.4M shingles, the same canonical hashed-shingle trade
    // substringRuns documents. The DuckDB oracles join raw shingle
    // strings; the sf fixtures are collision-free, so parity is exact
    // (re-proved at sf0.01 for every consumer of this kernel).
    val sh0 = CacheRegistry.persist(shingles(df, idCol, textCol, n)
      .select(col(idCol), xxhash64(col("shingle")).as("shingle")))
    val sh =
      if (maxShingleDF <= 0 && stopShingleFrac <= 0) sh0
      else {
        val dfCounts = sh0.groupBy("shingle").agg(count(lit(1)).as("df"))
        val rare =
          if (maxShingleDF > 0) dfCounts.filter(col("df") <= maxShingleDF)
          else {
            val cap = df.select(
              greatest(lit(5.0), count(lit(1)) * lit(stopShingleFrac)).as("__cap"))
            dfCounts.crossJoin(broadcast(cap)).filter(col("df") <= col("__cap"))
          }
        // Deliberately an INNER join on the near-full "rare" vocabulary,
        // NOT a broadcast anti-join on the tiny hot set (r16 measured the
        // "obvious" anti-join rewrite 1.5× WORSE at 10× data — jaccard
        // 14.0 → 21.5 s, back-to-back A/B): this join's output is hash-
        // partitioned by shingle, and the pair self-join below reuses that
        // partitioning for BOTH sides, so the guard's exchange is the pair
        // join's exchange. The anti-join form leaves sh unpartitioned and
        // the pair join re-exchanges it anyway — strictly more work.
        sh0.join(rare.select("shingle"), "shingle")
      }
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = sh.select(col(idCol).as("i"), col("shingle"))
    val b = sh.select(col(idCol).as("j"), col("shingle"))
    // join strategy is left to AQE (maxShuffledHashJoinLocalMapThreshold
    // in GraftSession): broadcast when the shingle table is small, hash
    // join from measured partition sizes past that — the SMJ's two full
    // sorts buy nothing here, the intersection re-shuffles by pair
    val inter = a.join(b, Seq("shingle")).filter(col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("inter"))
    (inter, sizes)
  }

  /** DIRECTED containment pairs: (contained, container) where
    * |shingles(contained) ∩ shingles(container)| / |shingles(contained)|
    * >= tau. The asymmetric cousin of [[jaccardPairs]] — catches a short
    * document living inside a much longer one (quote farms, boilerplate
    * wrappers, page-of-a-book extracts), which symmetric Jaccard misses
    * because the union in its denominator is dominated by the longer side.
    *
    * Same blocking/guard machinery as Jaccard (shingle-equality join, never
    * all-pairs; stop-shingle cap bounds per-shingle fanout at 100 TB). The
    * unordered intersection is computed ONCE (i < j) and both directions are
    * scored from it — a union of two projections of the same aggregate, not
    * a second join.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, tau: Double = 0.9,
                       maxShingleDF: Int = 0,
                       stopShingleFrac: Double = 0.0): DataFrame = {
    val (inter0, sizes) = pairIntersections(df, idCol, textCol, n,
      maxShingleDF, stopShingleFrac)
    // NOT persisted (r16 measured): the two union branches below are
    // identical up to projection, so Spark's ReusedExchange already
    // deduplicates the expensive intersection shuffle between them;
    // persisting `both` instead ADDED cache materialization + columnar
    // conversion for a 1.6× slowdown (6.2 vs 3.9 s warm at sf0.1).
    val both = inter0
      .join(sizes.select(col(idCol).as("i"), col("sz").as("sz_i")), "i")
      .join(sizes.select(col(idCol).as("j"), col("sz").as("sz_j")), "j")
    val dir = both.select(col("i").as("contained"), col("j").as("container"),
        col("inter"), (col("inter").cast("double") / col("sz_i").cast("double")).as("cont"))
      .union(both.select(col("j"), col("i"),
        col("inter"), col("inter").cast("double") / col("sz_j").cast("double")))
    dir.filter(col("cont") >= tau)
      .select(col("contained"), col("container"), col("inter"),
        round(col("cont"), 4).as("cont"))
  }

  /** MinHash signature: `numHashes` columns h0..h{k-1}, each the min of an
    * affine permutation of the shingle's (single) md5 hash — see
    * [[Hashing.minhashPerm]].
    */
  def minhashSignatures(sh: DataFrame, idCol: String,
                        numHashes: Int = 16): DataFrame = {
    // Digest each shingle ONCE in a pre-projection; the k permutations are
    // then 3 integer ops each inside the aggregate.
    val hashed = sh.select(col(idCol),
      (Hashing.md5Long(col("shingle")) % lit(Hashing.MinhashP)).as("hx"))
    def perm(s: Int): Column =
      (lit(Hashing.minhashA(s)) * col("hx") + lit(Hashing.minhashB(s))) % lit(Hashing.MinhashP)
    hashed.groupBy(col(idCol))
      .agg(min(perm(0)).as("h0"),
        (1 until numHashes).map(s => min(perm(s)).as(s"h$s")): _*)
  }

  /** Scan-side signature computation: one typed pass per document computes
    * all `numHashes` minima directly — no shingle explosion, no 16-aggregate
    * shuffle; only (id, 16 longs) rows leave the scan stage. At 100 TB this
    * is the difference between shuffling the corpus' shingles and shuffling
    * a constant 136 bytes per document. Hash math is bit-identical to
    * [[Hashing.minhashPerm]] (md5 hex prefix -> 60-bit int -> affine mod p),
    * pinned by DedupSpec.
    */
  def minhashSignaturesDirect(df: DataFrame, idCol: String, textCol: String,
                              n: Int = 3, numHashes: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val p = Hashing.MinhashP
    val as = (0 until numHashes).map(Hashing.minhashA).toArray
    val bs = (0 until numHashes).map(Hashing.minhashB).toArray
    val k = numHashes
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val toks = if (text == null) Array.empty[String] else text.split(' ')
          if (toks.length < n) Iterator.empty
          else {
            val mins = Array.fill(k)(Long.MaxValue)
            toks.sliding(n).foreach { w =>
              val digest = md.digest(w.mkString(" ").getBytes("UTF-8"))
              // first 15 hex chars == top 60 bits of the first 8 bytes
              // minus the low nibble of byte 7 (hex char 16)
              var hx = 0L
              var i = 0
              while (i < 8) { hx = (hx << 8) | (digest(i) & 0xFFL); i += 1 }
              hx = hx >>> 4 // keep 60 bits = 15 hex chars
              hx = hx % p
              var s = 0
              while (s < k) {
                val h = (as(s) * hx + bs(s)) % p
                if (h < mins(s)) mins(s) = h
                s += 1
              }
            }
            Iterator.single((id, mins.toSeq))
          }
        }
      }
      .select(col("_1").as(idCol) +:
        (0 until k).map(s => element_at(col("_2"), s + 1).as(s"h$s")): _*)
  }

  /** Default LSH bucket cap: a band bucket holding more members than this
    * is pathological (boilerplate, templated spam, an adversarial corpus —
    * near-identical signatures), and its all-pairs expansion would be the
    * one place the band design goes quadratic: candidates from one bucket
    * are O(size²), so a single 10M-doc bucket at 100 TB would emit 50T
    * pairs. Above the cap the bucket contributes a sorted-adjacent CHAIN
    * (id₁-id₂, id₂-id₃, …) instead — O(size) candidates. Bounded worst
    * case: ≤ bands × (cap × n_buckets + chain lengths) ≈ O(corpus × cap).
    *
    * Semantics of the trade, stated precisely: chained candidates still
    * pass the exact-Jaccard verify, so when a hot bucket holds genuinely
    * near-identical content (the overwhelmingly common cause) adjacent
    * pairs clear τ and [[dedupClusters]] merges the whole group via
    * transitivity. A hot bucket of merely signature-colliding docs can
    * lose non-adjacent true pairs (i–k surviving τ while i–j and j–k do
    * not) — that recall trade is the price of the bound and is why the
    * cap defaults high. Fixture buckets sit far below 4096, so the
    * all-pairs DuckDB oracles still pin the capped default exactly.
    */
  val DefaultMaxBucket: Int = 4096

  /** LSH candidate pairs from banded minhash signatures: docs whose
    * signature agrees on ALL rows of at least one band. Output: (i, j).
    * Buckets larger than `maxBucket` are chain-linked, not all-paired —
    * see [[DefaultMaxBucket]] for the bound.
    */
  def lshCandidates(sig: DataFrame, idCol: String,
                    bands: Int = 4, rowsPerBand: Int = 4,
                    maxBucket: Int = DefaultMaxBucket): DataFrame =
    lshCandidatesImpl(sig, idCol, bands, rowsPerBand, rightFilter = lit(true),
      maxBucket = maxBucket)

  private def lshCandidatesImpl(sig: DataFrame, idCol: String,
                                bands: Int, rowsPerBand: Int,
                                rightFilter: org.apache.spark.sql.Column,
                                maxBucket: Int = Int.MaxValue): DataFrame = {
    val bandKeys = array((0 until bands).map { b =>
      concat_ws(",", (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*)
    }: _*)
    val exploded = sig.select(col(idCol), posexplode(bandKeys).as(Seq("band", "key")))
    if (maxBucket == Int.MaxValue) {
      val l = exploded.select(col(idCol).as("i"), col("band"), col("key"))
      val r = exploded.filter(rightFilter)
        .select(col(idCol).as("j"), col("band"), col("key"))
      l.join(r, Seq("band", "key")).filter(col("i") < col("j"))
        .select("i", "j").distinct()
    } else {
      // the hot-key set is tiny BY DEFINITION (each key exceeds the cap,
      // so there can be at most corpus/cap of them) — aggregate it and
      // broadcast, so the common no-hot-bucket case costs one extra agg
      // over the (already persisted upstream) signature scan instead of
      // caching and window-scanning the full exploded table
      val hotKeys = exploded.groupBy("band", "key")
        .agg(count(lit(1)).as("bsz")).filter(col("bsz") > maxBucket)
        .select("band", "key")
      val normal = exploded.join(broadcast(hotKeys), Seq("band", "key"), "left_anti")
      val l = normal.select(col(idCol).as("i"), col("band"), col("key"))
      val r = normal.filter(rightFilter)
        .select(col(idCol).as("j"), col("band"), col("key"))
      val paired = l.join(r, Seq("band", "key")).filter(col("i") < col("j"))
        .select("i", "j")
      // chain pairs link each FILTER-PASSING member to its predecessor
      // (any member), preserving the rightFilter contract on the j side
      // exactly like the normal path
      val wo = org.apache.spark.sql.expressions.Window
        .partitionBy("band", "key").orderBy(col(idCol))
      val chained = exploded.join(broadcast(hotKeys), Seq("band", "key"), "left_semi")
        .withColumn("__nn_prev", lag(col(idCol), 1).over(wo))
        .filter(rightFilter && col("__nn_prev").isNotNull)
        .select(col("__nn_prev").as("i"), col(idCol).as("j"))
      paired.union(chained).distinct()
    }
  }

  /** Full MinHash+LSH near-dup pipeline: shingle -> sign -> band-join ->
    * exact-Jaccard verify of candidates only. Returns (i, j, jac >= tau).
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, numHashes: Int = 16, bands: Int = 4,
                      tau: Double = 0.5,
                      maxBucket: Int = DefaultMaxBucket): DataFrame =
    minhashLshPairsImpl(df, idCol, textCol, n, numHashes, bands, tau,
      rightFilter = lit(true), maxBucket = maxBucket)

  /** Incremental MinHash+LSH: near-dup pairs whose NEWER side (`j`) is in
    * the delta — doc ids >= `deltaFrom`, ids being arrival-ordered. The
    * band join keeps the whole corpus on the left but only DELTA
    * signatures on the right, so candidate volume is O(corpus x delta)
    * and verify work is delta-bounded, never the O(corpus^2) of a full
    * re-dedup. This is the production shape for deduping a new crawl
    * batch against an already-indexed corpus: a deployment persists the
    * corpus signatures and scans only the delta; recomputing signatures
    * from the shared testdata table is the fixture stand-in, the JOIN
    * topology is the real thing. Old-old pairs are (by construction)
    * absent from the result; delta-delta and corpus-delta pairs match
    * the full pipeline's exactly.
    */
  def minhashLshPairsDelta(df: DataFrame, idCol: String, textCol: String,
                           deltaFrom: Long, n: Int = 3, numHashes: Int = 16,
                           bands: Int = 4, tau: Double = 0.5,
                           maxBucket: Int = DefaultMaxBucket): DataFrame =
    minhashLshPairsImpl(df, idCol, textCol, n, numHashes, bands, tau,
      rightFilter = col(idCol) >= deltaFrom, maxBucket = maxBucket)

  private def minhashLshPairsImpl(df: DataFrame, idCol: String, textCol: String,
                                  n: Int, numHashes: Int, bands: Int,
                                  tau: Double,
                                  rightFilter: org.apache.spark.sql.Column,
                                  maxBucket: Int = Int.MaxValue): DataFrame = {
    // Signatures are computed scan-side in one typed pass (no shingle
    // shuffle); the shingle table is only needed to verify candidates —
    // and the verify join never reads the shingle TEXT, so the table is
    // 64-bit-hashed before it shuffles (see pairIntersections: same
    // bytes/hash-table win, same collision trade, oracle parity
    // re-proved at sf0.01 for every LSH consumer).
    val sh = CacheRegistry.persist(shingles(df, idCol, textCol, n)
      .select(col(idCol), xxhash64(col("shingle")).as("shingle")))
    val sig = CacheRegistry.persist(
      minhashSignaturesDirect(df, idCol, textCol, n, numHashes))
    val cands = lshCandidatesImpl(sig, idCol, bands, numHashes / bands,
      rightFilter, maxBucket)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    // Verify ONLY the candidates: expand each candidate pair with the left
    // doc's shingles, then probe the right doc's set — O(candidates x set)
    // work instead of re-materializing the full all-pairs shingle join.
    val a = sh.select(col(idCol).as("i"), col("shingle"))
    val b = sh.select(col(idCol).as("j"), col("shingle"))
    val interCnt = cands.join(a, "i").join(b, Seq("j", "shingle"))
      .groupBy("i", "j").agg(count(lit(1)).as("inter"))
    interCnt
      .join(sizes.select(col(idCol).as("i"), col("sz").as("sz_i")), "i")
      .join(sizes.select(col(idCol).as("j"), col("sz").as("sz_j")), "j")
      .withColumn("jac",
        col("inter").cast("double") /
          (col("sz_i") + col("sz_j") - col("inter")).cast("double"))
      .filter(col("jac") >= tau)
      .select(col("i"), col("j"), round(col("jac"), 4).as("jac"))
  }

  /** Transitive-closure dedup clustering: near-dup pairs induce connected
    * components, and every member doc resolves to its component's minimum
    * id — the canonical survivor. Production dedup keeps ONE doc per
    * cluster; dropping `j` of every pair over-drops on chains (a~b, b~c
    * removes b AND c even when a~c is below tau).
    *
    * Alternating LARGE-STAR / SMALL-STAR rounds (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014): the edge
    * set itself contracts toward per-component stars rooted at the min
    * id. Large-star re-links every strictly-larger neighbor of a node to
    * its neighborhood min; small-star re-links the ≤ neighbors (and the
    * node) to it. Both preserve connectivity exactly; the fixpoint is one
    * star per component. Proven O(log² n) rounds w.h.p. and ~5-14 in
    * practice on every shape tried — including ADVERSARIAL id layouts.
    *
    * WHY not min-label propagation + pointer jumping (the pre-r14 form):
    * its label chains follow strictly-DECREASING id walks along graph
    * edges, which die at local id minima — on a path with randomly
    * permuted ids the jump buys nothing and convergence is O(diameter)
    * (simulated: a 10k-node permuted path exceeds 3000 rounds even with
    * full per-round chain compression; the r14 100× kNN graph blew a
    * 30-round cap the same way). Star operations move EDGES, not labels,
    * so compression is geometric regardless of id placement.
    *
    * The loop-scaling discipline (each item measured, not theoretical):
    *  - Every star output is rebased with an EAGER `localCheckpoint`
    *    (flat lineage, stats reset — see the round body) so Catalyst
    *    never re-optimizes a compounding tree and size estimates never
    *    overflow BigInteger (both failure modes measured in earlier
    *    rounds).
    *  - Live cache inside the loop is O(1) tables; each round's inputs
    *    are released as soon as its outputs materialize.
    *  - Round outputs are ≤ the input edge count — star operations never
    *    grow the edge set beyond one edge per (node, root) pair.
    *
    * All data movement is distributed joins/aggregates on the edge list;
    * the driver orchestrates rounds and reads two counts per round.
    * Returns (id, cluster) for every doc incident to >= 1 pair.
    */
  /** Rounds the last [[dedupClusters]] call ON THIS THREAD took to converge
    * (diagnostic hook for the convergence-rate specs and the ScaleStress
    * readings). ThreadLocal, not a shared atomic: concurrent dedupClusters
    * calls in one JVM must not overwrite each other's diagnostic. */
  private[graft] val lastRounds = new ThreadLocal[Int] {
    override def initialValue: Int = 0
  }

  /** Default round cap 20: large-star/small-star converges in ~5 rounds on
    * LSH-shaped pair graphs, but the measured worst case is 17 rounds on a
    * 65k-node monotone PATH (DedupSpec pins ≤18) — 20 leaves headroom for
    * longer chains, and post-convergence rounds are never paid (the loop
    * exits at the fixpoint, the cap only bounds divergence). */
  def dedupClusters(pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    // persist the pair list BEFORE the fan-out below: the node universe
    // and the canonical edge set both reference the same (potentially
    // expensive) pair plan
    val p = CacheRegistry.persist(
      pairs.select(col("i").cast("long"), col("j").cast("long")))
    // Materialize an edge table AND read (count, 128-bit set fingerprint)
    // in ONE job (r17, guide §1.2 "don't compute things you throw away" /
    // §2.4 "remove shuffles outright"): the pre-r17 round ran an eager
    // localCheckpoint, a separate count job, and — whenever counts matched
    // — an exceptAll set-difference join (two exchanges over both edge
    // sets) just to test the fixpoint. The lazy checkpoint's FIRST action
    // is the fingerprint aggregate, so materialization, the count, and
    // the set identity all come out of a single pass; the exceptAll join
    // is gone at every scale. Set equality via fingerprint: both sets are
    // DISTINCT canonical (a < b) edge lists, so equality ⇔ equal counts +
    // equal order-insensitive content hash. Two 64-bit xxhash64 folds,
    // XOR-reduced, give a 128-bit fingerprint. The second fold hashes a
    // leading constant first, which makes it the same row hash under a
    // different seed — independent of the first. (Swapping the column
    // order instead gives two folds of one seed over the same values,
    // which are not independent.) A false "converged" then needs both
    // folds to collide at equal counts — P ≈ 2⁻¹²⁸ per round, far below
    // any hardware-error floor (DedupSpec pins fingerprint convergence ==
    // exceptAll convergence round-for-round on path/clique/random/
    // adversarial shapes).
    def materialize(df: DataFrame): (DataFrame, Long, Long, Long) = {
      val ck = df.localCheckpoint(false) // lazy: first action materializes
      val r = ck.agg(count(lit(1)),
        expr("bit_xor(xxhash64(a, b))"),
        expr("bit_xor(xxhash64(1L, a, b))")).head()
      val n = r.getLong(0)
      val f1 = if (r.isNullAt(1)) 0L else r.getLong(1)
      val f2 = if (r.isNullAt(2)) 0L else r.getLong(2)
      // rebase through the checkpointed RDD: LogicalRDD from
      // createDataFrame carries NO inherited stats, so Catalyst never
      // re-optimizes a compounding tree and size estimates never overflow
      // (both failure modes measured in earlier rounds)
      (ck.sparkSession.createDataFrame(ck.rdd, ck.schema), n, f1, f2)
    }
    // canonical distinct undirected edges (a < b), self-loops dropped;
    // this first action also materializes p's cache for the self-loop
    // probe below
    var (edges, nEdges, fpA, fpB) = materialize(
      p.filter(col("i") =!= col("j"))
        .select(least(col("i"), col("j")).as("a"),
          greatest(col("i"), col("j")).as("b"))
        .distinct())
    // the output contract is one row per doc incident to a pair — a doc
    // whose ONLY pairs are self-loops never enters the star iteration, so
    // it needs a universe backfill. One count over the (now cached) pair
    // table — NOT isEmpty, whose executeTake escalation runs up to
    // log(partitions) sequential jobs when no self-loop exists (the
    // common case). Every production pair source emits i < j, so the
    // fast path skips the extra join and keeps the consumer plan
    // broadcast-only (PlanShapeSpec pins it).
    val hasSelf = p.filter(col("i") === col("j")).count() > 0
    val universe =
      if (!hasSelf) null
      else p.select(col("i").as("id"))
        .union(p.select(col("j").as("id"))).distinct()
        .localCheckpoint(true)
    CacheRegistry.release(p)
    var converged = nEdges == 0
    var round = 0
    while (!converged && round < maxRounds) {
      // LARGE-STAR: every strictly-larger neighbor of u re-links to u's
      // neighborhood min m = min(u, N(u)); m <= u < v keeps (m, v)
      // canonical. Checkpointed: the small-star below reads it twice
      // (the symmetric union), and the REBASE (createDataFrame over the
      // checkpointed RDD) resets plan-size estimates each round —
      // compounding estimates overflowed BigInteger at round 16+ in the
      // r8 form of this loop, and compounding lineage made Catalyst
      // re-optimize an O(rounds × pipeline) tree (5-60 s/round measured).
      val sym = edges.select(col("a").as("u"), col("b").as("v"))
        .union(edges.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy("u").agg(least(col("u"), min(col("v"))).as("m"))
      // no distinct here: duplicate (m, v) rows cannot change small-star's
      // neighborhood MIN, and its own distinct canonicalizes the round
      // output — dropping it saves one shuffle per round
      val large0 = sym.join(mins, "u")
        .where(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("m").as("a"), col("v").as("b"))
        .localCheckpoint(true)
      val large = large0.sparkSession.createDataFrame(large0.rdd, large0.schema)
      // SMALL-STAR: every <= neighbor of u (and u itself) re-links to the
      // neighborhood min; m <= v for every emitted (m, v)
      val sym2 = large.select(col("a").as("u"), col("b").as("v"))
        .union(large.select(col("b").as("u"), col("a").as("v")))
      val mins2 = sym2.groupBy("u").agg(least(col("u"), min(col("v"))).as("m"))
      val small0 = sym2.join(mins2, "u")
        .where(col("v") < col("u"))
        .select(col("v"), col("m"))
        .union(mins2.select(col("u").as("v"), col("m")))
        .where(col("v") =!= col("m"))
        .select(col("m").as("a"), col("v").as("b")).distinct()
      // fixpoint = the round was an edge-set no-op; materialization, the
      // count, and the 128-bit set fingerprint ride ONE job (see
      // materialize above) — the former separate count + exceptAll
      // convergence probe is folded away
      val (next, nNext, gA, gB) = materialize(small0)
      converged = nNext == nEdges && gA == fpA && gB == fpB
      edges = next
      nEdges = nNext
      fpA = gA
      fpB = gB
      round += 1
    }
    lastRounds.set(round)
    // a silently unconverged result would mislabel chain tails as separate
    // clusters (and hash-mismatch any exact oracle) — refuse instead
    if (!converged)
      throw new IllegalStateException(
        s"dedupClusters did not converge in $maxRounds rounds — " +
          "large-star/small-star needs O(log² n) w.h.p. (~5-14 observed " +
          "on every shape incl. adversarial id layouts); raise maxRounds")
    // fixpoint edges ARE the labels: one star per component, root = min
    // id, members point at it
    val labels = edges.select(col("b").as("id"), col("a").as("cluster"))
      .union(edges.select(col("a").as("id"), col("a").as("cluster")).distinct())
    if (universe == null) labels
    else universe.join(labels, Seq("id"), "left") // self-loop-only docs
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** Per-document 60-bit SimHash over term frequencies: bit b of the sketch
    * is set iff sum over tokens of (tf if bit b of md5Long(token) else -tf)
    * is positive.
    *
    * ONE shuffle-free typed pass (r16): the sketch is a pure per-document
    * function and a document's tokens already live in one row, so the
    * former explode → groupBy(id, token) → 60-column bit-sum aggregate
    * (two token-level exchanges over the corpus) was pure shuffle waste —
    * at 100 TB the sketch must leave the scan stage as 8 bytes/doc, like
    * [[minhashSignaturesDirect]]. Hash math is bit-identical to
    * [[Hashing.md5Long]] (md5 hex prefix = top 60 bits of the first 8
    * digest bytes — the minhashSignaturesDirect equivalence, pinned by
    * DedupSpec); tf is counted in a local map with `split(" ", -1)`
    * trailing-empty parity; null-text docs drop exactly as explode(null)
    * dropped them.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 60): DataFrame = {
    require(bits <= 60, s"bits=$bits exceeds the 60-bit md5Long prefix")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else {
            val tf = new java.util.HashMap[String, Long]()
            text.split(" ", -1).foreach(t => tf.merge(t, 1L, _ + _))
            val acc = new Array[Long](bits)
            val e = tf.entrySet().iterator()
            while (e.hasNext) {
              val kv = e.next()
              val digest = md.digest(kv.getKey.getBytes("UTF-8"))
              var h = 0L
              var i = 0
              while (i < 8) { h = (h << 8) | (digest(i) & 0xFFL); i += 1 }
              h = h >>> 4 // top 60 bits == md5 hex prefix of 15 chars
              val n = kv.getValue
              var b = 0
              while (b < bits) {
                acc(b) += (if (((h >>> b) & 1L) == 1L) n else -n)
                b += 1
              }
            }
            var sketch = 0L
            var b = 0
            while (b < bits) {
              if (acc(b) > 0) sketch |= (1L << b)
              b += 1
            }
            Iterator.single((id, sketch))
          }
        }
      }.toDF(idCol, "simhash")
  }

  /** SimHash near-dup pairs (i < j) with Hamming distance <= maxDist —
    * EXACT, with no cross join: the sketch is sliced into `maxDist + 1`
    * contiguous bit bands, so two sketches within maxDist bit flips must
    * agree exactly on at least one band (pigeonhole). Candidates come from
    * a shuffled equi-join on (band, slice value); the xor+bit_count verify
    * then keeps true hits only. At scale the join cost is the collision
    * volume per ~9-bit slice bucket instead of n^2/2 — and tightening
    * maxDist widens the slices, shrinking buckets further.
    */
  def simhashPairs(sketches: DataFrame, idCol: String,
                   maxDist: Int = 6, bits: Int = 60): DataFrame = {
    val bands = maxDist + 1
    val slices = array((0 until bands).map { b =>
      val lo = (bits * b) / bands
      val hi = (bits * (b + 1)) / bands // slice = sketch bits [lo, hi)
      shiftrightunsigned(col("simhash"), lo).bitwiseAND(lit((1L << (hi - lo)) - 1))
    }: _*)
    val sliced = sketches.select(col(idCol), col("simhash"),
      posexplode(slices).as(Seq("band", "slice")))
    val l = sliced.select(col(idCol).as("i"), col("simhash").as("sh_i"),
      col("band"), col("slice"))
    val r = sliced.select(col(idCol).as("j"), col("simhash").as("sh_j"),
      col("band"), col("slice"))
    l.join(r, Seq("band", "slice")).filter(col("i") < col("j"))
      .select("i", "j", "sh_i", "sh_j").distinct() // pairs matching >1 band
      .withColumn("dist", bit_count(col("sh_i").bitwiseXOR(col("sh_j"))).cast("long"))
      .filter(col("dist") <= maxDist)
      .select("i", "j", "dist")
  }

  /** Positional n-grams: (id, pos, gram) with pos 0-based — the shingle
    * variant that keeps WHERE a gram occurs (exact-substring dedup needs
    * positions to chain matches into runs; [[shingles]] dedupes them away).
    */
  def gramsWithPos(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text == null) Iterator.empty
        else {
          val toks = text.split(" ", -1)
          if (toks.length < n) Iterator.empty
          else toks.sliding(n).zipWithIndex.map { case (w, i) =>
            (id, i.toLong, w.mkString(" "))
          }
        }
      }.toDF(idCol, "pos", "gram")
  }

  /** Exact-substring duplicate detection (the "Deduplicating Training Data
    * Makes Language Models Better" family): document pairs sharing a
    * VERBATIM run of >= `minRun` tokens, with the length of their longest
    * shared run. Declarative formulation of the suffix-array method:
    *
    *  1. positional `gramTokens`-grams, blocked by gram equality (a shared
    *     run of length >= gramTokens implies a shared gram — the
    *     suffix-array seed match);
    *  2. corpus-relative stop-gram cap (df > frac·corpus drops the gram)
    *     kills the O(df²) hot-gram blowup exactly as in [[jaccardPairs]];
    *  3. seed matches chain into runs on the DIAGONAL (posA - posB): k
    *     consecutive seeds = a shared run of gramTokens + k - 1 tokens.
    *     Seeds shuffle ONCE, keyed by (i, j), with (diagonal, posA)
    *     bit-packed into a single Long; the per-pair typed pass sorts its
    *     own seed array (a primitive Long sort — packed order ==
    *     (diag, pa) order) and scans for the longest chain of
    *     consecutive packed values. Per-group state is the pair's own
    *     seed list — O(min(|doc_i|, |doc_j|)) per pair, never
    *     corpus-wide, and there is no sort-based window shuffle anywhere
    *     (the r5 scale watch item: the rownum-window formulation ran
    *     6.9× at 10× data; the pressure was global-window sort +
    *     re-shuffle for the per-pair max, both gone here).
    *
    * The cap can split a run that contains a corpus-hot gram (the blind
    * spot of any seeded method once seeds are capped); the oracle applies
    * the identical cap, so parity stays exact.
    *
    * Returns (i, j, max_run) with i < j, max_run >= minRun.
    */
  def substringRuns(df: DataFrame, idCol: String, textCol: String,
                    gramTokens: Int = 8, minRun: Int = 12,
                    stopGramFrac: Double = 0.05): DataFrame = {
    require(minRun >= gramTokens, s"minRun $minRun must be >= gramTokens $gramTokens")
    val spark = df.sparkSession
    import spark.implicits._
    // grams feeds the hot-gram aggregate AND both join sides; kept feeds
    // both sides — persist both or the tokenize+n-gram flatMap re-runs
    // over the corpus up to four times (CacheRegistry so the bench drains
    // the storage between queries).
    //
    // Grams are 64-bit-hashed BEFORE anything shuffles: a ~60-byte gram
    // string as agg/join key means multi-hundred-MB hash tables at 10×
    // data — the measured whole-pipeline 7× blowup was cache pressure, not
    // algorithmic. 8-byte keys restore it. A hash collision could merge
    // two grams (2.4M grams → P ≈ 3e-7 per corpus; ~1e13 grams at 100 TB →
    // thousands of collisions), but a collision only changes the RESULT if
    // it lands chain-adjacent to a real run on the same (pair, diagonal) —
    // compounding improbabilities; the canonical hashed-shingle trade
    // every production dedup makes.
    val grams = CacheRegistry.persist(
      gramsWithPos(df, idCol, textCol, gramTokens)
        .select(col(idCol), col("pos"), xxhash64(col("gram")).as("gram")))
    val nDocs = df.select(col(idCol)).distinct().count()
    val cap = math.max(2L, (nDocs * stopGramFrac).toLong)
    // hot-gram detection in two EXACT phases: total occurrences first — a
    // plain count whose map-side partial collapses each partition to its
    // distinct grams, so the exchange carries ~|vocab| rows instead of
    // every (id, pos, gram) row — and df(gram) <= occ(gram), so only
    // grams with occ > cap can possibly exceed the distinct-DOC cap. The
    // exact countDistinct (two full-width exchanges when run over the
    // corpus) then runs over the hot-candidate slice only.
    val hotCand = grams.groupBy("gram")
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > cap)
      .select("gram")
    val hot = grams.join(broadcast(hotCand), Seq("gram"), "left_semi")
      .groupBy("gram")
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") > cap)
      .select("gram")
    val kept = CacheRegistry.persist(
      grams.join(broadcast(hot), Seq("gram"), "left_anti"))
    val l = kept.select(col("gram"), col(idCol).as("i"), col("pos").as("pa"))
    val r = kept.select(col("gram"), col(idCol).as("j"), col("pos").as("pb"))
    // (i, pa) and (j, pb) are unique per side, so seed rows are already
    // distinct. Seeds shuffle ONCE, keyed by pair; per-pair state is the
    // pair's own seed list (bounded by |doc_i|·|doc_j|, in practice ~run
    // length), sorted group-locally by (diag, pa) and scanned for the
    // longest consecutive chain. No window sort, no re-shuffle for the
    // per-pair max — the group scan folds both.
    // (diag, pa) packs into one Long — diag ∈ (−2^30, 2^30) and pa < 2^30
    // hold for any document under a billion tokens, and the packed value
    // stays ≤ 2^62 — so the group sort is a primitive Long sort (no tuple
    // boxing) and sorted order == (diag, pa) order; consecutive seeds on a
    // diagonal differ by exactly 1 in the packed key (pa + 1 < 2^31 never
    // carries into the diagonal field).
    // SHUFFLE_HASH, measured at both scales (1.15/6.5 s hinted vs
    // 1.33/7.9 s AQE-selected): the hashed gram table is ~60 MB at sf0.1
    // — past broadcast's sweet spot (32 threads each deserialize the
    // whole build side) but trivially partition-hashable; the seed
    // stream re-shuffles by pair right after, so SMJ's sorts buy nothing.
    l.join(r.hint("SHUFFLE_HASH"), Seq("gram")).filter(col("i") < col("j"))
      .select(col("i"), col("j"),
        (((col("pa") - col("pb")) + lit(1L << 30)) * lit(1L << 31) +
          col("pa")).as("dp"))
      .as[(Long, Long, Long)]
      .groupByKey(t => (t._1, t._2))
      .mapGroups { (key: (Long, Long), it: Iterator[(Long, Long, Long)]) =>
        val seeds = it.map(_._3).toArray
        java.util.Arrays.sort(seeds)
        var best = 0L; var cur = 0L; var prev = Long.MinValue
        seeds.foreach { dp =>
          cur = if (dp == prev + 1) cur + 1 else 1
          prev = dp
          if (cur > best) best = cur
        }
        (key._1, key._2, best + (gramTokens - 1))
      }
      .toDF("i", "j", "max_run")
      .filter(col("max_run") >= minRun)
  }

  /** INTRA-document segment dedup: repeated fixed-width segments within
    * one document keep only their first occurrence (the self-repetition
    * pathology of web text — q_txt_repetition MEASURES it, this APPLIES
    * the fix). Pure per-row typed map: no shuffle at any scale — the
    * deliberate contrast to [[boilerplateScrub]]'s corpus-wide df count.
    * Returns (idCol, scrubbed, n_kept_tokens, n_dropped_segs) for every
    * document.
    */
  def selfDedup(df: DataFrame, idCol: String, textCol: String,
                segTokens: Int): DataFrame = {
    require(segTokens > 0, s"segTokens $segTokens must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        // null-text docs drop out entirely — the same contract (and the
        // same oracle shape) as boilerplateScrub
        if (text == null) Iterator.empty
        else {
          val segs = text.split(" ", -1).grouped(segTokens).toVector
          val seen = scala.collection.mutable.HashSet.empty[String]
          val kept = Vector.newBuilder[Array[String]]
          var dropped = 0L
          segs.foreach { s =>
            if (seen.add(s.mkString(" "))) kept += s else dropped += 1
          }
          val ks = kept.result()
          Iterator.single((id, ks.map(_.mkString(" ")).mkString(" "),
            ks.map(_.length.toLong).sum, dropped))
        }
      }.toDF(idCol, "scrubbed", "n_kept_tokens", "n_dropped_segs")
  }

  /** Corpus-level boilerplate scrub — the C4/RefinedWeb "line dedup" shape
    * (drop any line occurring verbatim in many documents), adapted to a
    * corpus without line boundaries: documents are segmented into fixed
    * `segTokens`-token windows (a deterministic segmenter), segment
    * document-frequency is counted corpus-wide, and segments present in
    * >= `dfThreshold` distinct documents are removed from every document
    * before the text is reassembled in order.
    *
    * Two O(n) shuffles, no pair work: (1) segment -> distinct-doc count
    * (map-side partial; the hot set that survives `dfThreshold` is bounded
    * by totalSegments/dfThreshold, broadcast to the anti-join), (2) the
    * doc-id group-back that reassembles text. Documents whose every segment
    * is boilerplate drop out entirely (both here and in the oracle).
    * Returns (idCol, scrubbed, n_kept_tokens).
    */
  def boilerplateScrub(df: DataFrame, idCol: String, textCol: String,
                       segTokens: Int, dfThreshold: Int): DataFrame = {
    require(segTokens > 0, s"segTokens $segTokens must be positive")
    require(dfThreshold > 1, s"dfThreshold $dfThreshold must exceed 1")
    val spark = df.sparkSession
    import spark.implicits._
    // Typed segmentation pass: one split per document (the Generate/
    // CollapseProject trap re-splits per output row if done with explode).
    // Persisted — segs feeds the df-count aggregate AND the anti-join.
    val segs = CacheRegistry.persist(df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text == null) Iterator.empty
        else text.split(" ", -1).grouped(segTokens).zipWithIndex.map {
          case (seg, i) => (id, i.toLong, seg.mkString(" "), seg.length.toLong)
        }
      }.toDF(idCol, "seg_idx", "seg", "n_seg_tokens"))
    // two EXACT phases (the substringRuns discipline): total occurrences
    // first — map-side-combinable, the exchange carries ~|segment vocab|
    // rows — then the exact distinct-doc count only over segments whose
    // occ >= threshold (df <= occ, so the prefilter can't drop a hot seg)
    val hotCand = segs.groupBy("seg")
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= dfThreshold)
      .select("seg")
    val hot = segs.join(broadcast(hotCand), Seq("seg"), "left_semi")
      .groupBy("seg")
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= dfThreshold)
      .select("seg")
    segs.join(broadcast(hot), Seq("seg"), "left_anti")
      .groupBy(idCol)
      .agg(
        array_sort(collect_list(struct(col("seg_idx"), col("seg")))).as("sl"),
        sum(col("n_seg_tokens")).as("n_kept_tokens"))
      .select(col(idCol),
        expr("array_join(transform(sl, x -> x.seg), ' ')").as("scrubbed"),
        col("n_kept_tokens"))
  }
}
