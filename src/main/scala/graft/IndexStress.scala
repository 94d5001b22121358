package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Incremental-index scaling stress — pins the store-size-independence
  * claim of [[graft.ops.IncrementalIndex]] (the r11 refresh contract):
  * a FIXED delta against a 10× base store must cost ~the same, because
  * the refresh reads only touched cells / vocabulary buckets, never the
  * corpus. (The build, by contrast, is corpus-priced — reported once for
  * context, not a claim.)
  *
  * Deltas use distinct id ranges per apply (a refresh MUTATES the store;
  * re-applying the same delta would double-append), so min-of-2 runs two
  * successive landings — the store grows by <1% between them, the normal
  * incremental progression. Prints a markdown table; paste into SCALE.md.
  */
object IndexStress {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("FATAL")
    import spark.implicits._

    def tmp(prefix: String): String =
      Files.createTempDirectory(graft.io.Artifacts.root, prefix).toString

    def timeIt(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // ---- kNN store: clustered synthetic embeddings ----------------------
    // CELL-SIZED clusters (two hot dims -> up to 32x32 separated
    // clusters), cluster count scaling with N so each cluster stays
    // ~deriveK-cell-sized at every scale; deltas land in 4 clusters —
    // the refresh claim is O(touched-cell membership + delta), so the
    // fixed topical delta must touch a fixed-size region of a growing
    // store (a crawl batch is topically clustered)
    def em(n: Int, idFrom: Long, clusters: Int): org.apache.spark.sql.DataFrame = {
      val c = pmod(col("id"), lit(clusters.toLong))
      spark.range(n.toLong).select((col("id") + idFrom).as("vec_id"),
        transform(sequence(lit(0), lit(63)), i =>
          when(i === pmod(c, lit(32L)), lit(1.0f))
            .when(i === lit(32L) + (c / 32L) % 32L, lit(1.0f))
            .otherwise(pmod(col("id") * (i + 7L), lit(19L)).cast("float") / 1000f))
          .as("embedding"))
    }

    def knnRow(label: String, n: Int): (String, Double, Double) = {
      val root = tmp(s"graft_idxstress_knn_$n") + "/store"
      val clusters = math.max(8, n / 64) // ~cell-sized at deriveK
      val tBuild = timeIt(
        graft.ops.IncrementalIndex.Knn.build(em(n, 0L, clusters),
          "vec_id", "embedding", root))
      def delta(seq: Int) = em(500, 10000000L * seq, 4)
      val t = (1 to 2).map(i => timeIt(
        graft.ops.IncrementalIndex.Knn.refresh(spark, root, delta(i),
          "vec_id", "embedding"))).min
      (label, tBuild, t)
    }

    // ---- TWO-LEVEL kNN store (r16): same fixture and fixed topical
    // delta as the flat rows — the claim is the same O(delta + touched)
    // refresh, with the touched set now FINE cells (~k2× fewer stored
    // rows read per touched cell), and a build that stays hier-priced
    // (O(N·sqrt(N/cell)) assignment) past the flat deriveK cap ----------
    def knn2Row(label: String, n: Int): (String, Double, Double) = {
      val root = tmp(s"graft_idxstress_knn2_$n") + "/store"
      val clusters = math.max(8, n / 64)
      val tBuild = timeIt(
        graft.ops.IncrementalIndex.Knn2.build(em(n, 0L, clusters),
          "vec_id", "embedding", root))
      def delta(seq: Int) = em(500, 10000000L * seq, 4)
      val t = (1 to 2).map(i => timeIt(
        graft.ops.IncrementalIndex.Knn2.refresh(spark, root, delta(i),
          "vec_id", "embedding"))).min
      (label, tBuild, t)
    }

    // ---- IR store: synthetic docs, zipf-ish vocabulary ------------------
    def docs(n: Int, idFrom: Long): org.apache.spark.sql.DataFrame =
      spark.range(n.toLong).select((col("id") + idFrom).as("doc_id"),
        concat_ws(" ",
          transform(sequence(lit(0), lit(29)), i =>
            concat(lit("w"), pmod(col("id") * (i + 3L) + i * i, lit(5000L)))))
          .as("text"))

    def irRow(label: String, n: Int): (String, Double, Double) = {
      val root = tmp(s"graft_idxstress_ir_$n") + "/store"
      val isq = col("doc_id") < 0
      val tBuild = timeIt(
        graft.ops.IncrementalIndex.Ir.build(docs(n, 0L), "doc_id", "text", isq, root))
      def delta(seq: Int) = docs(1000, 10000000L * seq)
      val t = (1 to 2).map(i => timeIt(
        graft.ops.IncrementalIndex.Ir.refresh(spark, root, delta(i),
          "doc_id", "text", isq))).min
      (label, tBuild, t)
    }

    // 60k stays under the deriveK 1024-cell ceiling (cell size ~64 at
    // both scales -> flat expected); 100k is past it (cells grow
    // linearly once k caps, so refresh grows with CELL SIZE — the
    // documented deriveK boundary, stated rather than hidden)
    // optional arg: substring filter over row labels ("Ir" / "Knn") so a
    // change to one store's refresh re-measures without re-paying the
    // other's corpus-priced builds
    val only = args.headOption
    def want(label: String) = only.forall(label.contains)
    val rows = Seq(
      ("Knn 10k vectors", 10000, 0),
      ("Knn 60k vectors (6x, under deriveK cap)", 60000, 0),
      ("Knn 100k vectors (10x, past deriveK cap)", 100000, 0),
      ("Knn 200k vectors (20x)", 200000, 0),
      ("Knn2 10k vectors (hier store)", 10000, 2),
      ("Knn2 100k vectors (hier, 10x)", 100000, 2),
      ("Knn2 200k vectors (hier, 20x)", 200000, 2),
      ("Knn2 1M vectors (hier, 100x)", 1000000, 2),
      ("Ir 20k docs", 20000, 1),
      ("Ir 200k docs (10x)", 200000, 1)
    ).collect {
      case (l, n, 0) if want(l) => knnRow(l, n)
      case (l, n, 1) if want(l) => irRow(l, n)
      case (l, n, 2) if want(l) => knn2Row(l, n)
    }
    // fail fast on a typo'd filter: a header-only table would read as a
    // successful run with no data (matching is case-sensitive contains)
    require(rows.nonEmpty, s"filter '${only.getOrElse("")}' matched no rows; " +
      "labels contain: Knn, Knn2, Ir")

    println("| store | build sec (context) | fixed-delta refresh sec |")
    println("|---|---|---|")
    rows.foreach { case (l, b, r) => println(f"| $l | $b%.2f | $r%.2f |") }
    spark.stop()
  }
}
