package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.CacheRegistry
import graft.sources.Tables

/** 2M-vector stress (r13 verdict #1's target scale): the embeddings table
  * at sf0.1 holds only 2k vectors, so ScaleStress's general 100× fixture
  * tops out at 200k. This tool replicates embeddings ALONE `replicas`×
  * (default 1000 → 2M vectors) — id shift + deterministic per-replica
  * component shift, the same structure-preserving scheme ScaleStress uses —
  * into a fixture dir containing just embeddings.parquet, which is all the
  * vector-family queries read. Times each query at the base and scaled
  * fixtures (warm, min-of-2) and prints a SCALE.md-ready table.
  *
  * Usage: runMain graft.tools.VecStress [sfDir] [replicas] [q1,q2,...]
  */
object VecStress {
  val Default = Seq("q_dedup_semantic", "q_dedup_semantic_probe2",
    "q_sim_knn_graph", "q_sim_ivf_trained", "q_sim_ivfpq")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val replicas = if (args.length > 1) args(1).toInt else 1000
    val queries = if (args.length > 2) args(2).split(',').toSeq else Default
    val spark = graft.GraftSession.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val out = java.nio.file.Files
      .createTempDirectory(graft.io.Artifacts.root, "graft_vecstress_").toString
    val em = Tables.embeddings(spark, sfDir)
    val maxVec = em.agg(max("vec_id")).head().getLong(0) + 1
    val reps = spark.range(replicas.toLong).select(col("id").as("rep"))
    em.crossJoin(reps)
      .select(
        (col("vec_id") + col("rep") * maxVec).as("vec_id"),
        // spread replicas with a bounded shift: rep % 97 keeps the offset
        // in a ±0.66 band (97 distinct shift levels) instead of growing
        // linearly to 13.7 at rep=999, which would stretch the space into
        // a line and make cell geometry unrepresentative
        transform(col("embedding"),
          x => x + (col("rep") % 97).cast("float") * lit(0.0137f)).as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val n = spark.read.parquet(s"$out/embeddings.parquet").count()
    println(s"VECSTRESS fixture: $n vectors at $out")

    def clean(): Unit = {
      CacheRegistry.drain(); spark.catalog.clearCache(); System.gc()
    }
    def timed(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      // per-call trace: artifact-backed queries memoize their build in the
      // first call, so the call sequence (build+read, read, read) is the
      // only place the BUILD cost is visible — the table's min-of-2 is the
      // steady read
      println(f"[vecstress] $name ${if (dir == sfDir) "base" else "scaled"} $sec%.2f s")
      clean(); sec
    }
    println(s"| query | sf0.1 (s) | ${replicas}× (s) | ratio |")
    println("|---|---|---|---|")
    queries.foreach { q =>
      timed(q, sfDir) // warm codegen
      val base = math.min(timed(q, sfDir), timed(q, sfDir))
      val scaled = math.min(timed(q, out), timed(q, out))
      println(f"| $q | $base%.2f | $scaled%.2f | ${scaled / base}%.1f× |")
    }
    spark.stop()
  }
}
