package graft

import org.apache.spark.sql.functions._
import graft.queries.PipelineQueries

/** Differential spec for the flat→hier edge-artifact dispatch: past
  * [[PipelineQueries.HierSwapVectors]] the snapshot build swaps to the
  * two-level index, and the swap must be INVISIBLE to every consumer —
  * same schema, same artifact contract (undirected distinct a < b), the
  * unchanged consumer queries (triangles, clustering coefficient,
  * degree census, connected components, knn classify) all run off a
  * hier-built artifact. The oracle queries stay pinned to the flat build
  * (fixture scale sits below the boundary); this spec is the executable
  * proof the swap is a drop-in.
  */
class HierArtifactSpec extends SparkSpec {

  test("useHierEdges dispatches exactly at the deriveK cap boundary") {
    assert(!PipelineQueries.useHierEdges(500L))
    assert(!PipelineQueries.useHierEdges(PipelineQueries.HierSwapVectors))
    assert(PipelineQueries.useHierEdges(PipelineQueries.HierSwapVectors + 1))
    // fixture scales all dispatch flat — the DuckDB oracles replay flat
    assert(!PipelineQueries.useHierEdges(
      graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001").count()))
  }

  test("deriveShards splits exactly at the single-index deriveK2 ceiling") {
    assert(PipelineQueries.deriveShards(1L) === 1)
    assert(PipelineQueries.deriveShards(PipelineQueries.ShardVectors) === 1)
    assert(PipelineQueries.deriveShards(PipelineQueries.ShardVectors + 1) === 2)
    assert(PipelineQueries.deriveShards(3 * PipelineQueries.ShardVectors) === 3)
    // the ceiling IS deriveK2's: one shard never exceeds the 1024² cap
    assert(graft.ops.Similarity.deriveK2(PipelineQueries.ShardVectors) === 1024)
  }

  test("sharded-built edge artifact keeps the artifact contract and the graph consumers' invariants") {
    val sf = "/root/testdata/sf0.001"
    withTempDir("graft_shard_edges_") { dir =>
      val out = s"$dir/edges"
      PipelineQueries.foldUndirected(
          PipelineQueries.knnEdgesDf(spark, sf, forceShards = 2))
        .write.mode("overwrite").parquet(out)
      graft.ops.CacheRegistry.drain()
      val e = spark.read.parquet(out)
      val nEdges = e.count()
      assert(nEdges > 0)
      assert(e.columns.toSeq === Seq("a", "b"))
      assert(e.filter(col("a") >= col("b")).count() === 0)
      assert(e.distinct().count() === nEdges)
      val prev = PipelineQueries.seedKnnEdges(sf, Some(out))
      try {
        val tri = SparkEntry.queries("q_graph_triangles")(spark, sf).collect()
        assert(tri(0).getAs[Long]("n_edges") === nEdges)
        graft.ops.CacheRegistry.drain()
        val hist = SparkEntry.queries("q_graph_degree_hist")(spark, sf).collect()
        val degSum = hist.map(r => r.getAs[Long]("deg") * r.getAs[Long]("n_nodes")).sum
        assert(degSum === 2 * nEdges)
        graft.ops.CacheRegistry.drain()
      } finally {
        PipelineQueries.seedKnnEdges(sf, prev)
        ()
      }
    }
  }

  test("hier-built edge artifact feeds the unchanged consumers") {
    val sf = "/root/testdata/sf0.001"
    withTempDir("graft_hier_edges_") { dir =>
      val out = s"$dir/edges"
      PipelineQueries.foldUndirected(
          PipelineQueries.knnEdgesDf(spark, sf, forceHier = true))
        .write.mode("overwrite").parquet(out)
      graft.ops.CacheRegistry.drain()
      val e = spark.read.parquet(out)
      val nEdges = e.count()
      assert(nEdges > 0)
      // the artifact contract GraphSpec pins on the flat build, verbatim
      assert(e.columns.toSeq === Seq("a", "b"))
      assert(e.filter(col("a") >= col("b")).count() === 0)
      assert(e.distinct().count() === nEdges)
      val prev = PipelineQueries.seedKnnEdges(sf, Some(out))
      try {
        // triangles: one row; n_edges cross-join leg reads the artifact
        val tri = SparkEntry.queries("q_graph_triangles")(spark, sf).collect()
        assert(tri.length === 1)
        assert(tri(0).getAs[Long]("n_triangles") >= 0L)
        assert(tri(0).getAs[Long]("n_edges") === nEdges)
        graft.ops.CacheRegistry.drain()
        // degree census: handshake lemma over the artifact
        val hist = SparkEntry.queries("q_graph_degree_hist")(spark, sf).collect()
        val degSum = hist.map(r => r.getAs[Long]("deg") * r.getAs[Long]("n_nodes")).sum
        assert(degSum === 2 * nEdges)
        graft.ops.CacheRegistry.drain()
        // connected components: every incident node labeled, labels are
        // component minima
        val cc = SparkEntry.queries("q_graph_cc")(spark, sf).collect()
        val nNodes = e.select(col("a")).union(e.select(col("b")))
          .distinct().count()
        assert(cc.map(_.getAs[Long]("n_nodes")).sum === nNodes)
        cc.foreach(r =>
          assert(r.getAs[Long]("cluster") <= r.getAs[Long]("max_node")))
        graft.ops.CacheRegistry.drain()
        // knn classify: the confusion census covers every held-out vector
        // exactly once (predicted or -1) — label propagation consumed the
        // hier edges without a code change
        val conf = SparkEntry.queries("q_graph_knn_classify")(spark, sf).collect()
        val heldOut = graft.sources.Tables.embeddings(spark, sf)
          .filter(col("vec_id") % 5 === 0).count()
        assert(conf.map(_.getAs[Long]("n")).sum === heldOut)
        graft.ops.CacheRegistry.drain()
        // clustering coefficient runs off the seeded artifact
        assert(SparkEntry.queries("q_graph_clustering_coef")(spark, sf).count() > 0)
        graft.ops.CacheRegistry.drain()
      } finally {
        PipelineQueries.seedKnnEdges(sf, prev)
        ()
      }
    }
  }
}
