package graft

import org.apache.spark.sql.functions._
import graft.ops.{IncrementalIndex, Similarity, TextAnalysis => TA}

/** Incremental artifact maintenance: refresh == full rebuild AND
  * untouched store partitions stay byte-identical on disk (the
  * refreshAdditive discipline applied to the index artifacts).
  */
class IncrementalIndexSpec extends SparkSpec {
  import spark.implicits._

  /** (relative path -> md5) for every data file under `root`. */
  private def fileHashes(root: String): Map[String, String] = {
    val base = java.nio.file.Paths.get(root)
    val out = scala.collection.mutable.Map.empty[String, String]
    java.nio.file.Files.walk(base).forEach { p =>
      val name = p.getFileName.toString
      if (java.nio.file.Files.isRegularFile(p) && !name.startsWith(".") &&
          !name.startsWith("_")) {
        val md = java.security.MessageDigest.getInstance("MD5")
        out(base.relativize(p).toString) =
          md.digest(java.nio.file.Files.readAllBytes(p))
            .map("%02x".format(_)).mkString
      }
    }
    out.toMap
  }

  // 8 tight, well-separated clusters along distinct axes; the delta
  // lands entirely in cluster 0, so most cells never gain a member
  private def clusteredEm(n: Int, delta: Boolean): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(if (delta) 99 else 17)
    val rows = (0 until n).map { i =>
      val id = if (delta) 1000L + i else i.toLong
      val c = if (delta) 0 else i % 8
      val v = Array.fill(64)(rnd.nextInt(21) / 1000.0f) // small noise
      v(c * 8) = 1.0f + rnd.nextInt(100) / 1000.0f      // cluster axis
      // deterministic SECOND probe direction (cluster c+1): rank-2
      // probes don't scatter, so a cluster-0 delta touches only the
      // cells of clusters 0 (new members) and 7 (probe cell 0 second)
      v((c + 1) % 8 * 8) = 0.5f
      (id, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("Knn store: refresh == full rebuild under frozen cells; untouched partitions byte-identical") {
    withTempDir("graft_knninc_") { dir =>
      val root = dir.toString
      val base = clusteredEm(160, delta = false)
      val delta = clusteredEm(24, delta = true)
      IncrementalIndex.Knn.build(base, "vec_id", "embedding", root)
      val before = fileHashes(s"$root/edges")
      val assignBefore = fileHashes(s"$root/assign")
      // small-files pin: build writes cluster by partition value — one file
      // per cell/pcell, never (task partitions × cells)
      val nCells = Similarity.deriveK(160)
      assert(assignBefore.size <= nCells,
        s"assign build committed ${assignBefore.size} files (> $nCells cells)")
      assert(before.size <= nCells,
        s"edges build committed ${before.size} files (> $nCells pcells)")
      IncrementalIndex.Knn.refresh(spark, root, delta, "vec_id", "embedding")

      // 1. every base assign file is untouched (delta rows APPEND)
      val assignAfter = fileHashes(s"$root/assign")
      assignBefore.foreach { case (f, h) =>
        assert(assignAfter.get(f).contains(h), s"assign file rewritten: $f")
      }

      // 2. equality with the full rebuild under the BUILD-time centroids
      val cents = Similarity.kmeansTrain(base, "vec_id", "embedding",
        Similarity.deriveK(160), iters = 2)
      val expected = Similarity.knnGraph(base.unionByName(delta),
          "vec_id", "embedding", cents.toSeq, k = 3, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      val got = IncrementalIndex.Knn.edges(spark, root)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(got === expected)

      // 3. at least one edge partition was never rewritten, and every
      //    file in an un-rewritten partition is byte-identical
      val after = fileHashes(s"$root/edges")
      def part(f: String) = f.split('/').head
      val changed = (after.keySet ++ before.keySet)
        .filter(f => before.get(f) != after.get(f)).map(part)
      val untouchedParts = before.keySet.map(part) -- changed
      assert(untouchedParts.nonEmpty,
        s"expected clustered delta to leave some pcell partitions untouched; changed=$changed")
      before.foreach { case (f, h) =>
        if (untouchedParts(part(f)))
          assert(after.get(f).contains(h), s"untouched partition file changed: $f")
      }
    }
  }

  test("Knn2 store: refresh == frozen-geometry hier rebuild; untouched partitions byte-identical") {
    withTempDir("graft_knninc2_") { dir =>
      val root = dir.toString
      // bigger base than the flat test: deriveK2(600) = 4 coarse cells ⇒ up
      // to 16 fine cells, and every vector probes ≤ 2×2 = 4 of them — room
      // for a clustered delta to leave fine cells untouched (at the flat
      // test's 160 rows deriveK2 = 2 and nprobe1×nprobe2 covers the whole
      // index, which would make the untouched-partition claim vacuous)
      val base = clusteredEm(600, delta = false)
      val delta = clusteredEm(40, delta = true)
      IncrementalIndex.Knn2.build(base, "vec_id", "embedding", root)
      val before = fileHashes(s"$root/edges")
      val assignBefore = fileHashes(s"$root/assign")
      // small-files pin: one file per fine cell / pfcell
      val k1 = Similarity.deriveK2(600)
      assert(assignBefore.size <= k1 * k1,
        s"assign build committed ${assignBefore.size} files (> ${k1 * k1} fine cells)")
      assert(before.size <= k1 * k1,
        s"edges build committed ${before.size} files (> ${k1 * k1} pfcells)")
      IncrementalIndex.Knn2.refresh(spark, root, delta, "vec_id", "embedding")

      // 1. every base assign file is untouched (delta rows APPEND)
      val assignAfter = fileHashes(s"$root/assign")
      assignBefore.foreach { case (f, h) =>
        assert(assignAfter.get(f).contains(h), s"assign file rewritten: $f")
      }

      // 2. equality with the FROZEN-GEOMETRY rebuild: coarse AND fine
      //    centroids from the base, serving over base ∪ delta — the exact
      //    contract the store (and its DuckDB oracle) maintains
      val coarse = Similarity.kmeansTrainSpread(base, "vec_id", "embedding",
        k = k1, iters = 2)
      val baseAss = Similarity.probeAssign(base, "vec_id", "embedding",
        coarse.toSeq, IncrementalIndex.Knn2.NProbe1)
      val fineMap = Similarity.hierFineMap(
        Similarity.hierFineCentroids(baseAss, k2 = k1,
          iters2 = IncrementalIndex.Knn2.Iters2).collect())
      val allAss = Similarity.probeAssign(base.unionByName(delta),
        "vec_id", "embedding", coarse.toSeq, IncrementalIndex.Knn2.NProbe1)
      val expected = Similarity.knnTopK(Similarity.scoreCellsLocal(
          Similarity.hierServeTagged(allAss, fineMap,
            IncrementalIndex.Knn2.NProbe2), IncrementalIndex.Knn2.KNn),
          IncrementalIndex.Knn2.KNn)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      val got = IncrementalIndex.Knn2.edges(spark, root)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(got === expected)

      // 3. at least one edge partition was never rewritten, and every file
      //    in an un-rewritten partition is byte-identical
      val after = fileHashes(s"$root/edges")
      def part(f: String) = f.split('/').head
      val changed = (after.keySet ++ before.keySet)
        .filter(f => before.get(f) != after.get(f)).map(part)
      val untouchedParts = before.keySet.map(part) -- changed
      assert(untouchedParts.nonEmpty,
        s"expected clustered delta to leave some pfcell partitions untouched; changed=$changed")
      before.foreach { case (f, h) =>
        if (untouchedParts(part(f)))
          assert(after.get(f).contains(h), s"untouched partition file changed: $f")
      }
    }
  }

  test("Ir store: refresh == irIndex full rebuild; tf append-only; df bucket-pruned; cap crossing applies") {
    withTempDir("graft_irinc_") { dir =>
      val root = dir.toString
      // base: 30 docs; token "hot" sits in exactly 5 docs (cap = max(5,
      // 0.02·n) = 5 -> KEPT at build); the delta adds a 6th -> df = 6 > 5,
      // the view-time cap must now DROP it corpus-wide
      val base = (0 until 30).map { i =>
        val hot = if (i < 5) " hot" else ""
        (i.toLong, s"alpha$i beta${i % 7} gamma${i % 3}$hot")
      }.toDF("doc_id", "text")
      val delta = Seq((100L, "alpha100 beta1 hot"), (101L, "omega wow"))
        .toDF("doc_id", "text")
      val isq = col("doc_id") < 2
      IncrementalIndex.Ir.build(base, "doc_id", "text", isq, root)
      val tfBefore = fileHashes(s"$root/tf")
      val dlBefore = fileHashes(s"$root/doclen")
      val dfBefore = fileHashes(s"$root/df")
      // small-files pin: the build clusters by (bucket, salt) before each
      // dynamic-partition write, so the store holds ≤ WriteSalt files per
      // bucket — not (cached task partitions × buckets); the salt keeps
      // the corpus-scale build write parallel
      val maxFiles = 16 * IncrementalIndex.Ir.WriteSalt
      Seq(tfBefore, dlBefore, dfBefore).foreach(h =>
        assert(h.size <= maxFiles,
          s"build committed ${h.size} files (> nBuckets × WriteSalt)"))
      // "hot" was kept at build time
      val hotTok = base.sparkSession.range(1)
        .select(xxhash64(lit("hot"))).head().getLong(0)
      assert(IncrementalIndex.Ir.postings(spark, root, 0.02)
        .filter(col("token") === hotTok).count() === 5L)

      IncrementalIndex.Ir.refresh(spark, root, delta, "doc_id", "text", isq)

      // tf + doclen: strictly append-only
      (tfBefore.toSeq ++ dlBefore.toSeq).foreach { case (f, h) =>
        val dir = if (tfBefore.contains(f)) "tf" else "doclen"
        assert(fileHashes(s"$root/$dir").get(f).contains(h),
          s"append-only store rewrote $dir/$f")
      }
      // df: only buckets holding delta-vocabulary terms rewrite
      val dfAfter = fileHashes(s"$root/df")
      val deltaBuckets = Seq("alpha100", "beta1", "hot", "omega", "wow")
        .map(t => spark.range(1).select(pmod(xxhash64(lit(t)), lit(16L)))
          .head().getLong(0)).map(b => s"dbucket=$b").toSet
      dfBefore.foreach { case (f, h) =>
        if (!deltaBuckets(f.split('/').head))
          assert(dfAfter.get(f).contains(h), s"untouched df bucket rewrote $f")
      }
      assert(dfBefore.keySet.map(_.split('/').head)
        .exists(b => !deltaBuckets(b)), "fixture left no untouched bucket")

      // refresh == full rebuild (postings and doclen), including the cap
      // crossing: "hot" (now df=6 > cap=5) is gone corpus-wide
      val full = base.unionByName(delta)
      val (expPost, expLen) = TA.irIndex(full, "doc_id", "text", isq, 0.02)
      def postSet(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(postSet(IncrementalIndex.Ir.postings(spark, root, 0.02)
          .select("id", "isq", "token", "tf", "df")) ===
        postSet(expPost.select("id", "isq", "token", "tf", "df")))
      assert(IncrementalIndex.Ir.postings(spark, root, 0.02)
        .filter(col("token") === hotTok).count() === 0L)
      val gotLen = IncrementalIndex.Ir.doclen(spark, root).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val expLenSet = expLen.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotLen === expLenSet)
    }
  }
}
