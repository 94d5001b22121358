package graft

import org.apache.spark.sql.functions._
import graft.ops.Layout

/** Z-order layout: z-value parity with an independent reference, and the
  * measurable pruning claim — z-ordered files cover far less (a, b) area
  * than a linear sort's files.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Independent Morton reference. */
  private def mortonRef(a: Long, b: Long, bits: Int): Long = {
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((a >>> i) & 1L) << (2 * i)
      z |= ((b >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("zValue2 matches an independent Morton reference") {
    val pts = for (a <- 0 until 40; b <- 0 until 40) yield (a.toLong, b.toLong)
    val got = pts.toDF("a", "b")
      .select(col("a"), col("b"), Layout.zValue2(col("a"), col("b")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (a, b) =>
      assert(got((a, b)) === mortonRef(a, b, 16), s"($a, $b)")
    }
  }

  test("a non-leading-column predicate prunes z-ordered files, not linear ones") {
    // A uniform 256x256 grid. Linear sort by `a`: every file spans the FULL
    // `b` range, so a `b < 32` predicate can prune NOTHING by min/max
    // stats. Z-order: each file is a compact z-range (a near-square tile),
    // so only the tile-row intersecting b < 32 survives the stats check.
    val grid = (for (a <- 0 until 256; b <- 0 until 256) yield (a.toLong, b.toLong))
      .toDF("a", "b")
    withTempDir("layout") { dir =>
      val root = dir.toString
      Layout.zorderWrite(grid, col("a"), col("b"), s"$root/z", nFiles = 16)
      grid.repartitionByRange(16, col("a")).sortWithinPartitions("a")
        .write.mode("overwrite").parquet(s"$root/linear")

      // Files whose [min_b, max_b] intersects the predicate b < 32 — the
      // exact set a stats-based reader must scan.
      def filesHit(path: String): (Long, Long) = {
        val perFile = spark.read.parquet(path)
          .groupBy(input_file_name().as("f"))
          .agg(min("b").as("b_min"), max("b").as("b_max"))
        (perFile.filter(col("b_min") < 32).count(), perFile.count())
      }

      val (zHit, zTotal) = filesHit(s"$root/z")
      val (linHit, linTotal) = filesHit(s"$root/linear")
      assert(linHit === linTotal, "linear layout cannot prune on b")
      assert(zHit * 2 <= zTotal, s"z layout should prune: $zHit of $zTotal files hit")
    }
  }
}
