package graftbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("tail: highest nearest-rank percentile with ten samples beyond it") {
    val xs = (1 to 30).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t.value == 20.0) // ranks 21..30 lie beyond it
    assert(xs.count(_ > t.value) == 10)
    assert(math.abs(t.percentile - 66.667) < 0.01)
    assert(t.samples == 30)
    val t21 = Stats.tail((1 to 21).map(_.toDouble))
    assert(t21.value == 11.0 && (1 to 21).count(_ > 11) == 10)
  }

  test("tail: below 21 samples the rule would undercut the median, so the max") {
    Seq(1, 2, 13, 20).foreach { n =>
      val t = Stats.tail((1 to n).reverse.map(_.toDouble))
      assert(t.value == n.toDouble && t.percentile == 100.0, s"n=$n")
    }
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time subtracts the union of children, clipped to the parent") {
    val p = Span(1, -1, "query", 0, 100)
    val kids = Seq(Span(2, 1, "a", 10, 30), Span(3, 1, "b", 20, 50), // overlap
      Span(4, 1, "c", 90, 120), // spills past the parent's end
      Span(5, 1, "d", 200, 300)) // outside the parent
    assert(Spans.selfNs(p, kids) == 100 - 40 - 10)
    assert(Spans.selfNs(p, Nil) == 100)
    val all = p +: kids
    assert(Spans.selfTimes(all)(1) == 50 && Spans.selfTimes(all)(2) == 20)
  }

  test("segments that tile their parent leave no self time") {
    val t = new Tracer(true)
    t.span("query") { t.span("build")(()); t.span("exec")(()) }
    val spans = t.spans
    val q = spans.find(_.name == "query").get
    val kids = spans.filter(_.parent == q.id)
    assert(kids.map(_.name).toSet == Set("build", "exec"))
    assert(Spans.selfNs(q, kids) <= q.durNs)
    assert(kids.forall(k => k.startNs >= q.startNs && k.endNs <= q.endNs))
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(false)
    assert(t.span("x")(41 + 1) == 42)
    assert(t.spans.isEmpty)
  }

  test("slot_busy is task time over wall time times cores") {
    assert(Stats.slotBusy(4000, 1000, 4) == 1.0)
    assert(Stats.slotBusy(1000, 1000, 4) == 0.25)
    assert(Stats.slotBusy(10, 0, 4) == 0.0)
  }

  private val engineSrc = new File("../src/main/scala")

  test("every engine file maps to the module directory it sits in") {
    val mods = Modules.scan(engineSrc)
    val graft = new File(engineSrc, "graft").toPath
    val files = Files.walk(graft).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50)
    files.foreach { f =>
      val rel = graft.relativize(f)
      val want = if (rel.getNameCount == 1) Modules.Entry else rel.getName(0).toString
      val site = s"count at ${f.getFileName}:12"
      assert(mods.ofCallSite(site) == want, s"$rel")
    }
    assert(mods.files.size == files.size)
  }

  test("call sites: module names, unknown files and unparsable sites") {
    val mods = Modules.scan(engineSrc)
    assert(mods.ofCallSite("parquet at Tables.scala:20") == "sources")
    assert(mods.ofCallSite("collect at Dedup.scala:544") == "ops")
    assert(mods.ofCallSite("count at Bench.scala:90") == Modules.Entry)
    assert(mods.ofCallSite("collect at Main.scala:171") == Modules.Other)
    assert(mods.ofCallSite("start at <unknown>:0") == Modules.Other)
  }

  private def tree(dir: File): Seq[(String, Seq[Byte])] =
    dir.listFiles.sortBy(_.getName).toSeq.map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq)

  test("ingest generator: same seed, same files; another seed, other files") {
    val base = Files.createTempDirectory("graftbench-gen").toFile
    try {
      val spec = Ingest.Spec(events = 3000, pages = 3)
      val g1 = Ingest.generate(7, new File(base, "a"), spec)
      val g2 = Ingest.generate(7, new File(base, "b"), spec)
      val g3 = Ingest.generate(8, new File(base, "c"), spec)
      assert(tree(new File(base, "a")) == tree(new File(base, "b")))
      assert(tree(new File(base, "a")) != tree(new File(base, "c")))
      assert(g1.malformed == g2.malformed && g1.files.size == 3)
      val lines = g1.files.flatMap(f => Files.readAllLines(f.toPath).asScala)
      assert(lines.size == 3000)
      // a malformed record is a truncated object: it never closes
      assert(lines.count(l => !l.endsWith("}")) == g1.malformed)
      assert(g1.malformed > 0 && g3.malformed > 0)
      // pages are read in order: modification times increase with the page
      val mtimes = g1.files.map(_.lastModified)
      assert(mtimes == mtimes.sorted && mtimes.distinct.size == mtimes.size)
    } finally {
      Seq("a", "b", "c").foreach { d =>
        Option(new File(base, d).listFiles).toSeq.flatten.foreach(_.delete())
        new File(base, d).delete()
      }
      base.delete()
    }
  }

  test("row digest ignores row order and column order") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val ab = StructType.fromDDL("a BIGINT, b DOUBLE, c STRING")
    val ba = StructType.fromDDL("c STRING, b DOUBLE, a BIGINT")
    val rows = Seq((1L, 0.5, "x"), (2L, 1.25, null))
    def d(schema: StructType, rs: Seq[(Long, Double, String)], swap: Boolean) =
      RowHash.digest(rs.iterator.map { case (a, b, c) =>
        val s = if (c == null) null else UTF8String.fromString(c)
        if (swap) InternalRow(s, b, a) else InternalRow(a, b, s)
      }, RowHash.sortedFields(schema))
    val x = d(ab, rows, swap = false)
    assert(x == d(ab, rows.reverse, swap = false))
    assert(x == d(ba, rows, swap = true))
    assert(x.rows == 2)
    assert(x != d(ab, Seq((1L, 0.5, "x"), (2L, 1.26, null)), swap = false))
    // doubles are compared at 6 decimals, as the oracle comparison does
    assert(x == d(ab, Seq((1L, 0.5 + 1e-9, "x"), (2L, 1.25, null)), swap = false))
  }
}
