package graft

import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.streaming.OutputMode

import graft.io.Artifacts

/** The landed-artifact store: one build per (name, dir), one root, one
  * deletion at JVM exit. */
class ArtifactsSpec extends SparkSpec {

  private def freshDir(): String = s"/fixture-${UUID.randomUUID()}"

  test("a second land of the same (name, dir) returns the same path without rebuilding") {
    val dir = freshDir()
    val builds = new AtomicInteger
    val first = Artifacts.land("spec_memo", dir) { out =>
      builds.incrementAndGet()
      Files.write(Paths.get(out, "part"), Array[Byte](1, 2, 3))
    }
    val second = Artifacts.land("spec_memo", dir)(_ => builds.incrementAndGet())
    assert(second === first)
    assert(builds.get === 1)
    assert(Files.readAllBytes(Paths.get(first, "part")).toSeq === Seq[Byte](1, 2, 3))
  }

  test("a different name or a different dir builds again") {
    val dir = freshDir()
    val builds = new AtomicInteger
    val a = Artifacts.land("spec_a", dir)(_ => builds.incrementAndGet())
    val b = Artifacts.land("spec_b", dir)(_ => builds.incrementAndGet())
    val c = Artifacts.land("spec_a", freshDir())(_ => builds.incrementAndGet())
    assert(builds.get === 3)
    assert(Set(a, b, c).size === 3)
  }

  test("a changed input listing builds again; an unchanged one is served the memo") {
    val dir = freshDir()
    val builds = new AtomicInteger
    def land(input: Artifacts.Input) =
      Artifacts.land("spec_input", dir, input)(_ => builds.incrementAndGet())
    val v1 = Seq(("file:/f/part-0", 10L, 100L))
    val first = land(v1)
    assert(land(v1) === first)
    assert(builds.get === 1)
    val rewritten = land(Seq(("file:/f/part-0", 10L, 200L)))
    assert(rewritten !== first)
    assert(builds.get === 2)
    // the input-free artifact of the same (name, dir) is a separate entry
    assert(Set(first, rewritten).contains(land(Nil)) === false)
  }

  test("every artifact sits under the one root with its graft_<name>_ prefix") {
    val dir = freshDir()
    val root = Artifacts.root
    assert(root.getParent === Paths.get(System.getProperty("java.io.tmpdir")))
    for (name <- Seq("spec_x", "spec_y")) {
      val p = Paths.get(Artifacts.land(name, dir)(_ => ()))
      assert(p.getParent === root, p)
      assert(p.getFileName.toString.startsWith(s"graft_${name}_"), p)
      assert(Files.isDirectory(p))
    }
  }

  test("drain lands src/out/ckpt under one artifact and enforces maxBatches") {
    val dir = freshDir()
    val topic = (src: String) => {
      Files.createDirectories(Paths.get(src))
      Files.write(Paths.get(src, "a.txt"), "1\n2\n".getBytes)
      Files.write(Paths.get(src, "b.txt"), "3\n".getBytes)
      spark.readStream.option("maxFilesPerTrigger", "1").text(src)
    }
    val out = Artifacts.drain("spec_drain", dir, OutputMode.Append)(topic)
    val art = Paths.get(out).getParent
    assert(Paths.get(out).getFileName.toString === "out")
    assert(art.getParent === Artifacts.root)
    assert(Seq("src", "out", "ckpt").forall(d => Files.isDirectory(art.resolve(d))))
    assert(spark.read.parquet(out).count() === 3)
    assert(Artifacts.drain("spec_drain", dir, OutputMode.Append)(_ =>
      fail("memo hit must not rebuild")) === out)
    val e = intercept[IllegalStateException](
      Artifacts.drain("spec_drain_one", dir, OutputMode.Append, maxBatches = 1)(topic))
    assert(e.getMessage.contains("2 input batches"))
  }

  test("the shutdown routine deletes a root tree without following symlinks") {
    withTempDir("graft_spec_root_") { root =>
      val outside = Files.createTempFile("graft_spec_keep_", ".txt")
      try {
        val art = Files.createDirectories(root.resolve("graft_a_1/out/part=0"))
        Files.write(art.resolve("f.parquet"), Array[Byte](0))
        Files.write(root.resolve("graft_a_1/.f.parquet.crc"), Array[Byte](0))
        Files.createSymbolicLink(root.resolve("graft_link"), outside)
        Artifacts.deleteTree(root)
        assert(!Files.exists(root))
        assert(Files.exists(outside), "a symlink's target must survive")
        Artifacts.deleteTree(root) // already gone: no-op
      } finally Files.deleteIfExists(outside)
    }
  }
}
