package graft.io

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.OutputMode

/** The engine's one store of landed artifacts: ladders, index stores,
  * DSv2 landings and streaming-parity drains. Each artifact is built once
  * per `(name, fixture dir)` in this JVM and read by path afterwards.
  *
  * Every artifact directory is `graft_<name>_…` under a single root in
  * `java.io.tmpdir`, created on first use and deleted by a JVM shutdown
  * hook, so a run leaves nothing behind in the temp dir (the stress
  * mains keep their scratch trees under the same root). An artifact
  * landed with an `input` fingerprint is landed again, into a new
  * directory, when its input changes; the rest are never invalidated
  * within a JVM.
  */
object Artifacts {

  /** Leaf files an artifact derives from, as (path, length, mtime). */
  type Input = Seq[(String, Long, Long)]

  private val landed = TrieMap.empty[(String, String, Input), String]

  private[graft] lazy val root: Path = {
    val r = Files.createTempDirectory("graft_artifacts_")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteTree(r), "graft-artifacts-cleanup"))
    r
  }

  /** The landed path of artifact `name` over fixture `dir`: on first call
    * `build` fills a fresh, empty `graft_<name>_…` directory. With an
    * `input` listing, a changed listing builds into a new directory; the
    * superseded one stays until the JVM exits. */
  def land(name: String, dir: String, input: Input = Nil)(build: String => Unit): String =
    landed.getOrElseUpdate((name, dir, input), {
      val out = Files.createTempDirectory(root, s"graft_${name}_").toString
      build(out)
      out
    })

  /** Streaming form of [[land]]: `stream` gets the artifact's `src` path
    * (for a topic it writes before reading it back) and returns the
    * stream, which one [[graft.streaming.Landing.availableNow]] run drains
    * into `out`, checkpointed in `ckpt`. Returns the `out` path. A drain
    * whose input spans more than `maxBatches` micro-batches fails. */
  def drain(name: String, dir: String, mode: OutputMode,
            withBatchId: Boolean = false, maxBatches: Int = Int.MaxValue)
           (stream: String => DataFrame): String =
    land(name, dir) { root =>
      val n = graft.streaming.Landing.availableNow(stream(s"$root/src"),
        s"$root/out", s"$root/ckpt", mode, withBatchId)
      if (n > maxBatches)
        throw new IllegalStateException(
          s"$name drain saw $n input batches (expected at most $maxBatches)")
    } + "/out"

  /** Bind `(name, dir)` to `path`, or unbind it on None, returning the
    * previous binding: a spec's seam for feeding consumers a pre-built
    * artifact, and the way to drop an artifact found emptied on disk. */
  private[graft] def rebind(name: String, dir: String,
                            path: Option[String]): Option[String] =
    path match {
      case Some(p) => landed.put((name, dir, Nil), p)
      case None => landed.remove((name, dir, Nil))
    }

  /** Delete `p` and everything under it without following symlinks; what
    * the shutdown hook runs on the root. */
  private[graft] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        Files.deleteIfExists(f); FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult = {
        Files.deleteIfExists(f); FileVisitResult.CONTINUE
      }
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult = {
        Files.deleteIfExists(d); FileVisitResult.CONTINUE
      }
    })
}
