package graftbench

import java.io.File

/** Maps a Spark job's short call site ("count at Dedup.scala:544") to the
  * engine module whose file launched it. Modules are the directories under
  * `graft/` (`ops`, `sources`, `queries`, ...); files directly in `graft/`
  * are the `entry` module. Built by scanning the engine's source tree, so a
  * new file lands in its module without touching the benchmark. */
final class Modules(byFile: Map[String, String]) {
  def files: Map[String, String] = byFile

  def ofCallSite(shortCallSite: String): String =
    Modules.fileOf(shortCallSite).flatMap(byFile.get).getOrElse(Modules.Other)
}

object Modules {
  val Entry = "entry"
  val Other = "other"

  private val CallSiteFile = """ at ([A-Za-z0-9_$]+\.scala):\d+""".r.unanchored

  def fileOf(shortCallSite: String): Option[String] = shortCallSite match {
    case CallSiteFile(f) => Some(f)
    case _ => None
  }

  /** `srcRoot` is the engine's `src/main/scala`. Two engine files with one
    * name would make call sites ambiguous, so that is an error. */
  def scan(srcRoot: File): Modules = {
    val graftDir = new File(srcRoot, "graft")
    require(graftDir.isDirectory, s"no engine sources under $graftDir")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val pairs = walk(graftDir).map { f =>
      val rel = graftDir.toPath.relativize(f.toPath)
      val module = if (rel.getNameCount == 1) Entry else rel.getName(0).toString
      f.getName -> module
    }
    val dup = pairs.groupBy(_._1).collect { case (n, ps) if ps.size > 1 => n }
    require(dup.isEmpty, s"engine files share a name, call sites are ambiguous: ${dup.mkString(", ")}")
    new Modules(pairs.toMap)
  }
}
