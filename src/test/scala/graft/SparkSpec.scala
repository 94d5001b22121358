package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Artifacts

/** Shared local SparkSession for all specs (one JVM, one session), built
  * from the harness's own session config so specs run the same engine. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Runs `body` on a fresh `prefix…` directory in `java.io.tmpdir`, then
    * deletes the tree (symlinks not followed), whatever `body` did. */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally Artifacts.deleteTree(dir)
  }
}
