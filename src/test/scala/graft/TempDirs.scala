package graft

import java.nio.file.{Files, Path}

import org.scalatest.{Args, Status, Suite}

/** Temp dirs for specs, deleted with everything under them when their
  * scope ends. [[TempDirs.withTempDir]] scopes a dir to a block; a suite
  * that mixes in the trait gets [[tempDir]]s under one root that
  * `withTempDir` holds for the whole suite run, because lazy fixtures
  * shared by several cases outlive any one case.
  */
trait TempDirs extends Suite {
  @volatile private var root: Option[Path] = None

  abstract override def run(testName: Option[String], args: Args): Status =
    TempDirs.withTempDir(s"graft-$suiteName") { dir =>
      root = Some(dir)
      val status = super.run(testName, args)
      status.waitUntilCompleted()
      status
    }

  /** A fresh `prefix…` dir, deleted when the suite has run. */
  protected def tempDir(prefix: String): Path =
    Files.createTempDirectory(root.getOrElse(sys.error("tempDir called outside run")), prefix)
}

object TempDirs {

  /** `body` on a fresh `prefix…` temp dir; the dir is deleted, recursively,
    * when `body` returns or throws.
    */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir)
    finally delete(dir)
  }

  // best effort, as SparkEntry.rmTree: a file that vanishes mid-walk (a
  // stopped query's state-store maintenance) must not fail the spec
  private def delete(dir: Path): Unit =
    try {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
}
