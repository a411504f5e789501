package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils

/** Temp directories for specs that are gone when the test ends. */
object TempDirs {

  /** Run `body` with a fresh temp dir named `prefix…`, deleting the dir
    * and everything under it afterwards, pass or fail. */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir)
    finally FileUtils.deleteQuietly(dir.toFile): Unit
  }

  /** [[withTempDir]] for several dirs at once: `body` gets one fresh dir
    * path per prefix, in order, and every one is deleted afterwards. */
  def withTempDirs[T](prefixes: String*)(body: Seq[String] => T): T =
    if (prefixes.isEmpty) body(Nil)
    else withTempDir(prefixes.head)(d =>
      withTempDirs(prefixes.tail: _*)(ds => body(d.toString +: ds)))
}
