package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Hands out input directories that no earlier call in the process has
  * seen, so no timed number can be served by a memo keyed on its input.
  * Every timed call claims its directory; a second claim is an error. */
final class Inputs(root: Path) {
  private var n = 0
  private val claimed = mutable.Set.empty[String]

  def freshDir(): Path = {
    n += 1
    val d = root.resolve(f"in$n%06d")
    Files.createDirectories(d)
    d
  }

  /** A fresh directory holding a copy of every file and directory of `src`. */
  def copyOf(src: Path): String = {
    val d = freshDir()
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = d.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
    d.toString
  }

  /** Record that a timed call reads `dir`; fails if one already did. */
  def claim(dir: String): Unit =
    if (!claimed.add(dir))
      throw new IllegalStateException(s"input directory read by two timed calls: $dir")

  def delete(dir: String): Unit = Inputs.deleteTree(java.nio.file.Paths.get(dir))
}

object Inputs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.deleteIfExists(_))
    }

  /** Bytes of every regular file under `p`. */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => scala.util.Try(Files.size(f)).getOrElse(0L)).sum
}
