package graft

import org.scalatest.funsuite.AnyFunSuite

/** The "one memo" rule: util.Artifacts is the only place in src/main that
  * memoizes a derived artifact, so no other file may declare a
  * `scala.collection.concurrent.TrieMap`. Non-artifact state that needs
  * one goes in [[Allowed]] with its reason.
  */
class OneMemoLintSpec extends AnyFunSuite {

  /** path under src/main/scala → why its TrieMap is not an artifact memo */
  private val Allowed: Map[String, String] = Map(
    "graft/util/Artifacts.scala" -> "the artifact store itself",
  )

  test("no TrieMap outside util/Artifacts.scala (or the allowlist)") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val offenders = files(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val hits = try src.getLines().zipWithIndex
        .filter(_._1.contains("TrieMap")).map(l => s"$rel:${l._2 + 1}").toList
      finally src.close()
      if (Allowed.contains(rel)) Nil else hits
    }
    assert(offenders.isEmpty,
      "memoize through graft.util.Artifacts, or allowlist with a reason: " +
        offenders.mkString(", "))
    Allowed.keys.foreach(rel => assert(new java.io.File(root, rel).exists(),
      s"stale allowlist entry: $rel"))
  }
}
