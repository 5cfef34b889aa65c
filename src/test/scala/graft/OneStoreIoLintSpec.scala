package graft

import org.scalatest.funsuite.AnyFunSuite

/** The "one store I/O" rule: the manifest stores in `sources/` and
  * `streaming/` read and write their metadata through `sources.Store`
  * (`writeLines`, `writeLinesAtomic`, `readLines`, `claimSlot`), so a
  * protocol detail — the temp-and-rename publish, the O_EXCL claim, the
  * line format — is decided in one place. Outside Store.scala no file in
  * those packages may call `Files.write(`, `Source.fromFile(`,
  * `Files.createFile(` or use `ATOMIC_MOVE`, unless [[Allowed]] names
  * the site with its reason.
  */
class OneStoreIoLintSpec extends AnyFunSuite {

  private val Dirs = Seq("graft/sources", "graft/streaming")
  private val Home = "graft/sources/Store.scala"

  /** (path under src/main/scala, token) → why the site stays inline */
  private val Allowed: Map[(String, String), String] = Map(
    ("graft/streaming/ChangeFeedStream.scala", "Files.createFile(") ->
      ("markApplied's ledger marker is an empty file whose O_EXCL create is " +
        "the whole append; losing the race means the version is applied " +
        "(convergent), so there is no slot to publish and nothing to wait for"),
  )

  private val Tokens =
    Seq("Files.write(", "Source.fromFile(", "Files.createFile(", "ATOMIC_MOVE")

  /** The source with comments blanked out, line breaks kept. */
  private def code(src: String): String =
    """(?s)/\*.*?\*/|//[^\n]*""".r.replaceAllIn(src,
      m => java.util.regex.Matcher.quoteReplacement(m.matched.replaceAll("[^\n]", " ")))

  /** (line, token) of every store-I/O call in `src`. */
  private def hits(src: String): Seq[(Int, String)] =
    code(src).split("\n", -1).toSeq.zipWithIndex.flatMap { case (l, i) =>
      Tokens.filter(l.contains).map(t => (i + 1, t))
    }

  test("no inline metadata I/O in sources/ or streaming/ outside Store.scala (or the allowlist)") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val found = Dirs.flatMap(d =>
        Option(new java.io.File(root, d).listFiles()).toSeq.flatten)
      .filter(_.getName.endsWith(".scala"))
      .map { f =>
        val rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try rel -> hits(src.mkString) finally src.close()
      }.filter(_._1 != Home)
    val offenders = found.flatMap { case (rel, hs) =>
      hs.collect { case (line, t) if !Allowed.contains((rel, t)) => s"$rel:$line $t" }
    }
    assert(offenders.isEmpty,
      "read and write store metadata through graft.sources.Store, or " +
        "allowlist the site with a reason: " + offenders.mkString(", "))
    val used = found.flatMap { case (rel, hs) => hs.map(h => (rel, h._2)) }.toSet
    Allowed.keys.foreach(k => assert(used(k),
      s"stale allowlist entry (no such call left): $k"))
  }

  test("the scanner sees each token and skips comments") {
    val src =
      """java.nio.file.Files.write(p, b)
        |// Files.write(commented)
        |/* Source.fromFile(f)
        |   ATOMIC_MOVE */ val s = scala.io.Source.fromFile(f)
        |Files.move(a, b, StandardCopyOption.ATOMIC_MOVE)
        |try java.nio.file.Files.createFile(c)
        |Store.writeLines(p, ls)
        |""".stripMargin
    assert(hits(src) === Seq((1, "Files.write("), (4, "Source.fromFile("),
      (5, "ATOMIC_MOVE"), (6, "Files.createFile(")))
  }
}
