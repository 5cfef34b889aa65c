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
  *
  * The "one rewrite-and-commit path" rules ([[OnePath]]) pin the layer
  * above: a `CommitConflictException` is caught only by the one
  * conflict-retry loop, a slot is claimed only by the OCC publish and
  * the two publishers that cannot rebase, and a bucketed store write
  * goes through the one bucket stage. Each rule names the (file,
  * enclosing def) sites where its token may appear, with the reason.
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

  /** A site a one-path rule allows: a file and the def enclosing the hit. */
  private case class Site(file: String, inDef: String)

  /** (what, token regex, dirs under src/main/scala scanned recursively,
    * allowed site → why it belongs there)
    */
  private val OnePath: Seq[(String, String, Seq[String], Map[Site, String])] = Seq(
    ("a CommitConflictException catch",
      raw"case\s+\w+\s*:\s*(?:Snapshots\.)?CommitConflictException\b", Seq("graft"),
      Map(
        Site("graft/sources/Snapshots.scala", "retryOnConflict") ->
          "the one conflict-retry loop every store rewrite runs",
        Site("graft/sources/Snapshots.scala", "s34Dir") ->
          ("s34 provokes one conflict on purpose: the stale attempt's staged " +
            "files are the orphan its cleanup must find"))),
    ("a slot claim", raw"\bStore\.claimSlot\(", Seq("graft"),
      Map(
        Site("graft/sources/Snapshots.scala", "publish") ->
          "the one OCC publish (flat manifests and manifest tree)",
        Site("graft/sources/TxnPair.scala", "commitTxn") ->
          ("the transaction publish has no overlap check: a lost claim " +
            "re-checks the winner's pins and takes the next slot"),
        Site("graft/sources/WriteAuditPublish.scala", "auditedPublish") ->
          "the WAP publish must re-audit against the new head, never rebase")),
    ("a bucketed store write", raw"""partitionBy\("nk"\)""", Dirs,
      Map(
        Site("graft/sources/Store.scala", "stageBuckets") ->
          "the one bucket stage")))

  private val DefRe = raw"\bdef\s+(\w+)".r

  /** (line, enclosing def) of every match of `token` in `src`: the def is
    * the nearest `def` declared at or above the hit.
    */
  private def sites(src: String, token: String): Seq[(Int, String)] = {
    val tokenRe = token.r
    var inDef = ""
    code(src).split("\n", -1).toSeq.zipWithIndex.flatMap { case (l, i) =>
      DefRe.findAllMatchIn(l).foreach(m => inDef = m.group(1))
      if (tokenRe.findFirstIn(l).isDefined) Some((i + 1, inDef)) else None
    }
  }

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil)

  test("one conflict-retry loop, one OCC publish (plus the txn and WAP " +
      "publishers) and one bucket stage in src/main") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    OnePath.foreach { case (what, token, dirs, allowed) =>
      val found = dirs.flatMap(d => scalaFiles(new java.io.File(root, d)))
        .distinct.flatMap { f =>
          val rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
          val src = scala.io.Source.fromFile(f, "UTF-8")
          try sites(src.mkString, token).map { case (line, d) => (Site(rel, d), line) }
          finally src.close()
        }
      val offenders = found.collect { case (site, line) if !allowed.contains(site) =>
        s"${site.file}:$line (in def ${site.inDef})" }
      assert(offenders.isEmpty,
        s"$what outside its allowed sites ${allowed.keys.mkString(", ")}: " +
          offenders.mkString(", "))
      val used = found.map(_._1).toSet
      allowed.keys.foreach(k => assert(used(k),
        s"stale allowlist entry for $what (no such site left): $k"))
    }
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

  test("the one-path scanner names each hit's enclosing def and skips comments") {
    val src =
      """def retry(h: => Int) = {
        |  try f() catch { case _: CommitConflictException if n < 3 => None }
        |}
        |// case e: CommitConflictException => commented
        |private[graft] def s34Dir(s: S) = {
        |  catch { case _: Snapshots.CommitConflictException => true }
        |  /* Store.claimSlot(dir) */ Store.claimSlot(dir, "m", 1, 10L, "x")(())
        |  df.write.partitionBy("nk").parquet(p)
        |}
        |""".stripMargin
    val Seq((_, catchRe, _, _), (_, claimRe, _, _), (_, bucketRe, _, _)) = OnePath
    assert(sites(src, catchRe) === Seq((2, "retry"), (6, "s34Dir")))
    assert(sites(src, claimRe) === Seq((7, "s34Dir")))
    assert(sites(src, bucketRe) === Seq((8, "s34Dir")))
  }
}
