package graft

import org.scalatest.funsuite.AnyFunSuite

/** The "one top-k" rule: every DataFrame-side per-group top-k or argmax
  * goes through `util.Ranks.topK`, whose `rank <= k` filter Spark plans as
  * a partial `WindowGroupLimit` before the exchange and a final one after
  * it. So in src/main Scala code (SQL string literals and comments aside)
  * `row_number().over(` and `dense_rank().over(` appear only in `Ranks`,
  * or at a numbering window with no `<= k` limit that [[Allowed]] names
  * by file and enclosing def, with its reason. No `TypedImperativeAggregate`
  * under `functions/` may be a top-k either: Spark's own group limit
  * replaced the hand-rolled ones.
  */
class OneTopKLintSpec extends AnyFunSuite {

  private val Home = "graft/util/Ranks.scala"

  /** A numbering window: a file and the def enclosing it. */
  private case class Site(file: String, inDef: String)

  private val Allowed: Map[Site, String] = Map(
    Site("graft/ext/Curation.scala", "c7EpochShuffle") ->
      "c7 numbers every row of its shard (`position`); nothing is dropped",
    Site("graft/ext/DedupOps.scala", "d19ClusterReps") ->
      ("d19's argmax also keeps only clusters of two or more, which needs " +
        "the whole-partition count over the same window"),
    Site("graft/ext/EventOps.scala", "seasonalDecompose") ->
      "the per-weekday median compares rn to (cnt + 1) div 2, not to a k",
    Site("graft/ext/Sampling.scala", "temperatureMix") ->
      ("the largest-remainder rank numbers every source; rn decides who " +
        "gets an extra unit, it filters nothing"),
    Site("graft/relational/WindowOps.scala", "w4RankFamily") ->
      "w4's percent_rank and ntile need the whole partition, not its top k",
  )

  private val Token = raw"\b(?:row_number|dense_rank)\(\)\.over\(".r
  private val DefRe = raw"\bdef\s+(\w+)".r

  /** `src` with comments and string literals blanked out, lines kept. */
  private def code(src: String): String =
    "(?s)\"\"\".*?\"\"\"|\"(?:\\\\.|[^\"\\\\\\n])*\"|/\\*.*?\\*/|//[^\\n]*".r
      .replaceAllIn(src, m => java.util.regex.Matcher.quoteReplacement(
        m.matched.replaceAll("[^\n]", " ")))

  /** (line, enclosing def) of every numbering window in `src`: the def is
    * the nearest `def` declared at or above the hit.
    */
  private def sites(src: String): Seq[(Int, String)] = {
    var inDef = ""
    code(src).split("\n", -1).toSeq.zipWithIndex.flatMap { case (l, i) =>
      DefRe.findAllMatchIn(l).foreach(m => inDef = m.group(1))
      if (Token.findFirstIn(l).isDefined) Some((i + 1, inDef)) else None
    }
  }

  /** Names of the top-k `TypedImperativeAggregate`s in `src`: an
    * aggregate class, or a `prettyName`, named like `topk`.
    */
  private def topKAggregates(src: String): Seq[String] = {
    val c = code(src)
    if (!c.contains("TypedImperativeAggregate")) Nil
    else {
      val classes = raw"\bclass\s+(\w+)".r.findAllMatchIn(c).map(_.group(1))
      val pretty = raw"prettyName[^\n]*?" + "\"([^\"]*)\""
      val names = pretty.r.findAllMatchIn(
        """(?s)/\*.*?\*/|//[^\n]*""".r.replaceAllIn(src, "")).map(_.group(1))
      (classes ++ names).filter(_.toLowerCase.matches(".*top_?k.*")).toSeq
    }
  }

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil)

  private def sources(dir: String): Seq[(String, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    scalaFiles(new java.io.File(root, dir)).map { f =>
      val rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try rel -> src.mkString finally src.close()
    }
  }

  test("per-group top-k windows only in Ranks (or the limit-free allowlist)") {
    val found = sources("graft").filter(_._1 != Home).flatMap { case (rel, src) =>
      sites(src).map { case (line, d) => (Site(rel, d), line) }
    }
    val offenders = found.collect { case (site, line) if !Allowed.contains(site) =>
      s"${site.file}:$line (in def ${site.inDef})" }
    assert(offenders.isEmpty,
      "rank the k best per group through graft.util.Ranks.topK, or allowlist " +
        "a limit-free numbering window with its reason: " + offenders.mkString(", "))
    val used = found.map(_._1).toSet
    Allowed.keys.foreach(k => assert(used(k),
      s"stale allowlist entry (no such window left): $k"))
  }

  test("no top-k TypedImperativeAggregate under functions/") {
    val found = sources("graft/functions").flatMap { case (rel, src) =>
      topKAggregates(src).map(n => s"$rel: $n")
    }
    assert(found.isEmpty, "Spark's WindowGroupLimit is the one top-k: " +
      found.mkString(", "))
  }

  test("the scanner names each hit's enclosing def and skips SQL and comments") {
    val src =
      """private def w1(s: S) = {
        |  df.withColumn("rn", row_number().over(w))
        |  // row_number().over(commented)
        |  val sql = "SELECT row_number().over(w) FROM t"
        |  val t = \"\"\"row_number().over(
        |    dense_rank().over(w)\"\"\"
        |}
        |def x7(d: D) = d.select(dense_rank().over(w).as("r")) /* row_number().over( */
        |""".stripMargin.replace("\\\"", "\"")
    assert(sites(src) === Seq((2, "w1"), (8, "x7")))
  }

  test("the aggregate scanner finds top-k classes and prettyNames only") {
    val agg =
      """case class TopKPairsAgg(k: Int) extends TypedImperativeAggregate[B] {
        |  override def prettyName: String = s"topk_pairs_$k"
        |}
        |case class Heavy(k: Int) extends TypedImperativeAggregate[B] {
        |  override def prettyName: String = "mg_topk" // topk_note
        |}
        |""".stripMargin
    assert(topKAggregates(agg) === Seq("TopKPairsAgg", "topk_pairs_$k", "mg_topk"))
    assert(topKAggregates("class TopKHelper { def prettyName = \"topk\" }") === Nil)
  }
}
