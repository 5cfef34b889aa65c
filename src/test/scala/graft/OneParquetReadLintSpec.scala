package graft

import org.scalatest.funsuite.AnyFunSuite

/** The "one parquet read" rule: every batch parquet read in src/main goes
  * through `graft.util.Artifacts.parquet`, which takes the schema from
  * one footer on the driver instead of Spark's one-task schema job. A
  * batch read chain — `.read`, any `.option`/`.options`/`.schema`/
  * `.format` calls, then `.parquet(` — may appear only in
  * util/Artifacts.scala, or in an [[Allowed]] file as a read that merges
  * the schemas of all its files (`mergeSchema`), which needs Spark's
  * parallel footer merge.
  */
class OneParquetReadLintSpec extends AnyFunSuite {

  /** path under src/main/scala → why its mergeSchema reads stay Spark's */
  private val Allowed: Map[String, String] = Map(
    "graft/sources/SchemaStats.scala" ->
      "stats entries cover every column of the files' merged schema, added columns included",
    "graft/sources/ColumnIds.scala" ->
      "files of one snapshot carry different physical column ids; the merge exposes every id",
    "graft/sources/Snapshots.scala" ->
      "readVersionMerged surfaces a column added mid-history as NULL in older files",
    "graft/sources/JsonAndSinks.scala" ->
      "s10's second batch adds a column; the read must keep it",
  )

  private val Call = """\.(option|options|schema|format)\s*\(""".r

  /** Index just past the parenthesised argument list opening at `open`. */
  private def closeParen(src: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < src.length) {
      src.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i + 1
        case _ =>
      }
      i += 1
    }
    src.length
  }

  /** (line, merges) of every batch parquet read chain in `src`. */
  private def reads(src: String): Seq[(Int, Boolean)] =
    """\.read\b(?!Stream)""".r.findAllMatchIn(src).flatMap { m =>
      var i = m.end
      var merges = false
      var done = false
      var hit = false
      while (!done) {
        val rest = src.substring(i)
        val ws = rest.takeWhile(_.isWhitespace).length
        Call.findPrefixMatchOf(rest.substring(ws)) match {
          case Some(c) =>
            val end = closeParen(src, i + ws + c.end - 1)
            merges ||= src.substring(i, end).contains("\"mergeSchema\", \"true\"")
            i = end
          case None =>
            hit = rest.substring(ws).startsWith(".parquet(")
            done = true
        }
      }
      if (hit) Some((src.substring(0, m.start).count(_ == '\n') + 1, merges))
      else None
    }.toSeq

  /** The source with comments blanked out, line breaks kept. */
  private def code(src: String): String =
    """(?s)/\*.*?\*/|//[^\n]*""".r.replaceAllIn(src,
      m => java.util.regex.Matcher.quoteReplacement(m.matched.replaceAll("[^\n]", " ")))

  test("no batch .read...parquet( outside util/Artifacts.scala (or a mergeSchema read in the allowlist)") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val found = files(root).map { f =>
      val rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try rel -> reads(code(src.mkString)) finally src.close()
    }.filter(_._1 != "graft/util/Artifacts.scala")
    val offenders = found.flatMap { case (rel, rs) =>
      rs.collect { case (line, merges) if !(merges && Allowed.contains(rel)) =>
        s"$rel:$line" }
    }
    assert(offenders.isEmpty,
      "read parquet through graft.util.Artifacts.parquet, or allowlist a " +
        "mergeSchema read with a reason: " + offenders.mkString(", "))
    val merging = found.filter(_._2.exists(_._2)).map(_._1).toSet
    Allowed.keys.foreach(rel => assert(merging(rel),
      s"stale allowlist entry (no mergeSchema read left): $rel"))
  }

  test("the scanner sees single-line, chained and multi-line reads") {
    val src =
      """val a = s.read.parquet(p)
        |val b = s.read.option("mergeSchema", "true")
        |  .parquet(ps: _*)
        |val c = spark.read.schema(f(x.y)).parquet(q)
        |val d = spark.readStream.schema(t).parquet(q)
        |// s.read.parquet(commented)
        |val e = Artifacts.parquet(s, p)
        |""".stripMargin
    assert(reads(code(src)) === Seq((1, false), (2, true), (4, false)))
  }
}
