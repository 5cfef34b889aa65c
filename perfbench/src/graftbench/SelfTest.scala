package graftbench

import java.nio.file.Files

/** Checks of the benchmark's own machinery; no Spark session needed. */
object SelfTest {
  private def check(what: String)(ok: Boolean): Unit = {
    if (!ok) throw new AssertionError(s"self-test failed: $what")
    println(s"ok  $what")
  }

  def run(): Unit = {
    val a = StrokeGen.csv(7, Main.StrokeRows)
    check("same seed gives the same bytes")(java.util.Arrays.equals(a, StrokeGen.csv(7, Main.StrokeRows)))
    check("another seed gives other bytes")(!java.util.Arrays.equals(a, StrokeGen.csv(8, Main.StrokeRows)))
    val rows = new String(a, "UTF-8").split('\n')
    check("header and row count")(rows.head == StrokeGen.Header && rows.length == Main.StrokeRows + 1)
    val cells = rows.tail.map(_.split(','))
    check("12 fields per row")(cells.forall(_.length == 12))
    check("ids are unique")(cells.map(_(0)).distinct.length == Main.StrokeRows)
    val levels = Seq(1 -> StrokeGen.Gender, 5 -> StrokeGen.Married, 6 -> StrokeGen.Work,
      7 -> StrokeGen.Residence, 10 -> StrokeGen.Smoking)
    for ((i, ls) <- levels)
      check(s"column $i holds exactly its ${ls.size} levels")(cells.map(_(i)).toSet == ls.map(_._1).toSet)
    check("levels give a 21-slot vector")(StrokeGen.FeatureWidth == 21)
    val tiny = new String(StrokeGen.csv(8, Main.WarmStrokeRows), "UTF-8").split('\n').tail.map(_.split(','))
    check("warm-up CSV holds every level too")(levels.forall { case (i, ls) => tiny.map(_(i)).toSet.size == ls.size })
    val stroke = cells.count(_(11) == "1").toDouble / cells.length
    check(f"stroke share $stroke%.4f is about 4.9%%")(stroke > 0.040 && stroke < 0.058)
    val na = cells.count(_(9) == "N/A").toDouble / cells.length
    check(f"bmi N/A share $na%.4f is about 3.9%%")(na > 0.033 && na < 0.046)
    check("age is 0.08-82")(cells.map(_(2).toDouble).forall(x => x >= 0.08 && x <= 82))

    val root = Files.createTempDirectory("inputs-selftest")
    try {
      val in = new Inputs(root)
      val dirs = Seq.fill(50)(in.freshDir().toString)
      check("fresh directories are distinct")(dirs.distinct.size == dirs.size)
      dirs.foreach(in.claim)
      check("a second timed call on one directory is refused")(
        scala.util.Try(in.claim(dirs.head)).isFailure)
    } finally Inputs.deleteTree(root)
    println("self-test passed")
  }
}
