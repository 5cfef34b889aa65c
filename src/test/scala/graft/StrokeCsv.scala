package graft

import java.nio.file.{Files, Path}

/** A generated stroke-shaped CSV: the reference's 12 columns, every
  * category level present, ~4 % `bmi = "N/A"` and ~12 % stroke, whose
  * odds rise with age. Every column is drawn from one seeded generator,
  * so no two feature columns alias each other and the label is no exact
  * function of the features: a model fit on it has one well-defined
  * optimum. For specs whose contract is about the pipeline's layout and
  * plumbing, not the reference's values.
  */
object StrokeCsv {

  /** Writes `rows` rows to `dir/stroke.csv` and returns its path. */
  def write(dir: Path, rows: Int): String = {
    val genders = Seq("Male", "Female", "Other")
    val works = Seq("Private", "Self-employed", "Govt_job", "children",
      "Never_worked")
    val smoke = Seq("formerly smoked", "never smoked", "smokes", "Unknown")
    val rnd = new scala.util.Random(42L)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def bit(p: Double): String = if (rnd.nextDouble() < p) "1" else "0"
    val lines = (0 until rows).map { i =>
      val age = 1 + rnd.nextInt(82)
      val bmi = if (rnd.nextInt(25) == 0) "N/A"
        else f"${18.0 + rnd.nextInt(230) / 10.0}%.1f"
      Seq(i.toString, pick(genders), age.toString, bit(0.1), bit(0.05),
        pick(Seq("No", "Yes")), pick(works), pick(Seq("Urban", "Rural")),
        f"${55.0 + rnd.nextInt(2000) / 10.0}%.2f", bmi, pick(smoke),
        bit(0.02 + 0.2 * age / 82.0)).mkString(",")
    }
    val f = dir.resolve("stroke.csv")
    val header = "id,gender,age,hypertension,heart_disease,ever_married," +
      "work_type,Residence_type,avg_glucose_level,bmi,smoking_status,stroke"
    Files.writeString(f, (header +: lines).mkString("\n") + "\n")
    f.toString
  }
}
