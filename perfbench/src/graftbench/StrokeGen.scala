package graftbench

import java.nio.charset.StandardCharsets

/** Seeded generator of a stroke-shaped CSV: the schema and marginals of the
  * reference's healthcare-dataset-stroke-data.csv (FIXTURES.md §A1), at any
  * row count. The same (seed, rows) always gives the same bytes.
  *
  * Every category level appears at least once, so the assembled feature
  * vector is always 21 slots wide. The label depends on age, hypertension,
  * heart disease and glucose, so a fitted classifier has signal to find.
  */
object StrokeGen {

  val Header =
    "id,gender,age,hypertension,heart_disease,ever_married,work_type," +
      "Residence_type,avg_glucose_level,bmi,smoking_status,stroke"

  /** Category levels with their reference frequencies (of 5,110 rows). */
  val Gender = Seq("Female" -> 2994, "Male" -> 2115, "Other" -> 1)
  val Married = Seq("Yes" -> 3353, "No" -> 1757)
  val Work = Seq("Private" -> 2925, "Self-employed" -> 819, "children" -> 687,
    "Govt_job" -> 657, "Never_worked" -> 22)
  val Residence = Seq("Urban" -> 2596, "Rural" -> 2514)
  val Smoking = Seq("never smoked" -> 1892, "Unknown" -> 1544,
    "formerly smoked" -> 885, "smokes" -> 789)

  /** Width of the assembled vector: one slot per level of each categorical
    * column (StringIndexer keep + OneHotEncoder dropLast) plus 5 numerics. */
  val FeatureWidth: Int =
    Seq(Gender, Married, Work, Residence, Smoking).map(_.size).sum + 5

  private def pick(levels: Seq[(String, Int)], u: Double): String = {
    val total = levels.map(_._2).sum.toDouble
    var acc = 0.0
    levels.find { case (_, n) => acc += n / total; u < acc }
      .getOrElse(levels.last)._1
  }

  /** Rows come from one fixed base sample in a fixed order; the seed
    * permutes the ids, which the pipeline drops. Every seed thus gives the
    * pipeline the same work (SMOTE's pairs, the 70/30 split, the
    * optimizers' iterations), so the spread between runs is the machine's,
    * not LinearSVC converging in a different number of jobs. */
  def csv(seed: Long, rows: Int): Array[Byte] = {
    val ids = new scala.util.Random(seed).shuffle((1 to rows).toVector)
    val sb = new java.lang.StringBuilder(rows * 80)
    sb.append(Header).append('\n')
    baseRows(rows).zip(ids).foreach { case (r, id) => sb.append(id).append(',').append(r).append('\n') }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  private val BaseSeed = 20110L

  /** `rows` CSV rows without the id column. */
  private def baseRows(rows: Int): Array[String] = {
    val maxLevels = Seq(Gender, Married, Work, Residence, Smoking).map(_.size).max
    require(rows >= maxLevels, s"need at least $maxLevels rows, got $rows")
    val rng = new scala.util.Random(BaseSeed)
    Array.tabulate(rows) { i =>
      // the first rows cycle through every level so none can be missing
      def level(levels: Seq[(String, Int)]): String = {
        val u = rng.nextDouble()
        if (i < levels.size) levels(i)._1 else pick(levels, u)
      }
      val age = {
        val a = rng.nextDouble() * 82.0
        if (a < 2.0) math.round(a * 100) / 100.0 max 0.08 else math.floor(a)
      }
      val hyp = if (rng.nextDouble() < 0.02 + 0.15 * age / 82) 1 else 0
      val hd = if (rng.nextDouble() < 0.01 + 0.09 * age / 82) 1 else 0
      val glucose = {
        val g = if (rng.nextDouble() < 0.85) 92 + 20 * rng.nextGaussian()
                else 205 + 30 * rng.nextGaussian()
        math.round((g max 55.0 min 272.0) * 100) / 100.0
      }
      val bmiNa = rng.nextDouble() < 201.0 / 5110
      val bmi = math.round((28.9 + 7.8 * rng.nextGaussian()).max(10.3).min(97.6) * 10) / 10.0
      val logit = -6.45 + 0.06 * age + 0.5 * hyp + 0.5 * hd + 0.006 * (glucose - 100)
      val stroke = if (rng.nextDouble() < 1 / (1 + math.exp(-logit))) 1 else 0
      val gender = level(Gender)
      val married = level(Married)
      val work = level(Work)
      val residence = level(Residence)
      val smoking = level(Smoking)
      Seq(gender, age, hyp, hd, married, work, residence, glucose,
        if (bmiNa) "N/A" else bmi.toString, smoking, stroke).mkString(",")
    }
  }
}
