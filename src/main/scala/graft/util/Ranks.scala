package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact distributed ranking without a single-partition window.
  *
  * `WindowExec` with an empty PARTITION BY moves every row to ONE
  * partition — the classic global-sort scale cliff (`ntile`, `row_number`
  * over a whole table). The m7 prefix-sum discipline removes it: band the
  * rows by a handful of APPROXIMATE score boundaries (banding only has to
  * be order-consistent, not balanced — boundary accuracy affects band
  * skew, never the answer), count each band, prefix-sum the tiny
  * band-count frame into offsets, rank WITHIN bands in parallel, and add
  * the offset. The global rank is exact because bands are contiguous runs
  * of the total (score, id) order: every row with a smaller score lands
  * in an earlier or equal band, and ties (equal scores) always share a
  * band since banding compares the score alone.
  */
object Ranks {

  /** The `k` best rows of each `by` group under `order`, numbered in
    * `rankCol` by `rank` (1-based): `rank.over(partitionBy(by)
    * .orderBy(order))`, then `rankCol <= k`. Spark plans the filter as a
    * `WindowGroupLimit`: a partial limit before the exchange ships at most
    * k rows per group per map partition, and the final one after it.
    * `k` may be a per-row column. With `rank = dense_rank()`, rows that
    * tie on every `order` column share a rank, so a frame holding repeated
    * copies of a row keeps every copy of the k best distinct ones.
    */
  def topK(df: DataFrame, by: Seq[Column], order: Seq[Column], k: Column,
      rankCol: String, rank: Column = row_number()): DataFrame =
    df.withColumn(rankCol,
        rank.over(Window.partitionBy(by: _*).orderBy(order: _*)))
      .filter(col(rankCol) <= k)

  /** Exact global `row_number` over (score ASC, ties ASC..., id ASC),
    * distributed. The whole plan is free of partition-less WindowExec:
    * even the ≤`bands`-row prefix sum runs as a triangular self-join, so
    * callers (t14, km1) can assert a window-partition-clean executed plan.
    *
    * @param bands   number of parallel ranking bands (≈ partition count)
    * @param tieCols extra ORDER BY columns between score and id (banding
    *                still splits on score alone, so score-ties share a
    *                band and the composite rank stays exact)
    * @return df plus `rankCol` (1-based long)
    */
  def distributedRank(df: DataFrame, scoreCol: String, idCol: String,
      rankCol: String, bands: Int = 32,
      tieCols: Seq[String] = Nil): DataFrame = {
    val orderCols = (scoreCol +: tieCols :+ idCol).map(col)
    // Approximate boundaries: a bounded driver-side fetch (bands-1
    // doubles) — the adaptive size-probe class, not a data collect.
    // relativeError 0.01 keeps the sketch one-pass and tiny; a skewed
    // boundary only unbalances band sizes, the ranks stay exact.
    // Probability 1 rides along: the GK sketch keeps the exact maximum,
    // which is what the small-bands guard below compares against.
    val qs = (1 until bands).map(_.toDouble / bands).toArray :+ 1.0
    val quantiles = df.stat.approxQuantile(scoreCol, qs, 0.01)
    val scoreMax = if (quantiles.isEmpty) 0.0 else quantiles.last
    val bounds = quantiles.dropRight(1).distinct.sorted
    val band = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col(scoreCol) > lit(b), 1).otherwise(0)
    }
    // Degenerate-spread guard (round-7 verdict): a (near-)constant score
    // column collapses the quantile boundaries to a handful of values —
    // in the constant case every row lands in band 0 and the "parallel"
    // within-band window IS the single-partition global window by the
    // back door. Score banding can't help (banding must split on score
    // alone only because ties must share a band — but when everything
    // ties, nothing splits), so band on the FULL composite order
    // instead: repartitionByRange over (score, ties, id) makes the
    // physical partition id an order-contiguous band (equal composite
    // keys cannot straddle a range boundary, and the rank order IS the
    // range order), which the offset arithmetic ranks exactly like any
    // other contiguous banding. The range sampler's boundary choice
    // varies run-to-run, so the assignment is pinned ONCE with an eager
    // localCheckpoint — every downstream branch (band counts, offsets,
    // final join) must see the same banding or offsets go inconsistent.
    // Only the degenerate path pays the materialization; the quantile
    // path stays storage-free for the common spread-score case.
    // The quantile path additionally requires ≥2 distinct boundaries:
    // with a single boundary b, a constant score column (score == b
    // everywhere) puts EVERY row in band 0 — for small `bands` (≤5) the
    // ×4 collapse heuristic alone would still accept that and reopen
    // the single-partition-window cliff (round-8 review). Scoped for
    // bands = 2 (round-9 ADVICE item 3): there only ONE boundary can
    // exist, so `>= 2` made the quantile path unreachable and every
    // bands=2 caller paid the range-repartition fallback even on
    // well-spread scores. A lone boundary is a safe 2-banding exactly
    // when it splits the order — some row > b (b < exact max, from the
    // same sketch pass) — which the constant column fails.
    val quantileSafe =
      if (bands == 2) bounds.nonEmpty && bounds.head < scoreMax
      else bounds.length >= 2 && bounds.length * 4 >= bands - 1
    val banded =
      if (quantileSafe)
        df.withColumn("_band", band)
      else df.repartitionByRange(bands, orderCols: _*)
        .withColumn("_band", spark_partition_id())
        .localCheckpoint(true)
    // tiny frame: one row per band. The prefix sum is a triangular
    // self-join instead of a global-order window — same ≤`bands`² cost,
    // zero partition-less WindowExec anywhere in the caller's plan.
    val counts = banded.groupBy(col("_band")).agg(count(lit(1)).as("_bc"))
    val offs = counts.as("_a")
      .join(counts.as("_b"), col("_b._band") < col("_a._band"), "left")
      .groupBy(col("_a._band").as("_band"))
      .agg(coalesce(sum(col("_b._bc")), lit(0L)).as("_off"))
    val wLocal = Window.partitionBy(col("_band")).orderBy(orderCols: _*)
    banded.join(broadcast(offs), "_band")
      .withColumn(rankCol,
        (row_number().over(wLocal).cast("long") + col("_off")).cast("long"))
      .drop("_band", "_off")
  }

  /** NTILE(n) bucket from a 1-based-rank column and a total-count column
    * (both BIGINT) — Spark/ANSI semantics in pure integer arithmetic: the
    * first N mod n buckets hold ⌈N/n⌉ rows, the rest ⌊N/n⌋. All divisions
    * are integral `div`, so the assignment is engine-portable (DuckDB's
    * `//` computes the identical buckets). The ELSE branch's `div (N div
    * n)` cannot hit zero: when N < n every rank satisfies the WHEN branch
    * and CaseWhen evaluates lazily (the systematicWeighted guard
    * discipline).
    */
  def ntileFromRank(rankCol: String, totalCol: String, n: Int): Column =
    expr(
      s"""CAST(CASE
         |  WHEN `$rankCol` <= (1 + `$totalCol` div $n) * (`$totalCol` % $n)
         |  THEN (`$rankCol` - 1) div ((`$totalCol` div $n) + 1) + 1
         |  ELSE (`$totalCol` % $n)
         |    + (`$rankCol` - (1 + `$totalCol` div $n) * (`$totalCol` % $n) - 1)
         |      div (`$totalCol` div $n) + 1
         |END AS BIGINT)""".stripMargin)
}
