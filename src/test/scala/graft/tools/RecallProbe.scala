package graft.tools

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.ext.SimilarityOps._

/** Measurement harness for the ANN bounded-gate floors: prints per-query
  * recall vs in-engine brute force for every builder in
  * [[GenFixtures.annBuilders]] (aggregate as well for the label-filtered
  * ones, against the exact filtered top-k) and aggregate recall for x7,
  * at sf0.01 and sf0.1. Run when (re)setting the recall floors the
  * registered gate queries assert — the floors must sit below every value
  * printed here at BOTH SFs (the pipelines are deterministic, so any
  * floor under the measured minimum is a hard, non-flaky gate).
  *
  * Usage: `Test/runMain graft.tools.RecallProbe`
  */
object RecallProbe {
  /** Builders whose exact reference is the label-filtered top-k. */
  private val Filtered = Set("x10b", "x17", "x22")

  def main(args: Array[String]): Unit = {
    val s = SparkSpec.session
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    for (dir <- dirs) {
      val emb = Tables.embeddings(s, dir).cache()
      val q5 = emb.filter(col("vec_id") < 5)
      def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select("q_id", "c_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = pairs(bruteForceTopK(emb, q5, 10))
      val exF = pairs(filteredBruteTopK(emb, q5, 10))
      for ((nm, build) <- GenFixtures.annBuilders if nm != "x7") {
        val ap = pairs(build(s, dir))
        if (Filtered(nm))
          println(f"[recall] $dir $nm aggregate: ${(exF & ap).size.toDouble / exF.size}%.4f" +
            s" per-query: ${(0L until 5L).map(q => (exF.filter(_._1 == q) & ap).size.toDouble / math.max(1, exF.count(_._1 == q))).mkString(", ")}")
        else {
          val per = (0L until 5L).map(q =>
            (exact.filter(_._1 == q) & ap).size / 10.0)
          println(s"[recall] $dir $nm per-query: ${per.mkString(", ")}")
        }
      }
      val exall = pairs(bruteForceTopK(emb, emb, 3))
      val kj = pairs(knnJoin(emb, 3))
      println(f"[recall] $dir x7 aggregate: ${(exall & kj).size.toDouble / exall.size}%.4f")
      // x13b: indexed-fused doc-set overlap vs the exact-fused top-20
      val exFused = graft.ext.RetrievalOps.x13Hybrid(s, dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val idxFused = graft.ext.RetrievalOps.x13bIndexedFused(s, dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      println(f"[recall] $dir x13b fused overlap: ${
        (exFused & idxFused).size.toDouble / exFused.size}%.4f")
      println(f"[spill] $dir storage expansion: ${spillExpansion(emb)}%.4f")
      println(f"[d12] $dir intra-cell coverage: ${d12CoverageFrame(s, dir).head().getDouble(0)}%.4f")
      emb.unpersist()
    }
  }
}
