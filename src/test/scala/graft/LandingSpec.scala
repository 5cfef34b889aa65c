package graft

import org.apache.spark.sql.functions._
import graft.util.Landing

/** Pins util.Landing.idempotentAppend, the replay-safe micro-batch commit
  * into a `partitionBy` layout.
  */
class LandingSpec extends SparkSpec {
  import spark.implicits._

  test("idempotentAppend: a replayed batchId converges on the same file " +
      "set — full replay, and replay of a crashed publish") {
    val dir = graft.util.Artifacts.scratchDir("landing-spec-idem").toString
    val base = Seq((0L, 0), (1L, 1)).toDF("id", "cell")
    base.write.mode("overwrite").partitionBy("cell").parquet(dir)
    def batch = Seq((10L, 0), (11L, 1), (12L, 0)).toDF("id", "cell")
    def snapshot() = {
      val root = new java.io.File(dir)
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .flatMap(pd => pd.listFiles().map(f => pd.getName + "/" + f.getName))
        .toSet
    }
    Landing.idempotentAppend(batch, dir, 7L, "cell")
    val once = snapshot()
    assert(spark.read.parquet(dir).count() === 5)
    // FULL replay (marker present) is a byte-level no-op
    Landing.idempotentAppend(batch, dir, 7L, "cell")
    assert(snapshot() === once, "committed replay must not touch files")
    // CRASHED-publish replay: files published but marker never written —
    // the replay must clean the partial publish and re-converge, not
    // duplicate the batch (the at-least-once foreachBatch case)
    assert(new java.io.File(dir, "_batch_7_committed").delete())
    Landing.idempotentAppend(batch, dir, 7L, "cell")
    assert(spark.read.parquet(dir).count() === 5,
      "replay after a lost marker must not duplicate rows")
    assert(snapshot().map(_.replaceAll("part-.*", "")) ===
      once.map(_.replaceAll("part-.*", "")))
    // a second batch lands beside the first
    Landing.idempotentAppend(batch.filter(col("id") === 10L), dir, 8L, "cell")
    assert(spark.read.parquet(dir).count() === 6)
  }
}
