package graft.util

import java.nio.file.Files

/** Commit protocols for landed layouts. Memoizing and keying a landed
  * artifact lives in [[Artifacts]].
  */
object Landing {

  /** Idempotent micro-batch append into an existing `partitionBy` parquet
    * layout (the e20 streaming-sink commit): foreachBatch is AT-LEAST-ONCE
    * — a failed-then-retried micro-batch re-runs the sink function with
    * the same batchId — so the commit must converge on replay instead of
    * duplicating rows. Protocol (every step replay-safe):
    *   1. `_batch_<id>_committed` marker present → already fully
    *      committed, return;
    *   2. stage the batch under `.stage_batch_<id>` with mode(overwrite)
    *      — a retried stage write self-cleans;
    *   3. delete any `batch<id>_*` files a crashed publish left inside
    *      the partition dirs;
    *   4. move the staged files into their partitions under
    *      batchId-prefixed names;
    *   5. drop the stage, then create the marker (atomic file create).
    * A crash anywhere before step 5 makes the replay redo 2–4 and
    * converge on exactly the restaged file set; after step 5 the replay
    * is a no-op. Reader-visibility guarantee (precisely): Spark's
    * partition discovery ignores the dot-prefixed stage and the
    * underscore-prefixed marker, so a concurrent reader never sees a
    * torn STAGE write — but steps 3–4 publish file-by-file, so a reader
    * listing mid-publish CAN observe a partial batch (readers do not
    * consult the marker). What the protocol guarantees is replay
    * convergence + no torn stage, not snapshot isolation; if full reader
    * atomicity were ever needed, publish via a single directory rename
    * into a versioned manifest (the s16 snapshot pattern) instead.
    */
  def idempotentAppend(df: org.apache.spark.sql.DataFrame, dir: String,
      batchId: Long, partCol: String): Unit = {
    val root = new java.io.File(dir)
    val marker = new java.io.File(root, s"_batch_${batchId}_committed")
    if (marker.exists()) return
    val stage = new java.io.File(root, s".stage_batch_$batchId")
    df.write.mode("overwrite").partitionBy(partCol).parquet(stage.toString)
    val prefix = s"batch${batchId}_"
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(s"$partCol="))
      .foreach { pd =>
        Option(pd.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith(prefix))
          .foreach(f => Files.deleteIfExists(f.toPath))
      }
    Option(stage.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(s"$partCol="))
      .foreach { pd =>
        val target = new java.io.File(root, pd.getName)
        target.mkdirs()
        Option(pd.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet"))
          .foreach { f =>
            Files.move(f.toPath,
              new java.io.File(target, prefix + f.getName).toPath)
          }
      }
    Artifacts.delete(stage.toPath)
    Files.createFile(marker.toPath)
  }
}
