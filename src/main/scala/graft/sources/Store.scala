package graft.sources

import org.apache.spark.sql.DataFrame

/** The manifest stores' ON-DISK PROTOCOL, below the commit logic: every
  * store in `sources/` and `streaming/` reads and writes its metadata
  * through this module, so each protocol detail is decided once
  * (OneStoreIoLintSpec keeps it that way). It owns:
  *
  *  - METADATA FILE I/O: [[writeLines]] for bootstrap files no reader
  *    can see yet, [[writeLinesAtomic]] (temp + atomic rename) for
  *    anything a reader may already watch, [[readLines]] for both;
  *  - the BUCKET STAGE every bucketed write goes through
  *    ([[stageBuckets]]: `partitionBy("nk")` into `dir/sub`, the staged
  *    files back), and the LEAF-FILE LISTINGS of a staged write
  *    (bucketed `nk=` layout, flat layout, or an arbitrary-depth walk);
  *  - the VERSION SEQUENCE of a `<prefix><v>.txt` family — its committed
  *    versions and its [[head]] (`manifest_`, `mlist_`, `txn_`, and the
  *    sidecar dialects);
  *  - the SLOT CLAIM every publisher takes ([[claimSlot]]: O_EXCL
  *    `<name>_<n>.txt.claim`, publish while holding it, remove it once
  *    the publish returned, bounded wait for a winner, orphaned-claim
  *    error);
  *  - VERSION-ADDRESSED SIDECARS (`<prefix><v>.txt`, resolved
  *    nearest-at-or-below — the Iceberg sequence-number rule) and their
  *    DIALECT REGISTRY, which the orphan sweep and sidecar retention in
  *    [[Snapshots]] consume instead of naming dialects themselves.
  *
  * What a commit means stays in [[Snapshots]], one layer up: the one
  * conflict-retry loop every store rewrite runs
  * ([[Snapshots.retryOnConflict]]), the one bucket rewrite
  * ([[Snapshots.rewriteBucket]]) and the one OCC publish
  * ([[Snapshots.publish]]) that both the flat manifests and the
  * manifest tree commit through, plus retention.
  */
object Store {

  // ---- metadata file I/O ----------------------------------------------------

  /** Plain metadata write — for BOOTSTRAP files only (manifest_1 of a
    * store being built in place, before any reader exists, or a file
    * written while its slot claim is held). Anything a reader may
    * already watch goes through [[writeLinesAtomic]].
    */
  private[graft] def writeLines(path: String, lines: Seq[String]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("\n").getBytes("UTF-8"))

  /** Temp + atomic rename — readers never see a torn file. */
  private[graft] def writeLinesAtomic(path: String,
      lines: Seq[String]): Unit = {
    val target = java.nio.file.Paths.get(path)
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    writeLines(tmp.toString, lines)
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The non-empty lines of a metadata file (throws if it is missing). */
  private[graft] def readLines(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).toList finally src.close()
  }

  /** Bootstrap manifest write (entries may carry stats). */
  private[graft] def writeManifest(dir: String, v: Int,
      entries: Seq[String]): Unit =
    writeLines(s"$dir/manifest_$v.txt", entries)

  // ---- the bucket stage and leaf-file listings ------------------------------

  /** THE bucket stage: write `df` — laid out by the caller
    * (`repartition(col("nk"))`, `coalesce(1)`, a range sort) and
    * carrying the bucket column `nk` — as `nk=<k>` dirs under
    * `dir/sub`, and return the staged data files.
    */
  private[graft] def stageBuckets(df: DataFrame, dir: String,
      sub: String): Seq[String] = {
    df.write.mode("overwrite").partitionBy("nk").parquet(s"$dir/$sub")
    bucketedLeafFiles(dir, sub)
  }

  /** Data files of a `partitionBy(bucket)` staged write: one level of
    * `<prefix><value>=`-style dirs, parquet leaves inside.
    */
  private[graft] def bucketedLeafFiles(dir: String, sub: String,
      prefix: String = "nk="): Seq[String] =
    Option(new java.io.File(s"$dir/$sub").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .flatMap(pd => pd.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath))
      .toSeq.sorted

  /** Data files of an unpartitioned staged write (flat dir). */
  private[graft] def flatLeafFiles(dir: String, sub: String): Seq[String] =
    Option(new java.io.File(s"$dir/$sub").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      .toSeq.sorted

  /** Every parquet under `dir/sub`, any depth — for layouts whose
    * partitioning shape isn't known to the caller. Empty if `dir/sub`
    * does not exist, like the other listers.
    */
  private[graft] def walkLeafFiles(dir: String, sub: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(s"$dir/$sub")
    if (!java.nio.file.Files.exists(root)) return Seq.empty
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    finally walk.close()
  }

  /** Whether a data-file path sits in bucket `nk` of a bucketed layout. */
  private[graft] def inBucket(path: String, nk: Int): Boolean = {
    val sep = java.io.File.separator
    path.contains(s"${sep}nk=$nk$sep")
  }

  // ---- version sequences and the slot claim ---------------------------------

  /** Committed versions of a `<prefix><v>.txt` family, ascending. */
  private[graft] def versions(dir: String, prefix: String): Seq[Int] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .collect { case n if n.startsWith(prefix) && n.endsWith(".txt") =>
        n.stripPrefix(prefix).stripSuffix(".txt") }
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toInt)
      .toSeq.sorted

  /** Highest published version of a family (0 = none): a driver-side
    * directory listing, the metastore-head fetch.
    */
  private[graft] def head(dir: String, prefix: String): Int =
    versions(dir, prefix).lastOption.getOrElse(0)

  /** Claim slot `n` of the `<name>_<n>.txt` family and publish it. The
    * claim is an atomic O_EXCL create of `<name>_<n>.txt.claim` — the
    * only true test-and-set the filesystem gives (an atomic rename onto
    * an existing target silently replaces it). The winner runs `publish`
    * while holding the claim, removes the claim once `publish` returned,
    * and gets true. Because consumed claims are removed, a create can
    * succeed on a slot that is already published: the winner then finds
    * `<name>_<n>.txt`, drops the claim it just took, runs nothing and
    * gets false, like any loser. A loser waits up to `claimWaitMs` for
    * the winner's `<name>_<n>.txt` and gets false (the caller re-reads
    * the head and retries); if the file never appears the claimant died
    * mid-publish, and the [[Snapshots.CommitConflictException]] names
    * the claim to remove (`what` describes it). A `publish` that throws
    * leaves its claim on disk — the same orphaned-claim state, which
    * the orphan sweep's aged-claim path recovers.
    */
  private[graft] def claimSlot(dir: String, name: String, n: Int,
      claimWaitMs: Long, what: String)(publish: => Unit): Boolean = {
    val claim = new java.io.File(dir, s"${name}_$n.txt.claim")
    val published = new java.io.File(dir, s"${name}_$n.txt")
    val won =
      try { java.nio.file.Files.createFile(claim.toPath); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    if (won) {
      val fresh = !published.exists()
      if (fresh) publish
      java.nio.file.Files.delete(claim.toPath)
      fresh
    } else {
      val deadline = System.nanoTime() + claimWaitMs * 1000000L
      while (!published.exists() && System.nanoTime() < deadline)
        Thread.sleep(2)
      if (!published.exists())
        throw new Snapshots.CommitConflictException(
          s"orphaned $what; manual recovery: remove ${claim.getPath}")
      false
    }
  }

  // ---- version-addressed sidecars -------------------------------------------

  /** The sidecar dialect registry. `fileListPrefixes` name the subset
    * whose LINES are data-file paths — payloads referenced by no
    * manifest, which the orphan sweep must treat as live.
    */
  private[graft] val sidecarPrefixes = Seq("deletes_", "colmap_")
  private[graft] val fileListSidecarPrefixes = Seq("deletes_")

  /** Nearest sidecar version at or below `v` (the Iceberg
    * sequence-number rule: a sparse metadata commit applies to every
    * later snapshot until superseded). None = no sidecar yet.
    */
  private[graft] def resolveSidecarVersion(dir: String, prefix: String,
      v: Int): Option[Int] =
    (v to 1 by -1).find(i =>
      new java.io.File(dir, s"$prefix$i.txt").exists())

  /** Lines of the nearest sidecar at or below `v`; None = none yet. */
  private[graft] def readSidecar(dir: String, prefix: String,
      v: Int): Option[Seq[String]] =
    resolveSidecarVersion(dir, prefix, v).map(m =>
      readLines(s"$dir/$prefix$m.txt"))

  /** Publish a sidecar for version `v`. Called from occCommit's
    * `beforePublish` while the slot claim is held — a visible version
    * never lacks its sidecar.
    */
  private[graft] def writeSidecar(dir: String, prefix: String, v: Int,
      lines: Seq[String]): Unit =
    writeLines(s"$dir/$prefix$v.txt", lines)
}
