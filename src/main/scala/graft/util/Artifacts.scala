package graft.util

import java.nio.file.{Files, Path}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{CompletableFuture, ExecutionException}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place that memoizes a derived artifact: a value (driver-side
  * scalar, fitted centroids, a parquet read plan), a frame (an eager
  * `localCheckpoint`) or a directory (an on-disk layout or index).
  *
  * Key: a [[Key]] is a FAMILY — op tag, parameters, source paths — plus
  * a VERSION, normally the [[stamp]] of every source path. A rewritten
  * source gets a new version; the family stays the same.
  *
  * Build: every kind builds once per key. The first caller claims a
  * future with `putIfAbsent` and builds outside any lock; concurrent
  * callers wait for it. A failed build fails its waiters once and leaves
  * the store, so later callers retry.
  *
  * Eviction, one rule, applied when a version is inserted: drop the other
  * versions of the same family, entries whose session has stopped, and
  * entries whose source path no longer exists. An evicted directory
  * build is deleted from disk.
  *
  * Frames: past [[FrameRowCap]] rows a frame is returned checkpointed but
  * not kept, so it lives only as long as its caller holds it. Kept
  * frames' storage bytes are summed in [[stats]].
  *
  * Scratch directories ([[scratchDir]], directory builds included) are
  * deleted by one JVM shutdown hook, or earlier through [[delete]].
  */
object Artifacts {

  /** Version of a source path: newest mtime, total bytes and file count
    * over everything below it. Missing or non-local paths stamp as zero.
    */
  final case class Stamp(mtime: Long, bytes: Long, files: Long)

  final case class Key(op: String, params: Seq[Any], sources: Seq[String],
      version: Any) {
    def family: (String, Seq[Any], Seq[String]) = (op, params, sources)
  }

  final case class Stats(hits: Long, misses: Long, pinnedBytes: Long)

  /** Row cap on kept frames; it bounds pinned bytes, not correctness. */
  private[graft] val FrameRowCap = 2000000L

  /** Key versioned by the stamps of `sources`. */
  def key(op: String, sources: Seq[String], params: Any*): Key =
    Key(op, params, sources, sources.map(stamp))

  def key(op: String, source: String, params: Any*): Key =
    key(op, Seq(source), params: _*)

  /** Key of an arbitrary frame. A file-backed frame is versioned by its
    * roots' stamps and its analyzed plan's semantic hash. A frame with no
    * file relation (a checkpoint, a local relation) has no version: its
    * plan hash is its identity and goes into the family.
    */
  def key(op: String, df: DataFrame, params: Any*): Key = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = df.queryExecution.analyzed
    val roots = plan.collect {
      case l: LogicalRelation => l.relation match {
        case f: HadoopFsRelation => f.location.rootPaths.map(_.toString)
        case _ => Seq.empty
      }
    }.flatten.distinct.sorted
    if (roots.isEmpty) Key(op, params :+ plan.semanticHash(), Nil, ())
    else Key(op, params, roots, (roots.map(stamp), plan.semanticHash()))
  }

  private def localFile(path: String): Option[java.io.File] =
    if (path.startsWith("file:")) Some(new java.io.File(new java.net.URI(path)))
    else if (path.contains("://")) None
    else Some(new java.io.File(path))

  def stamp(path: String): Stamp = localFile(path) match {
    case Some(f) if f.exists() => walkStamp(f.toPath, attempts = 3)
    case _ => Stamp(0L, 0L, 0L)
  }

  private def walkStamp(root: Path, attempts: Int): Stamp =
    try {
      val walk = Files.walk(root)
      try walk.iterator().asScala.foldLeft(Stamp(0L, 0L, 0L)) { (s, p) =>
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        val file = a.isRegularFile
        Stamp(math.max(s.mtime, a.lastModifiedTime.toMillis),
          s.bytes + (if (file) a.size else 0L),
          s.files + (if (file) 1L else 0L))
      } finally walk.close()
    } catch { // a file vanished mid-walk: the tree is changing, walk again
      case _: java.io.IOException | _: java.io.UncheckedIOException
          if attempts > 1 && Files.exists(root) =>
        walkStamp(root, attempts - 1)
      case _: java.io.IOException | _: java.io.UncheckedIOException
          if !Files.exists(root) =>
        Stamp(0L, 0L, 0L)
    }

  // ---- the store ---------------------------------------------------------

  private final class Entry(val key: Key) {
    val result = new CompletableFuture[Any]
    @volatile var dir: Option[Path] = None
    @volatile var bytes = 0L
  }

  private val entries = TrieMap.empty[Key, Entry]
  private val hits = new AtomicLong
  private val misses = new AtomicLong

  def stats: Stats = Stats(hits.get, misses.get,
    entries.values.iterator.map(_.bytes).sum)

  /** Stored keys of `op`, with the storage bytes each kept frame pins. */
  private[graft] def entriesOf(op: String): Seq[(Key, Long)] =
    entries.values.iterator.filter(_.key.op == op)
      .map(e => e.key -> e.bytes).toSeq

  private def stale(k: Key): Boolean =
    k.params.exists {
      case s: SparkSession => s.sparkContext.isStopped
      case _ => false
    } || k.sources.exists(p => localFile(p).exists(!_.exists()))

  private def evict(e: Entry): Unit = {
    entries.remove(e.key, e)
    if (e.result.isDone && !e.result.isCompletedExceptionally)
      e.dir.foreach(delete)
  }

  private def sweep(fresh: Key): Unit = synchronized {
    val fam = fresh.family
    entries.values.toSeq
      .filter(e => e.key != fresh && (e.key.family == fam || stale(e.key)))
      .foreach(evict)
  }

  private def build[A](key: Key)(make: Entry => A): A = {
    val mine = new Entry(key)
    entries.putIfAbsent(key, mine) match {
      case Some(existing) =>
        hits.incrementAndGet()
        try existing.result.get().asInstanceOf[A]
        catch { // waiters see the builder's own exception, not the wrapper
          case e: ExecutionException => throw Option(e.getCause).getOrElse(e)
        }
      case None =>
        misses.incrementAndGet()
        try {
          sweep(key)
          val v = make(mine)
          mine.result.complete(v)
          v
        } catch {
          case t: Throwable =>
            entries.remove(key, mine)
            mine.dir.foreach(delete)
            mine.result.completeExceptionally(t)
            throw t
        }
    }
  }

  /** A driver-side value, built once per key. */
  def value[A](key: Key)(make: => A): A = build(key)(_ => make)

  /** A frame landed by eager `localCheckpoint`, once per (session, key). */
  def frame(spark: SparkSession, key: Key)(make: => DataFrame): DataFrame = {
    val k = key.copy(params = spark +: key.params)
    build(k) { e =>
      val landed = make.localCheckpoint(true)
      if (landed.limit((FrameRowCap + 1).toInt).count() > FrameRowCap)
        entries.remove(k, e)
      else e.bytes = bytesOf(landed)
      landed
    }
  }

  /** Storage bytes (memory plus disk) of a checkpointed frame, one whose
    * plan is a single checkpointed RDD; 0 for any other plan. Read from
    * the block manager's accounting, so it runs no Spark job.
    */
  private[graft] def bytesOf(df: DataFrame): Long =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .filter(_.id == l.rdd.id).map(i => i.memSize + i.diskSize).sum
      case _ => 0L
    }

  /** An on-disk layout: `make` writes into a fresh scratch directory,
    * once per key; the directory is deleted when its entry is evicted.
    */
  def dir(key: Key, prefix: String)(make: String => Unit): String =
    build(key) { e =>
      val d = scratchDir(prefix)
      e.dir = Some(d)
      make(d.toString)
      d.toString
    }

  /** `spark.read.parquet(dir)`, kept per (session, dir version): the
    * file-index build and footer reads are paid once per version.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    value(key("read", dir, spark))(spark.read.parquet(dir))

  // ---- scratch directories -----------------------------------------------

  private val scratch = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  // one failed delete must not keep the other dirs on disk
  sys.addShutdownHook(scratch.asScala.toSeq.foreach(d =>
    scala.util.Try(deleteTree(d))))

  /** A fresh temp directory, deleted at JVM exit unless [[delete]]d first. */
  def scratchDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    scratch.add(d)
    d
  }

  /** A scratch directory that lives only for the duration of `f`. */
  def withScratchDir[A](prefix: String)(f: Path => A): A = {
    val d = scratchDir(prefix)
    try f(d) finally delete(d)
  }

  def delete(dir: Path): Unit = {
    deleteTree(dir)
    scratch.remove(dir)
  }

  def delete(dir: String): Unit = delete(java.nio.file.Paths.get(dir))

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverseIterator
        .foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
}
