package graft.util

import java.nio.file.{Files, Path}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{CompletableFuture, ExecutionException}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The one place that memoizes a derived artifact: a value (driver-side
  * scalar, fitted centroids, a parquet read plan), a frame (an eager
  * `localCheckpoint`) or a directory (an on-disk layout or index). It is
  * also the one place that opens a batch parquet read ([[parquet]]).
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

    /** This key joined with `other`: the family holds both families, the
      * version both versions, so a new version of either source evicts.
      */
    def and(other: Key): Key = Key(op, params ++ (other.op +: other.params),
      sources ++ other.sources, (version, other.version))
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
    * file-index build and footer read are paid once per version.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    value(key("read", dir, spark))(parquet(spark, dir))

  // ---- parquet reads -----------------------------------------------------

  /** The schema of `spark.read.parquet(paths: _*)` with mergeSchema off,
    * its data columns read from one footer on the driver. Spark's own
    * inference picks the same file — `_common_metadata`, else `_metadata`,
    * else the first data file by path — but reads it in a one-task Spark
    * job. Paths are listed by Spark's `InMemoryFileIndex`, so hidden
    * files, `_SUCCESS` and partition directories count exactly as in
    * Spark's read, and partition columns are placed and typed as there.
    * None when mergeSchema is on for the session, when the paths hold no
    * data file, or when the chosen footer cannot be read: the caller then
    * leaves the inference, and its error, to Spark.
    */
  def footerSchema(spark: SparkSession, paths: String*): Option[StructType] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val index = new InMemoryFileIndex(spark, paths.map(new Path(_)), Map.empty, None)
    val files = index.allFiles().sortBy(_.getPath.toString)
    import ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE => Common,
      PARQUET_METADATA_FILE => Summary}
    def named(n: String) = files.find(_.getPath.getName == n)
    val data = files.filterNot(f => Set(Common, Summary)(f.getPath.getName))
    if (data.isEmpty) return None
    val chosen = named(Common).orElse(named(Summary)).getOrElse(data.head)
    scala.util.Try {
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(chosen, spark.sessionState.newHadoopConf()),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(chosen.getPath, footer),
        new ParquetToSparkSchemaConverter(conf))
    }.toOption.map { footerSchema =>
      val dataSchema = nullable(footerSchema).asInstanceOf[StructType]
      // a partition column keeps its data-column slot, with its inferred type
      val parts = index.partitionSchema
      def part(name: String) = parts.find(p => conf.resolver(p.name, name))
      StructType(dataSchema.map(f => part(f.name).getOrElse(f)) ++
        parts.filterNot(p => dataSchema.exists(f => conf.resolver(f.name, p.name))))
    }
  }

  /** Spark's `asNullable`, which file sources apply to every data schema. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** The schema of `spark.read.parquet(paths: _*)`, for probes that need
    * only the schema: [[footerSchema]], or where that gives None, Spark's
    * own inference (and its error, for a path set with no data file).
    */
  def parquetSchema(spark: SparkSession, paths: String*): StructType =
    footerSchema(spark, paths: _*).getOrElse(spark.read.parquet(paths: _*).schema)

  /** `spark.read.parquet(paths: _*)` with its schema taken from
    * [[footerSchema]]: the same DataFrame, without Spark's schema job.
    * Every batch parquet read in graft goes through here, except reads
    * that merge the schemas of all their files (`mergeSchema`).
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths: _*) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

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
