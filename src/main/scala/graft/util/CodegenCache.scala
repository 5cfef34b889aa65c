package graft.util

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.apache.spark.sql.streaming.StreamingQuery

/** Spark's generated-code cache, sized to graft's query working set.
  *
  * `CodeGenerator` keeps the classes Janino compiles in one JVM-wide LRU
  * keyed on (context class loader, generated source). Its size is
  * `spark.sql.codegen.cache.maxEntries` (Spark's default: 100), read
  * exactly once, when `CodeGenerator$` is first initialized, from
  * `SQLConf.get`. One perfbench warehouse_mix pass compiles 251 classes
  * out of a working set of about 280, so at 100 entries every class was
  * evicted before its query came back and each pass compiled all 251
  * again. [[MaxEntries]] holds a pass, and [[install]] is the first touch.
  */
object CodegenCache {
  /** About 10× Spark's 100 and more than 3× a warehouse_mix pass. A run of
    * all 269 registered queries at sf0.001 compiles 3,425 distinct classes,
    * so the full suite still cycles the cache; each entry retains about
    * 22 KB of heap (class bytes plus Janino's loader), about 22 MB full. */
  val MaxEntries = 1024

  private val Key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
  private val Isolation = SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key

  /** The conf the cache is sized from: an explicit
    * `spark.sql.codegen.cache.maxEntries` on the SparkConf (builder,
    * `--conf` or `-D`) is left as set, otherwise [[MaxEntries]]. */
  def sizing(conf: SparkConf): SQLConf = {
    val c = new SQLConf
    c.setConfString(Key, conf.get(Key, MaxEntries.toString))
    c
  }

  /** Initializes `CodeGenerator$` under [[sizing]]. Must run before
    * anything in the JVM generates code; once the object is initialized
    * (by this or by any codegen) the size is fixed and this is a no-op. */
  def install(conf: SparkConf): Unit =
    SQLConf.withExistingConf(sizing(conf))(CodeGenerator.compileTime)

  /** Runs `start` (a `DataStreamWriter.start()` on `spark`) with the
    * stream's copy of the session outside Spark's per-session artifact
    * isolation. Each start clones the session, and an isolated clone's
    * new session UUID gets a new `ExecutorClassLoader` on the executor:
    * since the cache key holds the loader, every class the stream's tasks
    * compile missed the cache, on every start (e9: 20 per call, identical
    * in source to the last call's). Without isolation the tasks run under
    * the executor's default loader and reuse the last start's classes.
    * The clone's tasks then see the artifacts added to the SparkContext
    * but not those added to the session alone (`addArtifact`): graft's
    * streams run only graft's own plans and closures, which need none.
    * A session fixes its own isolation at its first query, so the
    * setting reaches the session itself only when that query is this
    * start. */
  def startStream(spark: SparkSession)(start: => StreamingQuery)
      : StreamingQuery = {
    val prev = spark.conf.getOption(Isolation)
    spark.conf.set(Isolation, "false")
    try start
    finally prev.fold(spark.conf.unset(Isolation))(spark.conf.set(Isolation, _))
  }
}
