package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics

import graft.util.CodegenCache

/** Spark's generated-code cache is sized by `GraftExtensions`
  * (util/CodegenCache), so a query that comes back after more than Spark's
  * default 100 other classes is served from the cache, not recompiled,
  * and every stream starts through `CodegenCache.startStream`, so a
  * stream started again reuses its last start's classes.
  *
  * Spark sizes the cache once, when `CodeGenerator$` is first initialized.
  * The first test holds in any suite order only while nothing in this JVM
  * generates code before `SparkSpec.session` (built with the extension)
  * exists: a spec that builds its own session without the extension first,
  * or calls `UnsafeProjection.create`, `Expression.genCode` and the like
  * outside a session, would fix the cache at 100 entries and fail it.
  */
class CodegenCacheSpec extends SparkSpec {
  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a query re-run after 150 other whole-stage classes is not recompiled") {
    // Spark inlines the literal into the generated code, so each i is a
    // distinct class
    def q(i: Int) = spark.range(1).selectExpr(s"id * ${1000 + i} + 1").collect()
    assert(q(0).head.getLong(0) === 1L)
    val c0 = compiles
    (1 to 150).foreach(q)
    assert(compiles - c0 >= 150, "each call must compile its own class")
    val c1 = compiles
    assert(q(0).head.getLong(0) === 1L)
    assert(compiles === c1)
  }

  test("a stream started again compiles nothing its last start compiled") {
    // each start clones the session; an isolated clone's tasks ran under a
    // new class loader and recompiled e9's 20 task-side classes every call
    val key = "spark.sql.artifact.isolation.enabled"
    val conf0 = spark.conf.getOption(key)
    def e9() = Registry.all.toMap.apply("e9_stream_interval_join")
      .fn(spark, Sf0001).collect().toSeq
    val first = e9()
    val c0 = compiles
    assert(e9() === first)
    assert(compiles === c0)
    assert(spark.conf.getOption(key) === conf0)
  }

  test("every stream in src/main starts through CodegenCache.startStream") {
    import scala.jdk.CollectionConverters._
    val comments = "(?s)/\\*.*?\\*/|//[^\\n]*".r
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .toList finally walk.close()
    for (f <- files) {
      val code = comments.replaceAllIn(java.nio.file.Files.readString(f), "")
      assert(raw"\.writeStream\b".r.findAllIn(code).size ===
        raw"\bCodegenCache\.startStream\(".r.findAllIn(code).size, f)
    }
  }

  test("an explicit spark.sql.codegen.cache.maxEntries is left as set; " +
      "otherwise the cache holds MaxEntries") {
    val key = "spark.sql.codegen.cache.maxEntries"
    assert(CodegenCache.sizing(new SparkConf(false)).codegenCacheMaxEntries ===
      CodegenCache.MaxEntries)
    for (n <- Seq(0, 64, 100, 4096))
      assert(CodegenCache.sizing(new SparkConf(false).set(key, n.toString))
        .codegenCacheMaxEntries === n)
  }
}
