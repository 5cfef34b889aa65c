package graft

import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Artifacts

/** Pins `Artifacts.parquet` — the schema read from one footer on the
  * driver — to `spark.read.parquet`'s own inference on every input shape
  * graft reads: the testdata tables, Spark-written multi-part and
  * partitioned dirs, explicit file lists whose files disagree, summary
  * files, and foreign writers' timestamp encodings.
  */
class FooterSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def same(paths: String*): DataFrame = {
    val expected = spark.read.parquet(paths: _*)
    assert(Artifacts.footerSchema(spark, paths: _*).isDefined,
      s"no footer schema for ${paths.mkString(", ")}")
    val mine = Artifacts.parquet(spark, paths: _*)
    assert(mine.schema === expected.schema, paths.mkString(", "))
    assert(Artifacts.parquetSchema(spark, paths: _*) === expected.schema)
    mine
  }

  /** Writes `rows` through parquet's example writer: no Spark schema in
    * the footer's key-value metadata, as from a foreign writer. */
  private def writeForeign(file: Path, schema: String, rows: Seq[(Long, Long)]): String = {
    val t = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new HPath(file.toUri))
      .withType(t).withConf(new Configuration()).build()
    val g = new SimpleGroupFactory(t)
    try rows.foreach { case (id, ts) =>
      w.write(g.newGroup().append("id", id).append("ts", ts))
    } finally w.close()
    file.toString
  }

  private def withNanosAsLong[A](on: Boolean)(f: => A): A = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("every Tables table at sf0.001 and sf0.01 reads with Spark's schema") {
    for (sf <- Seq(Sf0001, Sf001); n <- Tables.names)
      withNanosAsLong(n == "events")(same(Tables.path(sf, n)))
  }

  test("events ts as TIMESTAMP(NANOS) and as TIMESTAMP(MICROS) NTZ") {
    Artifacts.withScratchDir("graft_footer_ts") { dir =>
      val rows = Seq(1L -> 1700000000123456000L, 2L -> 1700000001000000000L)
      val nanos = writeForeign(dir.resolve("nanos.parquet"),
        "message e { required int64 id; optional int64 ts (TIMESTAMP(NANOS,false)); }",
        rows)
      val micros = writeForeign(dir.resolve("micros.parquet"),
        "message e { required int64 id; optional int64 ts (TIMESTAMP(MICROS,false)); }",
        rows.map { case (i, t) => i -> t / 1000 })
      withNanosAsLong(true) {
        val df = same(nanos)
        assert(df.schema("ts").dataType === org.apache.spark.sql.types.LongType)
        assert(Tables.normalizeTs(df).orderBy("id").as[(Long, java.sql.Timestamp)]
          .collect().map(_._2.getTime).toSeq === Seq(1700000000123L, 1700000001000L))
      }
      withNanosAsLong(false) {
        val theirs = intercept[Exception](spark.read.parquet(nanos).schema)
        val mine = intercept[Exception](Artifacts.parquet(spark, nanos).schema)
        assert(mine.getClass === theirs.getClass)
        assert(mine.getMessage === theirs.getMessage)
      }
      val ntz = same(micros)
      assert(ntz.schema("ts").dataType === org.apache.spark.sql.types.TimestampNTZType)
      assert(ntz.collect().toSeq === spark.read.parquet(micros).collect().toSeq)
    }
  }

  test("a Spark-written multi-part dir with _SUCCESS") {
    Artifacts.withScratchDir("graft_footer_parts") { dir =>
      val out = dir.resolve("t").toString
      spark.range(100).select($"id", ($"id" * 0.5).as("x"),
          concat(lit("k"), $"id".cast("string")).as("s"))
        .repartition(3).write.parquet(out)
      assert(Files.exists(dir.resolve("t/_SUCCESS")))
      assert(same(out).count() === 100L)
    }
  }

  test("a partitionBy dir keeps its partition columns and their types") {
    Artifacts.withScratchDir("graft_footer_pby") { dir =>
      val out = dir.resolve("t").toString
      spark.range(40).select($"id", ($"id" % 4).as("k"),
          when($"id" % 2 === 0, "a").otherwise("b").as("tag"))
        .write.partitionBy("k", "tag").parquet(out)
      val df = same(out)
      assert(df.columns.toSeq === Seq("id", "k", "tag"))
      assert(df.orderBy("id").collect().toSeq ===
        spark.read.parquet(out).orderBy("id").collect().toSeq)
    }
  }

  test("an explicit file list whose files differ: the first file by path wins") {
    Artifacts.withScratchDir("graft_footer_list") { dir =>
      Seq((1L, "x")).toDF("a", "b").coalesce(1).write.parquet(dir.resolve("a").toString)
      Seq((2L, 2.5)).toDF("a", "c").coalesce(1).write.parquet(dir.resolve("b").toString)
      def part(d: String) = Files.list(dir.resolve(d)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val (first, second) = (part("a"), part("b"))
      // passed in reverse order: the pick is by path, not by argument order
      val df = same(second, first)
      assert(df.columns.toSeq === Seq("a", "b"))
    }
  }

  test("_common_metadata, else _metadata, decides the schema over the data files") {
    Artifacts.withScratchDir("graft_footer_summary") { dir =>
      val out = dir.resolve("t")
      Seq((1L, "x")).toDF("a", "b").coalesce(1).write.parquet(out.toString)
      Seq((2L, 2.5, true)).toDF("a", "c", "d").coalesce(1)
        .write.parquet(dir.resolve("meta").toString)
      Seq((3L, 7)).toDF("a", "e").coalesce(1)
        .write.parquet(dir.resolve("common").toString)
      def part(d: String) = Files.list(dir.resolve(d)).toArray
        .map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".parquet")).head
      Files.copy(part("meta"), out.resolve("_metadata"))
      assert(same(out.toString).columns.toSeq === Seq("a", "c", "d"))
      Files.copy(part("common"), out.resolve("_common_metadata"))
      assert(same(out.toString).columns.toSeq === Seq("a", "e"))
    }
  }

  test("an empty dir and a missing path raise Spark's own error") {
    Artifacts.withScratchDir("graft_footer_empty") { dir =>
      val empty = Files.createDirectory(dir.resolve("empty")).toString
      val missing = dir.resolve("missing").toString
      for (p <- Seq(empty, missing)) {
        assert(Artifacts.footerSchema(spark, p).isEmpty)
        val theirs = intercept[Exception](spark.read.parquet(p))
        val mine = intercept[Exception](Artifacts.parquet(spark, p))
        assert(mine.getClass === theirs.getClass)
        assert(mine.getMessage === theirs.getMessage)
        val probe = intercept[Exception](Artifacts.parquetSchema(spark, p))
        assert(probe.getMessage === theirs.getMessage)
      }
    }
  }

  test("no schema-inference job: the footer is read on the driver") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"footer-schema-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    def jobsOf(f: => Any): Int = {
      jobs.set(0)
      f
      // waitUntilEmpty is private[spark] in Scala, public in bytecode
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      jobs.get
    }
    val path = Tables.path(Sf001, "lineitem")
    sc.addSparkListener(l)
    sc.setJobGroup(group, "footer schema probe")
    try {
      assert(jobsOf(Artifacts.parquet(spark, path).schema) === 0)
      assert(jobsOf(spark.read.parquet(path).schema) === 1,
        "Spark's own inference runs one job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  test("64 explicit paths are listed once, as by Spark's own read") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val listings = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .exists(_.startsWith("Listing leaf files")))
          listings.incrementAndGet()
    }
    def listingsOf[A](f: => A): (A, Int) = {
      listings.set(0)
      val a = f
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      (a, listings.get)
    }
    Artifacts.withScratchDir("graft_footer_64") { dir =>
      val out = dir.resolve("t").toString
      spark.range(640).select($"id", ($"id" % 7).as("k"))
        .repartition(64).write.parquet(out)
      val paths = Files.list(dir.resolve("t")).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).sorted.toSeq
      assert(paths.size === 64)
      sc.addSparkListener(l)
      try {
        val (mine, mineListings) = listingsOf(Artifacts.parquet(spark, paths: _*))
        val (theirs, theirListings) = listingsOf(spark.read.parquet(paths: _*))
        assert(theirListings === 1, "Spark's own read lists 64 paths in one job")
        assert(mineListings === 1, "the footer's file index is the read's index")
        assert(mine.schema === theirs.schema)
        assert(mine.orderBy("id").collect().toSeq === theirs.orderBy("id").collect().toSeq)
      } finally sc.removeSparkListener(l)
    }
  }
}
