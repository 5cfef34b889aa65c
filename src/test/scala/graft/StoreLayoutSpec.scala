package graft

import graft.sources._
import graft.streaming.{ChangeFeedStream, EventStream, StreamMerge}

/** Pins the on-disk layout of every manifest store in `sources/` and
  * `streaming/` at sf0.001: for each store its metadata files (every
  * file that is not a parquet part, a `.crc` or a `_SUCCESS`), each
  * file's lines, and the parquet file count of every subdirectory. The
  * fixture was recorded from the stores as built before their metadata
  * I/O moved into `sources.Store`; a refactor of that plumbing must
  * reproduce it exactly.
  *
  * Lines compare as a sorted multiset per file. Before comparing, the
  * fields that legitimately differ between two builds of the same code
  * are masked (see [[normalize]]):
  *  - the store's own scratch directory (a random temp name) becomes
  *    `.`, and any other scratch directory `<name><digits>` becomes
  *    `<name>` — stores reference their staging dirs and other stores;
  *  - parquet part-file basenames (`part-<task>-<uuid>...`) become
  *    `part-*.parquet`: the uuid is fresh per write, and the task number
  *    follows task scheduling;
  *  - the `u<N>` suffix of copy-on-write staging dirs
  *    (`<tag><head>a<attempt>u<N>`) becomes `u*`: N is a JVM-wide
  *    counter, so it depends on how many merges ran earlier in the JVM;
  *  - the streaming checkpoint files under `ckp/` keep their names but
  *    their contents are masked: they carry per-run query ids, batch
  *    timestamps and source-file modification times.
  */
class StoreLayoutSpec extends SparkSpec {

  private val Fixture = "src/test/resources/fixtures/store_layouts_sf0.001.txt"
  /** Where each run writes the layout it saw (a build output). */
  private val Seen = "target/store_layouts_sf0.001.txt"

  private def stores: Seq[(String, () => String)] = Seq(
    "s16" -> (() => Snapshots.s16Dir(spark, Sf0001)),
    "s18" -> (() => Snapshots.s18Dir(spark, Sf0001)),
    "s19" -> (() => Snapshots.s19Dir(spark, Sf0001)),
    "s20" -> (() => Snapshots.s20Dir(spark, Sf0001)),
    "s22" -> (() => Snapshots.s22Dir(spark, Sf0001)),
    "s23" -> (() => FileStats.s23Dir(spark, Sf0001)),
    "s24" -> (() => TxnPair.s24Dir(spark, Sf0001)),
    "s25" -> (() => DeletionVectors.s25Dir(spark, Sf0001)),
    "s26" -> (() => PartitionEvolution.s26Dir(spark, Sf0001)),
    "s27" -> (() => WriteAuditPublish.s27Dir(spark, Sf0001)),
    "s29" -> (() => Snapshots.s29Dir(spark, Sf0001)),
    "s31" -> (() => StreamMerge.s31Dir(spark, Sf0001)),
    "s32" -> (() => ManifestTree.s32Dir(spark, Sf0001)),
    "s33" -> (() => Snapshots.s33Dir(spark, Sf0001)),
    "s34" -> (() => Snapshots.s34Dir(spark, Sf0001)),
    "s35" -> (() => Branches.s35Dir(spark, Sf0001)),
    "s37" -> (() => TimeTravel.s37Dir(spark, Sf0001)),
    "s38" -> (() => TxnDeletes.s38Dir(spark, Sf0001)),
    "s39" -> (() => SchemaStats.s39Dir(spark, Sf0001)),
    "s40" -> (() => ColumnIds.s40Dir(spark, Sf0001)),
    "s41" -> (() => SortedCompaction.s41Dir(spark, Sf0001)),
    "s44" -> (() => ZOrderCompaction.s44Dir(spark, Sf0001)),
    "s45" -> (() => ZOrderCompaction.s45Dir(spark, Sf0001)),
    "s46" -> (() => ColumnIds.s46Dir(spark, Sf0001)),
    "e22" -> (() => IncrementalRollup.e22SketchDir(spark, Sf0001)),
    "e27" -> (() => EventStream.e27Dir(spark, Sf0001)),
    "e28" -> (() => StreamMerge.e28Dir(spark, Sf0001)),
    "mv4" -> (() => ChangeFeedStream.mv4Dir(spark, Sf0001)),
    "mv6" -> (() => ChangeFeedStream.mv6Dir(spark, Sf0001)),
    "cdc6" -> (() => ChangeFeedStream.cdc6Dir(spark, Sf0001)),
  )

  private val Tmp = java.nio.file.Paths.get(
    System.getProperty("java.io.tmpdir")).toAbsolutePath.normalize.toString
  private val ScratchRe =
    (java.util.regex.Pattern.quote(Tmp) + """/([A-Za-z_]+?)-?\d+""").r
  private val PartRe = """part-[^/|\s]*?\.parquet""".r
  private val StagingRe = """(a\d+)u\d+""".r

  /** One line or name with the run-dependent fields masked. */
  private[graft] def normalize(storeDir: String, s: String): String = {
    val own = s.replace(storeDir, ".")
    val others = ScratchRe.replaceAllIn(own, m =>
      java.util.regex.Matcher.quoteReplacement(s"<${m.group(1)}>"))
    StagingRe.replaceAllIn(PartRe.replaceAllIn(others, "part-*.parquet"),
      "$1u*")
  }

  private def isData(n: String): Boolean =
    n.endsWith(".parquet") || n.endsWith(".crc") || n == "_SUCCESS"

  /** `F <file>` then its sorted `L <line>`s, then `P <subdir> <n>` for
    * every subdirectory holding parquet files.
    */
  private def render(name: String, dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).toList
    finally walk.close()
    def rel(p: java.nio.file.Path) = root.relativize(p).toString
    val meta = files.filterNot(p => isData(p.getFileName.toString))
      .map(p => normalize(dir, rel(p)) -> p).sortBy(_._1)
      .flatMap { case (n, p) =>
        val lines =
          if (n.startsWith("ckp/")) Seq("<checkpoint content>")
          else {
            val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
            try src.getLines().map(normalize(dir, _)).toList.sorted
            finally src.close()
          }
        s"F $n" +: lines.map("L " + _)
      }
    val parquet = files.filter(_.getFileName.toString.endsWith(".parquet"))
      .groupBy(p => normalize(dir, rel(p.getParent)))
      .toSeq.sortBy(_._1).map { case (d, ps) => s"P $d ${ps.size}" }
    s"# store $name" +: (meta ++ parquet)
  }

  /** store → its rendered entries, from the fixture format. */
  private def parse(lines: Seq[String]): Map[String, Seq[String]] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    var cur = ""
    lines.foreach { l =>
      if (l.startsWith("# store ")) { cur = l.stripPrefix("# store "); out(cur) = Nil }
      else if (cur.nonEmpty) out(cur) = out(cur) :+ l
    }
    out.toMap
  }

  test("every store in sources/ and streaming/ keeps its recorded on-disk layout") {
    val seen = stores.flatMap { case (n, build) => render(n, build()) }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.write(java.nio.file.Paths.get(Seen),
      (seen.mkString("\n") + "\n").getBytes("UTF-8"))
    val f = new java.io.File(Fixture)
    assert(f.exists(), s"no fixture at $Fixture; this run's layout is in $Seen")
    val want = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try parse(src.getLines().toList) finally src.close()
    }
    val got = parse(seen)
    assert(got.keySet === want.keySet, "the set of pinned stores changed")
    val drift = stores.map(_._1).flatMap { n =>
      val (g, w) = (got(n), want(n))
      if (g == w) None
      else Some(s"$n: missing ${w.diff(g).take(5)}, unexpected ${g.diff(w).take(5)}")
    }
    assert(drift.isEmpty, s"layouts drifted (full layout in $Seen):\n" +
      drift.mkString("\n"))
  }

  test("the masks keep what identifies a file and drop only run-dependent fields") {
    val dir = s"$Tmp/graft_snapmerge123456789"
    assert(normalize(dir,
      s"$dir/m2a1u17/nk=3/part-00002-0f9e-77ab.c000.snappy.parquet|3|3|1|9|4") ===
      "./m2a1u*/nk=3/part-*.parquet|3|3|1|9|4")
    assert(normalize(dir, s"$Tmp/graft_smerge42/manifest_5.txt") ===
      "<graft_smerge>/manifest_5.txt")
    assert(normalize(dir, "candidate 2: dups=0 -> PUBLISH") ===
      "candidate 2: dups=0 -> PUBLISH")
  }
}
