package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException,
  FileContext, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import graft.util.{Artifacts, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The fork-free `file://` binding (util/LocalFs) against the stock Hadoop
  * classes it replaces: every observable below is computed through both
  * and must agree. The stock FileSystem binding is whatever Hadoop's
  * service loader picks for `file` from a conf without `fs.file.impl`
  * (Hive's ProxyLocalFileSystem on Spark's classpath). The last test is
  * the guard: queries that write stores and stream checkpoints run with
  * no `chmod`/`readlink`/`ls`/`stat` process started.
  */
class LocalFsSpec extends SparkSpec {
  private val fileUri = URI.create("file:///")

  private def nioConf: Configuration = {
    val c = new Configuration()
    graft.util.LocalFs.install(c)
    c
  }
  private def stockFs: FileSystem = FileSystem.newInstance(fileUri, new Configuration())
  private def nioFs: FileSystem = FileSystem.newInstance(fileUri, nioConf)
  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(fileUri, new Configuration()); fs
  }
  private def stockFc = FileContext.getFileContext(fileUri, new Configuration())
  private def nioFc = FileContext.getFileContext(fileUri, nioConf)

  private def withDir[T](body: JPath => T): T = {
    val d = Files.createTempDirectory("graft_localfs")
    try body(d) finally Artifacts.delete(d)
  }
  private def hp(p: JPath) = new Path(p.toString)
  private def mode(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  test("setPermission: 0644/0755/0700 read back as the stock chmod sets " +
      "them; a 01777 dir takes the fallback") {
    withDir { d =>
      val stock = raw(new RawLocalFileSystem)
      val nio = raw(new NioRawLocalFileSystem)
      for (m <- Seq("644", "755", "700"); dir <- Seq(false, true)) {
        def perms(fs: RawLocalFileSystem, tag: String) = {
          val p = d.resolve(s"$tag-$m-$dir")
          if (dir) Files.createDirectory(p) else Files.createFile(p)
          fs.setPermission(hp(p), mode(m))
          Files.getPosixFilePermissions(p)
        }
        val want = PosixFilePermissions.fromString(mode(m).toString)
        assert(perms(nio, "nio") === want, s"mode $m dir=$dir")
        assert(perms(stock, "stock") === want, s"mode $m dir=$dir")
      }
      // java.nio cannot set the sticky bit, so reading it back through
      // the stock status (ls -ld) shows the chmod fallback ran
      val sticky = Files.createDirectory(d.resolve("sticky"))
      nio.setPermission(hp(sticky), mode("1777"))
      val got = stock.getFileStatus(hp(sticky)).getPermission
      assert(got.getStickyBit && got.toShort === mode("1777").toShort)
    }
  }

  test("getFileLinkStatus of a file, a dir, a symlink and a dangling " +
      "symlink equals RawLocalFileSystem's") {
    withDir { d =>
      val file = Files.write(d.resolve("f"), "abc".getBytes(UTF_8))
      val dir = Files.createDirectory(d.resolve("d"))
      val link = Files.createSymbolicLink(d.resolve("l"), file)
      val dangling = Files.createSymbolicLink(d.resolve("x"), d.resolve("gone"))
      val stock = raw(new RawLocalFileSystem)
      val nio = raw(new NioRawLocalFileSystem)
      def view(fs: RawLocalFileSystem, p: JPath) = {
        val s = fs.getFileLinkStatus(hp(p))
        (s.getPath, s.isDirectory, s.getLen, s.isSymlink,
          if (s.isSymlink) s.getSymlink else null)
      }
      for ((p, isLink) <- Seq(file -> false, dir -> false, link -> true,
          dangling -> true)) {
        val want = view(stock, p)
        assert(want._4 === isLink, p)
        assert(view(nio, p) === want, p)
      }
    }
  }

  test("rename onto an existing file returns false and leaves both files") {
    withDir { d =>
      for ((fs, tag) <- Seq(stockFs -> "stock", nioFs -> "nio")) {
        val a = Files.write(d.resolve(s"$tag-a"), "a".getBytes(UTF_8))
        val b = Files.write(d.resolve(s"$tag-b"), "b".getBytes(UTF_8))
        try assert(!fs.rename(hp(a), hp(b)), tag) finally fs.close()
        assert(new String(Files.readAllBytes(a), UTF_8) === "a", tag)
        assert(new String(Files.readAllBytes(b), UTF_8) === "b", tag)
      }
      // FileContext refuses without OVERWRITE and replaces with it
      for ((fc, tag) <- Seq(stockFc -> "fc-stock", nioFc -> "fc-nio")) {
        val a = Files.write(d.resolve(s"$tag-a"), "a".getBytes(UTF_8))
        val b = Files.write(d.resolve(s"$tag-b"), "b".getBytes(UTF_8))
        intercept[FileAlreadyExistsException](fc.rename(hp(a), hp(b)))
        fc.rename(hp(a), hp(b), Options.Rename.OVERWRITE)
        assert(!Files.exists(a) &&
          new String(Files.readAllBytes(b), UTF_8) === "a", tag)
      }
    }
  }

  test(".crc sidecars are written as the stock classes write them, and a " +
      "flipped data byte raises ChecksumException through both APIs") {
    val payload = ("graft " * 200).getBytes(UTF_8)
    def flip(p: JPath): Unit = {
      val raf = new RandomAccessFile(p.toFile, "rw")
      try { raf.seek(100); raf.write(raf.read() ^ 0x01) } finally raf.close()
    }
    def crc(p: JPath) = Files.readAllBytes(p.resolveSibling(s".${p.getFileName}.crc"))
    withDir { d =>
      // FileSystem API. LocalFileSystem moves a corrupt file aside into
      // `bad_files/` at the highest writable dir of its mount on a
      // failed read; those moved copies are removed below.
      val bad = Iterator.iterate(d.toRealPath())(_.getParent).takeWhile(_ != null)
        .map(_.resolve("bad_files")).toSeq
      val badBefore = bad.filter(Files.isDirectory(_)).toSet
      try {
        val crcs = for ((fs, tag) <- Seq(stockFs -> "stock", nioFs -> "nio")) yield {
          val p = d.resolve(s"graft_localfs_fs_$tag")
          try {
            val out = fs.create(hp(p))
            try out.write(payload) finally out.close()
            val c = crc(p)
            flip(p)
            val in = fs.open(hp(p))
            try intercept[ChecksumException](in.readFully(new Array[Byte](payload.length)))
            finally in.close()
            c
          } finally fs.close()
        }
        assert(crcs(0).toSeq === crcs(1).toSeq)
      } finally bad.filter(Files.isDirectory(_)).foreach { b =>
        def entries = {
          val s = Files.list(b)
          try s.iterator.asScala.toList finally s.close()
        }
        entries.filter(_.getFileName.toString.startsWith("graft_localfs_fs_"))
          .foreach(Files.delete)
        if (!badBefore(b) && entries.isEmpty) Files.delete(b)
      }
      // FileContext API. Only open(path, bufferSize) verifies: Hadoop's
      // FilterFs forwards the one-argument open to the raw fs, so that
      // read returns the flipped byte, through either binding.
      val crcs = for ((fc, tag) <- Seq(stockFc -> "stock", nioFc -> "nio")) yield {
        val p = d.resolve(s"fc_$tag")
        val out = fc.create(hp(p), EnumSet.of(CreateFlag.CREATE))
        try out.write(payload) finally out.close()
        val c = crc(p)
        flip(p)
        val buf = new Array[Byte](payload.length)
        val in = fc.open(hp(p), 4096)
        try intercept[ChecksumException](in.readFully(buf)) finally in.close()
        val unverified = fc.open(hp(p))
        try unverified.readFully(buf) finally unverified.close()
        assert(buf.toSeq === Files.readAllBytes(p).toSeq, tag)
        c
      }
      assert(crcs(0).toSeq === crcs(1).toSeq)
    }
  }

  test("the session binds file:// to util.LocalFs for both APIs") {
    val fs = FileSystem.get(fileUri, spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass === classOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass ===
      classOf[NioRawLocalFileSystem])
    assert(FileContext.getFileContext(fileUri, spark.sessionState.newHadoopConf())
      .getDefaultFileSystem.getClass === classOf[NioLocalFs])
  }

  test("no chmod/readlink/ls/stat process while s13, s25 and e9 write " +
      "stores and stream checkpoints") {
    // private input copies, so the per-source-version stores really build
    val data = Files.createTempDirectory("graft_localfs_data")
    val jfr = Files.createTempFile("graft_localfs", ".jfr")
    try {
      Seq("events", "customer").foreach(t =>
        Files.copy(java.nio.file.Paths.get(Tables.path(Sf0001, t)),
          data.resolve(s"$t.parquet")))
      val rec = new Recording()
      val forks = try {
        rec.enable("jdk.ProcessStart")
        rec.start()
        Seq("s13_compaction", "s25_deletion_vectors", "e9_stream_interval_join")
          .foreach(q => assert(SparkEntry.queries(q)(spark, data.toString)
            .collect().nonEmpty, q))
        rec.stop()
        rec.dump(jfr)
        RecordingFile.readAllEvents(jfr).asScala.map(_.getString("command")).toSeq
      } finally rec.close()
      val banned = Set("chmod", "readlink", "ls", "stat")
      val hits = forks.filter(c =>
        banned(c.trim.split("\\s+").head.split('/').last))
      assert(hits.size === 0, s"of ${forks.size} forks, e.g. ${hits.take(5)}")
    } finally {
      Artifacts.delete(data)
      Files.deleteIfExists(jfr)
    }
  }
}
