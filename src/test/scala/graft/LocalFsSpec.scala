package graft

import graft.engine.{Engine, GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem}
import graft.spec.PipelineSpec
import graft.streaming.Streaming
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The session's `file://` filesystem (`engine/LocalFs.scala`): resolved
  * through both Hadoop APIs, the same permissions, link statuses and
  * checksums as Hadoop's stock local filesystem, and no `chmod` or
  * `readlink` child process on the engine's write and commit paths. */
class LocalFsSpec extends SparkSpec {
  private lazy val tmp = Files.createTempDirectory("graft-localfs").toFile.getPath
  private val root = new URI("file:///")
  private def conf = spark.sparkContext.hadoopConfiguration
  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** `conf` with `umask`, and Hadoop's stock `LocalFs` behind FileContext. */
  private def stockConf(umask: String): Configuration = {
    val c = new Configuration(conf)
    c.set("fs.permissions.umask-mode", umask)
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c
  }

  private def sessionUmask = f"${FsPermission.getUMask(conf).toShort.toInt}%03o"

  private def init[F <: FileSystem](fs: F, c: Configuration): F = { fs.initialize(root, c); fs }

  test("the session resolves file:// to the graft classes through both APIs") {
    val fs = FileSystem.get(root, conf)
    assert(fs.isInstanceOf[GraftLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[GraftRawLocalFileSystem])
    assert(FileSystem.getLocal(conf) eq fs)
    val afs = FileContext.getFileContext(root, conf).getDefaultFileSystem
    assert(afs.isInstanceOf[GraftLocalFs], afs.getClass)
  }

  /** Create files and directories under `dir` through `fs` and `fc`;
    * every path under `dir` → its full mode (special bits included). */
  private def layout(dir: String, fs: FileSystem, fc: FileContext): Map[String, Int] = {
    def p(rel: String) = new Path(s"$dir/$rel")
    fs.mkdirs(p("a/b/c"))
    fs.mkdirs(p("private"), perm("700"))
    val out = fs.create(p("a/b/data.bin")); out.write(Array.fill[Byte](3000)(7)); out.close()
    FileSystem.create(fs, p("shared.bin"), perm("640")).close()
    fs.create(p("script.sh"), perm("755"), true, 4096, 1.toShort, 1L << 20, null).close()
    fs.setPermission(p("a/b/data.bin"), perm("600"))
    // setgid directory: shell chmod keeps the bit on it and on new children
    Files.createDirectory(Paths.get(dir, "sg"))
    Files.setAttribute(Paths.get(dir, "sg"), "unix:mode", Integer.parseInt("2775", 8))
    fs.mkdirs(p("sg/child"))
    fs.setPermission(p("sg"), perm("755"))
    fs.mkdirs(p("sticky"))
    fs.setPermission(p("sticky"), perm("1777"))
    fc.mkdir(p("ctx/d"), FsPermission.getDirDefault, true)
    val s = fc.create(p("ctx/d/tmp"), java.util.EnumSet.of(CreateFlag.CREATE))
    s.write(1); s.close()
    fc.rename(p("ctx/d/tmp"), p("ctx/d/final"), Options.Rename.OVERWRITE)
    Files.walk(Paths.get(dir)).iterator.asScala.filter(_ != Paths.get(dir)).map { f =>
      Paths.get(dir).relativize(f).toString ->
        (Files.getAttribute(f, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff)
    }.toMap
  }

  test("created files and directories carry stock Hadoop's permissions under the same umask") {
    for (umask <- Seq("022", "077")) {
      val c = stockConf(umask)
      val graftConf = new Configuration(c)
      graftConf.set("fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
      val stock = layout(s"$tmp/perm-stock-$umask", init(new LocalFileSystem, c),
        FileContext.getFileContext(root, c))
      val graft = layout(s"$tmp/perm-graft-$umask", init(new GraftLocalFileSystem, graftConf),
        FileContext.getFileContext(root, graftConf))
      assert(graft == stock, s"umask $umask")
      // checksums are still written, through both APIs
      assert(graft.contains("a/b/.data.bin.crc") && graft.contains("ctx/d/.final.crc"), graft.keySet)
      assert(graft("sg") == Integer.parseInt("2755", 8) && graft("sticky") == Integer.parseInt("1777", 8))
    }
    // and the session's own filesystem matches the stock one at its umask
    val c = stockConf(sessionUmask)
    val session = layout(s"$tmp/perm-session", FileSystem.get(root, conf),
      FileContext.getFileContext(root, conf))
    val stock = layout(s"$tmp/perm-session-stock", init(new LocalFileSystem, c),
      FileContext.getFileContext(root, c))
    assert(session == stock, s"session umask $sessionUmask")
  }

  test("getFileLinkStatus matches stock Hadoop: file, directory, symlinks, missing path") {
    val dir = Paths.get(tmp, "links")
    Files.createDirectories(dir.resolve("subdir"))
    Files.write(dir.resolve("file.txt"), "abc".getBytes("UTF-8"))
    Files.createSymbolicLink(dir.resolve("to-file"), dir.resolve("file.txt"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("nowhere"))
    val stockC = stockConf(sessionUmask)
    val stockFs = init(new LocalFileSystem, stockC)
    val stockFc = FileContext.getFileContext(root, stockC)
    val fs = FileSystem.get(root, conf)
    val fc = FileContext.getFileContext(root, conf)
    def view(st: => FileStatus): Either[String, Seq[Any]] = Try(st).toEither.left.map(_.getClass.getName)
      .map(s => Seq(s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getPath,
        if (s.isSymlink) s.getSymlink else null, s.getPermission, s.getOwner, s.getGroup,
        s.getModificationTime))
    def p(name: String) = new Path(dir.resolve(name).toString)
    for (name <- Seq("file.txt", "subdir", "to-file", "dangling", "missing");
         path <- Seq(p(name), fs.makeQualified(p(name)))) {
      val stock = view(stockFs.getFileLinkStatus(path))
      assert(view(fs.getFileLinkStatus(path)) == stock, s"FileSystem $path")
      assert(view(fc.getFileLinkStatus(path)) == view(stockFc.getFileLinkStatus(path)), s"FileContext $path")
      if (name == "missing") assert(stock == Left(classOf[java.io.FileNotFoundException].getName))
    }
    // a real symlink still reads as one
    assert(fs.getFileLinkStatus(p("to-file")).isSymlink && !fs.getFileLinkStatus(p("file.txt")).isSymlink)
  }

  test("checksums are still written and verified: a flipped data byte fails the read") {
    /** Write `name` through the session, flip one data byte, read it back. */
    def corruptRead(name: String, open: Path => java.io.InputStream): Try[Int] = {
      val path = new Path(s"$tmp/crc/$name")
      val out = FileSystem.get(root, conf).create(path)
      out.write(Array.tabulate[Byte](4096)(i => (i % 251).toByte)); out.close()
      assert(new java.io.File(s"$tmp/crc/.$name.crc").exists)
      val raf = new java.io.RandomAccessFile(s"$tmp/crc/$name", "rw")
      raf.seek(1000); val b = raf.read(); raf.seek(1000); raf.write(b ^ 0x01); raf.close()
      val in = open(path)
      try Try(in.readAllBytes().length) finally in.close()
    }
    val read = corruptRead("fs.bin", FileSystem.get(root, conf).open(_))
    assert(read.failed.toOption.exists(_.isInstanceOf[ChecksumException]), read)
    // FileContext reads behave as Hadoop's stock LocalFs does
    val fc = FileContext.getFileContext(root, conf)
    val stockFc = FileContext.getFileContext(root, stockConf(sessionUmask))
    assert(corruptRead("fc.bin", fc.open(_)).toEither.left.map(_.getClass) ==
      corruptRead("stock-fc.bin", stockFc.open(_)).toEither.left.map(_.getClass))
  }

  test("no chmod or readlink process on the upsert and streaming commit paths") {
    import spark.implicits._
    val base = s"$tmp/spawn"
    val target = s"$base/table"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").write.parquet(s"$base/base")
    Seq((2L, "B"), (4L, "d")).toDF("id", "v").write.parquet(s"$base/delta")
    for (k <- 0 until 2)
      Seq((k * 10L, s"e$k", k.toLong, new java.sql.Timestamp(1700000000000L + k)),
          (k * 10L + 1, s"e$k-1", k.toLong, new java.sql.Timestamp(1700000000000L + k)))
        .toDF("id", "ev", "v", "ts").coalesce(1).write.parquet(s"$base/staged$k")
    Files.createDirectories(Paths.get(base, "landing"))
    for (k <- 0 until 2) {
      val part = new java.io.File(s"$base/staged$k").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(base, "landing", s"evt-$k.parquet"))
    }
    def upsert(src: String): Unit = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$base/$src"}},
      "extractor": {"parquet": {}},
      "loader": {"parquet": {"path": "$target", "mode": "upsert", "key": "id", "buckets": 4}} }""")
    val stream = s"""{
      "source": {"stream": {"path": "$base/landing", "format": "parquet",
                 "schema": "id BIGINT, ev STRING, v BIGINT, ts TIMESTAMP",
                 "maxFilesPerTrigger": "1"}},
      "transformers": [
        {"stream_dedup": {"keyFields": ["ev"], "tsField": "ts", "watermark": "1 hour"}}],
      "loader": {"streamsink": {"format": "upsert", "path": "$base/stream_table",
                 "key": "id", "buckets": 4, "checkpoint": "$base/checkpoint",
                 "trigger": "availableNow"}} }"""

    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    // the container loaders write their shards executor-side, through
    // the session's FS classes shipped in its configuration
    val docs = Seq(("a.txt", "alpha"), ("b.txt", "beta")).toDF("member", "body").repartition(2)
    val batches = try {
      upsert("base"); upsert("delta")
      val q = Streaming.run(newCtx(), PipelineSpec.parse(stream))
      q.awaitTermination()
      graft.sources.Tar.write(docs, s"$base/tar", graft.spec.ComponentSpec("tar", Map()))
      graft.sources.Zip.write(docs, s"$base/zip", graft.spec.ComponentSpec("zip", Map()))
      q.recentProgress.count(_.numInputRows > 0)
    } finally rec.stop()
    val dump = Files.createTempFile(Paths.get(tmp), "spawn", ".jfr")
    rec.dump(dump); rec.close()
    val commands = RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command")).toSeq

    // the work really ran: merged table, two micro-batches, all rows sunk
    assert(spark.read.parquet(target).drop("__bucket").as[(Long, String)].collect().toMap ==
      Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d"))
    assert(batches == 2)
    assert(spark.read.parquet(s"$base/stream_table").count() == 4)
    assert(graft.sources.Zip.read(spark, s"$base/zip", graft.spec.ComponentSpec("zip", Map()))
      .count() == 2)
    // checksummed like every other file the session writes
    for (fmt <- Seq("tar", "zip"))
      assert(new java.io.File(s"$base/$fmt").list().exists(_.endsWith(s".$fmt.crc")), fmt)
    val forks = commands.filter(_.split("\\s+").headOption.exists(c =>
      c.endsWith("chmod") || c.endsWith("readlink")))
    if (forks.nonEmpty) fail(s"${forks.size} chmod/readlink starts, e.g. ${forks.take(3).mkString("; ")}")
  }
}
