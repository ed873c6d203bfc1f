package graft

import graft.functions.TxFixtures
import graft.ops.{LocalFs, Sinks}
import graft.streaming.Collect
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.security.PrivilegedExceptionAction
import java.util.EnumSet
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.UserGroupInformation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Try

/** [[LocalFs]] against Hadoop's own local file systems: the same trees,
  * bytes, `.crc` files and permission bits, the same link statuses, and no
  * process started by the engine's writes. */
class LocalFsSpec extends AnyFunSuite with SessionLeakCheck {
  private lazy val spark = SparkTestSession.spark
  private val LocalUri = URI.create("file:///")

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** Every entry under `root` as relative path → (permissions, bytes). */
  private def tree(root: JPath): Map[String, (String, Option[Seq[Byte]])] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        (java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p)),
          if (Files.isDirectory(p)) None else Some(Files.readAllBytes(p).toSeq))
    }.toMap

  /** A FileSystem and a FileContext writer's calls under `dir`: mkdirs and
    * creates with the conf's umask, then renames onto a missing and onto
    * an existing destination. */
  private def writeAll(fs: FileSystem, fc: FileContext, dir: String, c: Configuration): Unit = {
    val umask = FsPermission.getUMask(c)
    fs.mkdirs(new Path(s"$dir/fs/a/b"), FsPermission.getDirDefault.applyUMask(umask))
    val out = fs.create(new Path(s"$dir/fs/a/b/f.bin"), true)
    try out.write(Array.tabulate[Byte](3000)(_.toByte)) finally out.close()
    fs.rename(new Path(s"$dir/fs/a/b/f.bin"), new Path(s"$dir/fs/a/g.bin"))
    fc.mkdir(new Path(s"$dir/fc/x/y"), FsPermission.getDirDefault, true)
    def create(name: String, body: String): Unit = {
      val o = fc.create(new Path(s"$dir/fc/x/y/$name"), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try o.write(body.getBytes("UTF-8")) finally o.close()
    }
    create("1.delta", "one")
    create("2.delta", "two, longer")
    create(".2.delta.tmp", "two, rewritten")
    fc.rename(new Path(s"$dir/fc/x/y/1.delta"), new Path(s"$dir/fc/x/1.delta"), Options.Rename.OVERWRITE)
    fc.rename(new Path(s"$dir/fc/x/y/.2.delta.tmp"), new Path(s"$dir/fc/x/y/2.delta"),
      Options.Rename.OVERWRITE)
  }

  for (umask <- Seq("022", "077"))
    test(s"writes leave Hadoop's trees, bytes, .crc files and permissions (umask $umask)") {
      val c = conf(umask)
      val ours = new Configuration(c)
      ours.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs.NioLocalFs].getName)
      def run(fs: FileSystem, fcConf: Configuration): Map[String, (String, Option[Seq[Byte]])] = {
        val dir = Files.createTempDirectory("graft-localfs")
        fs.initialize(LocalUri, c)
        try writeAll(fs, FileContext.getFileContext(LocalUri, fcConf), dir.toString, c)
        finally fs.close()
        tree(dir)
      }
      val want = run(new LocalFileSystem(), c)
      val got = run(new LocalFs.NioLocalFileSystem(), ours)
      assert(want.keySet.exists(_.endsWith(".g.bin.crc")) && want.keySet.exists(_.endsWith(".2.delta.crc")))
      assert(want.values.map(_._1).toSet.contains(if (umask == "022") "rw-r--r--" else "rw-------"))
      assert(got == want)
    }

  test("getFileLinkStatus matches Hadoop's on a file, a dir, a symlink, a dangling one and a missing path") {
    val dir = Files.createTempDirectory("graft-links")
    Files.writeString(dir.resolve("file"), "bytes")
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val c = conf("022")
    val (hadoop, ours) = (new RawLocalFileSystem(), new LocalFs.NioRawLocalFileSystem())
    Seq(hadoop, ours).foreach(_.initialize(LocalUri, c))
    def fields(st: FileStatus) = (st.getPath, st.isFile, st.isDirectory, st.isSymlink, st.getLen,
      if (st.isSymlink) Some(st.getSymlink) else None)
    try Seq("file", "dir", "link", "dangling", "missing").foreach { name =>
      val p = new Path(dir.resolve(name).toString)
      val (want, got) = (Try(fields(hadoop.getFileLinkStatus(p))), Try(fields(ours.getFileLinkStatus(p))))
      assert(got.map(Right(_)).recover { case e => Left(e.getClass) }.get ==
        want.map(Right(_)).recover { case e => Left(e.getClass) }.get, name)
    } finally Seq(hadoop, ours).foreach(_.close())
  }

  /** The commands of the processes the JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    val file = Files.createTempFile("graft-localfs", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  test("the recording sees the chmod Hadoop's own raw file system starts") {
    val fs = new RawLocalFileSystem()
    fs.initialize(LocalUri, conf("022"))
    val f = Files.createTempFile("graft-chmod", ".bin")
    try assert(processStarts(fs.setPermission(new Path(f.toString), new FsPermission("600")))
      .exists(_.contains("chmod")))
    finally { fs.close(); Files.deleteIfExists(f) }
  }

  test("install caches the NIO file system and registers it for FileContext") {
    LocalFs.install(spark)
    LocalFs.install(spark)
    val hconf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(LocalUri, hconf).getClass == classOf[LocalFs.NioLocalFileSystem])
    assert(FileContext.getFileContext(LocalUri, hconf).getDefaultFileSystem.getClass ==
      classOf[LocalFs.NioLocalFs])
  }

  test("install leaves a cached instance with deleteOnExit paths in place, and its paths") {
    // another user's cache entry, so the shared session's stays as it is
    val ugi = UserGroupInformation.createRemoteUser("graft-localfs")
    def as[T](body: => T): T = ugi.doAs(new PrivilegedExceptionAction[T] { def run(): T = body })
    val keep = Files.createTempFile("graft-delete-on-exit", ".bin")
    try {
      val plain = as(FileSystem.get(LocalUri, new Configuration()))
      assert(!plain.isInstanceOf[LocalFs.NioLocalFileSystem])
      plain.deleteOnExit(new Path(keep.toString))
      as(LocalFs.install(spark))
      assert(as(FileSystem.get(LocalUri, new Configuration())) eq plain)
      assert(Files.exists(keep))
      plain.cancelDeleteOnExit(new Path(keep.toString))
      as(LocalFs.install(spark))
      assert(as(FileSystem.get(LocalUri, new Configuration())).getClass ==
        classOf[LocalFs.NioLocalFileSystem])
      assert(Files.exists(keep))
    } finally {
      FileSystem.closeAllForUGI(ugi)
      Files.deleteIfExists(keep)
    }
  }

  test("a collector micro-batch and a parquet archive write start no process") {
    val in = Files.createTempDirectory("graft-localfs-feed")
    val out = Files.createTempDirectory("graft-localfs-out").toString
    Files.writeString(in.resolve("feed.csv"), (0 until 40).map { i =>
      val (ts, hash, raw) = TxFixtures.rawRow(i.toLong)
      s"$ts,$hash,$raw,src${i % 3}"
    }.mkString("\n"))
    val txs = spark.range(50).select((lit(1700000000000L) + col("id") * 1000).as("timestamp"),
      format_string("0x%064x", col("id")).as("hash"))
    // the first run installs the file system and warms the engine's
    // classes; the second, on a new output dir, is the one recorded
    def collect(dir: String): Unit = {
      val q = Collect.startCollector(Collect.feed(spark, in.toString), dir, Trigger.AvailableNow(),
        None, Collect.dedupStateful, _ => ())
      try q.awaitTermination() finally q.stop()
      assert(q.exception.isEmpty && q.recentProgress.count(_.numInputRows > 0) == 1)
    }
    collect(s"$out/warm")
    Sinks.writeParquetArchive(txs, s"$out/warm-archive")
    val started = processStarts {
      collect(s"$out/collector")
      Sinks.writeParquetArchive(txs, s"$out/archive")
    }
    assert(started.isEmpty, started.mkString("\n"))
    assert(spark.read.parquet(s"$out/archive").count() == 50)
    assert(Files.list(Paths.get(s"$out/archive")).iterator().asScala.exists(_.toString.endsWith(".crc")))
  }
}
