package graft.ops

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FilterFileSystem,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import scala.util.Try

/** The `file:` scheme without a process per permission change or rename.
  *
  * Without the native Hadoop library (`libhadoop.so`), Hadoop's local file
  * system shells out for two calls the engine makes on every write:
  * `RawLocalFileSystem.setPermission` runs `chmod` for every directory
  * and file it creates (and for every `.crc` beside it), and
  * `getFileLinkStatus`, which FileContext calls on both sides of every
  * rename, runs `readlink`. Streaming checkpoints and state stores go
  * through FileContext, so a collector micro-batch started about 100
  * processes, each with a stderr-reader thread, and each sink's commit
  * protocol dozens more.
  *
  * The classes here are Hadoop's local file systems with those two calls
  * done in the JVM: `setPermission` through `Files.setPosixFilePermissions`
  * and `getFileLinkStatus` as `getFileStatus` unless the path is a real
  * symbolic link. A symlink, or a permission with the sticky bit, goes to
  * Hadoop's own code. Bytes, `.crc` files, permission bits and atomic
  * renames are Hadoop's. [[install]] registers them for the `file:` scheme
  * only: HDFS, S3 and every other scheme are untouched.
  */
object LocalFs {

  /** Hadoop's raw local file system with `chmod` and `readlink` in the JVM. */
  class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))

    // Hadoop reads the link target first and returns getFileStatus when it
    // is empty, so only a real symlink needs its code
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.file.impl`: the checksummed local file system over
    * [[NioRawLocalFileSystem]], as `LocalFileSystem` is over Hadoop's. */
  class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

  /** FileContext's raw local file system over [[NioRawLocalFileSystem]],
    * with the overrides of Hadoop's `RawLocalFs`. */
  class NioRawLocalFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** `fs.AbstractFileSystem.file.impl`: the checksummed FileContext file
    * system, as Hadoop's `LocalFs` is over its `RawLocalFs`. */
  class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

  private val LocalUri = URI.create("file:///")
  private val FileImpl = "fs.file.impl"

  /** Registers the classes above for `file:` in the session's Hadoop conf
    * and in the JVM-wide FileSystem cache. Idempotent and cheap, so every
    * write entry point calls it, for sessions the engine did not build too.
    *
    * The conf keys are set first (only where they are unset or name
    * Hadoop's own class), so every FileContext and every uncached
    * FileSystem made from the conf from now on is ours. Then, unless
    * `fs.file.impl` names some other class, the cached `file:` instance
    * (Hadoop's `LocalFileSystem`, or Hive's `ProxyLocalFileSystem` where
    * Hive's jars register it) is closed, which takes it out of the cache,
    * and `FileSystem.get` at once caches ours in its place. Closing runs
    * the `deleteOnExit` paths of the instance and of the file systems it
    * wraps, so one that holds any is left cached: FileSystem calls then
    * keep forking until it leaves the cache, while FileContext
    * (checkpoints, state stores) is ours anyway. */
  def install(spark: SparkSession): Unit = synchronized {
    val conf = spark.sparkContext.hadoopConfiguration
    def register(key: String, hadoops: Class[_], ours: Class[_]): Unit =
      if (Option(conf.get(key)).forall(_ == hadoops.getName)) conf.set(key, ours.getName)
    register(FileImpl, classOf[LocalFileSystem], classOf[NioLocalFileSystem])
    register("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs],
      classOf[NioLocalFs])
    val cached = FileSystem.get(LocalUri, conf)
    if (conf.get(FileImpl) == classOf[NioLocalFileSystem].getName &&
        !cached.isInstanceOf[NioLocalFileSystem] && closedIfNoDeletes(cached))
      FileSystem.get(LocalUri, conf)
  }

  /** Closes `fs` unless it or a file system it wraps holds `deleteOnExit`
    * paths, which closing would delete now; false where it is left open. */
  private def closedIfNoDeletes(fs: FileSystem): Boolean =
    Try {
      val field = classOf[FileSystem].getDeclaredField("deleteOnExit")
      field.setAccessible(true)
      def chain(f: FileSystem): List[FileSystem] = f :: (f match {
        case filter: FilterFileSystem => chain(filter.getRawFileSystem)
        case _ => Nil
      })
      // each set is held while closing, so no path can be added between
      // the check and the close
      def close(pending: List[java.util.Set[Path]]): Boolean = pending match {
        case set :: rest => set.synchronized(set.isEmpty && close(rest))
        case Nil => fs.close(); true
      }
      close(chain(fs).map(field.get(_).asInstanceOf[java.util.Set[Path]]))
    }.getOrElse(false)
}
