package graft.rawdata

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Hadoop FileSystem plumbing for topic + metadata I/O.
  *
  * The reference ships two storage backends behind one interface — GCS
  * (cloudstorage/GCSRawdataUtils.java prefix listing,
  * GCSSeekableInput.java seekable reads) and local files
  * (filesystem/FilesystemRawdataUtils.java). The Spark-native equivalent
  * is a single code path over Hadoop's `FileSystem`, which resolves
  * `file://`, `gs://`, `s3a://`, `hdfs://` ... from the URI scheme alone,
  * so a topic directory is portable across backends unmodified.
  *
  * Local files (`file:`) resolve to [[ForkFreeLocalFileSystem]] through
  * `FileSystem` and to [[ForkFreeLocalFs]] through `FileContext` (which
  * Spark's streaming checkpoint manager uses); [[GraftSession]] and
  * [[HadoopIO.conf]] register both by the constants below.
  *
  * Executor tasks get [[HadoopIO.conf]] as one broadcast
  * `SerializableConfiguration` per session conf ([[HadoopIO.confBroadcast]]),
  * shared by every scan (`TopicReaderFactory`) and `Topic.write`.
  */
object HadoopIO {

  /** `fs.file.impl`: the raw local file system without forked helpers. */
  val LocalFileSystemImpl: String = classOf[ForkFreeLocalFileSystem].getName

  /** `fs.AbstractFileSystem.file.impl`: its checksummed FileContext twin. */
  val LocalAbstractFileSystemImpl: String = classOf[ForkFreeLocalFs].getName

  /** Effective Hadoop configuration: the active Spark session's (it carries
    * `spark.hadoop.*` — connector credentials, endpoints), else defaults.
    * A copy is returned (never the session's live object) with the two
    * overrides this engine needs:
    *
    *  - the raw (checksum-free) local filesystem, because topic filenames
    *    embed ISO timestamps whose ':' breaks ChecksumFileSystem's relative
    *    ".<name>.crc" shadow paths (HADOOP-3257). Object-store connectors
    *    don't use checksum paths. It is [[ForkFreeLocalFileSystem]], not
    *    Hadoop's `RawLocalFileSystem`, which forks a process per call
    *    where no native library is loaded.
    *  - `fs.file.impl.disable.cache=true`, because Hadoop's FileSystem
    *    cache is keyed by scheme+authority only: if anything in the JVM
    *    already opened a `file://` path (e.g. a session not built through
    *    GraftSession), the cached ChecksumFileSystem would be returned and
    *    the impl override above silently ignored.
    *
    * Copying a Hadoop Configuration is measurably expensive (it clones the
    * full property map) and this is called on every listing/read, so the
    * copy is cached per underlying SparkContext conf and refreshed only
    * when the active session changes.
    */
  def conf(): Configuration = slot().conf

  /** [[conf]] broadcast to executor tasks, made once per cached copy (15–18
    * ms of driver time each, so not once per scan) and kept, never
    * destroyed, until [[invalidateConfCache]] or a new session conf
    * replaces the copy. Needs an active session.
    */
  def confBroadcast(): Broadcast[SerializableConfiguration] = slot().broadcast

  /** the derived copy of the session conf `src`, and its broadcast on first use */
  private final class Slot(val src: Configuration, val conf: Configuration) {
    lazy val broadcast: Broadcast[SerializableConfiguration] =
      SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf))
  }

  private def slot(): Slot = {
    val src = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration).orNull
    val cur = cached
    if (cur != null && (cur.src eq src)) cur
    else {
      val base =
        if (src == null) new Configuration() else new Configuration(src)
      base.set("fs.file.impl", LocalFileSystemImpl)
      base.setBoolean("fs.file.impl.disable.cache", true)
      cached = new Slot(src, base)
      cached
    }
  }

  /** keyed by the source session conf's identity — single-slot cache */
  @volatile private var cached: Slot = null

  /** Drop the cached derived copy and its broadcast. The cache is keyed by the session
    * conf's IDENTITY, so a caller that MUTATES the session's Hadoop conf
    * (e.g. registering a custom `fs.<scheme>.impl` — FaultInjectionSpec)
    * must invalidate or the stale copy keeps serving.
    */
  private[rawdata] def invalidateConfCache(): Unit = cached = null

  /** Child path by string concatenation — never `new Path(parent, child)`,
    * which URI-parses the child and rejects the ':' in topic filenames as
    * a scheme separator.
    */
  def child(dir: String, name: String): Path =
    new Path(dir.stripSuffix("/") + "/" + name)

  def fs(dir: String, c: Configuration): FileSystem = new Path(dir).getFileSystem(c)
}

/** Hadoop's `RawLocalFileSystem` without its forked helpers. Where
  * libhadoop's native library is not loaded (the common case for a Spark
  * install from jars), `RawLocalFileSystem` starts an external process for
  * two calls: `chmod` in `setPermission`, which every `create` and
  * `mkdirs` runs, and `readlink` in `getFileLinkStatus`, which a
  * `FileContext` rename calls four times. A process start costs
  * milliseconds, so a streaming checkpoint file whose create + rename
  * takes 0.3 ms on disk took 50-58 ms (4-core x86 host). This class does
  * both calls through `java.nio.file` in-process; every other call is
  * Hadoop's own.
  */
class ForkFreeLocalFileSystem extends RawLocalFileSystem {

  /** The 9 rwx bits via `Files.setPosixFilePermissions` (which, like
    * `chmod`, follows a symlink). A mode with the sticky bit (or any bit
    * above rwx), or a store without POSIX permissions, takes Hadoop's path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ .. OTHERS_EXECUTE: bit 8 down to bit 0
      PosixFilePermission.values().zipWithIndex.foreach { case (pp, i) =>
        if ((mode & (1 << (8 - i))) != 0) perms.add(pp)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** For a path that is not a symlink, Hadoop returns `getFileStatus(f)`
    * (and its `FileNotFoundException` for a missing path) after forking
    * `readlink` to find that out; ask `Files.isSymbolicLink` instead and
    * leave links, dangling ones included, to Hadoop.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `FileContext`'s raw local layer over [[ForkFreeLocalFileSystem]]: the
  * same overrides as Hadoop's `RawLocalFs`, whose constructors are
  * package-private.
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `FileContext`'s `file:` file system, in Hadoop's `LocalFs` shape:
  * `ChecksumFs` over the raw layer. Spark's streaming checkpoint manager
  * writes offset, commit and state-store files through `FileContext`;
  * those names carry no ':' and keep their `.crc` files, written and
  * verified as before. Topic files go through `FileSystem` and stay raw.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
