package graft.rawdata

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test/bench-only `fakegs://bucket/...` FileSystem — the
  * config-plumb-through stand-in for the real GCS Hadoop connector (the
  * sanctioned SURVEY §6 story: the engine reaches object stores through
  * whatever `fs.<scheme>.impl` the session's Hadoop conf registers,
  * exactly as the reference reaches GCS through its provider wiring,
  * GCSRawdataClientInitializer.java:31-55). Lives in src/main ONLY so
  * Bench's listing probe can drive the paginated+latent listing path
  * from the main classpath — it is a fixture, never a production
  * backend. Local files behind a bucket-authority URI, with the
  * connector-shaped properties enforced:
  *
  *  - **URI resolution**: paths carry a bucket authority
  *    (`fakegs://bucket/abs/path`) that is no local path — anything
  *    still assuming `file://` or raw java.io paths breaks here;
  *  - **credential pass-through**: every list/open/create requires
  *    `fs.fakegs.auth.token` in the Configuration THE OPERATION WAS
  *    INITIALIZED WITH to match [[FakeGsFileSystem.ExpectedToken]] —
  *    the stand-in for the reference's service-account key config.
  *    Reads run inside Spark tasks, so a pass only proves the engine
  *    ships `spark.hadoop.*` credentials to executors (the broadcast
  *    HadoopIO conf), the wiring a live bucket would exercise.
  *
  * It extends [[ForkFreeLocalFileSystem]], so its creates and mkdirs
  * start no `chmod` process.
  *
  * Static operation counters let the spec assert the scheme was
  * actually driven (a silently-file://-resolved path would leave them
  * at zero).
  */
class FakeGsFileSystem extends ForkFreeLocalFileSystem {
  // a real connector qualifies against its bucket URI; keep the
  // authority we were initialized with so listing-derived paths carry
  // the full fakegs://bucket prefix back to the caller
  private var initUri: URI = null
  override def initialize(name: URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(name, conf)
    initUri = URI.create(
      "fakegs://" + Option(name.getAuthority).getOrElse("") + "/")
  }
  // null-safe: the superclass constructor resolves its working directory
  // through getUri before Scala field initializers have run
  override def getUri: URI =
    if (initUri == null) URI.create("fakegs:///") else initUri
  override def getScheme: String = "fakegs"
  // accept any fakegs path (the bucket authority is namespace, not
  // location — the object-store model); resolution uses the path part
  override def checkPath(path: Path): Unit = ()

  private def requireAuth(op: String): Unit = {
    val got = Option(getConf).map(_.get("fs.fakegs.auth.token")).orNull
    if (got != FakeGsFileSystem.ExpectedToken)
      throw new java.nio.file.AccessDeniedException(
        s"fakegs $op: credential config fs.fakegs.auth.token " +
          s"missing or wrong (got '$got') — the caller did not plumb the " +
          "session's Hadoop credentials through")
  }

  /** Paginated, the way a real bucket serves it: GCS object listings
    * come back in lexicographically-ordered pages behind a continuation
    * token (the reference pages at 1000 objects,
    * GCSRawdataUtils.java's prefix listing) — the connector's
    * listStatus assembles the pages before the caller sees anything.
    * This reproduces that assembly: entries sorted by name, consumed in
    * `fs.fakegs.list.page.size`-sized pages (default 1000), one page
    * counted per simulated LIST RPC — so a spec can prove every topic
    * listing consumer is PAGE-COUNT-INSENSITIVE (identical results at
    * page size 3 and 10⁶) and pays the expected ceil(n/page) RPCs.
    * `fs.fakegs.list.page.latency.ms` injects a per-page stall (a real
    * GCS LIST round-trip is ~10-100 ms) so the bench can BOUND the
    * driver-side listing cost a live bucket pays at 100k files.
    *
    * Scope: pages are assembled inside ONE listStatus call, so this
    * proves RPC-count insensitivity and prices the page round-trips; it
    * does NOT simulate objects appearing/disappearing BETWEEN page
    * fetches (GCS listings are weakly consistent across pages) — a
    * consumer that can't tolerate inter-page mutation would pass here
    * and still misbehave live.
    */
  override def listStatus(f: Path): Array[FileStatus] = {
    requireAuth("list")
    FakeGsFileSystem.nLists.incrementAndGet()
    val all = super.listStatus(f).sortBy(_.getPath.getName)
    val conf = Option(getConf)
    val pageSize = math.max(1,
      conf.map(_.getInt("fs.fakegs.list.page.size", 1000)).getOrElse(1000))
    val latencyMs = conf.map(_.getLong("fs.fakegs.list.page.latency.ms", 0L)).getOrElse(0L)
    val out = Array.newBuilder[FileStatus]
    var i = 0
    do { // an empty prefix still costs one LIST RPC
      FakeGsFileSystem.nListPages.incrementAndGet()
      if (latencyMs > 0) Thread.sleep(latencyMs)
      out ++= all.slice(i, i + pageSize)
      i += pageSize
    } while (i < all.length)
    out.result()
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    requireAuth("open")
    FakeGsFileSystem.nOpens.incrementAndGet()
    super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    requireAuth("create")
    FakeGsFileSystem.nCreates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  // FileSystem.create(Path, boolean) funnels into RawLocalFileSystem's
  // permission-less variant, not the 7-arg one — gate both
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    requireAuth("create")
    FakeGsFileSystem.nCreates.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FakeGsFileSystem {
  /** the stand-in for a service-account key the session conf must carry */
  val ExpectedToken = "sa-key-stand-in-7f3a"
  val nLists = new java.util.concurrent.atomic.AtomicLong()
  val nListPages = new java.util.concurrent.atomic.AtomicLong()
  val nOpens = new java.util.concurrent.atomic.AtomicLong()
  val nCreates = new java.util.concurrent.atomic.AtomicLong()
  def reset(): Unit = { nLists.set(0); nListPages.set(0); nOpens.set(0); nCreates.set(0) }
}
