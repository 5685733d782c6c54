package graft.rawdata

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}

/** Per-topic key→bytes metadata store (reference:
  * FilesystemRawdataMetadataClient.java / GCSRawdataMetadataClient.java).
  *
  * One FILE PER KEY, like the reference's one object per key — that
  * independence is load-bearing: a whole-store read-modify-write (the
  * earlier generation design) silently loses one of two concurrent
  * per-key puts (two consumer groups committing cursors at once), because
  * the slower writer's generation rewrites every key from its stale
  * snapshot. With per-key files, writers of different keys never touch
  * each other's state; same-key races are last-writer-wins, matching the
  * reference's metadata model.
  *
  * Per-key visibility is version-file based: a put writes a dot-prefixed
  * temp file, then renames it to `k-<b64url(key)>.v-<zero-padded
  * ts>-<uuid>`; readers resolve a key to its lexicographically NEWEST
  * version file and ignore dot-temps. So a reader never observes a
  * half-written value on any backend: on local/HDFS the rename is atomic,
  * and on object stores (where rename is copy+delete) the copy targets a
  * name no reader resolves until it is complete — a torn copy leaves the
  * previous version current. Older versions of the key are pruned
  * best-effort after commit; a crash between rename and prune leaves
  * extra version files that the next put cleans up, never a wrong answer.
  *
  * Key names are url-safe-base64 encoded, so hostile keys (`..`, `/`,
  * `%`, quotes — the reference TCK's set) are plain file names.
  *
  * Metadata is tiny by contract (cursors, counters, data-card fields —
  * the reference API is byte-array get/put), so the DataFrame entry
  * points collect/assemble driver-side; the store is never a query-side
  * scan target at scale.
  *
  * All filesystem access goes through the Hadoop `FileSystem` API, so the
  * store follows the topic onto any backend (`file://`, `gs://`,
  * `s3a://`) — one code path where the reference ships two clients.
  */
object MetadataStore {

  private def storeDir(topicDir: String): String =
    topicDir.stripSuffix("/") + "/metadata"

  private def enc(key: String): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(key.getBytes("UTF-8"))

  private def dec(name: String): String =
    new String(java.util.Base64.getUrlDecoder.decode(name), "UTF-8")

  /** `k-<b64url(key)>.v-<20-digit ts>-<uuid8>` */
  private val VersionedName = "^k-([A-Za-z0-9_-]*)\\.v-([0-9]{20}-[0-9a-f]{8})$".r

  /** (encoded key, version, path) of every version file: one LIST, and a
    * missing store is empty (the `Topic.names` rule — no `exists` call first)
    */
  private def versions(fs: FileSystem, dir: String): Seq[(String, String, Path)] =
    (try fs.listStatus(new Path(dir)).toSeq catch { case _: java.io.FileNotFoundException => Nil })
      .filter(_.isFile)
      .flatMap { st =>
        st.getPath.getName match {
          case VersionedName(k, v) => Some((k, v, st.getPath))
          case _ => None
        }
      }

  /** (encoded key → newest version file path), one listing */
  private def currentFiles(dir: String): Map[String, Path] =
    versions(HadoopIO.fs(dir, HadoopIO.conf()), dir)
      .groupBy(_._1)
      .map { case (k, vs) => k -> vs.maxBy(_._2)._3 }

  private def readBytes(dir: String, p: Path): Array[Byte] = {
    val fs = HadoopIO.fs(dir, HadoopIO.conf())
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** write one key independently: temp → rename to a fresh version name,
    * then best-effort prune of the key's older versions
    */
  private def putOne(dir: String, key: String, value: Array[Byte]): Unit = {
    val conf = HadoopIO.conf()
    val fs = HadoopIO.fs(dir, conf)
    fs.mkdirs(new Path(dir))
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val version = f"${System.currentTimeMillis()}%020d-$uuid"
    val tmp = HadoopIO.child(dir, s".put-$version.tmp")
    val fin = HadoopIO.child(dir, s"k-${enc(key)}.v-$version")
    val out = fs.create(tmp, true)
    try out.write(value) finally out.close()
    if (!fs.rename(tmp, fin)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"metadata commit failed for key '$key'")
    }
    // prune older versions of THIS key only (other keys untouched)
    versions(fs, dir).foreach { case (k, v, q) => if (k == enc(key) && v < version) fs.delete(q, false) }
  }

  def readAll(spark: SparkSession, topicDir: String): DataFrame = {
    val dir = storeDir(topicDir)
    val rows = currentFiles(dir).toSeq
      .map { case (k, p) => Row(dec(k), readBytes(dir, p)) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("key", StringType), StructField("value", BinaryType))))
  }

  /** Upsert entries; `updates` must have columns (key string, value
    * binary). Each key commits independently — concurrent puts of
    * disjoint keys can never lose each other.
    */
  def put(spark: SparkSession, topicDir: String, updates: DataFrame): Unit = {
    val dir = storeDir(topicDir)
    updates.select("key", "value").collect()
      .foreach(r => putOne(dir, r.getString(0), r.getAs[Array[Byte]]("value")))
  }

  /** Remove entries by key (reference RawdataMetadataClient.remove):
    * deletes the key's version files; other keys untouched.
    */
  def remove(spark: SparkSession, topicDir: String, keys: Seq[String]): Unit = {
    val dir = storeDir(topicDir)
    val fs = HadoopIO.fs(dir, HadoopIO.conf())
    val encoded = keys.map(enc).toSet
    versions(fs, dir).foreach { case (k, _, q) => if (encoded.contains(k)) fs.delete(q, false) }
  }

  def keys(spark: SparkSession, topicDir: String): Seq[String] =
    currentFiles(storeDir(topicDir)).keysIterator.map(dec).toSeq.sorted

  def get(spark: SparkSession, topicDir: String, key: String): Option[Array[Byte]] = {
    val dir = storeDir(topicDir)
    currentFiles(dir).get(enc(key)).map(p => readBytes(dir, p))
  }
}
