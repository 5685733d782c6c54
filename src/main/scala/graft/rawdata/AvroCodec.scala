package graft.rawdata

import java.io.OutputStream
import java.nio.ByteBuffer

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Avro (de)serialization of rawdata messages, file-format compatible with
  * the reference (same record schema, AvroRawdataProducer.java:44-50, so a
  * topic written by the reference client is readable by this engine and
  * vice versa). Runs inside Spark tasks — one task per file.
  *
  * All file access goes through Hadoop streams: `FsInput` (Avro's seekable
  * input over Hadoop `FSDataInputStream` — the portable equivalent of the
  * reference's cloudstorage/GCSSeekableInput.java) for reads, and a plain
  * Hadoop output stream for writes, so the same code serves `file://`,
  * `gs://`, `s3a://` topics.
  */
object AvroCodec {

  /** The on-disk record schema. Kept as a JSON literal (the format is the
    * contract; field order and the fixed(16) id type must match the
    * reference exactly).
    */
  val SchemaJson: String =
    """{"type":"record","name":"RawdataMessage","fields":[
      |{"name":"id","type":{"type":"fixed","name":"ulid","size":16}},
      |{"name":"orderingGroup","type":["string","null"]},
      |{"name":"sequenceNumber","type":"long","default":0},
      |{"name":"position","type":"string"},
      |{"name":"data","type":{"type":"map","values":"bytes"}}
      |]}""".stripMargin

  def schema: Schema = new Schema.Parser().parse(SchemaJson)

  private def ulidFixed(sch: Schema, bytes: Array[Byte]): GenericData.Fixed =
    new GenericData.Fixed(sch.getField("id").schema(), bytes)

  def toRecord(sch: Schema, m: RawdataMessage): GenericRecord = {
    val rec = new GenericData.Record(sch)
    rec.put("id", ulidFixed(sch, m.id))
    rec.put("orderingGroup", m.orderingGroup.orNull)
    rec.put("sequenceNumber", m.sequenceNumber)
    rec.put("position", m.position)
    val data = new java.util.HashMap[String, ByteBuffer]()
    m.data.foreach { case (k, v) => data.put(k, ByteBuffer.wrap(v)) }
    rec.put("data", data)
    rec
  }

  def fromRecord(rec: GenericRecord): RawdataMessage = {
    val id = rec.get("id").asInstanceOf[GenericData.Fixed].bytes()
    val og = Option(rec.get("orderingGroup")).map(_.toString)
    val seq = rec.get("sequenceNumber").asInstanceOf[Long]
    val pos = rec.get("position").toString
    val data = mutable.Map[String, Array[Byte]]()
    rec.get("data").asInstanceOf[java.util.Map[AnyRef, ByteBuffer]].asScala.foreach {
      case (k, bb) =>
        // copy out of the buffer correctly (do not assume a zero offset)
        val arr = new Array[Byte](bb.remaining())
        bb.duplicate().get(arr)
        data.put(k.toString, arr)
    }
    RawdataMessage(id, og, seq, pos, data.toMap)
  }

  /** Streaming writer for one Avro file over any output stream (the caller
    * opens it via Hadoop `FileSystem.create`, so the destination may be any
    * supported store); tracks the metadata the filename convention needs
    * (count, first ULID/position, last block offset) like the reference's
    * AvroFileMetadata.
    */
  final class FileWriter(out: OutputStream, syncIntervalBytes: Long) {
    private val sch = schema
    private val writer = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](sch))
    // Keep Avro's own auto-block roll above our manual sync threshold so
    // every block boundary in the file is one we recorded; bounds block
    // buffering at ~2× syncIntervalBytes. Avro accepts only [32, 1<<30]
    // (DataFileWriter.setSyncInterval throws outside it), so clamp BEFORE
    // doubling to stay in range for any TopicConfig.
    writer.setSyncInterval((math.max(32L, math.min(syncIntervalBytes, 1L << 29)) * 2).toInt)
    writer.create(sch, out)
    // Sync immediately after create (reference AvroRawdataProducer.java:153-154)
    // so the filename's lastBlockOffset is always a valid sync point even for
    // files smaller than syncIntervalBytes — the reference client's
    // lastMessage does seek(offsetOfLastBlock) unconditionally
    // (AvroRawdataClient.java:134) and seek(0) would land on the file header.
    var lastBlockOffset: Long = writer.sync()

    var count: Long = 0L
    var firstId: Array[Byte] = _
    var firstPosition: String = _
    private var bytesInBlock: Long = 0L

    def append(m: RawdataMessage): Unit = {
      if (count == 0L) { firstId = m.id; firstPosition = m.position }
      val approxBytes = 16L + m.position.length +
        m.data.valuesIterator.map(_.length.toLong).sum + 32L
      if (bytesInBlock + approxBytes > syncIntervalBytes && count > 0) {
        lastBlockOffset = writer.sync()
        bytesInBlock = 0L
      }
      writer.append(toRecord(sch, m))
      count += 1
      bytesInBlock += approxBytes
    }

    def close(): Unit = writer.close() // closes the underlying stream too
  }

  private def open(path: String, conf: Configuration): DataFileReader[GenericRecord] =
    new DataFileReader[GenericRecord](
      new FsInput(new Path(path), conf), new GenericDatumReader[GenericRecord](schema))

  /** Transient-failure retries per file read. Object-store read channels
    * reset under normal operation (the reference's GCSSeekableInput.java:1
    * exists to reopen the GCS channel on seek/failure); a committed topic
    * file is immutable, so a reopen-and-skip retry is always safe. Two
    * retries bounds the cost on genuinely corrupt files (which still fail,
    * with the original IOException).
    */
  private val ReadRetries = 2

  def readFile(path: String, conf: Configuration): Iterator[RawdataMessage] =
    resilient(path, 0L, conf)

  /** Read records at/after a block offset (the filename's last-block
    * offset) — the reference's lastMessage fast path
    * (AvroRawdataClient.java:126-147).
    */
  def readFileFrom(path: String, blockOffset: Long, conf: Configuration): Iterator[RawdataMessage] =
    resilient(path, blockOffset, conf)

  /** First record of a file, closing the reader regardless of content
    * (driver-side call — no TaskContext to close it for us).
    */
  def readFirst(path: String, conf: Configuration): Option[RawdataMessage] = {
    val it = resilient(path, 0L, conf)
    try { if (it.hasNext) Some(it.next()) else None }
    finally it.closeNow()
  }

  /** true iff the failure chain contains an IOException — the transient
    * class worth a reopen (Avro wraps stream failures in
    * AvroRuntimeException, so the cause chain is walked)
    */
  private def transientIO(e: Throwable): Boolean = {
    var t = e
    while (t != null) {
      if (t.isInstanceOf[java.io.IOException]) return true
      t = if (t.getCause eq t) null else t.getCause
    }
    false
  }

  private def quietClose(r: DataFileReader[GenericRecord]): Unit =
    try r.close() catch { case _: Exception => () }

  /** Iterator over a topic file that survives transient read failures by
    * reopening the file and skipping the records already delivered — the
    * Spark-side twin of the reference's channel-reopen behavior
    * (GCSSeekableInput.java). The skip re-seeks to `blockOffset` first, so
    * the replay cost is bounded by the records since that offset, and the
    * iterator delivers each record EXACTLY once across any number of
    * reopens (FaultInjectionSpec proves no loss/duplication under injected
    * channel resets).
    */
  private def resilient(path: String, blockOffset: Long, conf: Configuration): ResilientIterator =
    new ResilientIterator(path, blockOffset, conf)

  private final class ResilientIterator(
      path: String, blockOffset: Long, conf: Configuration) extends Iterator[RawdataMessage] {
      private var delivered = 0L
      private var retries = ReadRetries
      private var reader: DataFileReader[GenericRecord] = null
      private var closed = false
      // A partially consumed iterator (e.g. a local limit short-circuiting
      // the graft-topic partition reader) would otherwise leak the file
      // handle for the executor's lifetime.
      private val tc = org.apache.spark.TaskContext.get()
      if (tc != null) tc.addTaskCompletionListener[Unit](_ => closeOnce())

      private def closeOnce(): Unit = if (!closed) {
        closed = true
        if (reader != null) quietClose(reader)
      }

      private def attempt[T](body: DataFileReader[GenericRecord] => T): T = {
        while (true) {
          try {
            if (reader == null) {
              val r = open(path, conf)
              try {
                if (blockOffset > 0) r.seek(blockOffset)
                var i = 0L
                while (i < delivered) { r.next(); i += 1 }
              } catch { case e: Throwable => quietClose(r); throw e }
              reader = r
            }
            val out = body(reader)
            // a successful read proves the channel recovered: replenish
            // the budget so a long file surviving N transient resets
            // spread over its lifetime is not permanently failed by a
            // fixed per-iterator allowance
            retries = ReadRetries
            return out
          } catch {
            case e: Throwable if retries > 0 && transientIO(e) =>
              retries -= 1
              if (reader != null) { quietClose(reader); reader = null }
          }
        }
        throw new IllegalStateException("unreachable")
      }

      def hasNext: Boolean = {
        if (closed) return false
        val h = attempt(_.hasNext)
        if (!h) closeOnce()
        h
      }

      def next(): RawdataMessage = {
        // after the TaskCompletionListener closed the reader, a stray
        // next() must NOT re-open the file via attempt() — the new
        // handle would leak for the executor's lifetime
        if (closed) throw new NoSuchElementException("iterator closed")
        val m = attempt(r => fromRecord(r.next()))
        delivered += 1
        m
      }

      /** explicit close for driver-side callers with no TaskContext */
      def closeNow(): Unit = closeOnce()
    }

  def readBytes(content: Array[Byte]): Iterator[RawdataMessage] = {
    val reader = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(content), new GenericDatumReader[GenericRecord](schema))
    iterate(reader)
  }

  private def iterate(reader: DataFileReader[GenericRecord]): Iterator[RawdataMessage] =
    new Iterator[RawdataMessage] {
      private var closed = false
      private def closeOnce(): Unit = if (!closed) { closed = true; reader.close() }
      // A partially consumed iterator (e.g. a local limit short-circuiting
      // the graft-topic partition reader) would otherwise leak the file
      // handle for the executor's lifetime.
      private val tc = org.apache.spark.TaskContext.get()
      if (tc != null) tc.addTaskCompletionListener[Unit](_ => closeOnce())
      def hasNext: Boolean = {
        if (closed) return false
        val h = reader.hasNext
        if (!h) closeOnce()
        h
      }
      def next(): RawdataMessage = fromRecord(reader.next())
    }
}
