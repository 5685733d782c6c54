package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

import graft.rawdata.{AvroCodec, HadoopIO, RawdataMessage, Topic, TopicConfig}

/** The connector's write side: `df.write.format("graft-topic")
  * .mode("append").save(dir)` publishes a message DataFrame as topic
  * files through the same rolling + temp-name-commit protocol as
  * Topic.write.
  *
  * The sink declares `RequiresDistributionAndOrdering` with a sort on
  * `id`: Spark sorts every task's rows by ULID before they reach the
  * writer (BinaryType ordering is unsigned lexicographic = ULID order),
  * which guarantees the reference's within-file invariants — content in
  * ULID order, the filename's fromTimestamp taken from the true first
  * message — without the sink re-sorting anything. Each task streams its
  * sorted run into per-(window, byte-chunk) files; tasks that span the
  * same time window produce separate files (append semantics — names
  * derive from each file's first message), which a periodic
  * `Topic.compact` folds together. Idempotent under task retry via the
  * shared commit protocol (Topic.commitTopicFile).
  */
final class TopicWriteBuilder(path: String, info: LogicalWriteInfo) extends WriteBuilder {

  override def build(): Write = {
    // input resolves against the 7-column table schema (the shape
    // format("graft-topic").load produces — a symmetric round-trip);
    // the derived ulid_hex/ts_ms columns are not re-encoded, only the
    // five message fields reach the Avro writer
    val schema = info.schema()
    val need = Seq("id", "orderingGroup", "sequenceNumber", "position", "data")
    val missing = need.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"graft-topic sink requires message columns ${need.mkString(", ")}; missing: ${missing.mkString(", ")}")
    val cfg = TopicConfig(
      maxWindowMs = Option(info.options.get("maxWindowMs")).map(_.toLong).getOrElse(TopicConfig().maxWindowMs),
      maxBytes = Option(info.options.get("maxBytes")).map(_.toLong).getOrElse(TopicConfig().maxBytes),
      syncIntervalBytes = Option(info.options.get("syncIntervalBytes")).map(_.toLong).getOrElse(TopicConfig().syncIntervalBytes))
    new TopicWrite(path, schema, cfg)
  }
}

final class TopicWrite(path: String, schema: StructType, cfg: TopicConfig)
    extends Write with RequiresDistributionAndOrdering {

  // any distribution; ULID-sorted within each task (see class doc)
  override def requiredDistribution(): Distribution = Distributions.unspecified()
  override def requiredOrdering(): Array[SortOrder] =
    Array(Expressions.sort(Expressions.column("id"), SortDirection.ASCENDING))

  override def toBatch: BatchWrite = new TopicBatchWrite(path, schema, cfg)

  override def toStreaming: StreamingWrite = new TopicStreamingWrite(path, schema, cfg)
}

/** `df.writeStream.format("graft-topic")` — the reference producer's
  * CONTINUOUS mode (AvroRawdataProducer's window-roll loop as a
  * Structured Streaming sink): every micro-batch publishes through the
  * same rolling + temp-name commit protocol as the batch sink, so a
  * stream→topic mirror yields a byte-compatible topic.
  *
  * Delivery is effectively-once: a replayed epoch re-derives the SAME
  * file names (they are functions of each file's first message) and
  * `Topic.commitTopicFile` treats an existing file of identical length
  * as success — the replay converges on the committed state instead of
  * duplicating it. Unlike the batch sink, the streaming writer passes an
  * EMPTY pre-existing snapshot: an epoch replayed after a query restart
  * (checkpoint offset landed, commit marker didn't — the torn-crash
  * window) re-derives names the restarted query's start-time listing
  * already contains, and a query-start snapshot would misread that
  * convergence as a loud "identical re-publish". The conflicting-writer
  * guard stays: a name collision with DIFFERENT bytes still fails.
  * (TopicSinkStreamSpec + TornMaintenanceSpec prove both restart shapes.)
  */
final class TopicStreamingWrite(path: String, schema: StructType, cfg: TopicConfig)
    extends StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val conf = HadoopIO.conf()
    HadoopIO.fs(path, conf).mkdirs(new Path(path))
    TopicStreamingWriterFactory(path, schema, cfg, HadoopIO.serializable(),
      graft.rawdata.PreExisting.of(Nil))
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    Topic.invalidateListing(path)

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

final case class TopicStreamingWriterFactory(
    path: String, schema: StructType, cfg: TopicConfig,
    sconf: HadoopIO.SerializableConf, preExisting: graft.rawdata.PreExisting)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new TopicDataWriter(path, schema, cfg, sconf, preExisting)
}

final class TopicBatchWrite(path: String, schema: StructType, cfg: TopicConfig) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val conf = HadoopIO.conf()
    HadoopIO.fs(path, conf).mkdirs(new Path(path))
    val preExisting = graft.rawdata.PreExisting.of(
      Topic.listFiles(path).map(f => new Path(f.path).getName))
    new TopicWriterFactory(path, schema, cfg, HadoopIO.serializable(), preExisting)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    Topic.invalidateListing(path)

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final case class TopicWriterFactory(
    path: String, schema: StructType, cfg: TopicConfig,
    sconf: HadoopIO.SerializableConf, preExisting: graft.rawdata.PreExisting) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new TopicDataWriter(path, schema, cfg, sconf, preExisting)
}

final case class TopicFilesWritten(names: Seq[String]) extends WriterCommitMessage

/** Streams one task's ULID-sorted rows into rolled topic files — the
  * DSv2 twin of Topic.FileGroupWriter (windows arrive in order because
  * the input is id-sorted, so one file is open at a time).
  */
final class TopicDataWriter(
    topicDir: String, schema: StructType, cfg: TopicConfig,
    sconf: HadoopIO.SerializableConf, preExisting: graft.rawdata.PreExisting) extends DataWriter[InternalRow] {

  private val fs = HadoopIO.fs(topicDir, sconf.value)
  private val iId = schema.fieldIndex("id")
  private val iGrp = schema.fieldIndex("orderingGroup")
  private val iSeq = schema.fieldIndex("sequenceNumber")
  private val iPos = schema.fieldIndex("position")
  private val iData = schema.fieldIndex("data")

  private var curWin = Long.MinValue
  private var bytesInFile = 0L
  private var writer: AvroCodec.FileWriter = _
  private var tmp: Path = _
  private val committed = Seq.newBuilder[String]
  private val temps = scala.collection.mutable.ArrayBuffer.empty[Path]

  private def toMessage(row: InternalRow): RawdataMessage = {
    val data = row.getMap(iData)
    val keys = data.keyArray()
    val vals = data.valueArray()
    val m = Map.newBuilder[String, Array[Byte]]
    var i = 0
    while (i < data.numElements()) {
      m += keys.getUTF8String(i).toString -> vals.getBinary(i)
      i += 1
    }
    RawdataMessage(
      id = row.getBinary(iId),
      orderingGroup = if (row.isNullAt(iGrp)) None else Some(row.getUTF8String(iGrp).toString),
      sequenceNumber = row.getLong(iSeq),
      position = row.getUTF8String(iPos).toString,
      data = m.result())
  }

  private def finishFile(): Unit = if (writer != null) {
    writer.close()
    val name = s"${Topic.formatTs(Topic.ulidTs(writer.firstId))}_${writer.count}_${writer.lastBlockOffset}_${writer.firstPosition}.avro"
    val dest = HadoopIO.child(topicDir, name)
    Topic.commitTopicFile(fs, tmp, dest, name, preExisting)
    committed += name
    writer = null
  }

  override def write(row: InternalRow): Unit = {
    val m = toMessage(row)
    val win = Topic.ulidTs(m.id) / cfg.maxWindowMs
    val approx = Topic.approxBytes(m)
    if (writer == null || win != curWin || bytesInFile + approx > cfg.maxBytes) {
      finishFile()
      curWin = win
      bytesInFile = 0L
      tmp = HadoopIO.child(topicDir,
        s".inprogress-${java.util.UUID.randomUUID().toString.take(12)}.tmp")
      temps += tmp
      writer = new AvroCodec.FileWriter(fs.create(tmp, false), cfg.syncIntervalBytes)
    }
    writer.append(m)
    bytesInFile += approx
  }

  override def commit(): WriterCommitMessage = {
    finishFile()
    TopicFilesWritten(committed.result())
  }

  override def abort(): Unit = {
    if (writer != null) { writer.close(); writer = null }
    temps.foreach(t => if (fs.exists(t)) fs.delete(t, false))
  }

  override def close(): Unit = ()
}
