package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.rawdata.{AvroCodec, HadoopIO, Topic, Ulid}

/** DataSource V2 connector for rawdata topics:
  * `spark.read.format("graft-topic").load(dir)`.
  *
  * This is the Spark-first re-expression of the reference consumer's seek
  * path (AvroRawdataConsumer.java:141-177 floorEntry file pruning), and
  * the engine's one distributed topic reader (`Topic.readDF` and the reads
  * built on it). Any `ts_ms` range predicate a user writes (plain filter,
  * join pushdown, partition of a larger query) reaches
  * `planInputPartitions` and drops non-overlapping files BEFORE any byte
  * is read, and column pruning skips decoding the payload map when only
  * metadata columns are selected. One file = one InputPartition up to the
  * shared read cap, so scan parallelism tracks the data like the rest of
  * the engine. A hidden `file_path` column (not in `df.columns`; filled
  * only when selected) names the listed file each row was decoded from.
  *
  * Filters are reported but also left as residuals (Spark re-evaluates
  * them row-by-row): file pruning is a containment bound, not an exact
  * answer, because a file only bounds its messages' timestamps from below.
  *
  * Reads go through DataSource V2; writes do not. The table is
  * read-only, so `df.write.format("graft-topic")` falls back to
  * [[CreatableRelationProvider]] and `writeStream.format("graft-topic")`
  * to [[StreamSinkProvider]], and both call `Topic.write` (see
  * TopicDataSink.scala): the sinks land the same files as
  * `producer.publish(df)`.
  */
class TopicDataSource extends TableProvider with DataSourceRegister
    with CreatableRelationProvider with StreamSinkProvider {

  override def shortName(): String = "graft-topic"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = TopicDataSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform], properties: JMap[String, String]): Table =
    new TopicTable(Option(properties.get("path"))
      .getOrElse(throw new IllegalArgumentException("graft-topic requires .load(<topic dir>)")))

  override def supportsExternalMetadata(): Boolean = false

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    TopicSink.writeBatch(mode, parameters, data)
    new BaseRelation {
      override def sqlContext: SQLContext = data.sparkSession.sqlContext
      override def schema: StructType = TopicDataSource.Schema
    }
  }

  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    require(outputMode != OutputMode.Complete(),
      "graft-topic sink is append-only; Complete output mode is not supported")
    new TopicSink(TopicSink.path(parameters), TopicSink.config(parameters))
  }
}

object TopicDataSource {
  /** message schema + the decoded ULID columns (ts_ms is what pushdown
    * prunes on)
    */
  val Schema: StructType = StructType(Seq(
    StructField("id", BinaryType, nullable = false),
    StructField("orderingGroup", StringType, nullable = true),
    StructField("sequenceNumber", LongType, nullable = false),
    StructField("position", StringType, nullable = false),
    StructField("data", MapType(StringType, BinaryType), nullable = false),
    StructField("ulid_hex", StringType, nullable = false),
    StructField("ts_ms", LongType, nullable = false)))

  /** the hidden column naming each row's source file */
  object FilePath extends MetadataColumn {
    override def name(): String = "file_path"
    override def dataType(): DataType = StringType
    override def isNullable(): Boolean = false
  }

  /** Input partitions over `paths`, order kept: one file per partition up
    * to [[Topic.readPartitionCap]]; beyond it, contiguous runs of files
    * share a partition. Shared by the batch scan and the micro-batch tail,
    * whose first batch over a large backlog would otherwise launch one
    * task per file.
    */
  def partitions(paths: Seq[String]): Array[InputPartition] = {
    val cap = Topic.readPartitionCap(SparkSession.active.sparkContext)
    val per = math.max(1, math.ceil(paths.size.toDouble / cap).toInt)
    paths.grouped(per).map(g => TopicInputPartition(g): InputPartition).toArray
  }
}

/** Read-only: writes fall back to the provider's sinks (see
  * [[TopicDataSource]]).
  */
final class TopicTable(path: String) extends Table with SupportsRead with SupportsMetadataColumns {
  override def name(): String = s"graft-topic(`$path`)"
  override def schema(): StructType = TopicDataSource.Schema
  override def metadataColumns(): Array[MetadataColumn] = Array(TopicDataSource.FilePath)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TopicScanBuilder(path)
}

final class TopicScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var loMs: Long = Long.MinValue
  private var hiMs: Long = Long.MaxValue
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = TopicDataSource.Schema

  private def asLong(v: Any): Option[Long] = v match {
    case n: Number => Some(n.longValue())
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val accepted = filters.filter {
      case GreaterThan("ts_ms", v) => asLong(v).exists { l => loMs = math.max(loMs, l + 1); true }
      case GreaterThanOrEqual("ts_ms", v) => asLong(v).exists { l => loMs = math.max(loMs, l); true }
      case LessThan("ts_ms", v) => asLong(v).exists { l => hiMs = math.min(hiMs, l - 1); true }
      case LessThanOrEqual("ts_ms", v) => asLong(v).exists { l => hiMs = math.min(hiMs, l); true }
      case EqualTo("ts_ms", v) => asLong(v).exists { l => loMs = math.max(loMs, l); hiMs = math.min(hiMs, l); true }
      case _ => false
    }
    pushed = accepted
    // everything stays residual: pruning is a file-level containment bound
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan = new TopicScan(path, loMs, hiMs, required)
}

final class TopicScan(path: String, loMs: Long, hiMs: Long, required: StructType) extends Scan with Batch {

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def description(): String =
    s"graft-topic $path [ts_ms in ${if (loMs == Long.MinValue) "-inf" else loMs}..${if (hiMs == Long.MaxValue) "+inf" else hiMs}]"

  /** the pruned file list — the reference's floorEntry seek, at plan time */
  override def planInputPartitions(): Array[InputPartition] =
    TopicDataSource.partitions(Topic.pruneRange(Topic.listFiles(path), loMs, hiMs).map(_.path))

  override def createReaderFactory(): PartitionReaderFactory =
    new TopicReaderFactory(required)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new TopicMicroBatchStream(path, loMs, hiMs, required, checkpointLocation)
}

/** Micro-batch tail of a topic — the consumer's poll loop
  * (reference AvroRawdataConsumer.java:71-96) as a DSv2 stream: each
  * trigger lists the topic (`Topic.listFiles`: one name read, parsing
  * only new names; one LIST on an object store) and the newly landed files become that
  * micro-batch's partitions, grouped as the batch scan groups them (a
  * catch-up over a large backlog stays within the partition cap). Topic
  * files appear atomically (temp-name rename), so per-file discovery can
  * neither lose nor split a file.
  *
  * Offsets index this stream's DISCOVERY ORDER (files sorted by name can
  * land out of ULID order under a distributed publish; discovery order is
  * append-only, which offsets must be). The discovery log is DURABLE:
  * each growth writes one segment of only the new names,
  * `graft-discovery-<start offset>.log` under the query's checkpoint
  * location (temp name + rename; a pre-segment `graft-discovery.log` is
  * the segment at 0), before a new latestOffset is announced, so Spark
  * can only commit a batch whose file list survives a restart —
  * delivery is exactly-once across restarts (the mapping offset index →
  * file path is stable). A log that no longer covers a checkpointed
  * offset fails loudly instead of silently dropping files.
  */
final class TopicMicroBatchStream(
    path: String, loMs: Long, hiMs: Long, required: StructType, checkpointLocation: String)
    extends MicroBatchStream {

  private val Segment = """graft-discovery-(\d+)\.log""".r

  private val discovered = scala.collection.mutable.ArrayBuffer.empty[String]
  private val known = scala.collection.mutable.HashSet.empty[String]
  loadLog()

  /** restore the discovery order of a previous run: the segments in
    * offset order, each starting where the one before ended
    */
  private def loadLog(): Unit = {
    val fs = HadoopIO.fs(checkpointLocation, HadoopIO.conf())
    val listed = try fs.listStatus(new org.apache.hadoop.fs.Path(checkpointLocation)).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    listed.map(st => (st.getPath.getName, st.getPath)).collect {
      case ("graft-discovery.log", p) => 0L -> p
      case (Segment(start), p) => start.toLong -> p
    }.sortBy(_._1).foreach { case (start, p) =>
      if (start != discovered.size)
        throw new IllegalStateException(
          s"discovery log segment $p starts at $start but the log before it holds ${discovered.size} files")
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).foreach { f =>
        if (known.add(f)) discovered += f
      }
    }
  }

  /** one new segment of the names discovered from offset `from` on —
    * written only on growth, BEFORE the new offset is announced
    */
  private def saveLog(from: Int): Unit = {
    val fs = HadoopIO.fs(checkpointLocation, HadoopIO.conf())
    val seg = HadoopIO.child(checkpointLocation, s"graft-discovery-$from.log")
    val tmp = HadoopIO.child(checkpointLocation, s".graft-discovery-$from.log.tmp")
    fs.mkdirs(new org.apache.hadoop.fs.Path(checkpointLocation))
    val out = fs.create(tmp, true)
    try out.write(discovered.view.drop(from).mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, seg))
      throw new IllegalStateException(s"failed to persist discovery log segment $seg")
  }

  private def discover(): Unit = synchronized {
    val from = discovered.size
    Topic.pruneRange(Topic.listFiles(path), loMs, hiMs).foreach { f =>
      if (known.add(f.path)) discovered += f.path
    }
    if (discovered.size > from) saveLog(from)
  }

  override def initialOffset(): Offset = TopicOffset(0)

  override def latestOffset(): Offset = {
    discover()
    synchronized(TopicOffset(discovered.size))
  }

  override def deserializeOffset(json: String): Offset = TopicOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[TopicOffset].n.toInt, end.asInstanceOf[TopicOffset].n.toInt)
    val slice = synchronized {
      if (e > discovered.size)
        throw new IllegalStateException(
          s"discovery log covers ${discovered.size} files but the checkpoint references offset $e " +
            s"— checkpoint/log mismatch under $checkpointLocation")
      discovered.slice(s, e).toVector
    }
    TopicDataSource.partitions(slice)
  }

  override def createReaderFactory(): PartitionReaderFactory = new TopicReaderFactory(required)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

final case class TopicOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

final case class TopicInputPartition(filePaths: Seq[String]) extends InputPartition

/** One per scan (batch, or micro-batch): every task of the scan opens its
  * files with the session's one [[HadoopIO.confBroadcast]].
  */
final class TopicReaderFactory(required: StructType) extends PartitionReaderFactory {
  private[graft] val conf = HadoopIO.confBroadcast()

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TopicPartitionReader(partition.asInstanceOf[TopicInputPartition].filePaths, conf.value.value, required)
}

/** Decodes a run of topic Avro files to InternalRows, materializing only
  * the columns the scan requires (the payload map is the expensive one).
  */
final class TopicPartitionReader(filePaths: Seq[String], conf: org.apache.hadoop.conf.Configuration, required: StructType)
    extends PartitionReader[InternalRow] {

  // flatMap opens the next file only once the previous one is exhausted
  private var file: UTF8String = _
  private val it = filePaths.iterator.flatMap { p =>
    file = UTF8String.fromString(p)
    AvroCodec.readFile(p, conf)
  }
  private var row: InternalRow = _

  private val fieldGetters: Array[graft.rawdata.RawdataMessage => Any] =
    required.fields.map { f =>
      f.name match {
        case "id" => (m: graft.rawdata.RawdataMessage) => m.id
        case "orderingGroup" => (m: graft.rawdata.RawdataMessage) =>
          m.orderingGroup.map(UTF8String.fromString).orNull
        case "sequenceNumber" => (m: graft.rawdata.RawdataMessage) => m.sequenceNumber
        case "position" => (m: graft.rawdata.RawdataMessage) => UTF8String.fromString(m.position)
        case "data" => (m: graft.rawdata.RawdataMessage) =>
          ArrayBasedMapData(
            m.data.keysIterator.map(UTF8String.fromString).toArray[Any],
            m.data.valuesIterator.toArray[Any])
        case "ulid_hex" => (m: graft.rawdata.RawdataMessage) => UTF8String.fromString(Ulid.hex(m.id))
        case "ts_ms" => (m: graft.rawdata.RawdataMessage) => Ulid.tsMs(m.id)
        case "file_path" => (_: graft.rawdata.RawdataMessage) => file
        case other => throw new IllegalArgumentException(s"unknown topic column: $other")
      }
    }

  override def next(): Boolean =
    if (it.hasNext) {
      val m = it.next()
      row = InternalRow.fromSeq(fieldGetters.map(_(m)).toIndexedSeq)
      true
    } else false

  override def get(): InternalRow = row

  override def close(): Unit = () // AvroCodec's iterator closes itself at exhaustion
}
