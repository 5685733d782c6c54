package graft

import org.apache.spark.sql.SparkSession

import graft.rawdata.HadoopIO

/** Session factory with the engine's shared configuration.
  *
  * Design notes (100 TB): nothing here hard-codes local scale except the
  * shuffle-partition default, which AQE re-coalesces at runtime; on a real
  * cluster the same settings apply with a larger `master`/partition count.
  */
object GraftSession {

  /** Confs every graft session needs, applied on top of any builder. */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // NOTE on shuffle parallelism at scale: AQE can only coalesce DOWN
    // from the initial shuffle partition count, never split a too-coarse
    // exchange — on a cluster set
    // spark.sql.adaptive.coalescePartitions.initialPartitionNum to
    // ~2-4x total cores (the knob that grows with the fleet). It is NOT
    // set here: round 13 measured a blanket 1024 taxing every
    // small-corpus iterative query (q42_reach 2.3->11.3 s — 8 rounds of
    // 1024-task overhead), and the one super-linear probe sub-stage
    // (embed verify) turned out volume-bound, not partition-bound (see
    // ScaleProbe.stageAllowance).
    // driver testdata stores event timestamps as parquet TIMESTAMP(NANOS),
    // which Spark only reads as raw long (SPARK-40819); Tables.events
    // converts back to TimestampType.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.mergeSchema", "false")
    // Topic filenames carry ISO_OFFSET_DATE_TIME timestamps (reference
    // AvroRawdataUtils.java:15) whose ':' breaks Hadoop's ChecksumFileSystem
    // (it builds the relative ".<name>.crc" path, and a relative Hadoop Path
    // may not contain ':' — HADOOP-3257). Raw local FS skips crc shadow
    // files; object stores (GCS/S3 connectors) don't use checksum paths.
    // Without libhadoop's native library, Hadoop's RawLocalFileSystem forks
    // one `chmod` per create/mkdirs and one `readlink` per link-status call
    // (four per FileContext rename), about 4-5 ms each; the fork-free
    // subclass does both in-process. Its FileContext twin, which Spark's
    // streaming checkpoints and state stores write through, keeps Hadoop's
    // ChecksumFs layer, so their files still get and verify `.crc` files.
    .config("spark.hadoop.fs.file.impl", HadoopIO.LocalFileSystemImpl)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl", HadoopIO.LocalAbstractFileSystemImpl)
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    // the materialized indexes (CorpusTokenIndex, CorpusLshIndex) write
    // one sorted file per bucket; reporting the scan's sort order lets
    // per-doc windows skip BOTH the exchange and the sort. The cost this
    // config gates (file listing at planning time to prove one file per
    // bucket) is exactly the listing the scan does anyway.
    .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    .config("spark.ui.enabled", "false")

  /** A tuned session on `master`; `conf` adds a main's own settings. */
  def apply(master: String = "local[32]", shufflePartitions: Int = 32,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = tune(conf.foldLeft(
      SparkSession.builder()
        .master(master)
        .appName("graft")
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    ) { case (b, (k, v)) => b.config(k, v) }).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
