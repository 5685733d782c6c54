package graft.queries

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.col

/** The one owner of the materialized index tables: the only code that
  * names, places, writes, compacts, refreshes and drops them. The five
  * index families ([[CorpusLshIndex]] with [[CorpusTokenIndex]],
  * [[EmbIvfIndex]], [[CoPurchaseGraph]] and the BPE merge artifact in
  * CurationQueries) keep only what is theirs: the derivations, the
  * commit-marker order and the append guards. The store holds no state.
  *
  * Contract:
  *   - Naming: a corpus dir `d` has the [[tag]] `md5(canonical path)`
  *     (10 hex chars); a family's table for `part` is
  *     `graft_<family>_<part>_<tag>`.
  *   - Location: the table's files live at `<java.io.tmpdir>/<dir>/<tag>/<part>`
  *     (an external table in the session catalog, so a fresh session
  *     rebuilds; on a cluster the same tables live in the warehouse and
  *     survive across jobs).
  *   - Create: [[Family.create]] is an Overwrite (stale files from a
  *     previous JVM are replaced, never read) with a [[Layout]]: bucketed
  *     on columns with optional sort columns, directory-partitioned, or
  *     plain. New bucketed tables size to [[buckets]] unless the layout
  *     carries an explicit count.
  *   - Existing tables: every write into a table that already exists
  *     ([[Family.append]], or the merge-overwrite [[Family.overwrite]])
  *     uses the layout the catalog holds (bucket count, bucket, sort and
  *     partition columns), never the session conf: a mixed-bucket table
  *     silently breaks the exchange-free joins the indexes exist for.
  *   - `cluster = true` repartitions the rows onto the layout keys before
  *     the write: one task per bucket (so one file per bucket, and a
  *     sorted bucket keeps its file sort), or whole partitions per task.
  *   - Compaction: [[Family.compact]] rewrites existing tables into that
  *     clustered form on their catalog layout, re-deriving nothing. The
  *     rows are pinned with localCheckpoint BEFORE the Overwrite so the
  *     write never reads the files it replaces (on a cluster the same
  *     rewrite stages to a new table plus a metastore swap).
  *   - Refresh: [[Family.refresh]] invalidates the session's cached file
  *     listings of every family table of a tag — files written by another
  *     session (a streaming micro-batch's clone) stay invisible until the
  *     reader refreshes, the standard Spark external-append semantics.
  *   - Drop: [[Family.drop]] removes every catalog table of the family for
  *     a tag, then deletes the tag's directory: the repair path for a crash
  *     mid-append (the next ensure rebuilds) and the cleanup for
  *     throwaway corpora.
  *   - Lock: each [[Family]] instance is its family's one lock. Every
  *     ensure, append, compact and drop of the family runs under its
  *     monitor (`Lsh.synchronized { ... }`), so a token build and an LSH
  *     drop, which share the `lsh` directory, never interleave. The one
  *     cross-family order is `Bpe` → `Lsh` (the BPE build reads the token
  *     table); nothing takes them the other way round.
  */
object IndexStore {

  /** A table's physical layout as the catalog records it. `buckets == 0`
    * in a [[Family.create]] layout sizes the table to [[buckets]].
    */
  final case class Layout(bucketCols: Seq[String] = Nil, sortCols: Seq[String] = Nil,
      partCols: Seq[String] = Nil, buckets: Int = 0)

  def bucketed(cols: String*): Layout = Layout(bucketCols = cols)
  val Plain: Layout = Layout()

  /** A family of index tables: a table-name prefix plus a directory. */
  final case class Family(prefix: String, dir: String) {

    def table(part: String, tg: String): String = s"graft_${prefix}_${part}_$tg"

    def location(part: String, tg: String): File = new File(tagDir(tg), part)

    private def tagDir(tg: String): File = new File(new File(sys.props("java.io.tmpdir"), dir), tg)

    def exists(s: SparkSession, part: String, tg: String): Boolean =
      s.catalog.tableExists(table(part, tg))

    def layout(s: SparkSession, part: String, tg: String): Layout = {
      val m = s.sessionState.catalog.getTableMetadata(TableIdentifier(table(part, tg)))
      m.bucketSpec.fold(Layout(partCols = m.partitionColumnNames)) { b =>
        Layout(b.bucketColumnNames, b.sortColumnNames, m.partitionColumnNames, b.numBuckets)
      }
    }

    /** Overwrite `part` with `df` on layout `l`; returns the table. */
    def create(s: SparkSession, df: DataFrame, part: String, tg: String, l: Layout,
        cluster: Boolean = false): DataFrame = {
      val sized = if (l.bucketCols.nonEmpty && l.buckets == 0) l.copy(buckets = buckets(s)) else l
      save(df, part, tg, sized, SaveMode.Overwrite, cluster)
      s.table(table(part, tg))
    }

    /** Append `df` to the existing table on its catalog layout. */
    def append(s: SparkSession, df: DataFrame, part: String, tg: String,
        cluster: Boolean = false): Unit =
      save(df, part, tg, layout(s, part, tg), SaveMode.Append, cluster)

    /** Replace the existing table's rows with `df` (which must not read
      * the table's own files unpinned) on its catalog layout.
      */
    def overwrite(s: SparkSession, df: DataFrame, part: String, tg: String): Unit =
      save(df, part, tg, layout(s, part, tg), SaveMode.Overwrite, cluster = false)

    /** Rewrite each existing table of `parts` clustered on its catalog layout. */
    def compact(s: SparkSession, tg: String, parts: Seq[String]): Unit = {
      for (part <- parts if exists(s, part, tg)) {
        val pinned = s.table(table(part, tg)).localCheckpoint(true)
        save(pinned, part, tg, layout(s, part, tg), SaveMode.Overwrite, cluster = true)
        pinned.unpersist(): Unit
      }
      refresh(s, tg)
    }

    def refresh(s: SparkSession, tg: String): Unit =
      tables(s, tg).foreach(s.catalog.refreshTable)

    /** Drop the catalog entries of `parts` only; their files stay. */
    def dropTables(s: SparkSession, tg: String, parts: Seq[String]): Unit =
      parts.foreach(p => s.sql(s"DROP TABLE IF EXISTS ${table(p, tg)}"): Unit)

    def drop(s: SparkSession, tg: String): Unit = {
      tables(s, tg).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"): Unit)
      graft.rawdata.Topic.rmTree(tagDir(tg))
    }

    /** on-disk data-file count of one table — the compaction observable */
    def fileCount(part: String, tg: String): Int =
      Option(location(part, tg).listFiles()).getOrElse(Array.empty)
        .count(x => x.isFile && !x.getName.startsWith("_") && !x.getName.startsWith("."))

    private def tables(s: SparkSession, tg: String): Seq[String] = {
      val c = s.sessionState.catalog
      c.listTables(c.getCurrentDatabase, s"graft_${prefix}_*_$tg").map(_.table)
    }

    private def save(df: DataFrame, part: String, tg: String, l: Layout, mode: SaveMode,
        cluster: Boolean): Unit = {
      val rows =
        if (!cluster) df
        else if (l.bucketCols.nonEmpty) df.repartition(l.buckets, l.bucketCols.map(col): _*)
        else if (l.partCols.nonEmpty) df.repartition(l.partCols.map(col): _*)
        else df
      var w: DataFrameWriter[Row] = rows.write.mode(mode)
        .option("path", location(part, tg).getAbsolutePath)
      if (l.bucketCols.nonEmpty) w = w.bucketBy(l.buckets, l.bucketCols.head, l.bucketCols.tail: _*)
      if (l.sortCols.nonEmpty) w = w.sortBy(l.sortCols.head, l.sortCols.tail: _*)
      if (l.partCols.nonEmpty) w = w.partitionBy(l.partCols: _*)
      w.saveAsTable(table(part, tg))
    }
  }

  /** the LSH text and embed-pair tables, and the token table (`tok`) */
  val Lsh: Family = Family("lsh", "graft-lsh-index")
  val Ivf: Family = Family("ivf", "graft-ivf-index")
  val Cpg: Family = Family("cpg", "graft-cpg-index")
  val Bpe: Family = Family("bpe", "graft-bpe-artifact")

  def tag(d: String): String = {
    val md = MessageDigest.getInstance("MD5")
    md.digest(new File(d).getCanonicalPath.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(10)
  }

  /** Bucket count for NEW index tables: the session's shuffle parallelism
    * — the setting a cluster deploy already scales to its executor count —
    * or `graft.index.buckets` when index layout should differ from
    * transient shuffle width. (A hard-coded 32 was a straggler factory at
    * 100 TB: every bucketed index read fanned 32 tasks whatever the
    * cluster size.)
    */
  def buckets(s: SparkSession): Int =
    s.conf.getOption("graft.index.buckets").map(_.toInt)
      .getOrElse(s.conf.get("spark.sql.shuffle.partitions").toInt)
}
