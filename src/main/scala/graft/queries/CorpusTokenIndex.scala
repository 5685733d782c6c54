package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Materialized corpus token relation — the tokenization pass, paid ONCE
  * per corpus per session and read by every token-level text operator
  * (txt_vocab, txt_phrases, txt_bigram_lm, txt_tfidf, txt_cms, txt_hapax,
  * txt_skipgrams, txt_pmi, txt_novelty, txt_bpe, txt_bpe_encode).
  *
  * Why: before this table each of those ten queries re-read the document
  * text and re-ran split+explode — ten full-corpus tokenization passes
  * per suite. At 100 TB tokenize-once is the difference between one
  * corpus scan feeding ten cheap columnar reads and ten scans of the
  * widest column in the corpus (the text itself). It is the lexical twin
  * of [[CorpusLshIndex]] (which amortizes the shingle→minhash→band build
  * for the dedup family).
  *
  * Schema: (doc_id, source, lang, pos, tok) — one row per whitespace
  * token in document order, definitionally `posexplode(split(text, ' +'))`
  * carrying the two dimension columns consumers group on. Parquet
  * dictionary-encodes the token column, so the table is comparable in
  * size to the text it replaces while every read is column-pruned to the
  * 1–3 columns a query needs.
  *
  * Bucketing is load-bearing: [[IndexStore.buckets]] buckets on doc_id
  * with files sorted by
  * (doc_id, pos) and exactly one file per bucket (the pre-write
  * repartition matches task→bucket one-to-one), so every per-doc window
  * (bigram lead, phrase leads, skip-gram context) and every
  * groupBy(doc_id, …) consumes the bucket distribution AND the file sort
  * order directly — no exchange, no sort, straight into the window
  * (TokenIndexSpec proves the exchange-free, sort-free plan). The table
  * is `tok` in the [[IndexStore]] `lsh` family, so naming, location,
  * appends, compaction and drop follow the store's contract.
  *
  * Correctness: the relation is definitionally identical to the inline
  * split+explode each consumer ran before (TokenIndexSpec asserts row-set
  * equality including empty-token rows), so every DuckDB oracle is
  * unchanged.
  */
object CorpusTokenIndex {

  import IndexStore.{Layout, Lsh, tag}

  /** bucketed on doc_id, files sorted by (doc_id, pos) */
  private val TokLayout = Layout(Seq("doc_id"), Seq("doc_id", "pos"))

  private def tokenize(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), col("lang"), posexplode(split(col("text"), " +")))
      .toDF("doc_id", "source", "lang", "pos", "tok")

  /** Build the token table if this session hasn't yet, clustered — one
    * shuffle task per bucket ⇒ one file per bucket ⇒ the scan reports
    * the (doc_id, pos) sort order and windows skip the sort.
    */
  def ensure(s: SparkSession, d: String): Unit = Lsh.synchronized {
    val tg = tag(d)
    if (!Lsh.exists(s, "tok", tg))
      Lsh.create(s, tokenize(t(s, d, "documents")), "tok", tg, TokLayout, cluster = true): Unit
  }

  /** (doc_id, source, lang, pos, tok) — every whitespace token of every
    * document in order, INCLUDING the single empty token an empty text
    * splits to (consumers that drop it filter `length(tok) > 0`, exactly
    * as they did inline).
    */
  def tokens(s: SparkSession, d: String): DataFrame = {
    ensure(s, d)
    s.table(Lsh.table("tok", tag(d)))
  }

  /** Incrementally extend the token index with a new document batch —
    * tokenization is per-doc, so the append is just the batch's own rows
    * written through the same bucket spec (the crawl-loop twin of
    * [[CorpusLshIndex.append]]). The bucket DISTRIBUTION — what per-doc
    * windows and groupBys rely on to skip the exchange — survives the
    * append (each append adds one sorted file per bucket); the
    * one-file-per-bucket SORT guarantee does not, so windows re-sort
    * within partitions until a periodic ensure-from-scratch compaction
    * rewrites the table (the same maintenance trade every bucketed
    * warehouse table makes). Row-set correctness is unconditional:
    * TokenIndexSpec proves append == inline tokenization of the union.
    *
    * `newDocs`: (doc_id, source, lang, text) with doc_ids disjoint from
    * the indexed corpus.
    */
  def append(s: SparkSession, d: String, newDocs: DataFrame): Unit = Lsh.synchronized {
    ensure(s, d)
    Lsh.append(s, tokenize(newDocs), "tok", tag(d), cluster = true)
  }

  /** Restore the one-sorted-file-per-bucket layout appends dilute (the
    * periodic compaction every bucketed warehouse table schedules,
    * [[IndexStore.Family.compact]]), after which per-doc windows read the
    * file sort again (no SortExec — TokenIndexSpec's append+compact case).
    */
  def compact(s: SparkSession, d: String): Unit = Lsh.synchronized {
    Lsh.compact(s, tag(d), Seq("tok"))
  }
}
