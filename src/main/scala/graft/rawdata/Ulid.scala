package graft.rawdata

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._

/** ULID column helpers.
  *
  * A ULID is 16 bytes: 48-bit big-endian millisecond timestamp followed by
  * 80 bits of entropy (reference: AvroRawdataProducer.java:44-50 stores it
  * as an Avro fixed(16) named "ulid"). All helpers below are composed from
  * codegen'd built-in expressions — no UDFs — so they inline into
  * whole-stage codegen and never break predicate pushdown on surrounding
  * operators.
  */
object Ulid {

  /** Lowercase 32-char hex form. Lexicographic order on this string equals
    * unsigned byte order on the ULID (fixed width), which is the stream
    * order of the reference.
    */
  def hexOf(id: Column): Column = lower(functions.hex(id))

  /** Byte-level twins of [[hexOf]] and [[timestampMs]], for ids already
    * held on the driver or in a task: `hex` is lowercase, two chars per
    * byte (32 for a ULID) and equal to `hexOf`; `tsMs` reads a 16-byte
    * ULID's first 6 bytes as an unsigned big-endian number, equal to
    * `timestampMs`.
    */
  def hex(id: Array[Byte]): String = java.util.HexFormat.of().formatHex(id)

  def tsMs(id: Array[Byte]): Long = java.nio.ByteBuffer.wrap(id).getLong >>> 16

  /** `tsMs` of the ULID a [[hex]] string (a cursor) encodes */
  def tsMsOfHex(hex: String): Long = java.lang.Long.parseLong(hex.take(12), 16)

  /** Milliseconds since epoch from the first 6 bytes — the native
    * codegen'd expression (graft.functions.UlidTimestampMs). The
    * expression is constructed directly into the Column (not resolved
    * by name through the function registry), so it works in ANY session —
    * including pre-existing sessions that never saw
    * spark.sql.extensions=GraftExtensions. SQL-text users still get the
    * registered `ulid_ts_ms` when the extensions are installed.
    */
  def timestampMs(id: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.UlidTimestampMs(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(id)))

  /** builtin-composed equivalent (kept for sessions without the graft
    * extensions; UlidExprSpec asserts equality with the native form)
    */
  def timestampMsComposed(id: Column): Column =
    conv(substring(hexOf(id), 1, 12), 16, 10).cast("long")

  /** Deterministic ULID from a timestamp and a seed column: entropy is the
    * first 10 bytes of md5(seed). Used to give replayed/batch data stable,
    * reproducible ids (a distributed producer cannot hand out the
    * reference's per-producer monotonic entropy without coordination; a
    * content-derived ULID is the scale-safe equivalent — ids are unique per
    * seed and ordering within a millisecond is stable).
    */
  def deterministic(tsMs: Column, seed: Column): Column =
    unhex(concat(lpad(functions.hex(tsMs), 12, "0"), substring(md5(seed.cast("string")), 1, 20)))

  /** Per-producer strictly-monotonic ULID generator — the reference
    * producer's id discipline (AvroRawdataProducer.java:231
    * `RawdataProducer.nextMonotonicUlid(ulid, prevUlid)`, per the public
    * ULID monotonicity spec): within one millisecond each successive id is
    * the previous value incremented by 1; when the clock advances, a fresh
    * entropy is drawn at the new timestamp. Ids from one generator are
    * therefore strictly increasing even under same-ms bursts.
    *
    * This is single-producer (driver-side) state, exactly like the
    * reference's — a DISTRIBUTED publish can't share it without
    * coordination and uses `deterministic` instead.
    */
  final class Monotonic(entropySeed: Long = new java.security.SecureRandom().nextLong()) {
    private val rnd = new java.util.Random(entropySeed)
    // sentinel at ts 0: the first next() always adopts the caller's clock
    // (never handed out — next() replaces it before returning anything)
    private var prev: Array[Byte] = fresh(0L)

    private def fresh(tsMs: Long): Array[Byte] = {
      val id = new Array[Byte](16)
      var i = 0
      while (i < 6) { id(i) = ((tsMs >>> (8 * (5 - i))) & 0xff).toByte; i += 1 }
      val entropy = new Array[Byte](10)
      rnd.nextBytes(entropy)
      System.arraycopy(entropy, 0, id, 6, 10)
      id
    }

    /** strictly-increasing 128-bit increment (big-endian +1 with carry) */
    private def incremented(id: Array[Byte]): Array[Byte] = {
      val out = id.clone()
      var i = 15
      var carry = true
      while (carry && i >= 0) {
        out(i) = ((out(i) + 1) & 0xff).toByte
        carry = out(i) == 0
        i -= 1
      }
      if (carry) throw new IllegalStateException("ULID overflow")
      out
    }

    def next(nowMs: Long = System.currentTimeMillis()): Array[Byte] = synchronized {
      prev = if (nowMs <= tsMs(prev)) incremented(prev) else fresh(nowMs)
      prev.clone()
    }
  }
}
