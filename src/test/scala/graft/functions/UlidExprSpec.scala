package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.rawdata.{EventsAsTopic, Ulid}

class UlidExprSpec extends SparkSpec {
  import spark.implicits._

  test("native ulid_ts_ms equals the builtin-composed decode on real ids") {
    val ids = EventsAsTopic.messagesFromEvents(spark, sf).select($"id")
    val diff = ids
      .select(Ulid.timestampMs($"id").as("native"), Ulid.timestampMsComposed($"id").as("composed"))
      .filter($"native" =!= $"composed")
      .count()
    assert(diff === 0)
  }

  test("native decode round-trips a literal timestamp and survives codegen") {
    val tsMs = 1705276800123L
    val df = Seq(1).toDF("x")
      .select(Ulid.deterministic(lit(tsMs), lit("seed")).as("id"))
      .select(Ulid.timestampMs($"id").as("ts"))
    assert(df.collect().head.getLong(0) === tsMs)
    // used inside a filter → exercised in whole-stage codegen
    val n = EventsAsTopic.messagesFromEvents(spark, sf)
      .filter(Ulid.timestampMs($"id") >= 0L).count()
    assert(n > 0)
  }

  test("byte-level hex and tsMs equal their column forms, high-bit bytes included") {
    // timestamps and entropy whose bytes have the high bit set: a signed
    // byte read as negative would break both decodes
    val rnd = new scala.util.Random(3)
    val ids = Seq(0x8000000000ffL, 0xffffffffffffL, 1705276800123L, 0L).map { ts =>
      val id = new Array[Byte](16)
      (0 until 6).foreach(k => id(k) = ((ts >>> (8 * (5 - k))) & 0xff).toByte)
      (6 until 16).foreach(k => id(k) = (0x80 | rnd.nextInt(0x80)).toByte)
      id
    } :+ Array.fill[Byte](16)(-1)
    val rows = ids.toDF("id")
      .select($"id", Ulid.hexOf($"id").as("hex"), Ulid.timestampMs($"id").as("ts"))
      .collect()
    assert(rows.length === ids.size)
    rows.foreach { r =>
      val id = r.getAs[Array[Byte]]("id")
      assert(Ulid.hex(id) === r.getAs[String]("hex"))
      assert(Ulid.hex(id).length === 32)
      assert(Ulid.tsMs(id) === r.getAs[Long]("ts"))
    }
    assert(Ulid.hex(ids.last) === "f" * 32)
    assert(Ulid.tsMs(ids.head) === 0x8000000000ffL)
  }
}
