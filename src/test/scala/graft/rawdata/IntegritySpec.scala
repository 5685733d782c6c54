package graft.rawdata

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** rd_integrity's detection property: a file whose name CLAIMS a count
  * different from its real content must surface as ok=0. (The green path
  * — every file consistent — is oracle-checked by rd_integrity itself.)
  */
class IntegritySpec extends SparkSpec {
  import spark.implicits._

  private def audit(dir: String) = {
    val meta = Topic.fileListingDF(spark, dir)
      .select($"path", $"fromTsMs".as("from_ts_ms"), $"count".as("meta_n"))
    val actual = Topic.readDF(spark, dir)
      .groupBy($"file_path").agg(count(lit(1)).as("actual_n"))
    meta.join(actual, meta("path") === actual("file_path"), "left")
      .select($"from_ts_ms", $"meta_n",
        coalesce($"actual_n", lit(0L)).as("actual_n"))
      .withColumn("ok", when($"meta_n" === $"actual_n", 1L).otherwise(0L))
  }

  test("a filename claiming the wrong count is flagged") {
    val dir = Topic.tempDir("integrity")
    Topic.write(EventsAsTopic.messagesFromEvents(spark, sf), dir, EventsAsTopic.cfg)

    val clean = audit(dir).collect()
    assert(clean.nonEmpty && clean.forall(_.getAs[Long]("ok") == 1L))

    // tamper: bump the count field in one filename (producer-metadata lie)
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro")).head
    val parts = f.getName.stripSuffix(".avro").split("_", 4)
    val lied = s"${parts(0)}_${parts(1).toLong + 7}_${parts(2)}_${parts(3)}.avro"
    assert(f.renameTo(new java.io.File(f.getParent, lied)))
    Topic.invalidateListing(dir)

    val tampered = audit(dir).collect()
    val bad = tampered.filter(_.getAs[Long]("ok") == 0L)
    assert(bad.length === 1, "exactly the tampered file is flagged")
    assert(bad.head.getAs[Long]("meta_n") === bad.head.getAs[Long]("actual_n") + 7)
  }
}
