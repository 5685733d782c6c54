package graft.rawdata

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec

/** The GCS config path, demonstrated instead of argued (SURVEY §6's
  * sanctioned story is "the same code behind an object-store URI via the
  * Hadoop connector"): a topic round-trips through a registered custom
  * `fakegs://bucket/...` scheme ([[FakeGsFileSystem]]), proving
  *
  *  - URI resolution: Topic / MetadataStore / TopicDataSource assume no
  *    `file://` anywhere — every list/open/create demonstrably routes
  *    through the registered scheme (operation counters);
  *  - credential pass-through: the FileSystem refuses any operation
  *    whose Configuration lacks the right `fs.fakegs.auth.token`, so
  *    green distributed reads prove the session's `spark.hadoop.*`
  *    credentials reach executor-side tasks (HadoopIO.SerializableConf)
  *    — the engine-side analog of the reference's credential-provider
  *    wiring (GCSRawdataClientInitializer.java:31-55);
  *  - the listing path: file discovery (Topic.listFiles, the DSv2
  *    planner) runs through the scheme's listStatus.
  */
class FakeGsSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private def setToken(token: String): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.fakegs.impl", classOf[FakeGsFileSystem].getName)
    hc.setBoolean("fs.fakegs.impl.disable.cache", true)
    hc.set("fs.fakegs.auth.token", token)
    HadoopIO.invalidateConfCache()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    setToken(FakeGsFileSystem.ExpectedToken)
    FakeGsFileSystem.reset()
  }

  private def msgs(ids: Range) =
    ids.toDF("i").select(
      Ulid.deterministic(lit(1700000000000L) + $"i" * 60000L,
        concat(lit("p"), $"i")).as("id"),
      lit(null).cast("string").as("orderingGroup"),
      $"i".cast("long").as("sequenceNumber"),
      concat(lit("pos-"), $"i").as("position"),
      map(lit("payload"), encode(concat(lit("data-"), $"i"), "UTF-8")).as("data"))

  private def bucketDir(prefix: String): String =
    "fakegs://graft-test-bucket" + Topic.tempDir(prefix)

  test("topic write -> list -> distributed read round-trips through fakegs://") {
    val dir = bucketDir("fakegs-topic")
    Topic.write(msgs(0 until 50), dir, TopicConfig(maxWindowMs = 600000L))
    assert(FakeGsFileSystem.nCreates.get() > 0, "writes never touched the scheme")

    val files = Topic.listFiles(dir)
    assert(files.nonEmpty)
    assert(files.forall(_.path.startsWith("fakegs://")),
      s"listing lost the scheme: ${files.head.path}")
    assert(FakeGsFileSystem.nLists.get() > 0, "listing never touched the scheme")

    val got = Topic.read(spark, dir).collect().map(_.position).sorted
    assert(got.toSeq === (0 until 50).map(i => s"pos-$i").sorted)
    assert(FakeGsFileSystem.nOpens.get() > 0,
      "distributed read never opened through the scheme — executor conf " +
        "did not carry the registration")

    // the last-block fast path (seek + tail read) too
    val last = Topic.lastMessageDF(spark, dir)
      .select($"position").as[String].head()
    assert(last === "pos-49") // highest ULID timestamp, not lexical order
  }

  test("lastMessageDF lists the topic once") {
    val dir = bucketDir("fakegs-last")
    Topic.write(msgs(0 until 30), dir, TopicConfig(maxWindowMs = 600000L))
    val lists0 = FakeGsFileSystem.nLists.get()
    assert(Topic.lastMessageDF(spark, dir).select($"position").as[String].collect().toSeq === Seq("pos-29"))
    assert(FakeGsFileSystem.nLists.get() - lists0 === 1)
  }

  test("MetadataStore round-trips through fakegs://") {
    val dir = bucketDir("fakegs-meta")
    Topic.write(msgs(0 until 5), dir, TopicConfig(maxWindowMs = 600000L))
    val kv = Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "vs")
      .select($"key", encode($"vs", "UTF-8").as("value"))
    MetadataStore.put(spark, dir, kv)
    val back = MetadataStore.readAll(spark, dir)
      .select($"key", decode($"value", "UTF-8").as("v")).as[(String, String)]
      .collect().sorted
    assert(back.toSeq === Seq(("k1", "v1"), ("k2", "v2")))
  }

  test("the DSv2 connector plans and reads through fakegs://") {
    val dir = bucketDir("fakegs-dsv2")
    Topic.write(msgs(0 until 40), dir, TopicConfig(maxWindowMs = 600000L))
    val lists0 = FakeGsFileSystem.nLists.get()
    val got = spark.read.format("graft-topic").load(dir)
      .filter($"ts_ms" >= 1700000000000L + 10 * 60000L)
      .select($"position").as[String].collect().sorted
    assert(got.toSeq === (10 until 40).map(i => s"pos-$i").sorted)
    assert(FakeGsFileSystem.nLists.get() > lists0,
      "the DSv2 planner never listed through the scheme")
  }

  test("listing consumers are page-count-insensitive (reference pages at 1000 objects)") {
    val dir = bucketDir("fakegs-paged")
    // 60 s message spacing with a 120 s window → ~24 topic files
    Topic.write(msgs(0 until 48), dir, TopicConfig(maxWindowMs = 120000L))
    val hc = spark.sparkContext.hadoopConfiguration
    def listAt(pageSize: Int): (Seq[TopicFile], Long) = {
      hc.setInt("fs.fakegs.list.page.size", pageSize)
      HadoopIO.invalidateConfCache()
      val p0 = FakeGsFileSystem.nListPages.get()
      (Topic.listFiles(dir), FakeGsFileSystem.nListPages.get() - p0)
    }
    try {
      val (single, pages1) = listAt(1000000)
      assert(single.size >= 20, s"fixture built only ${single.size} files")
      assert(pages1 === 1L, s"a fits-in-one-page listing paid $pages1 LIST RPCs")
      val (paged, pagesN) = listAt(3)
      assert(paged === single, "pagination changed the topic file sequence")
      assert(pagesN >= ((single.size + 2) / 3).toLong,
        s"a ${single.size}-file listing at page size 3 paid only $pagesN page RPCs")
      // seek pruning over the paged listing picks the same suffix
      val mid = single(single.size / 2).fromTsMs
      assert(Topic.pruneFrom(paged, mid) === Topic.pruneFrom(single, mid))
      // the DSv2 planner under 3-object pages still plans every row
      val got = spark.read.format("graft-topic").load(dir)
        .select($"position").as[String].collect().sorted
      assert(got.toSeq === (0 until 48).map(i => s"pos-$i").sorted)
    } finally {
      hc.unset("fs.fakegs.list.page.size")
      HadoopIO.invalidateConfCache()
    }
  }

  test("a cursor-resume receive opens only the files pruneFrom keeps") {
    val client = new GraftRawdataClient(spark, bucketDir("fakegs-resume"))
    try {
      // 60 s message spacing with a 120 s window → 20 topic files
      client.producer("t", TopicConfig(maxWindowMs = 120000L)).publish(msgs(0 until 40))
      val dir = client.topicDir("t")
      val files = Topic.listFiles(dir)
      assert(files.size >= 10, s"fixture built only ${files.size} files")
      val hexes = DriverDecode.messages(dir).map(m => Ulid.hex(m.id)).sorted
      val cursor = hexes(30)
      val kept = Topic.pruneFrom(files, Ulid.tsMsOfHex(cursor))
      assert(kept.size < files.size)

      val consumer = client.consumer("t", cursor, inclusive = false)
      val opens0 = FakeGsFileSystem.nOpens.get()
      val got = consumer.receive(5000L)
      val opened = FakeGsFileSystem.nOpens.get() - opens0
      assert(opened <= kept.size, s"receive opened $opened files, pruneFrom keeps ${kept.size}")
      assert(got.map(m => Ulid.hex(m.id)) === hexes.filter(_ > cursor))
    } finally client.close()
  }

  test("a missing/wrong credential fails loudly, not as an empty result") {
    val dir = bucketDir("fakegs-denied")
    Topic.write(msgs(0 until 5), dir, TopicConfig(maxWindowMs = 600000L))
    setToken("wrong-token")
    try {
      val denied = intercept[Exception] { Topic.listFiles(dir) }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: chain(t.getCause)
      assert(chain(denied).exists(_.isInstanceOf[java.nio.file.AccessDeniedException]),
        s"expected an access-denied failure, got $denied")
    } finally setToken(FakeGsFileSystem.ExpectedToken)
  }
}
