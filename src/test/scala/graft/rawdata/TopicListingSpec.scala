package graft.rawdata

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** `Topic.listFiles` reads a directory's names and parses only names it
  * has not seen before. These cases hold it to the listing a status
  * listing gives (`listStatus` + the filename parse + first-ULID tie
  * order) for every way of writing the directory, to exactness against
  * other writers, and to parsing (and opening) a name once.
  */
class TopicListingSpec extends SparkSpec {

  private val T0 = 1700000000000L

  /** `n` messages `stepMs` apart from `t0`, seeded ULID entropy */
  private def messages(n: Int, stepMs: Long, t0: Long = T0, position: Int => String = i => s"pos-$i",
      seed: Long = 7L): Seq[RawdataMessage] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val ts = t0 + i * stepMs
      val id = new Array[Byte](16)
      (0 until 6).foreach(k => id(k) = ((ts >>> (8 * (5 - k))) & 0xff).toByte)
      val entropy = new Array[Byte](10)
      rnd.nextBytes(entropy)
      System.arraycopy(entropy, 0, id, 6, 10)
      RawdataMessage(id, None, i.toLong, position(i), Map("text" -> Array.fill(100)(('a' + i % 26).toByte)))
    }
  }

  /** the listing a status listing gives: listStatus, the filename parse,
    * sorted by (fromTsMs, path), runs sharing a fromTsMs by first ULID
    */
  private def reference(dir: String): Seq[TopicFile] = {
    val fs = HadoopIO.fs(dir, HadoopIO.conf())
    val parsed = Try(fs.listStatus(new Path(dir)).toSeq).getOrElse(Nil)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".avro"))
      .flatMap { st =>
        val parts = st.getPath.getName.stripSuffix(".avro").split("_", 4)
        if (parts.length != 4) None
        else Try(TopicFile(st.getPath.toString, Topic.parseTs(parts(0)), parts(1).toLong, parts(2).toLong,
          parts(3))).toOption
      }
      .sortBy(f => (f.fromTsMs, f.path))
    def firstUlid(f: TopicFile): String =
      AvroCodec.readFirst(f.path, HadoopIO.conf()).map(m => Ulid.hex(m.id)).getOrElse("")
    parsed.groupBy(_.fromTsMs).toSeq.sortBy(_._1).flatMap { case (_, g) => if (g.size == 1) g else g.sortBy(firstUlid) }
  }

  /** bare, `file:`, `file://` and trailing-slash forms of one directory */
  private def forms(dir: String): Seq[String] = Seq(dir, "file:" + dir, "file://" + dir, dir + "/")

  private def assertListingsMatch(dir: String): Seq[TopicFile] = {
    val expected = reference(dir)
    forms(dir).foreach { form =>
      assert(reference(form) === expected, s"status listings differ for $form")
      assert(Topic.listFiles(form) === expected, s"listing differs for $form")
    }
    expected
  }

  test("the listing equals a status listing for every form of the directory") {
    val dir = Topic.tempDir("listing-forms")
    // 1000-byte chunks over messages 1 ms apart: chunks share a fromTsMs
    // only when two land in one millisecond, so add a same-ms run too
    val rolling = TopicConfig(maxWindowMs = 60000L, maxBytes = 1000L, syncIntervalBytes = 256L)
    Topic.write(messages(40, 1000L, position = i => if (i % 4 == 0) s"pos $i:a" else s"pos-$i"), dir, rolling)
    Topic.write(messages(30, 0L, t0 = T0 + 500000L, seed = 11L), dir, rolling)
    // entries that are not topic files
    Files.write(Paths.get(dir, ".inprogress-abcdef012345.tmp"), Array[Byte](1, 2, 3))
    Files.write(Paths.get(dir, "x.avro"), Array[Byte](1, 2, 3))
    Files.createDirectory(Paths.get(dir, s"${Topic.formatTs(T0 + 7)}_1_100_adir.avro"))

    val listed = assertListingsMatch(dir)
    assert(listed.exists(_.firstPosition.contains(" ")) && listed.exists(_.firstPosition.contains(":")))
    assert(listed.groupBy(_.fromTsMs).exists(_._2.size > 1), "fixture has no fromTsMs tie")
    assert(!listed.exists(f => f.path.endsWith("x.avro") || f.path.contains("adir") || f.path.contains(".tmp")))

    // after a publish, and after expire drops files
    Topic.write(messages(10, 1000L, t0 = T0 + 900000L, seed = 13L), dir, rolling)
    val published = assertListingsMatch(dir)
    assert(published.length > listed.length)
    val expired = Topic.expire(dir, T0 + 500000L)
    assert(expired.nonEmpty)
    val kept = assertListingsMatch(dir)
    assert(kept.length === published.length - expired.length)
    assert(kept.map(_.path).intersect(expired.map(_.path)).isEmpty)
  }

  test("a file from another writer is listed on the next call; the cached view keeps its interval") {
    val dir = Topic.tempDir("listing-exact")
    Topic.write(messages(20, 60000L), dir, TopicConfig(maxWindowMs = 120000L))
    val first = Topic.listFilesCached(dir, ttlMs = 60000)
    assert(first.nonEmpty)
    // another writer lands a file (no invalidation from this process)
    val src = Paths.get(first.head.path.stripPrefix("file:"))
    val name = s"${Topic.formatTs(first.last.fromTsMs + 98765432L)}_1_100_ext.avro"
    Files.copy(src, src.resolveSibling(name))
    assert(Topic.listFilesCached(dir, ttlMs = 60000) === first, "within its interval the cached view is served")
    val next = Topic.listFiles(dir)
    assert(next.length === first.length + 1)
    assert(next.last.path.endsWith(name))
    assert(next === reference(dir))
    // a missing directory lists nothing
    Files.walk(Paths.get(dir)).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    assert(Topic.listFiles(dir).isEmpty)
    assert(Topic.listFilesCached(dir, ttlMs = 60000).isEmpty)
  }

  test("invalidation reaches the listing whatever form of the directory names it") {
    val dir = Topic.tempDir("listing-invalidate")
    Topic.write(messages(10, 60000L), dir, TopicConfig(maxWindowMs = 120000L))
    forms(dir).foreach { form =>
      val before = Topic.listFilesCached(dir, ttlMs = 60000)
      val src = Paths.get(before.head.path.stripPrefix("file:"))
      Files.copy(src, src.resolveSibling(s"${Topic.formatTs(before.last.fromTsMs + 1000L)}_1_100_ext.avro"))
      assert(Topic.listFilesCached(dir, ttlMs = 60000) === before)
      Topic.invalidateListing(form)
      assert(Topic.listFilesCached(dir, ttlMs = 60000).length === before.length + 1, s"not invalidated by $form")
    }
  }

  test("fakegs:// topic: a name tied on fromTsMs is opened once, not on every listing") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.fakegs.impl", classOf[FakeGsFileSystem].getName)
    hc.setBoolean("fs.fakegs.impl.disable.cache", true)
    hc.set("fs.fakegs.auth.token", FakeGsFileSystem.ExpectedToken)
    HadoopIO.invalidateConfCache()
    val dir = "fakegs://graft-test-bucket" + Topic.tempDir("listing-fakegs")
    // every message in one millisecond, 1000-byte chunks: all files tie
    val files = Topic.write(messages(30, 0L), dir, TopicConfig(maxWindowMs = 60000L, maxBytes = 1000L))
    assert(files.size >= 3 && files.map(_.fromTsMs).distinct.size === 1, s"no tie: $files")
    val first = Topic.listFiles(dir)
    assert(first === files, "ties are ordered by first ULID, as the writer cut them")
    val opens = FakeGsFileSystem.nOpens.get()
    val lists = FakeGsFileSystem.nLists.get()
    assert(Topic.listFiles(dir) === first)
    assert(FakeGsFileSystem.nOpens.get() - opens === 0L, "an unchanged listing re-opened tied files")
    assert(FakeGsFileSystem.nLists.get() - lists === 1L, "an object store keeps one LIST per listing")
  }
}
