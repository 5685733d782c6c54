package graft.e2e

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One operation as the load generator saw it: `due` is when it was
  * scheduled (open loop) or started (closed loop), `start`/`end` when it
  * ran. `phase` is "setup", "plain" (untraced) or "traced".
  */
final case class Op(kind: String, name: String, due: Long, start: Long, end: Long,
    ok: Boolean, phase: String)

/** Everything a workload shares with the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val traced: Boolean,
    val inputs: String, val work: String, val seed: Long, val cores: Int) {
  val ops = new ConcurrentLinkedQueue[Op]()
  val failures = new ConcurrentLinkedQueue[String]()
  /** checks made outside any timed operation (attempted, and failed when
    * they appear in `failures`)
    */
  @volatile var checks = 0
  @volatile var checksFailed = 0
  /** named per-layer values a workload measures directly */
  val layer = new java.util.concurrent.ConcurrentHashMap[String, Any]()
  /** named per-layer samples (reported as their median) */
  val samples = new java.util.concurrent.ConcurrentHashMap[String, java.util.List[Double]]()
  @volatile var phase = "setup"

  def record(kind: String, name: String, due: Long, start: Long, ok: Boolean): Unit =
    ops.add(Op(kind, name, due, start, System.nanoTime(), ok, phase))

  def fail(what: String): Unit = failures.add(what)

  def sample(name: String, v: Double): Unit =
    samples.computeIfAbsent(name,
      _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())).add(v)

  def check(cond: Boolean, what: => String): Boolean = {
    checks += 1
    if (!cond) { checksFailed += 1; fail(what) }
    cond
  }

  /** Directory paths of topics: traced runs route them through
    * [[CountingFileSystem]] so directory listings are counted.
    */
  def topicBase(dir: String): String =
    if (traced) s"${CountingFileSystem.Scheme}://" + new File(dir).getAbsolutePath
    else new File(dir).getAbsolutePath
}

trait Workload {
  /** build inputs into the engine's form; untimed by the loop */
  def setup(): Unit
  /** the measured phase: record every operation in ctx.ops */
  def run(seconds: Double): Unit
  /** traced runs only: single-layer measurements after the timed phase */
  def probes(): Unit = ()
  /** end-of-run output checks and cleanup */
  def finish(): Unit = ()
}

object Main {

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Fixed-work CPU job (hash-sum over a constant range), timed: a slow
    * reading marks a slow host, not a slow engine.
    */
  def noiseProbe(spark: SparkSession, cores: Int): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(0L, 10000000L, 1L, cores)
      .select(sum(pmod(xxhash64(col("id")), lit(1024L)))).head(): Unit
    secs(t0)
  }

  /** peak resident set of this JVM, from /proc */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.tune(SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graftbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/spark-local")
        .config(s"spark.hadoop.fs.${CountingFileSystem.Scheme}.impl", classOf[CountingFileSystem].getName)
        // the same per-call instance creation the engine forces for file:
        .config(s"spark.hadoop.fs.${CountingFileSystem.Scheme}.impl.disable.cache", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStart = secs(t0)
    val counters = new JobCounters
    val progress = new StreamProgress
    spark.sparkContext.addSparkListener(counters)
    spark.streams.addListener(progress)
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, traced, new File(opt("inputs")).getAbsolutePath, work, opt("seed").toLong, cores)

    val w0 = System.nanoTime()
    // the same small query shape every workload pays once: codegen,
    // planner and reader warm-up
    spark.range(0L, 200000L, 1L, cores).selectExpr("id % 97 AS k", "id")
      .groupBy("k").count().collect(): Unit
    val warmup = secs(w0)
    noiseProbe(spark, cores) // its own first run is JIT warm-up
    val noise0 = noiseProbe(spark, cores)
    if (workload == "class-archive") {
      // build step: load the classes every workload needs, then exit so
      // the JVM writes its class-data archive
      ClassArchive.train(ctx)
      spark.stop()
      return
    }
    val wl: Workload = workload match {
      case "corpus_pipeline" => new CorpusPipeline(ctx)
      case "live_topic" => new LiveTopic(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val s0 = System.nanoTime()
    wl.setup()
    val prepare = secs(s0)

    val gc0 = gcSeconds()
    val r0 = System.nanoTime()
    // traced runs measure the same load twice, each for the full time (a
    // half would hold fewer lookups than there are lookup kinds): untraced
    // first (the base of trace.overhead_ratio), then traced
    progress.phase = "plain"
    ctx.phase = "plain"
    if (traced) {
      wl.run(seconds)
      ctx.phase = "traced"
      progress.phase = "traced"
      val (calls0, nanos0) = (CountingFileSystem.calls.sum(), CountingFileSystem.nanos.sum())
      tracer.enabled = true
      wl.run(seconds)
      tracer.enabled = false
      ctx.layer.put("rawdata.list_calls", CountingFileSystem.calls.sum() - calls0)
      ctx.layer.put("rawdata.list_s", (CountingFileSystem.nanos.sum() - nanos0) / 1e9)
    } else wl.run(seconds)
    val measured = secs(r0)
    val gc = gcSeconds() - gc0
    if (traced) wl.probes()
    wl.finish()
    val noise1 = noiseProbe(spark, cores)
    org.apache.spark.GraftbenchBus.drain(spark.sparkContext)

    val spans = tracer.spans.asScala.toSeq.sortBy(_.id).map { s =>
      val c = Option(counters.byGroup.get(Tracer.groupOf(s.id)))
      def n(f: counters.Counts => java.util.concurrent.atomic.LongAdder): Long = c.map(x => f(x).sum()).getOrElse(0L)
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "jobs" -> n(_.jobs), "stages" -> n(_.stages),
        "tasks" -> n(_.tasks), "shuffle_write" -> n(_.shuffleWrite),
        "shuffle_read" -> n(_.shuffleRead), "spill" -> n(_.spill))
    }
    val streaming = progress.progress.asScala.toSeq.map { case (phase, e) =>
      val p = e.progress
      Map("phase" -> phase, "batch" -> p.batchId, "trigger_ms" -> Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
        "latest_offset_ms" -> Option(p.durationMs.get("latestOffset")).map(_.longValue).getOrElse(0L),
        "rows" -> p.numInputRows, "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
    }
    val ops = ctx.ops.asScala.toSeq.map(o => Map("kind" -> o.kind, "name" -> o.name, "due" -> o.due,
      "start" -> o.start, "end" -> o.end, "ok" -> o.ok, "phase" -> o.phase))
    val result = Map(
      "setup" -> Map("session_start_s" -> sessionStart, "warmup_s" -> warmup, "prepare_s" -> prepare),
      "measured_s" -> measured, "gc_s" -> gc, "noise_probe_s" -> Seq(noise0, noise1),
      "peak_rss_mb" -> peakRssMb(), "ops" -> ops, "spans" -> spans, "streaming" -> streaming,
      "checks" -> ctx.checks, "checks_failed" -> ctx.checksFailed, "failures" -> ctx.failures.asScala.toSeq,
      "layer" -> ctx.layer.asScala.toMap,
      "samples" -> ctx.samples.asScala.map { case (k, v) => k -> v.asScala.toSeq }.toMap)
    Files.write(new File(opt("out")).toPath, Json(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
