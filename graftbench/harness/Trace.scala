package graft.e2e

import java.net.URI
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: a timed call into one layer. `op` is the id of the root span
  * (the operation) it belongs to; `parent` is 0 for a root span.
  */
final class Span(val id: Long, val parent: Long, val op: Long, val name: String, val start: Long) {
  @volatile var end: Long = 0L
}

/** In-memory span recorder. Off, `apply` only runs the body. On, each span
  * also becomes the Spark job group of the jobs its thread starts, so the
  * [[JobCounters]] listener can attribute jobs, stages, tasks and bytes to
  * it. Spans are written out once, when the run ends.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val current = new ThreadLocal[Span]()

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get()
      val id = ids.incrementAndGet()
      val s = new Span(id, if (parent == null) 0L else parent.id,
        if (parent == null) id else parent.op, name, System.nanoTime())
      val prevGroup = sc.getLocalProperty(Tracer.JobGroup)
      current.set(s)
      sc.setLocalProperty(Tracer.JobGroup, Tracer.groupOf(id))
      try body
      finally {
        s.end = System.nanoTime()
        spans.add(s)
        current.set(parent)
        sc.setLocalProperty(Tracer.JobGroup, prevGroup)
      }
    }
}

object Tracer {
  val JobGroup = "spark.jobGroup.id"
  def groupOf(spanId: Long): String = s"graftbench-$spanId"
}

/** Spark work per job group, for the groups [[Tracer]] sets. */
final class JobCounters extends SparkListener {
  final class Counts {
    val jobs, stages, tasks, shuffleWrite, shuffleRead, spill = new LongAdder
  }
  val byGroup = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty(Tracer.JobGroup)).orNull
    if (g != null && g.startsWith("graftbench-")) {
      byGroup.computeIfAbsent(g, _ => new Counts).jobs.increment()
      e.stageIds.foreach(st => stageGroup.put(st, g))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.get(e.stageInfo.stageId)
    if (g != null) {
      val c = byGroup.computeIfAbsent(g, _ => new Counts)
      c.stages.increment()
      c.tasks.add(e.stageInfo.numTasks.toLong)
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
}

/** Every micro-batch progress report of the streaming queries. */
final class StreamProgress extends StreamingQueryListener {
  /** the run phase each report arrived in ("setup", "plain", "traced") */
  @volatile var phase = "setup"
  val progress = new ConcurrentLinkedQueue[(String, StreamingQueryListener.QueryProgressEvent)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add((phase, e))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** `graftbench:///abs/path` — the local file system with its directory
  * listings counted and timed. Traced runs point topic directories here,
  * so listing cost is measured at the storage boundary without touching
  * the engine.
  */
class CountingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${CountingFileSystem.Scheme}:///")
  override def getScheme: String = CountingFileSystem.Scheme
  override def checkPath(path: Path): Unit = ()
  override def listStatus(f: Path): Array[FileStatus] = {
    val t0 = System.nanoTime()
    try super.listStatus(f)
    finally {
      CountingFileSystem.calls.increment()
      CountingFileSystem.nanos.add(System.nanoTime() - t0)
    }
  }
}

object CountingFileSystem {
  val Scheme = "graftbench"
  val calls = new LongAdder
  val nanos = new LongAdder
}
