package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sources.CommitStore

/** A harness span: one public call into a layer. Times are System.nanoTime. */
case class Span(id: Long, parent: Long, name: String, start: Long, end: Long) {
  def length: Long = end - start
}

/** Wraps the harness's calls into the engine. The untraced run uses
  * [[Trace.Off]], which only runs the body.
  */
trait Trace {
  def apply[A](name: String)(body: => A): A
  /** Runs `body` outside any span, so threads it starts (a stream's
    * execution thread) do not inherit the current span as their parent.
    */
  def detached[A](body: => A): A
}

object Trace {
  /** The Spark local property that carries the enclosing span's id. */
  val SpanProperty = "perfbench.span"

  object Off extends Trace {
    def apply[A](name: String)(body: => A): A = body
    def detached[A](body: => A): A = body
  }
}

/** Records spans in memory. The parent of a span is the span named by
  * the [[Trace.SpanProperty]] local property of the calling thread, so it
  * follows the same inheritance Spark applies to job properties.
  */
final class SpanRecorder(sc: SparkContext) extends Trace {
  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]()

  def apply[A](name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val outer = sc.getLocalProperty(Trace.SpanProperty)
    sc.setLocalProperty(Trace.SpanProperty, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, Option(outer).map(_.toLong).getOrElse(0L), name, t0, System.nanoTime()))
      sc.setLocalProperty(Trace.SpanProperty, outer)
    }
  }

  def detached[A](body: => A): A = {
    val outer = sc.getLocalProperty(Trace.SpanProperty)
    sc.setLocalProperty(Trace.SpanProperty, null)
    try body finally sc.setLocalProperty(Trace.SpanProperty, outer)
  }
}

object Intervals {
  /** Length of [start, end) that no interval of `cover` overlaps. */
  def uncovered(start: Long, end: Long, cover: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = start
    cover.iterator.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => a < b }.toSeq.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) {
          covered += b - math.max(a, reach)
          reach = b
        }
      }
    (end - start) - covered
  }

  /** A span's self time: its length minus the part its children cover. */
  def selfTime(span: Span, children: Seq[Span]): Long =
    uncovered(span.start, span.end, children.map(c => (c.start, c.end)))
}

/** Maps a Spark SQL execution's call site to the module that started it. */
object CallSites {
  val Unattributed = "unattributed"

  /** File names whose module is named differently. */
  private val Aliases = Map(
    "ControlQueries" -> "ControlPlane", "Reads" -> "read", "Gate" -> "gate",
    "Workloads" -> "harness", "Source" -> "generator")

  private val ShortForm = """^\S+ at ([A-Za-z0-9_$]+)\.(scala|java):\d+$""".r
  private val Frame = """^\s*(?:at\s+)?([\w$.]+)\(([A-Za-z0-9_$]+)\.scala:\d+\)\s*$""".r

  private def alias(file: String): String = Aliases.getOrElse(file, file)

  /** `description` is the short call site ("count at SilverLoader.scala:121")
    * unless a job description replaced it; `details` is the long form, one
    * stack frame per line. A Java helper thread (broadcast, subquery) has
    * no Scala frame of ours, and is [[Unattributed]].
    */
  def module(description: String, details: String): String = {
    val short = Option(description).map(_.trim).collect {
      case ShortForm(file, "scala") => alias(file)
    }
    short.orElse(Option(details).iterator.flatMap(_.linesIterator).collectFirst {
      case Frame(cls, file) if cls.startsWith("graft.") => alias(file)
    }).getOrElse(Unattributed)
  }
}

/** Totals of one module's Spark jobs. */
final class JobTotals {
  var jobs = 0L
  var jobNanos = 0L
  var taskNanos = 0L
  var recordsIn = 0L
  var bytesIn = 0L
  var bytesOut = 0L
  var filesOut = 0L
}

/** SparkListener that attributes every job (and its tasks) to the module
  * whose call site started its root SQL execution.
  */
final class JobLedger extends SparkListener {
  private case class Job(module: String, start: Long, stages: Seq[Int])

  // SQL execution id -> module of its root execution
  private val execs = new ConcurrentHashMap[Long, String]()
  private val live = new ConcurrentHashMap[Int, Job]()
  private val stageModule = new ConcurrentHashMap[Int, String]()
  // accumulator id -> metric kind ("files" | "bytes") of write commands
  private val writeAccums = new ConcurrentHashMap[Long, String]()
  private val accumModule = new ConcurrentHashMap[Long, String]()
  @volatile var counting = false

  val totals = mutable.Map.empty[String, JobTotals]
  /** Finished jobs as (start, end) epoch millis, for driver-self time. */
  val intervals = new ConcurrentLinkedQueue[(Long, Long)]()

  private def tot(m: String): JobTotals = totals.synchronized(totals.getOrElseUpdate(m, new JobTotals))

  private def noteWriteMetrics(p: SparkPlanInfo, module: String): Unit = {
    p.metrics.foreach { m =>
      val kind = m.name match {
        case "number of written files" => "files"
        case "written output" => "bytes"
        case _ => null
      }
      if (kind != null) { writeAccums.put(m.accumulatorId, kind); accumModule.put(m.accumulatorId, module) }
    }
    p.children.foreach(noteWriteMetrics(_, module))
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      val root = e.rootExecutionId.filter(_ != e.executionId).flatMap(r => Option(execs.get(r)))
      val module = root.getOrElse(CallSites.module(e.description, e.details))
      execs.put(e.executionId, module)
      noteWriteMetrics(e.sparkPlanInfo, module)
    case e: SparkListenerSQLAdaptiveExecutionUpdate =>
      Option(execs.get(e.executionId)).foreach(noteWriteMetrics(e.sparkPlanInfo, _))
    case e: SparkListenerDriverAccumUpdates if counting =>
      e.accumUpdates.foreach { case (id, v) =>
        Option(writeAccums.get(id)).foreach { kind =>
          val t = tot(accumModule.get(id))
          t.synchronized { if (kind == "files") t.filesOut += v else t.bytesOut += v }
        }
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execs.get(id.toLong)))
    val module = exec.getOrElse(
      e.stageInfos.headOption.map(s => CallSites.module(null, s.details)).getOrElse(CallSites.Unattributed))
    live.put(e.jobId, Job(module, e.time, e.stageIds))
    e.stageIds.foreach(stageModule.put(_, module))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val job = live.remove(e.jobId)
    if (job != null) {
      job.stages.foreach(stageModule.remove)
      if (counting) {
        val t = tot(job.module)
        t.synchronized { t.jobs += 1; t.jobNanos += (e.time - job.start) * 1000000L }
        intervals.add((job.start, e.time))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val module = stageModule.get(e.stageId)
    if (counting && module != null && e.taskMetrics != null) {
      val t = tot(module)
      val m = e.taskMetrics
      t.synchronized {
        t.taskNanos += m.executorRunTime * 1000000L
        t.recordsIn += m.inputMetrics.recordsRead
        t.bytesIn += m.inputMetrics.bytesRead
      }
    }
  }
}

/** Counters of one table role's commit-store calls. */
final class StoreStats {
  val readCalls, readNanos, readBytes, writeCalls, writeNanos, casCalls, casLost = new LongAdder
  def reset(): Unit = Seq(readCalls, readNanos, readBytes, writeCalls, writeNanos, casCalls, casLost)
    .foreach(_.reset())
}

/** A [[CommitStore]] that counts and times every call of `inner`.
  * Reads are read/list/exists; writes are every mutating call.
  */
final class CountingStore(inner: CommitStore, s: StoreStats) extends CommitStore {
  private def timed[A](calls: LongAdder, nanos: LongAdder)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally { calls.increment(); nanos.add(System.nanoTime() - t0) }
  }
  private def r[A](f: => A): A = timed(s.readCalls, s.readNanos)(f)
  private def w[A](f: => A): A = timed(s.writeCalls, s.writeNanos)(f)

  override def putIfAbsent(target: Path, content: String): Boolean = w {
    val won = inner.putIfAbsent(target, content)
    s.casCalls.increment()
    if (!won) s.casLost.increment()
    won
  }
  override def write(target: Path, content: String): Unit = w(inner.write(target, content))
  override def replace(target: Path, content: String): Unit = w(inner.replace(target, content))
  override def read(path: Path): String = r {
    val c = inner.read(path)
    s.readBytes.add(c.length.toLong)
    c
  }
  override def list(dir: Path): Seq[String] = r(inner.list(dir))
  override def exists(path: Path): Boolean = r(inner.exists(path))
  override def mkdirs(dir: Path): Unit = w(inner.mkdirs(dir))
  override def delete(path: Path): Unit = w(inner.delete(path))
}

object CountingStore {
  /** Installs counting stores for every table opened from now on; the
    * role of a table is the first directory under `runRoot` it lives in
    * (silver, gold, mart, control...), "control" for any control plane.
    */
  def install(runRoot: () => Path, stats: String => StoreStats): Unit = {
    val inner = CommitStore.provider
    CommitStore.provider = root => {
      val rel = runRoot().relativize(java.nio.file.Paths.get(root).toAbsolutePath.normalize)
      val top = if (rel.getNameCount > 0 && !rel.startsWith("..")) rel.getName(0).toString else "other"
      new CountingStore(inner(root), stats(if (top.startsWith("control")) "control" else top))
    }
  }
}

/** Collects streaming progress of the gold mirror's query. */
final class StreamCollector extends StreamingQueryListener {
  val batches, rows, latestOffsetMs, getBatchMs, addBatchMs, starts, bootstrapMs = new LongAdder
  private val startedAt = new ConcurrentHashMap[java.util.UUID, java.lang.Long]()
  @volatile var counting = false

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    startedAt.put(e.runId, java.time.Instant.parse(e.timestamp).toEpochMilli)

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0 && counting) {
      val d = p.durationMs.asScala
      batches.increment()
      rows.add(p.numInputRows)
      latestOffsetMs.add(d.get("latestOffset").map(_.longValue).getOrElse(0L))
      getBatchMs.add(d.get("getBatch").map(_.longValue).getOrElse(0L))
      addBatchMs.add(d.get("addBatch").map(_.longValue).getOrElse(0L))
    }
    // first progress of a run: query start to the end of its first batch
    val t0 = startedAt.remove(e.progress.runId)
    if (t0 != null && counting) {
      starts.increment()
      bootstrapMs.add(java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L) - t0)
    }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
