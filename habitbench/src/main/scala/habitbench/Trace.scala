package habitbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. Spans of one benchmark operation share
  * `op`; `parent` is the enclosing span (-1 for the operation itself).
  * Times are wall-clock milliseconds (for attributing Spark events) and
  * nanoseconds (for durations). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def covers(ms: Long): Boolean = startMs <= ms && ms <= endMs
}

/** Span recorder for the single client thread. Spans stay in memory and
  * are written out by [[writeJsonl]] once the run ends. While disabled,
  * [[span]] runs its body and records nothing. */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, Long, Long)] = Nil
  private var nextId = 0
  private var op = -1
  var enabled = false

  def all: Seq[Span] = spans.toSeq

  /** Opens the span of operation `i`; nested [[span]]s attach to it. */
  def operation[T](i: Int)(body: => T): T = { op = i; span("op")(body) }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, System.currentTimeMillis(), System.nanoTime()) :: stack
      // the job-group-like hint lets the listener attribute a job to the
      // span whose thread submitted it; Spark copies it into the threads
      // a streaming query starts from here
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      try body
      finally {
        val (_, sMs, sNs) = stack.head
        stack = stack.tail
        spans += Span(id, parent, op, name, sMs, System.currentTimeMillis(),
          sNs, System.nanoTime())
        sc.setLocalProperty(Tracer.SpanProp,
          stack.headOption.map(_._1.toString).orNull)
      }
    }

  /** Self time per span id: its duration minus its children's. */
  def selfSeconds: Map[Int, Double] = {
    val child = spans.groupBy(_.parent).view
      .mapValues(_.map(_.seconds).sum).toMap
    spans.map(s => s.id -> (s.seconds - child.getOrElse(s.id, 0.0))).toMap
  }

  /** The innermost recorded span covering wall time `ms`. */
  def innermostAt(ms: Long): Option[Span] =
    spans.filter(_.covers(ms)).maxByOption(s => (s.startNs, s.id))

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val self = selfSeconds
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"dur_s":${s.seconds},""" +
        s""""self_s":${self(s.id)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProp = "habitbench.span"
}

/** Task-level totals of one stage as the listener saw them. */
final class StageTotals {
  var tasks = 0L
  var runMs = 0L
  var schedDelayMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

final case class JobRecord(jobId: Int, timeMs: Long, spanHint: Option[Int])

final case class BatchRecord(timeMs: Long, durations: Map[String, Long])

/** Collects jobs, stage task totals and streaming batch phases for
  * attribution to spans once the run ends. Registered for traced runs
  * only. */
final class SparkTraceListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRecord]()
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageTotals = new java.util.concurrent.ConcurrentHashMap[Int, StageTotals]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val hint = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProp))).map(_.toInt)
    jobs.add(JobRecord(e.jobId, e.time, hint))
    e.stageIds.foreach(s => stageOwner.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val t = stageTotals.computeIfAbsent(e.stageId, _ => new StageTotals)
      t.synchronized {
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.bytesWritten += m.outputMetrics.bytesWritten
        t.durations += info.duration
      }
    }
  }

  /** Stage totals grouped by the job that last listed each stage. */
  def totalsByJob: Map[Int, Seq[StageTotals]] =
    stageTotals.asScala.toSeq.flatMap { case (stage, t) =>
      Option(stageOwner.get(stage)).map(j => j -> t)
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
}

final class StreamTraceListener extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[BatchRecord]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    batches.add(BatchRecord(java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}

/** Spark and streaming events attributed to the span that caused them:
  * a job goes to the span named by its submitting thread's hint when
  * that span was open at submission, else to the innermost span open
  * then; a streaming batch goes to the innermost span open when its
  * trigger fired. */
final class Attribution(tracer: Tracer, spark: SparkTraceListener,
    stream: StreamTraceListener) {
  private val spans = tracer.all.map(s => s.id -> s).toMap

  private def spanOf(timeMs: Long, hint: Option[Int]): Option[Span] =
    hint.flatMap(spans.get).filter(_.covers(timeMs))
      .orElse(tracer.innermostAt(timeMs))

  val jobSpan: Map[Int, Span] = spark.jobs.asScala.toSeq.flatMap(j =>
    spanOf(j.timeMs, j.spanHint).map(j.jobId -> _)).toMap

  val batchSpan: Seq[(BatchRecord, Span)] = stream.batches.asScala.toSeq
    .flatMap(b => tracer.innermostAt(b.timeMs).map(b -> _))

  private def ancestors(s: Span): List[Span] =
    s :: (if (s.parent < 0) Nil else spans.get(s.parent).toList.flatMap(ancestors))

  /** True when span `s` is `outer` or nested inside it. */
  def within(s: Span, outer: Span): Boolean = ancestors(s).exists(_.id == outer.id)

  private val totals = spark.totalsByJob

  /** Jobs whose attributed span lies inside `outer`. */
  def jobsIn(outer: Span): Seq[Int] =
    jobSpan.collect { case (j, s) if within(s, outer) => j }.toSeq

  def stagesIn(outer: Span): Seq[StageTotals] =
    jobsIn(outer).flatMap(j => totals.getOrElse(j, Nil))

  def batchesIn(outer: Span): Seq[BatchRecord] =
    batchSpan.collect { case (b, s) if within(s, outer) => b }
}
