package habitbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The result of one timed operation: the check of its outputs against
  * the truth model, run after the clock stops. */
final case class Done(check: () => Boolean)

/** One benchmark workload: a closed loop of operations from one client
  * thread over inputs generated from the seed. */
trait Workload {
  /** Generates the inputs and preloads the stores under `dir`. */
  def setup(dir: String): Unit
  /** Untimed input staging before each operation. */
  def prepare(): Unit = ()
  def op(): Done
  /** Operations run untimed after set-up so lazy set-up and JIT finish. */
  def warmupOps: Int
  /** Final output checks after the timed window. */
  def finish(): Boolean
  /** The workload's per-layer metrics from the traced operations. */
  def layers(t: TraceView): Map[String, Double]
}

/** The traced operations of a run with their attributed Spark events. */
final class TraceView(val tracer: Tracer, val attribution: Attribution,
    val tracedOps: Set[Int], val cores: Int) {
  private val spans = tracer.all.filter(s => tracedOps(s.op))
  val opSpans: Seq[Span] = spans.filter(_.name == "op")

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Per operation, the summed seconds of spans called `name`; the
    * median over the operations that made such a call, else 0. */
  def medianSeconds(name: String): Double = {
    val per = named(name).groupBy(_.op).values.map(_.map(_.seconds).sum).toSeq
    if (per.isEmpty) 0.0 else Stats.median(per)
  }

  def medianOf(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def meanOf(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def jobsIn(ss: Seq[Span]): Seq[Int] = ss.flatMap(attribution.jobsIn)
  def stagesIn(ss: Seq[Span]): Seq[StageTotals] = ss.flatMap(attribution.stagesIn)

  /** Structured Streaming batch phases inside `ticks`: the median over
    * the ticks of each phase's summed milliseconds, batches per tick, and
    * the share of a tick spent outside addBatch. */
  def streamingPhases(ticks: Seq[Span]): Map[String, Double] = {
    val batches = ticks.map(attribution.batchesIn)
    def phase(k: String): Double =
      medianOf(batches.map(_.map(_.durations.getOrElse(k, 0L)).sum.toDouble))
    val overhead = ticks.zip(batches).map { case (s, b) =>
      (s.seconds * 1000 - b.map(_.durations.getOrElse("addBatch", 0L)).sum) / (s.seconds * 1000)
    }
    Map(
      "streaming.trigger_ms" -> phase("triggerExecution"),
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.get_batch_ms" -> phase("getBatch"),
      "streaming.latest_offset_ms" -> phase("latestOffset"),
      "streaming.query_planning_ms" -> phase("queryPlanning"),
      "streaming.wal_commit_ms" -> phase("walCommit"),
      "streaming.commit_offsets_ms" -> phase("commitOffsets"),
      "streaming.batches_per_tick" -> batches.map(_.size).sum.toDouble / math.max(1, ticks.size),
      "streaming.overhead_frac" -> medianOf(overhead))
  }
}

object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String)

  val Workloads: Seq[String] = Seq("etl_cron", "ledger_replay")

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val o = Opts(need("--workload"), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1", need("--work"))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    o
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("habitbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use after a full GC; the least of three, since a single
    * collection may leave softly reachable caches in place. */
  private def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  private def log(msg: String): Unit = System.err.println(s"[habitbench] $msg")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val t0 = System.nanoTime()
    val spark = session(cores, o.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext)
    val sparkL = new SparkTraceListener
    val streamL = new StreamTraceListener
    if (o.trace) {
      spark.sparkContext.addSparkListener(sparkL)
      spark.streams.addListener(streamL)
    }
    val wl: Workload = o.workload match {
      case "etl_cron" => new EtlCron(spark, tracer, o.seed)
      case "ledger_replay" => new LedgerReplay(spark, tracer, o.seed, s"${o.work}/oracle")
    }
    // one set-up per run, to keep a run short; setup_s is steadied by the
    // median over runs
    val setupT0 = System.nanoTime()
    wl.setup(s"${o.work}/setup")
    val setupS = (System.nanoTime() - setupT0) / 1e9
    var failed = 0L
    def runOp(i: Int): Double = {
      wl.prepare()
      val s = System.nanoTime()
      val d = tracer.operation(i)(wl.op())
      val secs = (System.nanoTime() - s) / 1e9
      val ok = try d.check() catch {
        case NonFatal(e) => log(s"check failed: $e"); false
      }
      if (!ok) failed += 1
      secs
    }
    val w0 = System.nanoTime()
    (0 until wl.warmupOps).foreach(_ => runOp(-1))
    log(f"warm-up ${(System.nanoTime() - w0) / 1e9}%.1f s, JVM up ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    // a wrong warm-up result fails the run, but only the timed window's
    // operations count as attempted
    val warmupFailed = failed
    failed = 0

    // the timed window: closed loop, next operation after the last ends
    val lat = mutable.ArrayBuffer.empty[Double]
    val tracedLat = mutable.ArrayBuffer.empty[Double]
    val tracedOps = mutable.Set.empty[Int]
    var attempted = 0L
    val gc0 = gcMs()
    val start = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - start) / 1e9 < o.seconds) {
      // a traced run alternates traced and untraced operations, so the
      // tracing overhead is measured within one run
      val traced = o.trace && i % 2 == 0
      tracer.enabled = traced
      attempted += 1
      try {
        val secs = runOp(i)
        if (traced) { tracedLat += secs; tracedOps += i } else lat += secs
      } catch {
        case NonFatal(e) => log(s"operation $i failed: $e"); failed += 1
      }
      i += 1
    }
    val elapsed = (System.nanoTime() - start) / 1e9
    tracer.enabled = false
    val gcDelta = gcMs() - gc0
    val heapMb = liveHeapMb()
    val finalOk = try wl.finish() catch {
      case NonFatal(e) => log(s"final check failed: $e"); false
    }
    // a wrong final store means some operation wrote a wrong result
    if (!finalOk) failed += 1
    val allLat = (lat ++ tracedLat).toSeq
    val correct = failed == 0 && warmupFailed == 0 && allLat.nonEmpty
    val values = mutable.Map.empty[String, Double]
    if (!o.trace) {
      values ++= Map(
        "setup_s" -> (sessionS + setupS),
        "op_s.p50" -> Stats.median(allLat),
        "heap_live_mb" -> heapMb)
      log(f"${o.workload}: session $sessionS%.1f s, set-up $setupS%.1f s, " +
        f"${allLat.size} ops in $elapsed%.1f s: ${allLat.map(x => f"$x%.3f").mkString(" ")}")
    } else {
      Thread.sleep(1000) // let the listener buses drain
      val view = new TraceView(tracer, new Attribution(tracer, sparkL, streamL),
        tracedOps.toSet, cores)
      values ++= wl.layers(view)
      values ++= sparkLayer(view)
      values("jvm.gc_ms_per_op") = gcDelta.toDouble / math.max(1, allLat.size)
      values("trace.overhead_frac") =
        if (lat.isEmpty || tracedLat.isEmpty) 0.0
        else Stats.median(tracedLat.toSeq) / Stats.median(lat.toSeq) - 1
      tracer.writeJsonl(java.nio.file.Paths.get(o.work).getParent
        .resolve("traces").resolve(s"${o.workload}_seed${o.seed}.jsonl"))
    }
    val names = if (o.trace) Metrics.PerLayer else Metrics.EndToEnd
    println(Metrics.resultJson(correct, attempted, failed, names, values.toMap))
    log(f"result at JVM up ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    spark.stop()
    log(f"stopped at JVM up ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
  }

  /** Engine counters per traced operation. */
  def sparkLayer(t: TraceView): Map[String, Double] = {
    val ops = math.max(1, t.opSpans.size)
    val stages = t.stagesIn(t.opSpans)
    val tasks = stages.map(_.tasks).sum
    val wallMs = t.opSpans.map(_.seconds).sum * 1000
    val skew = stages.filter(_.tasks >= 2).map { s =>
      val d = s.durations.toSeq.map(_.toDouble)
      d.max / math.max(1.0, Stats.median(d))
    }
    Map(
      "spark.jobs_per_op" -> t.jobsIn(t.opSpans).size.toDouble / ops,
      "spark.stages_per_op" -> stages.size.toDouble / ops,
      "spark.tasks_per_op" -> tasks.toDouble / ops,
      "spark.shuffle_mb_per_op" -> stages.map(_.shuffleBytes).sum / 1048576.0 / ops,
      "spark.spill_mb" -> stages.map(_.spillBytes).sum / 1048576.0 / ops,
      "spark.sched_delay_ms" -> stages.map(_.schedDelayMs).sum.toDouble / math.max(1L, tasks),
      "spark.busy_frac" -> stages.map(_.runMs).sum / math.max(1.0, wallMs * t.cores),
      "spark.task_skew" -> t.medianOf(skew))
  }
}
