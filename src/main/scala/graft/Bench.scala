package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** 1-minute load average sampled from /proc/loadavg ("-1.0" when the
   * file is unreadable, e.g. non-Linux dev boxes). Stored per run so a
   * contaminated host window (round 5's 212.6s-vs-82.7s driver outlier)
   * is attributable from the artifact alone, without a re-run.
   */
  private def loadAvg1m(): Double =
    try {
      val line = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      line.trim.split("\\s+")(0).toDouble
    } catch { case _: Throwable => -1.0 }

  /** Cumulative GC time (ms) across all collectors — deltas around a
    * timed run attribute in-JVM inflation (a query slow because the heap
    * was thrashing, not because its plan regressed) that host load1m
    * cannot see. Rounds 6-7 both showed 3-12× per-query swings on
    * untouched code with load1m in range; gc_ms is the missing signal. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** Heap in use (MiB) right now — sampled after each run, the level the
    * NEXT query starts from (persistent growth across queries reads as a
    * leak/cache-accumulation signature in the artifact). */
  private def heapUsedMb(): Long =
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed >> 20

  /** Storage actually held by the block manager right now: (MiB across
    * memory+disk, number of RDDs with any stored blocks). Sampled at
    * each query's START — a non-zero value there means the previous
    * query's sweep left pins behind (the r14 heap-drift cluster's
    * suspected mechanism), attributable per-entry from the artifact. */
  private def cacheNow(sc: org.apache.spark.SparkContext): (Long, Int) = {
    val infos = sc.getRDDStorageInfo
    ((infos.map(i => i.memSize + i.diskSize).sum) >> 20, infos.length)
  }

  /** Names on the captured stdout line's `unstable` array are capped:
    * the line is the bench's ONE driver-facing contract and must stay
    * parseable inside the driver's ~2000-char tail-capture budget —
    * round 15's line carried a 19-name unstable list plus the
    * slowest-40 map and the driver's parser returned null, emptying a
    * whole round's PERF comparison. The full list always lives in
    * BENCH_FULL.json per entry (`"unstable": true`); the captured line
    * keeps the first [[UnstableCap]] names (sorted, so the sample is
    * deterministic) plus the exact `unstable_n` count. */
  private[graft] val UnstableCap = 8

  /** Build the one-line stdout JSON artifact — extracted so the suite
    * can pin, at 321 registered queries with the real (longest) names,
    * that the line round-trips through a JSON parser and stays inside
    * the driver's capture budget ([[BenchLineSpec]]). */
  private[graft] def stdoutLine(total: Double,
      queries: Seq[(String, Double)], unstable: Seq[String],
      fullPtr: Boolean, sfDir: String,
      withUnstable: Boolean = true): String = {
    def qsJson(rs: Iterable[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + f"$v%.2f" }
        .mkString("{", ",", "}")
    val unstableJson =
      if (!withUnstable) ""
      else {
        val capped = unstable.take(UnstableCap)
          .map("\"" + _ + "\"").mkString("[", ",", "]")
        s""","unstable":$capped,"unstable_n":${unstable.size}"""
      }
    // the BENCH_FULL.json pointer is only honest on a full run —
    // SPARK_GRAFT_ONLY subset runs deliberately leave the file stale
    val ptr = if (fullPtr) ""","queries_full":"BENCH_FULL.json"""" else ""
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${qsJson(queries)}$unstableJson$ptr,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    // Wait-for-quiesce (bounded): three consecutive driver artifacts
    // started at load1m > 5 and stamped _quiesce_ok: false — every
    // non-code drift chase traced to those windows. Poll until the host
    // is quiet or the budget runs out, so the canonical artifact starts
    // quiet BY CONSTRUCTION instead of stamping the failure after the
    // fact. The wait itself is recorded (_quiesce_waited_sec) either way.
    val quiesceThreshold = 4.0
    val loadPreWait = loadAvg1m()
    val waitBudgetSec =
      sys.env.getOrElse("SPARK_GRAFT_QUIESCE_WAIT_SEC", "600").trim.toInt
    var waitedSec = 0
    while (loadAvg1m() >= quiesceThreshold && waitedSec < waitBudgetSec) {
      Thread.sleep(15000L)
      waitedSec += 15
    }
    val loadStart = loadAvg1m()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = DriverSession.cpus()
    val spark = DriverSession.session(cpus)
    // absorb one-time SESSION costs before any timed work — noop-sink
    // registration, parquet footer/schema reads, first-job scheduler
    // spin-up — so they don't bill to whichever query happens to run
    // first in map order (it showed up as a ~2-3 s outlier on an
    // otherwise sub-second query, surviving even min-of-2 because both
    // of that query's runs sat in the same cold session)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try Tables.read(spark, sfDir, t).limit(100)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // two timed runs per query, report the min: run 1 pays one-time
    // codegen compilation + JIT warm-up, which showed up as ±3× swings
    // on untouched sub-second queries round over round; min-of-2 makes
    // the per-query deltas signal instead of noise. BOTH raw times (and
    // the 1-min loadavg sampled as each run finishes) are kept in
    // BENCH_FULL.json: min-of-2 can't save a query whose both runs sit
    // inside a host-contention window, but runs=[26.1, 26.8] at load 31
    // vs runs=[2.3, 2.1] at load 8 tells the reader which happened.
    case class QRes(best: Double, runs: Seq[Double], loads: Seq[Double],
      gcMs: Seq[Long], heapMb: Seq[Long], heapStartMb: Seq[Long],
      cacheStartMb: Seq[Long], rddsStart: Seq[Int])
    // Iteration aid: SPARK_GRAFT_ONLY=q_a,q_b times just those queries.
    // Partial runs never touch the durable artifacts (guarded below) —
    // a clobbered BENCH_FULL.json would diff as a mass regression.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries) { names =>
      val missing = names.diff(SparkEntry.queries.keySet)
      require(missing.isEmpty, s"SPARK_GRAFT_ONLY unknown: $missing")
      SparkEntry.queries.view.filterKeys(names).toMap
    }
    // pre-query storage drain threshold: after the sweep, if the heap
    // still sits above this level the drift cluster's precondition is
    // in force (r14: q_cms_stream 3.1×/q_anti_join 3.4× at 8-22 GB heap,
    // par at 0.4-3 GB on the same tree) — one explicit GC collects the
    // swept blocks' unreachable byte arrays before the next timed run
    // instead of mid-run. Fires rarely on a healthy session; every
    // firing is visible as a heap_start_mb drop in the artifact.
    // r16: default lowered 8192 → 4096. The forked bench JVM runs at
    // -Xmx8g, so a threshold of 8192 MB could only fire with the heap
    // literally full — r15's driver artifact showed q_ccnet_frozen's
    // first run starting at heap_start_mb 8190 (one MB under the
    // threshold) and paying the collection mid-query (20.3 s vs 8.7 s
    // quiet). Half the heap is the level at which the next query's
    // allocation burst forces a mid-run collection; draining above it
    // costs one explicit GC outside the timed window instead.
    val drainMb =
      sys.env.getOrElse("SPARK_GRAFT_DRAIN_MB", "4096").trim.toLong
    def timeOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Double, Long, Long, Long, Long, Int) = {
      // what the heap/block-manager hold as this query STARTS — a
      // non-zero cache_start or high heap_start names the prior
      // query's leftovers, separating "this query regressed" from
      // "this query ran on a polluted heap" (the r14 drift cluster)
      val (cacheStartMb, rddsStart) = cacheNow(spark.sparkContext)
      val heapStart = heapUsedMb()
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      // noop sink forces FULL evaluation (projections, sorts, digests);
      // .count() would let Catalyst prune them and time a bare row-count
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      // a failed query reports -1, never a fast-looking elapsed time
      val elapsed = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      val gcDelta = gcMillis() - gc0
      // free what the query left pinned (outside the timed window: the
      // query's own work is fully paid above, and its result was fully
      // materialized to the noop sink); without it a 321-query session
      // accumulates every query's checkpoint blocks and scratch dirs
      DriverSession.sweep(spark)
      if (heapUsedMb() > drainMb) System.gc()
      (elapsed, loadAvg1m(), gcDelta, heapUsedMb(), heapStart,
        cacheStartMb, rddsStart)
    }
    val results = selected.map { case (name, fn) =>
      def run(): (Double, Double, Long, Long, Long, Long, Int) =
        timeOnce(name, fn)
      def mk(rs: Seq[(Double, Double, Long, Long, Long, Long, Int)]): QRes =
        QRes(rs.map(_._1).filter(_ >= 0) match {
            case Nil => rs.head._1
            case ok => ok.min
          }, rs.map(_._1), rs.map(_._2), rs.map(_._3), rs.map(_._4),
          rs.map(_._5), rs.map(_._6), rs.map(_._7))
      val r1 = run()
      val res =
        if (r1._1 < 0) mk(Seq(r1))
        else {
          val r2 = run()
          // a >2× spread between the two runs means min-of-2 is still
          // reporting noise (round 10's q_lm_backoff ran 6.9 vs 32.1 s)
          // — one tie-breaking third run pins which end was real; its
          // raw time rides BENCH_FULL like the others
          if (r2._1 >= 0 &&
              math.max(r1._1, r2._1) > 2 * math.min(r1._1, r2._1))
            mk(Seq(r1, r2, run()))
          else mk(Seq(r1, r2))
        }
      name -> res
    }
    // quiesce gate: rounds 10-11 both started at load1m > 6 and every
    // non-deterministic round-over-round drift traced to those loaded
    // windows. Threshold 4.0 (documented in BASELINE.md): above it the
    // artifact is STAMPED not-quiesced, and the heaviest queries get one
    // extra timed run at end-of-bench — by then the start-window spike
    // has usually passed, so min-of-N reports the quiet number instead
    // of handing the next round a phantom regression to attribute.
    val quiesceOk = loadStart >= 0 && loadStart < quiesceThreshold
    val results2 =
      if (quiesceOk || only.nonEmpty) results
      else {
        val heavy = results.toSeq.filter(_._2.best >= 0)
          .sortBy(-_._2.best).take(10).map(_._1).toSet
        results.map { case (name, r) =>
          if (!heavy(name)) name -> r
          else {
            val (t, l, g, h, hs, cs, rs) = timeOnce(name, selected(name))
            val best = if (t >= 0) math.min(r.best, t) else r.best
            name -> QRes(best, r.runs :+ t, r.loads :+ l,
              r.gcMs :+ g, r.heapMb :+ h, r.heapStartMb :+ hs,
              r.cacheStartMb :+ cs, r.rddsStart :+ rs)
          }
        }
      }
    // Millisecond precision keeps entries compact (full 1e-9 doubles
    // pushed the 70+-query line past 2000 chars); 3 decimals is far
    // below run-to-run variance anyway.
    def r3(v: Double): String = f"$v%.3f"
    val best = results2.map { case (k, r) => k -> r.best }
    val total = best.values.filter(_ >= 0).sum
    // The 95+-query map no longer fits the round artifact's 2000-char
    // tail capture (~22 chars/entry), so the CAPTURED line carries only
    // the slowest 40 — the ones perf triage reads — and stays valid,
    // complete JSON. The FULL map goes to two durable files: the
    // git-TRACKED BENCH_FULL.json (pretty, one query per line, so
    // round-over-round regressions diff from git alone) and the
    // legacy untracked BENCH_LATEST.json single-line form.
    // FAILED queries (value -1) must never be cut from the captured
    // line — a silent drop would read as a faster round; they ride
    // first, ahead of the slowest-40 successes
    val failed = best.toSeq.filter(_._2 < 0)
    val top = failed ++
      best.toSeq.filter(_._2 >= 0).sortBy(-_._2)
        .take(40 - math.min(failed.size, 40))
    // spread = worst/best across a query's runs; an entry still over
    // 2x AFTER the tie-breaking extra runs is UNSTABLE: its reported
    // min is a lottery ticket, not a measurement. Surfacing the list
    // in the captured stdout line (not only per-entry in
    // BENCH_FULL.json) makes the artifact self-report which headline
    // numbers are load-contaminated — the reader discounts them
    // instead of chasing phantom regressions.
    def spreadOf(r: QRes): Double = {
      val ok = r.runs.filter(_ >= 0)
      if (ok.size < 2 || ok.min <= 0) 1.0 else ok.max / ok.min
    }
    val unstable = results2.toSeq
      .filter { case (_, r) => r.best >= 0 && spreadOf(r) > 2.0 }
      .map(_._1).sorted
    val line = stdoutLine(total, top, unstable, fullPtr = only.isEmpty,
      sfDir = sfDir)
    val fullLine = stdoutLine(total, best.toSeq, Nil, fullPtr = false,
      sfDir = sfDir, withUnstable = false)
    if (only.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LATEST.json"),
        (fullLine + "\n").getBytes("UTF-8"))
    val wallSec = (System.nanoTime() - wall0) / 1e9
    // JVM uptime ≈ the sbt-side cost (compile, classloading) the bench
    // main never sees; round 5's contaminated driver run showed as sbt
    // wall 690s vs 221s for identical work — uptime makes that visible.
    val jvmUp = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    def arr(vs: Seq[Double]): String = vs.map(r3).mkString("[", ",", "]")
    def arrL(vs: Seq[Long]): String = vs.mkString("[", ",", "]")
    val pretty = results2.toSeq.sortBy(_._1)
      .map { case (k, r) =>
        // cold_s = first run minus the reported best: the one-time cost
        // min-of-2 deliberately hides (codegen/JIT, checkpoint-dir
        // creation, state-store bootstrap). At real scale there is no
        // warm second run, so a large cold_s is a first-touch
        // regression to attribute, separable here from host drift
        // (load1m) and heap churn (gc_ms) without spelunking `runs`.
        val cold =
          if (r.runs.size < 2 || r.best < 0) 0.0
          else math.max(r.runs.head - r.best, 0.0)
        // spread = worst/best across the runs: >2 marks an entry whose
        // reported min is volatile (such queries also earned a third
        // run above) — stamped "unstable" here AND surfaced as a list
        // in the captured stdout line, so round-over-round diffs can
        // discount it from the artifact alone
        val spread = spreadOf(r)
        // heap_start_mb / cache_start_mb / rdds_start: what the JVM and
        // block manager held as each run BEGAN — the r15 drift-cluster
        // instrumentation. cache_start_mb > 0 names a pin that survived
        // the previous query's sweep; heap_start_mb high with
        // cache_start_mb 0 says uncollected garbage, which the
        // post-sweep conditional drain (SPARK_GRAFT_DRAIN_MB) now
        // collects before the run instead of mid-run.
        s"""  "$k": {"sec": ${r3(r.best)}, "cold_s": ${r3(cold)}, "spread": ${r3(spread)}, "unstable": ${spread > 2.0}, "runs": ${arr(r.runs)}, "load1m": ${arr(r.loads)}, "gc_ms": ${arrL(r.gcMs)}, "heap_mb": ${arrL(r.heapMb)}, "heap_start_mb": ${arrL(r.heapStartMb)}, "cache_start_mb": ${arrL(r.cacheStartMb)}, "rdds_start": ${r.rddsStart.mkString("[", ",", "]")}}"""
      }
      .mkString(
        s"""{\n  "_total_sec": ${r3(total)},\n  "_sf": "$sfDir",\n  "_cpus": $cpus,\n""" +
          s"""  "_bench_wall_sec": ${r3(wallSec)},\n  "_jvm_uptime_sec": ${r3(jvmUp)},\n""" +
          s"""  "_load1m_start": ${r3(loadStart)},\n  "_load1m_end": ${r3(loadAvg1m())},\n""" +
          s"""  "_load1m_prewait": ${r3(loadPreWait)},\n  "_quiesce_waited_sec": $waitedSec,\n""" +
          s"""  "_quiesce_ok": $quiesceOk,\n  "_quiesce_threshold": ${r3(quiesceThreshold)},\n""",
        ",\n", "\n}\n")
    if (only.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
        pretty.getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
