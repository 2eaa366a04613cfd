package graft.streaming

import graft.analytics.Habits
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Input row for [[Streaming.sessionizeStream]]. */
case class SessionEvent(user_email: String, ts: java.sql.Timestamp)

/** Per-user state for [[Streaming.sessionizeStream]]: last-seen event
  * millis + running session counter. */
case class SessionState(lastMs: Long, sessionId: Long)

/** Output of [[Streaming.sessionizeStream]]. */
case class SessionAssignment(user_email: String, ts: java.sql.Timestamp,
    session_id: Long)

/** Input row for [[Streaming.asofStream]]: one event from either side,
  * `isLeft = false` for the reference (right) stream. */
case class AsOfStreamEvent(event_id: Long, user_email: Long,
    tsMicros: Long, isLeft: Boolean, value: Double)

/** Per-key state for [[Streaming.asofStream]]: the right-side timeline
  * (ascending `ts`, unique per ts with max-value ties) capped at
  * `maxState` entries — the newest always survives the cap, so lookback
  * is unbounded for in-order left events and `maxState`-deep for late
  * ones. */
case class AsOfTimeline(ts: Array[Long], value: Array[Double])

/** Output of [[Streaming.asofStream]]. Timestamps stay epoch-micro
  * Longs inside the typed pipeline (java.sql.Timestamp's millis
  * constructor would truncate microseconds); callers convert with
  * `timestamp_micros`. */
case class AsOfStreamOut(event_id: Long, tsMicros: Long,
    user_email: Long, asofTsMicros: Option[Long],
    asof_pvalue: Option[Double])

/** Structured Streaming analog of the reference's incremental analytics:
  * the Timescale continuous aggregate + refresh policy
  * (`/root/reference/sql/001_schema.sql:31-46`) becomes a watermarked
  * 1-day-windowed aggregation; the CronJob re-ingest + upsert idempotency
  * (`/root/reference/README.md:176-178`, `etl_habits.py:24-39`) becomes
  * watermark-bounded streaming dedup (SURVEY.md §2.7 ST1-ST4).
  *
  * Scale notes: state is keyed by (day, user_email, habit) — the same
  * bounded-cardinality key as the batch rollup; at a 60-day watermark ×
  * real user counts use the RocksDB state store
  * (`spark.sql.streaming.stateStore.providerClass`).
  */
object Streaming {

  private val streamSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Unique memory-sink table name (a session may run the same logical
    * stream more than once, e.g. verify then bench). */
  def nextQueryName(prefix: String): String =
    s"${prefix}_${streamSeq.incrementAndGet()}"

  /** Stamp every not-yet-seen data file under `dir` with modification
    * time `t`, returning the full seen set. The staged replays below
    * feed `FileStreamSource` batches whose ORDER is the contract —
    * but the source orders files by mtime, and on filesystems with
    * coarse mtime granularity (1 s is common) back-to-back writes tie
    * and the tie-break is arbitrary. Calling this after each staged
    * write with strictly increasing `t` makes arrival order explicit
    * instead of trusting write-time clocks. */
  private def stampStagedBatch(fs: FileSystem, dir: Path, t: Long,
      seen: Set[String]): Set[String] = {
    val files = dataFiles(fs, dir)
    files.filterNot(f => seen(f.getPath.getName))
      .foreach(f => fs.setTimes(f.getPath, t, -1))
    seen ++ files.map(_.getPath.getName)
  }

  /** The data files directly under `dir`: hidden files (`_SUCCESS`,
    * `.crc`) are excluded the way the file stream source excludes
    * them. */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** `habit_daily` over a STREAMING frame: tumbling 1-day window with the
    * reference's aggregate set. `endOffset` mirrors the continuous
    * aggregate's `start_offset => '60 days'`: late events inside the
    * watermark still update their bucket; older ones are dropped
    * (`/root/reference/sql/001_schema.sql:43-46`). */
  def habitDailyStream(events: DataFrame, watermark: String = "60 days",
      sumHabit: String = "meditation_minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"),
        col("user_email"), col("habit"))
      .agg(
        count(when(col("value") >= 1, 1)).as("count_done"),
        avg(col("value")).as("avg_value"),
        sum(when(col("habit") === sumHabit, col("value"))).as("sum_meditation"))
      .select(col("w.start").as("day"), col("user_email"), col("habit"),
        col("count_done"), col("avg_value"), col("sum_meditation"))

  /** HOPPING (sliding) windows over a streaming frame — the
    * overlapping-window form of [[habitDailyStream]]: 2-day windows
    * advancing 1 day, so each event updates exactly two window states
    * (the duration/slide ratio). The watermark bounds state identically
    * to the tumbling form; the ratio multiplies per-event state
    * touches and concurrently-open windows, not retained history. */
  def hoppingStream(events: DataFrame, watermark: String = "60 days")
      : DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "2 days", "1 day").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** One-shot replay of [[hoppingStream]] for the gate (complete-mode
    * memory sink, same UTC/window-alignment contract as
    * [[habitDailyAvailableNow]]) — must equal the batch
    * q_hopping_window rollup row for row. */
  def hoppingAvailableNow(spark: SparkSession, dir: String,
      queryName: String): DataFrame = {
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "hoppingAvailableNow requires spark.sql.session.timeZone=UTC " +
        "for window()/date_trunc bucket agreement")
    withStagedEvents(spark, dir) { mkStream =>
      val q = hoppingStream(mkStream())
        .writeStream.format("memory").queryName(queryName)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      awaitOneShot(q, queryName)
      spark.table(queryName)
    }
  }

  /** Streaming replay-dedup — the `habits_raw` PK / `ON CONFLICT DO
    * NOTHING` semantics (`/root/reference/etl/etl_habits.py:27-30`) with
    * state bounded by the watermark. */
  def dedupStream(events: DataFrame, keys: Seq[String],
      watermark: String = "60 days"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming gaps-and-islands sessionization via arbitrary stateful
    * processing (`flatMapGroupsWithState`) — the streaming analog of
    * [[graft.analytics.Habits.sessionize]]. Per user the state holds
    * (last event time, session counter); an event more than `gapMinutes`
    * after the last one opens a new session. Emits one row per event:
    * (user_email, ts, session_id).
    *
    * On event-time timeout the state collapses to a TOMBSTONE — last
    * event time cleared, session counter kept — so post-idle sessions
    * continue numbering where they left off instead of restarting at 1
    * (which would collide with earlier session ids downstream). State is
    * therefore O(distinct users), constant-size per user. Late
    * out-of-order events never move the session clock backwards
    * (`max(lastMs, t)`), so a straggler cannot spuriously split the
    * following session. */
  def sessionizeStream(events: org.apache.spark.sql.Dataset[SessionEvent],
      gapMinutes: Int): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_email)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: String, it: Iterator[SessionEvent],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // keep the counter so numbering never restarts; clear the
            // clock so the next event opens a fresh session
            state.update(SessionState(Long.MinValue,
              state.getOption.map(_.sessionId).getOrElse(0L)))
            Iterator.empty
          } else {
            var s = state.getOption.getOrElse(SessionState(Long.MinValue, 0L))
            val out = it.toSeq.sortBy(_.ts.getTime).map { e =>
              val t = e.ts.getTime
              if (s.lastMs == Long.MinValue || t - s.lastMs > gapMs)
                s = SessionState(t, s.sessionId + 1)
              else s = SessionState(math.max(s.lastMs, t), s.sessionId)
              SessionAssignment(user, e.ts, s.sessionId)
            }
            state.update(s)
            if (s.lastMs != Long.MinValue)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            out.iterator
          }
      }.toDF()
  }

  /** Streaming as-of enrichment: each left event binds to the latest
    * right event at-or-before its timestamp on the same key — the
    * streaming form of [[graft.ext.AsOf]] (enrich a click stream with
    * the freshest prior dimension state). A stream-stream join can't
    * express this (the lookback is unbounded in one direction), so it's
    * `flatMapGroupsWithState`: per-key state is the right-side timeline,
    * ascending and unique per ts (max value on ties, matching the
    * pre-aggregated contract of the batch operator), capped at
    * `maxState` entries with the NEWEST always surviving.
    *
    * Exactness: a batch is processed in event-time order, so a single
    * `AvailableNow` replay equals the batch as-of join row-for-row
    * (what the oracle gate asserts). Across micro-batches, in-order
    * left events always bind exactly; a left event arriving LATER than
    * a newer right event binds exactly while its true match is within
    * the `maxState` retained entries — the documented trade of state
    * size for late-data tolerance (state is O(keys × maxState),
    * RocksDB-friendly, vs unbounded for a perfect late-binder).
    *
    * The per-key cap bounds state per key, but key CARDINALITY still
    * grows with every distinct key ever seen. For a long-lived stream,
    * pass `idleRetentionMs`: keys idle longer than the horizon time out
    * (processing-time) and their timeline is dropped — a later left
    * event on a dropped key simply binds to nothing, the same outcome
    * as a fresh key. The default `None` keeps `NoTimeout` for the
    * one-shot `AvailableNow` replay path, where timeouts never fire
    * and the oracle gate needs exact batch parity.
    *
    * Cost of arming the knob: with processing-time timeouts the engine
    * schedules timeout-evaluation micro-batches even without new data
    * (`FlatMapGroupsWithStateExec.shouldRunAnotherBatch` is
    * unconditionally true for `ProcessingTimeTimeout`) — one extra
    * no-data batch per trigger interval. Under a real cadence trigger
    * that is the expected bookkeeping of a long-lived stream; under the
    * default run-ASAP trigger it busy-loops, so pair the knob with a
    * `Trigger.ProcessingTime` cadence and poll sinks rather than
    * `processAllAvailable()` (which never settles when batches keep
    * scheduling). */
  def asofStream(events: org.apache.spark.sql.Dataset[AsOfStreamEvent],
      maxState: Int = 32, idleRetentionMs: Option[Long] = None): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(maxState > 0, "maxState must be positive")
    require(idleRetentionMs.forall(_ > 0), "idleRetentionMs must be positive")
    events
      .groupByKey(_.user_email)
      .flatMapGroupsWithState(OutputMode.Append,
        if (idleRetentionMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[AsOfStreamEvent],
         state: GroupState[AsOfTimeline]) =>
          if (state.hasTimedOut) {
            // idle beyond the retention horizon: release the timeline
            state.remove()
            Iterator.empty
          } else {
            var tl = state.getOption.getOrElse(
              AsOfTimeline(Array.empty, Array.empty))
            // event-time order; rights first at equal ts (<= semantics)
            val batch = it.toArray.sortBy(e => (e.tsMicros, e.isLeft))
            val out = scala.collection.mutable.ArrayBuffer.empty[AsOfStreamOut]
            def upperBound(a: Array[Long], x: Long): Int = {
              var lo = 0; var hi = a.length
              while (lo < hi) {
                val mid = (lo + hi) >>> 1
                if (a(mid) <= x) lo = mid + 1 else hi = mid
              }
              lo
            }
            batch.foreach { e =>
              if (!e.isLeft) {
                val i = upperBound(tl.ts, e.tsMicros)
                if (i > 0 && tl.ts(i - 1) == e.tsMicros) {
                  // duplicate ts: max value wins (pre-aggregation contract)
                  if (e.value > tl.value(i - 1)) tl.value(i - 1) = e.value
                } else {
                  var ts2 = tl.ts.patch(i, Array(e.tsMicros), 0)
                  var v2 = tl.value.patch(i, Array(e.value), 0)
                  if (ts2.length > maxState) { // cap: oldest entry goes
                    ts2 = ts2.drop(1); v2 = v2.drop(1)
                  }
                  tl = AsOfTimeline(ts2, v2)
                }
              } else {
                val i = upperBound(tl.ts, e.tsMicros) - 1
                out += AsOfStreamOut(e.event_id, e.tsMicros, user,
                  if (i >= 0) Some(tl.ts(i)) else None,
                  if (i >= 0) Some(tl.value(i)) else None)
              }
            }
            state.update(tl)
            idleRetentionMs.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }.toDF()
  }

  /** Shared staging for the `AvailableNow` replays: the file stream
    * source wants a DIRECTORY but the testdata table is a single
    * parquet file, so symlink it into a temp dir (no data copy), pin
    * the TIMESTAMP(NANOS) read flag for the run, hand `body` a FACTORY
    * of streams with `ts` already normalized to TimestampType
    * (stream-stream joins need one instance per side), and
    * restore/clean up after.
    *
    * The stream schema is derived from a one-off BATCH read of the same
    * file, so the staging tracks whatever `ts` encoding the testdata
    * currently uses (legacy int64-nanos vs native timestamp[us]) via
    * the same [[graft.Tables.normalizeEventTs]] branch as the batch
    * loaders — a hardcoded `ts: LongType` stream schema would silently
    * reinterpret native-timestamp micros as nanos and shift every
    * watermark/window by 1000×. A cheap min(ts) probe guards exactly
    * that class of bug: any future encoding change that survives the
    * schema branch but lands outside [2000, 2100) fails loudly here
    * instead of corrupting results. */
  private[graft] def withStagedEvents[T](spark: SparkSession, dir: String)(
      body: (() => DataFrame) => T): T = {
    val prevNanos =
      spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try {
      val batch = graft.Tables.events(spark, dir)
      val tsType = spark.read.parquet(s"$dir/events.parquet")
        .schema("ts").dataType
      val minYear = batch.agg(min(year(col("ts")))).head().getInt(0)
      require(minYear >= 2000 && minYear < 2100,
        s"staged events sanity check failed: min(ts) year $minYear is " +
          "outside [2000, 2100) — the testdata ts encoding likely " +
          "changed; update Tables.normalizeEventTs")
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", tsType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))
      val staged = java.nio.file.Files.createTempDirectory("graft_stream_")
      try withStreamShuffle(spark) {
        java.nio.file.Files.createSymbolicLink(
          staged.resolve("events.parquet"),
          java.nio.file.Paths.get(s"$dir/events.parquet"))
        body(() => graft.Tables.normalizeEventTs(
          spark.readStream.schema(schema).parquet(staged.toString)))
      } finally {
        java.nio.file.Files.deleteIfExists(staged.resolve("events.parquet"))
        java.nio.file.Files.deleteIfExists(staged)
      }
    } finally prevNanos match {
      case Some(v) => spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
      case None => spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    }
  }

  /** AvailableNow terminates on its own; the bound is a guard so a hung
    * stream fails ITS query loudly instead of wedging the whole Verify
    * run or returning a silently partial table. Default 300 s covers
    * every bench-scale gate with an order of magnitude to spare; the
    * 100x scale probes legitimately exceed it (a 250k-doc tick's
    * table-key probe alone shuffles ~10^8 candidate rows), so the
    * bound is env-tunable: SPARK_GRAFT_STREAM_TIMEOUT_SEC. */
  private lazy val oneShotTimeoutMs: Long =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_TIMEOUT_SEC", "300")
      .trim.toLong * 1000L

  /** Shuffle-partition count the one-shot stream replays pin for the
    * duration of the stream (restored after). 4 suits the bench-scale
    * tick sizes (hundreds of rows — 32 near-empty tasks per tick are
    * pure scheduling overhead); the 100x scale probes override via
    * SPARK_GRAFT_STREAM_SHUFFLE (a 250k-doc tick's ~10^8-row candidate
    * shuffle through 4 partitions is 4 giant spilling tasks). */
  private lazy val streamShuffleParts: String =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_SHUFFLE", "4").trim

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to
    * [[streamShuffleParts]], restoring the prior value afterwards — on
    * failure too. This is the one place a replay scopes the conf:
    * every stateful streaming operator maintains ONE state-store
    * instance per shuffle partition per micro-batch (load/commit/
    * snapshot bookkeeping even for empty partitions), and the
    * stream-stream join keeps FOUR stores per partition. At 32 session
    * partitions a replay-sized input pays 32-128 stores of pure
    * overhead per batch; results are partition-count-independent (the
    * oracle gate proves it — state keys hash the same rows to fewer
    * partitions). A production deployment sizes partitions to its
    * rate; this touches only the one-shot replay scope. The conf is
    * read at query START, so restoring it after the replay cannot
    * affect the running query. */
  private def withStreamShuffle[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", streamShuffleParts)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def awaitOneShot(q: StreamingQuery, queryName: String): Unit =
    if (!q.awaitTermination(oneShotTimeoutMs)) {
      q.stop()
      throw new RuntimeException(s"stream $queryName did not terminate " +
        s"within ${oneShotTimeoutMs / 1000}s")
    }

  /** The sink every ingest ledger shares: a `foreachBatch` stream
    * checkpointed under `checkpointDir` that hands each micro-batch and
    * its id to `tick`. Ticks write their state OVERWRITE into
    * `batch=<id>` subdirs, so a batch replayed after a crash rewrites
    * its own state and the ledger never double-counts. The default
    * `AvailableNow` trigger makes each start one cron tick: drain what
    * arrived, then stop. A named stream runs every tick under
    * [[timedTick]]'s slow-tick telemetry. */
  private def ledgerStream(input: DataFrame, checkpointDir: String,
      queryName: String = "", trigger: Trigger = Trigger.AvailableNow())(
      tick: (DataFrame, Long) => Unit): StreamingQuery =
    named(input.writeStream, queryName)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (queryName.isEmpty) tick(batch, batchId)
        else timedTick(queryName, batchId)(tick(batch, batchId))
      }
      .trigger(trigger)
      .start()

  /** The one-shot replay every `*AvailableNow` ledger gate shares:
    * stage `ticks` under `workDir/staged` one file per tick
    * ([[stageBatches]]), then [[replayStaged]]. */
  private[graft] def replayTicks[T](spark: SparkSession, workDir: String,
      queryName: String, ticks: Seq[DataFrame])(
      ingest: DataFrame => StreamingQuery)(readBack: => T): T =
    replayStaged(spark, workDir, queryName,
      stageBatches(spark, s"$workDir/staged", ticks))(ingest)(readBack)

  /** Stream the files already staged under `workDir/staged` one per
    * trigger (so each is one tick, in mtime order) through `ingest`
    * under the replay shuffle pin, wait for the bounded stream to
    * drain, and return `readBack`, built under the same pin. */
  private def replayStaged[T](spark: SparkSession, workDir: String,
      queryName: String, schema: StructType)(
      ingest: DataFrame => StreamingQuery)(readBack: => T): T =
    try withStreamShuffle(spark) {
      awaitOneShot(ingest(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$workDir/staged")),
        queryName)
      readBack
    } finally lastTickEnd.remove(queryName)

  /** Stage `batches` as one flat parquet directory, one file per
    * batch, each stamped with a strictly later mtime, so a
    * `maxFilesPerTrigger = 1` replay processes them in list order.
    *
    * r17: ONE tick-tagged job stages every batch — the K sequential
    * `coalesce(1)` appends each paid a full job (scheduling + source
    * scan) back-to-back, a pure fixed cost across the ~20 staged
    * replays. The union's branches scan concurrently, the partitioned
    * write strips the tag from the file contents, and the partition
    * dirs then flatten to the source-visible flat files (rename is
    * metadata-only). A batch with ZERO rows writes no partition dir;
    * the fallback writes its empty file the old way so tick numbering
    * never silently shifts. */
  private def stageBatches(spark: SparkSession, staging: String,
      batches: Seq[DataFrame]): StructType = {
    require(batches.nonEmpty,
      s"stageBatches: no ticks to stage under $staging — a replay needs " +
        "at least one batch")
    val p = new Path(staging)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = System.currentTimeMillis()
    val tmp = new Path(p, "_graft_stage_tmp")
    // per-branch coalesce(1), NOT a tick-keyed repartition: each
    // branch collapses to one task (exactly the work the old
    // per-batch coalesce(1) write did), the K tasks run CONCURRENTLY
    // in one job, and no exchange ever moves the staged payload
    batches.zipWithIndex
      .map { case (b, i) =>
        b.withColumn("__graft_tick", lit(i)).coalesce(1) }
      .reduce(_ unionByName _)
      .write.partitionBy("__graft_tick").parquet(tmp.toString)
    batches.indices.foreach { i =>
      val sub = new Path(tmp, s"__graft_tick=$i")
      val files = if (fs.exists(sub)) dataFiles(fs, sub) else Nil
      if (files.isEmpty) {
        // empty batch: the partitioned write emits no dir — keep the
        // tick by writing its empty file the sequential way (stamp
        // only the files this write created: earlier ticks' files
        // already carry their own times)
        val before = fs.listStatus(p).toSeq.filter(_.isFile)
          .map(_.getPath.getName).toSet
        batches(i).coalesce(1).write.mode("append").parquet(staging)
        stampStagedBatch(fs, p, t0 + i * 60000L, before)
      } else files.zipWithIndex.foreach { case (f, j) =>
        val dst = new Path(p, f"b$i%03d-$j%03d.parquet")
        require(fs.rename(f.getPath, dst),
          s"stageBatches: rename ${f.getPath} -> $dst failed")
        fs.setTimes(dst, t0 + i * 60000L, -1)
      }
    }
    fs.delete(tmp, true)
    spark.read.parquet(staging).schema
  }

  /** Split `df` into `n` replay ticks by `pmod(hash(key), n)`. Not
    * `abs(hash) % n`: under ANSI mode `abs(Int.MinValue)` raises
    * ARITHMETIC_OVERFLOW, so a key hashing there would fail the replay
    * (and without ANSI, `Int.MinValue % n` is negative for odd `n`, so
    * the row would land in no tick). For `n = 2` the split equals the
    * old parity split on every other key. */
  private def hashTicks(df: DataFrame, key: String, n: Int): Seq[DataFrame] =
    (0 until n).map(i => df.filter(pmod(hash(col(key)), lit(n)) === i))

  /** Stage `df` under `workDir/staged` as `n` files range-split on `c`
    * and stamp their mtimes strictly increasing in part-file name
    * order. One write produces all the files, so their mtimes tie; the
    * range partition index ascends with `c`, so the stamp makes replay
    * arrival order the ingest order by construction, not by tie-break
    * luck. */
  private def stageRanges(spark: SparkSession, df: DataFrame, n: Int,
      c: String, workDir: String): Unit = {
    val staging = new Path(s"$workDir/staged")
    df.repartitionByRange(n, col(c)).write.parquet(staging.toString)
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = System.currentTimeMillis()
    dataFiles(fs, staging).sortBy(_.getPath.getName).zipWithIndex
      .foreach { case (f, i) => fs.setTimes(f.getPath, t0 + i * 60000L, -1) }
  }

  /** The `batch=<id>` subdirs under `root` other than tick `batchId`'s
    * own: the prior ticks' state. A replayed tick's own leftovers (a
    * crash after one state write, before the next) never count as
    * history, or its rows would pair against themselves. */
  private def priorDirs(spark: SparkSession, root: String,
      batchId: Long): Array[String] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p))
      fs.listStatus(p).map(_.getPath.getName)
        .filter(d => d.startsWith("batch=") && d != s"batch=$batchId")
        .map(d => s"$root/$d")
    else Array.empty[String]
  }

  /** The newest `batch=<id>` subdir under `root` with id below
    * `before`, if any. */
  private def latestBatchDir(spark: SparkSession, root: String,
      before: Long = Long.MaxValue): Option[String] = {
    val p = new Path(root)
    p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p)
      .map(_.getPath.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).filter(_ < before)
      .maxOption.map(b => s"$root/batch=$b")
  }

  /** The label snapshot a cluster-label tick folds from: the newest
    * `labels/batch=<id>` STRICTLY older than the tick, so a replayed
    * tick re-reads the same prior state and rewrites its own snapshot
    * byte-identically. */
  private def priorLabels(spark: SparkSession, labelsPath: String,
      batchId: Long, ledger: String): DataFrame = {
    val snap = latestBatchDir(spark, labelsPath, before = batchId)
    require(snap.nonEmpty, s"$ledger ledger: earlier ticks exist but no " +
      s"label snapshot precedes batch $batchId")
    spark.read.parquet(snap.get)
  }

  /** One-shot (`AvailableNow`) replay of [[asofStream]] over the events
    * table for the oracle gate; the single batch makes the replay
    * exactly the batch as-of join, i.e. the shared ASOF oracle. */
  def asofStreamAvailableNow(spark: SparkSession, dir: String,
      leftHabit: String, rightHabit: String, queryName: String): DataFrame =
    withStagedEvents(spark, dir) { mkStream =>
      val sp = spark
      import sp.implicits._
      val typed = mkStream()
        .filter(col("event_type").isin(leftHabit, rightHabit))
        .select(col("event_id"), col("user_id").as("user_email"),
          unix_micros(col("ts")).as("tsMicros"),
          (col("event_type") === leftHabit).as("isLeft"), col("value"))
        .as[AsOfStreamEvent]
      val q = asofStream(typed).writeStream.format("memory")
        .queryName(queryName).outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      awaitOneShot(q, queryName)
      spark.table(queryName)
        .select(col("event_id"), timestamp_micros(col("tsMicros")).as("ts"),
          col("user_email"),
          timestamp_micros(col("asofTsMicros")).as("asof_ts"),
          col("asof_pvalue"))
    }

  /** Stream-stream interval join: pair each left event with the right
    * events of the same key whose timestamp falls in
    * `[left.ts − lowerBound, left.ts + upperBound]` — the streaming
    * form of [[graft.ext.RangeJoin]]'s point-in-interval semantics
    * (e.g. clicks joined to purchases within a 2-hour window, computed
    * continuously instead of in batch).
    *
    * Both sides carry watermarks and the join condition bounds event
    * time in BOTH directions, so Spark can expire join state: each
    * side's buffer holds only rows inside watermark + interval — state
    * is O(rate × window), not unbounded. Output columns are prefixed
    * `l_`/`r_` to keep the two sides' schemas disjoint. */
  def intervalJoinStream(left: DataFrame, right: DataFrame, key: String,
      tsCol: String, lowerBound: String, upperBound: String,
      watermark: String, joinType: String = "inner"): DataFrame = {
    def prefixed(df: DataFrame, p: String): DataFrame =
      df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"$p$c"))
    val l = prefixed(left, "l_").withWatermark(s"l_$tsCol", watermark)
    val r = prefixed(right, "r_").withWatermark(s"r_$tsCol", watermark)
    l.join(r, expr(
      s"""l_$key = r_$key AND
         |r_$tsCol >= l_$tsCol - interval $lowerBound AND
         |r_$tsCol <= l_$tsCol + interval $upperBound""".stripMargin),
      joinType)
  }

  /** One-shot gate replay of the LEFT OUTER stream-stream interval
    * join — the semantically hard half of stream joins: an unmatched
    * left row may only emit its null-padded result once the join
    * watermark proves no future right row can match it, i.e. the
    * OUTPUT depends on watermark progression, not just the data. The
    * replay stages three files read with `maxFilesPerTrigger = 1` in
    * write (mod-time) order:
    *
    *   1. ALL real events (one batch — nothing is ever late), then
    *   2. a far-future sentinel pair (one row per side, key −1): at
    *      this batch's END both sides' watermarks jump past every real
    *      `l_ts + upper`, then
    *   3. a second sentinel pair, whose processing evicts the expired
    *      left state and EMITS the null rows (no reliance on the
    *      engine's trailing no-data micro-batch).
    *
    * The sentinels themselves sit above the final watermark, so their
    * own state never expires and they cannot reach the output even
    * before the defensive `l_event_id >= 0` filter. Result: exactly
    * the BATCH left interval join of the real events — the oracle. */
  def intervalJoinOuterAvailableNow(spark: SparkSession, dir: String,
      leftHabit: String, rightHabit: String, lower: String, upper: String,
      workDir: String, queryName: String,
      watermark: String = "1 day",
      joinType: String = "leftOuter"): DataFrame = {
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "intervalJoinOuterAvailableNow requires session timeZone=UTC")
    val base = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"))
    val staging = s"$workDir/staged"
    // one max(ts) probe serves BOTH sentinel batches — deriving each
    // sentinel frame from `base.agg(...)` would rescan the events
    // table per batch for a value that cannot change between them
    val maxTs = base.agg(max(col("ts")).as("m")).collect()(0).get(0)
    def sentinelDf(days: Int) = spark.range(1)
      .select(explode(array(
        struct(lit(-1L - days).as("event_id"),
          (lit(maxTs) + expr(s"INTERVAL $days DAYS")).as("ts"),
          lit(-1L).as("user_id"), lit(leftHabit).as("event_type")),
        struct(lit(-2L - days).as("event_id"),
          (lit(maxTs) + expr(s"INTERVAL $days DAYS")).as("ts"),
          lit(-1L).as("user_id"), lit(rightHabit).as("event_type"))))
        .as("r"))
      .select(col("r.*"))
    // three sequential writes; batch order is then stamped EXPLICITLY
    // (strictly increasing mtimes) — write-time mtimes can tie under
    // coarse filesystem granularity and would let a sentinel batch
    // arrive before the data it must flush
    val stagingPath = new Path(staging)
    val sfs = stagingPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val t0 = System.currentTimeMillis()
    base.coalesce(1).write.mode("append").parquet(staging)
    var seen = stampStagedBatch(sfs, stagingPath, t0, Set.empty)
    sentinelDf(400).coalesce(1).write.mode("append").parquet(staging)
    seen = stampStagedBatch(sfs, stagingPath, t0 + 60000, seen)
    sentinelDf(401).coalesce(1).write.mode("append").parquet(staging)
    stampStagedBatch(sfs, stagingPath, t0 + 120000, seen)
    withStreamShuffle(spark) {
      def side(habit: String) = spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", "1").parquet(staging)
        .filter(col("event_type") === habit)
        .select(col("event_id"), col("user_id").as("user_email"),
          col("ts"))
      val joined = intervalJoinStream(side(leftHabit), side(rightHabit),
        "user_email", "ts", lower, upper, watermark, joinType)
      val q = joined.writeStream.format("memory").queryName(queryName)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      awaitOneShot(q, queryName)
      // full outer also emits right-side sentinel-free null rows —
      // keep any row whose REAL id survives on either side
      spark.table(queryName).filter(
        coalesce(col("l_event_id"), lit(Long.MaxValue)) >= 0 &&
          coalesce(col("r_event_id"), lit(Long.MaxValue)) >= 0)
    }
  }

  /** Incremental ETL sink: each micro-batch upserts into the
    * day-partitioned [[graft.load.EventStore]] via `foreachBatch` — the
    * streaming form of the reference's 15-minute CronJob re-ingest +
    * idempotent upsert loop (`/root/reference/README.md:176-178`,
    * `/root/reference/etl/etl_habits.py:24-39`). `Trigger.AvailableNow`
    * + a shared checkpoint makes each invocation one "cron tick": it
    * drains whatever arrived since the last run and terminates. Replays
    * converge because the MERGE is idempotent per key — at-least-once
    * delivery yields exactly-once store state. The first batch
    * bootstraps the store.
    *
    * Scale notes: each micro-batch rewrites only the day partitions it
    * touches (dynamic partition overwrite inside `EventStore.upsert`),
    * so incremental maintenance cost tracks batch size, not store size —
    * the same bound Timescale's 60-day refresh window provides. */
  def upsertStream(events: DataFrame, storePath: String,
      checkpointDir: String,
      keys: Seq[String] = graft.load.Merge.EventKeys)
      : StreamingQuery =
    ledgerStream(events, checkpointDir) { (df, _) =>
      val sp = df.sparkSession
      // Hadoop FileSystem, NOT java.io.File: the store may live on
      // HDFS/S3, where a local-file exists() is always false and the
      // bootstrap branch's overwrite would wipe the store every tick
      val p = new Path(storePath)
      val exists = p.getFileSystem(sp.sessionState.newHadoopConf()).exists(p)
      if (exists) graft.load.EventStore.upsert(sp, storePath, df, keys)
      else graft.load.EventStore.write(df, storePath)
    }

  /** Streaming CDC apply: each micro-batch of an insert/update/delete
    * change feed merges into the parquet sink via `Merge.applyCdc` —
    * the replication-consumer tick (a Debezium topic drained on a
    * cron cadence). Within a batch the highest `seqCol` wins per key;
    * ACROSS batches later ticks win by arrival, which is the
    * at-least-once replay contract of any log consumer: replaying a
    * batch whose effects are already applied is idempotent because
    * applyCdc resolves per key against current sink state.
    *
    * The full-sink rewrite per tick is the bounded-testdata form; a
    * date-partitioned sink scopes each tick's rewrite to touched
    * partitions exactly like [[upsertStream]]'s store. */
  def cdcStream(changes: DataFrame, sinkPath: String, checkpointDir: String,
      keys: Seq[String], seqCol: String, opCol: String = "op")
      : StreamingQuery =
    ledgerStream(changes, checkpointDir) { (df, _) =>
      val sp = df.sparkSession
      val p = new Path(sinkPath)
      val fs = p.getFileSystem(sp.sessionState.newHadoopConf())
      val current =
        if (fs.exists(p)) sp.read.parquet(sinkPath)
        else sp.createDataFrame(
          sp.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(df.drop(seqCol, opCol).schema))
      val merged = graft.load.Merge
        .applyCdc(current, df, keys, seqCol, opCol)
        // the rewrite reads the files it replaces — cut lineage
        // before the overwrite, same guard as EventStore.upsert
        .localCheckpoint(true)
      merged.write.mode("overwrite").parquet(sinkPath)
      // release the tick's pin — clearCache does not cover
      // checkpoint blocks, and a long-running stream must not
      // accumulate one batch-sized pin per commit
      graft.ext.Pinned.release(merged)
    }

  /** Streaming near-duplicate detection: each micro-batch of documents
    * is checked against the accumulated corpus with
    * `Dedup.minhashDupPairsIncremental` (batch×corpus + batch×batch —
    * existing×existing never re-compared, so the per-tick cost tracks
    * the TICK, not corpus history), then appended to the corpus store.
    * Detected pairs append to `pairsPath` — the continuously-maintained
    * duplicate ledger a curation pass reads.
    *
    * At scale the corpus store would be the maintained band-signature
    * relation (the ingest-time state the incremental dedup is designed
    * around) rather than raw text; raw text here keeps the bounded
    * test observable end to end.
    *
    * Replay safety: both sinks write OVERWRITE into a `batch=<id>`
    * subdirectory — the standard idempotent-foreachBatch pattern. A
    * tick that crashes mid-function replays under the same batchId and
    * simply rewrites its own subdirectories, so neither the corpus nor
    * the ledger ever double-counts (a plain append would duplicate
    * whichever sink committed before the crash). Readers see the
    * subdirs as a `batch` partition column.
    */
  def dedupStreamIncremental(docs: DataFrame, corpusPath: String,
      pairsPath: String, checkpointDir: String, idCol: String,
      textCol: String, threshold: Double = 0.5)
      : StreamingQuery =
    ledgerStream(docs, checkpointDir) { (batch, batchId) =>
      val sp = batch.sparkSession
      // pin THROUGH the corpus state write (r17): one job where the
      // tick paid a checkpoint pin AND a corpus copy; replay-safe
      // because priorDirs excludes this tick's own subdir
      batch.write.mode("overwrite").parquet(s"$corpusPath/batch=$batchId")
      val df = sp.read.parquet(s"$corpusPath/batch=$batchId")
      val prior = priorDirs(sp, corpusPath, batchId)
      val pairs =
        if (prior.nonEmpty)
          graft.ext.Dedup.minhashDupPairsIncremental(
            df, sp.read.parquet(prior.toSeq: _*), idCol, textCol, threshold)
        else
          // bootstrap tick: no prior corpus — batch-internal dups
          graft.ext.Dedup.minhashDupPairs(df, idCol, textCol, threshold)
      pairs.write.mode("overwrite").parquet(s"$pairsPath/batch=$batchId")
      // release the pair-finder's persisted shingle/band relations
      // (its documented contract: the caller clears) — without this
      // a long-running stream accumulates one persisted set per tick
      sp.catalog.clearCache()
    }

  /** Run [[habitDailyStream]] over the driver's `events` parquet as a
    * bounded stream (Trigger.AvailableNow → memory sink, complete mode)
    * and return the final table — lets the batch oracle check the
    * streaming path. The `ts` read mirrors `Tables.events` (the staging
    * factory normalizes whatever encoding the file declares).
    *
    * NB the streaming day bucket (`window(ts, '1 day')`) is epoch/UTC
    * aligned while the batch `date_trunc` is session-tz aligned — they
    * agree only under a UTC session timezone (all entry points pin it;
    * asserted here so a misconfigured session fails loudly, not with a
    * silently shifted bucket). */
  def habitDailyAvailableNow(spark: SparkSession, dir: String,
      sumHabit: String, queryName: String): DataFrame = {
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "habitDailyAvailableNow requires spark.sql.session.timeZone=UTC " +
        "for window()/date_trunc day-bucket agreement")
    withStagedEvents(spark, dir) { mkStream =>
      val stream = mkStream()
        .withColumnRenamed("user_id", "user_email")
        .withColumnRenamed("event_type", "habit")
      val q = habitDailyStream(stream, watermark = "60 days", sumHabit)
        .writeStream.format("memory").queryName(queryName)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      awaitOneShot(q, queryName)
      spark.table(queryName)
    }
  }

  /** Stream-STATIC enrichment: the event stream joins a batch
    * dimension (broadcast — the dimension is planned once and rides
    * every micro-batch, the standard lookup-table shape; Spark re-reads
    * the static side per batch, so slowly-changing dims pick up
    * changes between ticks) and aggregates per segment. One-shot
    * replay equals the batch join+aggregate, which is the oracle. */
  def enrichAvailableNow(spark: SparkSession, dir: String,
      queryName: String): DataFrame =
    withStagedEvents(spark, dir) { mkStream =>
      val dim = graft.Tables.read(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val enriched = mkStream()
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 6).as("sum_value"))
      val q = enriched.writeStream.format("memory").queryName(queryName)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      awaitOneShot(q, queryName)
      spark.table(queryName)
    }

  /** Exactly-once streaming ingest into a
    * [[graft.load.VersionedStore]]: each micro-batch commits as ONE
    * store version (create on an empty store, keyed upsert after)
    * carrying its batch id as commit metadata. `foreachBatch` is
    * at-least-once — a batch can replay after a crash, a checkpoint
    * loss, or a sink retry — so the dedup is transactional, not
    * positional: a batch whose id is ≤ the highest committed
    * `streamBatch` id in the LOG is skipped entirely (Delta's
    * per-application transaction-version idea). The commit itself is
    * the store's atomic create-if-absent manifest publish, so "commit
    * version + record batch id" is one atomic step — there is no
    * window where data landed but the id didn't.
    *
    * The default `AvailableNow` trigger suits replay/backfill; pass a
    * `Trigger.ProcessingTime` cadence for a long-lived ingest. */
  def versionedIngest(events: DataFrame, storePath: String,
      checkpointDir: String, queryName: String,
      keys: Seq[String] = graft.load.Merge.EventKeys,
      trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    ledgerStream(events, checkpointDir, queryName, trigger) { (df, id) =>
      val s = df.sparkSession
      import graft.load.VersionedStore
      val done = VersionedStore.maxCommitted(s, storePath, "streamBatch")
      if (done.forall(_ < id)) {
        val meta = Map("streamBatch" -> id.toString)
        if (VersionedStore.versions(s, storePath).isEmpty)
          VersionedStore.create(df, storePath, meta = meta)
        else VersionedStore.upsert(s, storePath, df, keys, meta = meta)
      }
    }

  /** One-shot gate replay of the BACKFILL → STREAMING HANDOFF — the
    * standard bootstrap pattern for a new pipeline: half the history
    * loads as ONE batch commit (`VersionedStore.create` — the cheap
    * bulk path, no per-row merge), then [[versionedIngest]] takes over
    * for the live remainder with its exactly-once committed-batch-id
    * contract against the SAME store. The final snapshot must hold
    * every event exactly once across the seam — neither half dropped,
    * duplicated, nor double-merged — in exactly two commits. */
  def backfillHandoffAvailableNow(spark: SparkSession, dir: String,
      storePath: String, checkpointDir: String, queryName: String): Unit =
    withStagedEvents(spark, dir) { mkStream =>
      val backfill =
        hashTicks(graft.Tables.events(spark, dir), "event_id", 2)(0)
        .withColumnRenamed("user_id", "user_email")
        .withColumnRenamed("event_type", "habit")
      graft.load.VersionedStore.create(backfill, storePath)
      val stream = hashTicks(mkStream(), "event_id", 2)(1)
        .withColumnRenamed("user_id", "user_email")
        .withColumnRenamed("event_type", "habit")
      awaitOneShot(
        versionedIngest(stream, storePath, checkpointDir, queryName),
        queryName)
    }

  // end time of each query's previous tick, for timedTick's gap; a
  // one-shot replay drops its entry when it ends ([[replayStaged]])
  private[graft] val lastTickEnd =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val SlowTickMs = 10000L

  /** Session-wide slow-batch telemetry: one listener covers EVERY
    * streaming query (the ~30 foreachBatch maintenance streams included)
    * without per-site wiring — any micro-batch whose triggerExecution
    * crosses [[SlowTickMs]] logs one structured stderr line with
    * Spark's own per-phase duration breakdown (getBatch/addBatch/
    * commitOffsets/…), which names WHERE inside the engine's batch
    * cycle a tail outlier sat. Complements [[timedTick]] (which also
    * sees the BETWEEN-tick scheduler gap). Registered on every
    * [[graft.DriverSession.session]], so a tail outlier is attributable
    * from any main's artifact. */
  final class SlowBatchListener(thresholdMs: Long = SlowTickMs)
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val trig = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)
      if (trig >= thresholdMs) {
        // unnamed streams attribute by query id — never "null"
        val who = Option(p.name).getOrElse(p.id.toString)
        System.err.println(s"[graft-stream] SLOW BATCH query=$who " +
          s"batch=${p.batchId} trigger_ms=$trig durations=${p.durationMs}")
      }
    }
  }

  /** Apply `.queryName` only when the caller supplied one — a named
    * stream attributes by name in [[SlowBatchListener]] lines; an
    * unnamed one falls back to the query id. */
  private def named[T](ws: org.apache.spark.sql.streaming.DataStreamWriter[T],
      queryName: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[T] =
    if (queryName.nonEmpty) ws.queryName(queryName) else ws

  /** Idempotent registration of [[SlowBatchListener]] on a session.
    * The idempotence set holds its sessions WEAKLY: a strong set would
    * root every SparkSession ever registered for the life of the
    * process (many short-lived test sessions → unbounded retention); a
    * WeakHashMap-backed set lets a stopped, otherwise-unreferenced
    * session be collected, at which point its entry evaporates.
    * Synchronized because WeakHashMap is not thread-safe and streams
    * can register from query-start paths concurrently. */
  private val listenerRegistered =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))
  def registerSlowBatchListener(spark: SparkSession): Unit =
    if (listenerRegistered.add(spark))
      spark.streams.addListener(new SlowBatchListener())
  /** Per-tick STAGE timings of the instrumented ingest ticks
    * (cluster/pipeline/funnel/web ledgers): one stderr line per
    * tick, stage name → wall ms, so a `SPARK_GRAFT_ONLY=… Bench` run
    * shows where each tick's time went. Nothing is retained. */
  private[graft] def recordTickStages(queryName: String, batchId: Long,
      stages: Seq[(String, Long)]): Unit =
    if (queryName.nonEmpty)
      System.err.println(s"[graft-stream] TICK STAGES query=$queryName " +
        s"batch=$batchId " +
        stages.map { case (n, ms) => s"$n=${ms}ms" }.mkString(" "))
  /** The occupancy guard with an availability escape hatch: the
    * default HARD-FAILS a degraded tick (a boilerplate-skewed corpus
    * must not surface as a mystery slowdown), but because ledger and
    * checkpoint state persist, a legitimately skewed corpus would
    * otherwise be PERMANENTLY unable to progress — `failOnDegraded =
    * false` degrades to the ScaleProbe treatment: record loudly on
    * stderr (and the stage line carries cand/pair rows either way),
    * keep the tick. */
  private def guardOccupancy(stats: graft.ext.Dedup.LedgerProbeStats,
      context: String, failOnDegraded: Boolean): Unit =
    if (failOnDegraded)
      graft.ext.Dedup.requireLedgerOccupancy(stats, context)
    else if (stats.degraded)
      System.err.println(s"[graft-stream] DEGRADED OCCUPANCY $context: " +
        s"${stats.candidates} candidates for ${stats.pairs} pairs " +
        f"(analytic ${stats.analytic}%.1f, bound ${stats.bound}%.1f) — " +
        "failOnDegraded=false, tick continues")

  private[graft] def timedMs[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1000000L)
  }

  /** Run INDEPENDENT per-tick state writes concurrently (guide-§2.6
    * job overlap: Spark's scheduler happily runs several jobs at
    * once; ticks ran their 2-3 ledger writes sequentially, paying
    * each small job's full scheduling+commit latency back-to-back).
    * Inputs must be materialized or independent — every call site
    * writes from an eagerly pinned micro-batch or an
    * already-checkpointed relation, so the concurrent jobs share
    * nothing mutable. Returns each stage's own wall (concurrent, so
    * the stage walls can sum past the tick's). Failures propagate:
    * any stage's exception fails the tick, as the sequential form
    * did. */
  private[graft] def parWrites(stages: (String, () => Unit)*)
      : Seq[(String, Long)] = {
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // collect EVERY stage's outcome before raising (Future.sequence
    // fails fast, which would return control to the tick while a
    // sibling write is still running detached — a failed tick must not
    // leave a zombie job writing into a batch= dir the caller may
    // retry). blocking{} tells the global pool these threads park on
    // Spark actions, so nested overlaps cannot starve it.
    val outcomes = Await.result(
      Future.sequence(stages.toSeq.map { case (n, f) =>
        Future(blocking {
          val t0 = System.nanoTime()
          val r = try Right(f()) catch { case e: Throwable => Left(e) }
          (n, (System.nanoTime() - t0) / 1000000L, r)
        })
      }),
      Duration.Inf)
    outcomes.collectFirst { case (_, _, Left(e)) => e }.foreach(throw _)
    outcomes.map { case (n, ms, _) => (n, ms) }
  }
  /** Per-tick telemetry for the foreachBatch maintenance streams: wall
    * time of the tick body and the scheduler GAP since the previous
    * tick finished. A tick crossing `SlowTickMs` logs one structured
    * stderr line — the attribution a tail-latency outlier needs (is
    * the stall inside a tick's commit work, or between ticks in the
    * streaming scheduler/file-source?) without touching steady-state
    * cost. BENCH_FULL's per-run `spread` flags WHICH query has a tail;
    * this names WHERE in the tick cycle it sat. */
  private def timedTick[T](queryName: String, batchId: Long)(
      body: => T): T = {
    val start = System.nanoTime()
    val gapMs = Option(lastTickEnd.get(queryName))
      .map(e => (start - e.longValue) / 1000000L)
    val out = body
    val wallMs = (System.nanoTime() - start) / 1000000L
    lastTickEnd.put(queryName, java.lang.Long.valueOf(System.nanoTime()))
    if (wallMs >= SlowTickMs || gapMs.exists(_ >= SlowTickMs))
      System.err.println(s"[graft-stream] SLOW TICK query=$queryName " +
        s"batch=$batchId wall_ms=$wallMs gap_ms=${gapMs.getOrElse(-1L)}")
    out
  }

  /** Streaming JOIN-view maintenance — the lakehouse "continuous
    * aggregate" closed over the store's own change feed: every
    * micro-batch (1) commits to the fact store exactly-once (committed
    * batch-id dedup, as [[versionedIngest]]), (2) derives that
    * commit's change feed from the manifest diff, and (3) advances the
    * maintained fact⋈dim view with
    * [[graft.load.IncrementalView.applyJoinDelta]] — publishing each
    * view generation under `viewDir/v<version>`, so the VIEW time-
    * travels in lockstep with the store.
    *
    * Per-tick cost tracks the BATCH: one scoped store commit, one
    * commit-sized change feed (the manifest diff only scans rewritten
    * days), one commit×dim delta join, one dims-keyed merge of the
    * (dims-cardinality-sized) view. The fact store is never rescanned.
    *
    * `factCols` are the fact-side columns `dims`/`contribE6` read
    * (beyond `joinKeys`); `dim` is the static dimension relation —
    * a changing dim side composes through the same `applyJoinDelta`
    * zB leg from its own store's feed. */
  def joinViewIngest(events: DataFrame, storePath: String, viewDir: String,
      dim: DataFrame, joinKeys: Seq[String], factCols: Seq[String],
      dims: Seq[String], contribE6: org.apache.spark.sql.Column,
      checkpointDir: String, queryName: String,
      keys: Seq[String] = graft.load.Merge.EventKeys,
      trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    ledgerStream(events, checkpointDir, queryName, trigger) { (df, id) =>
      val s = df.sparkSession
      import graft.load.{IncrementalView, VersionedStore}
      val done = VersionedStore.maxCommitted(s, storePath, "streamBatch")
      if (done.forall(_ < id)) {
        // pin the micro-batch once: the commit path reads it at least
        // twice (touched-day probe + merge shuffle) and each read
        // would otherwise re-run the source scan
        val batch = df.localCheckpoint(true)
        val meta = Map("streamBatch" -> id.toString)
        val prev = VersionedStore.versions(s, storePath).lastOption
        val v = prev match {
          case None => VersionedStore.create(batch, storePath, meta = meta)
          case Some(_) =>
            VersionedStore.upsert(s, storePath, batch, keys, meta = meta)
        }
        // advance from the newest view generation that actually
        // COMMITTED, not blindly from v−1: a crash between the
        // manifest publish and the view write leaves a version
        // without its view, and the delta rule telescopes across
        // commits — the next tick heals the gap by diffing q → v in
        // one step. Bare directory existence is NOT commitment: a
        // job that died mid-write leaves v<q> created but partial,
        // and resuming from it would read garbage forever — so a
        // generation only counts once the writer's job-commit marker
        // (_SUCCESS) landed
        val fs = new Path(viewDir).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        val lastView = (v - 1 to 0 by -1).find(q =>
          fs.exists(new Path(s"$viewDir/v$q/_SUCCESS")))
        // the advance's change feed as a signed z-relation; with no
        // prior view generation, the whole snapshot is the insert set
        val zA = lastView match {
          case None => VersionedStore.snapshot(s, storePath, Some(v))
            .select((joinKeys ++ factCols).map(col): _*)
            .withColumn("_sign", lit(1L))
          case Some(q) =>
            val cdf = VersionedStore.changes(s, storePath, q, v, keys)
            val plain = cdf.columns.toSet
            // a factCol that is a store KEY rides the feed unsuffixed
            // (keys cannot change under upsert); payload columns come
            // as the _old/_new pair zRelation collapses
            IncrementalView.zRelation(cdf.select(
              joinKeys.map(col) ++ Seq(col("op")) ++
                factCols.flatMap(c =>
                  if (plain(c)) Seq(col(c))
                  else Seq(col(s"${c}_old"), col(s"${c}_new"))): _*))
        }
        val viewPrev = lastView match {
          case None => zA.limit(0).join(dim.limit(0), joinKeys)
            .groupBy(dims.map(col): _*)
            .agg(count(lit(1)).as("n"), sum(lit(0L)).as("sum_e6"))
            .select(dims.map(col) :+ col("n") :+ col("sum_e6"): _*)
          case Some(q) => s.read.parquet(s"$viewDir/v$q")
        }
        // static dim ⇒ the A_old⋈ΔB leg is empty by construction
        IncrementalView.applyJoinDelta(viewPrev, zA, dim,
            zA.limit(0).drop("_sign"),
            dim.limit(0).withColumn("_sign", lit(1L)),
            joinKeys, dims, contribE6)
          .coalesce(1)
          .write.mode("errorifexists").parquet(s"$viewDir/v$v")
        graft.ext.Pinned.release(batch)
      }
    }

  /** TWO-SIDED streaming JOIN-view maintenance — [[joinViewIngest]]
    * with a dimension that CHANGES: each micro-batch (1) commits the
    * fact batch exactly-once, (2) commits this tick's dim changes (if
    * any) to the dim's OWN [[graft.load.VersionedStore]], and (3)
    * advances the view with BOTH manifest-diff feeds through the full
    * two-sided delta rule `ΔV = ΔA⋈B_new ∪ A_old⋈ΔB`
    * ([[graft.load.IncrementalView.applyJoinDelta]]). View generations
    * publish under `viewDir/v<vF>_<vD>` — the RESUME COORDINATES are
    * the pair, so a crash between any of the three steps heals on the
    * next tick by telescoping both feeds from the newest COMMITTED
    * generation (gated on its `_SUCCESS` marker, as the one-sided
    * form).
    *
    * `dimForBatch` supplies the dim batch arriving with fact batch
    * `id` (the "dim topic drained up to the fact watermark" shape);
    * it MUST return the bootstrap dim for the first batch. Dim rows
    * carry a `ts` (the store is day-laid-out) but merge on `dimKeys`
    * — the ts-less-key day widening makes cross-day dim updates
    * correct.
    *
    * Per-tick cost: one scoped commit per changed store, one
    * commit-sized feed each, `ΔA⋈B_new` commit×dim, `A_old⋈ΔB` one
    * fact-side scan against a broadcast-small dim delta (empty when
    * the dim didn't change — the leg vanishes), one dims-keyed merge.
    * The fact store is never rescanned for fact-only ticks. */
  def joinViewIngestTwoSided(events: DataFrame, factStore: String,
      dimStore: String, viewDir: String,
      dimForBatch: Long => Option[DataFrame],
      joinKeys: Seq[String], factCols: Seq[String], dimCols: Seq[String],
      dims: Seq[String], contribE6: org.apache.spark.sql.Column,
      checkpointDir: String, queryName: String,
      keys: Seq[String] = graft.load.Merge.EventKeys,
      dimKeys: Seq[String] = Seq("user_email"),
      trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    ledgerStream(events, checkpointDir, queryName, trigger) { (df, id) =>
      val s = df.sparkSession
      import graft.load.{IncrementalView, VersionedStore}
      val done = VersionedStore.maxCommitted(s, factStore, "streamBatch")
      if (done.forall(_ < id)) {
        val meta = Map("streamBatch" -> id.toString)
        // the two commits land in DIFFERENT stores (disjoint paths,
        // no shared in-process state) — overlap them (r16, guide §2.6);
        // the view advance below depends on both and stays after
        // the join
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val vFf = Future {
          if (VersionedStore.versions(s, factStore).isEmpty)
            VersionedStore.create(df, factStore, meta = meta)
          else VersionedStore.upsert(s, factStore, df, keys, meta = meta)
        }
        val vD = dimForBatch(id) match {
          case Some(dimBatch) =>
            if (VersionedStore.versions(s, dimStore).isEmpty)
              VersionedStore.create(dimBatch, dimStore, meta = meta,
                sortCols = dimKeys)
            else VersionedStore.upsert(s, dimStore, dimBatch, dimKeys,
              meta = meta, sortCols = dimKeys)
          case None =>
            val vs = VersionedStore.versions(s, dimStore)
            require(vs.nonEmpty, "joinViewIngestTwoSided: dimForBatch " +
              "must supply the bootstrap dim for the first batch")
            vs.last
        }
        val vF = Await.result(vFf, Duration.Inf)
        val fs = new Path(viewDir).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        val gen = "v(\\d+)_(\\d+)".r
        val viewPath = new Path(viewDir)
        val lastView =
          if (!fs.exists(viewPath)) None
          else fs.listStatus(viewPath).toSeq.filter(_.isDirectory)
            .map(_.getPath.getName)
            .collect { case gen(f, d) if fs.exists(
                new Path(s"$viewDir/v${f}_$d/_SUCCESS"))
              => (f.toInt, d.toInt) }
            .sorted.lastOption
        val factProj = (joinKeys ++ factCols).map(col)
        val dimProj = (joinKeys ++ dimCols).map(col)
        val bNew = VersionedStore.snapshot(s, dimStore, Some(vD))
          .select(dimProj: _*)
        def feedZ(store: String, from: Int, to: Int, ks: Seq[String],
            cols: Seq[String]): DataFrame = {
          val cdf = VersionedStore.changes(s, store, from, to, ks)
          val plain = cdf.columns.toSet
          IncrementalView.zRelation(cdf.select(
            joinKeys.map(col) ++ Seq(col("op")) ++
              cols.flatMap(c =>
                if (plain(c)) Seq(col(c))
                else Seq(col(s"${c}_old"), col(s"${c}_new"))): _*))
        }
        val (viewPrev, zA, zB, aOld) = lastView match {
          case None =>
            val empty = VersionedStore.snapshot(s, factStore, Some(vF))
              .select(factProj: _*).limit(0)
            (empty.join(bNew.limit(0), joinKeys)
                .groupBy(dims.map(col): _*)
                .agg(count(lit(1)).as("n"), sum(lit(0L)).as("sum_e6"))
                .select(dims.map(col) :+ col("n") :+ col("sum_e6"): _*),
              VersionedStore.snapshot(s, factStore, Some(vF))
                .select(factProj: _*).withColumn("_sign", lit(1L)),
              bNew.limit(0).withColumn("_sign", lit(1L)),
              empty)
          case Some((qF, qD)) =>
            (s.read.parquet(s"$viewDir/v${qF}_$qD"),
              feedZ(factStore, qF, vF, keys, factCols),
              if (qD == vD) bNew.limit(0).withColumn("_sign", lit(1L))
              else feedZ(dimStore, qD, vD, dimKeys, dimCols),
              VersionedStore.snapshot(s, factStore, Some(qF))
                .select(factProj: _*))
        }
        IncrementalView.applyJoinDelta(viewPrev, zA, bNew, aOld, zB,
            joinKeys, dims, contribE6)
          .coalesce(1)
          .write.mode("errorifexists").parquet(s"$viewDir/v${vF}_$vD")
      }
    }

  /** One-shot gate replay of [[joinViewIngest]]: the events table is
    * re-staged as THREE parquet files and streamed with
    * `maxFilesPerTrigger = 1`, so the fact store really accretes over
    * three commits and the view advances through three change feeds —
    * the returned head view must equal recomputing the weighted
    * fact⋈dim aggregate over ALL events, which is exactly what the
    * DuckDB oracle does. */
  def joinViewAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String): DataFrame = {
    val ev = graft.Tables.eventsAsHabits(spark, dir)
    // split the replay by TIME, not hash: each micro-batch is a
    // contiguous day span (how ingest actually arrives), so every
    // upsert rewrites only its own days and the change feed scans the
    // commit's days, not the store — a hash split would make each tick
    // touch ALL days and turn the replay into three full rewrites
    stageRanges(spark, ev, 3, "ts", workDir)
    // materialize the dim ONCE: it is captured by every tick's closure
    // and joined per advance — without the eager checkpoint each tick
    // re-runs the full-events distinct scan behind it (3 ticks × a
    // corpus scan for a users-sized relation). At scale the dim is a
    // table, not a derived subquery; the checkpoint models that.
    val dim = ev.select(col("user_email")).distinct()
      .withColumn("weight", (col("user_email") % 5 + 1).cast("double"))
      .localCheckpoint(true)
    val storePath = s"$workDir/fact"
    try replayStaged(spark, workDir, queryName, ev.schema) { stream =>
      joinViewIngest(stream, storePath, s"$workDir/view", dim,
        joinKeys = Seq("user_email"), factCols = Seq("habit", "value"),
        dims = Seq("habit"),
        contribE6 = round(col("value") * col("weight") * 1e6).cast("long"),
        checkpointDir = s"$workDir/cp", queryName = queryName)
    } {
      val head = graft.load.VersionedStore.versions(spark, storePath).last
      require(head >= 2, s"expected >= 3 commits, head version is $head")
      spark.read.parquet(s"$workDir/view/v$head")
    } finally {
      // the dim pin fed the tick closures only — the returned view
      // reads parquet, so the blocks are dead once the stream drained
      graft.ext.Pinned.release(dim)
    }
  }

  /** One-shot gate replay of [[joinViewIngestTwoSided]]: three staged
    * fact batches while the DIM ITSELF CHANGES mid-stream — batch 0
    * bootstraps the dim (weight = user % 5 + 1), batch 1 reweights
    * every user % 3 == 0 to (user % 7 + 1), batch 2 brings no dim
    * change (the ΔB leg must vanish). The returned head view must
    * equal recomputing the weighted fact⋈dim aggregate over ALL
    * events under the FINAL dim — exactly what the DuckDB oracle
    * does. */
  def joinViewTwoSidedAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String): DataFrame = {
    val ev = graft.Tables.eventsAsHabits(spark, dir)
    stageRanges(spark, ev, 3, "ts", workDir)
    val dimTs = to_timestamp(lit("2024-01-01 00:00:00"))
    // materialized once for the same reason as the one-sided replay:
    // both dim batches derive from this relation inside tick closures
    val users = ev.select(col("user_email")).distinct()
      .localCheckpoint(true)
    val dim0 = users
      .withColumn("ts", dimTs)
      .withColumn("weight", (col("user_email") % 5 + 1).cast("double"))
    val dim1 = users.filter(col("user_email") % 3 === 0)
      .withColumn("ts", dimTs)
      .withColumn("weight", (col("user_email") % 7 + 1).cast("double"))
    val factStore = s"$workDir/fact"
    val viewDir = s"$workDir/view"
    try replayStaged(spark, workDir, queryName, ev.schema) { stream =>
      joinViewIngestTwoSided(stream, factStore, s"$workDir/dim", viewDir,
        dimForBatch = {
          case 0L => Some(dim0)
          case 1L => Some(dim1)
          case _ => None
        },
        joinKeys = Seq("user_email"), factCols = Seq("habit", "value"),
        dimCols = Seq("weight"), dims = Seq("habit"),
        contribE6 = round(col("value") * col("weight") * 1e6).cast("long"),
        checkpointDir = s"$workDir/cp", queryName = queryName,
        dimKeys = Seq("user_email"))
    } {
      val headF = graft.load.VersionedStore.versions(spark, factStore).last
      require(headF >= 2, s"expected >= 3 fact commits, head is $headF")
      val headD = graft.load.VersionedStore
        .versions(spark, s"$workDir/dim").last
      spark.read.parquet(s"$viewDir/v${headF}_$headD")
    } finally {
      // dim0/dim1 derive from this pin inside tick closures only
      graft.ext.Pinned.release(users)
    }
  }

  /** Per-micro-batch drift monitor: every batch's value distribution
    * is scored against a FIXED reference frame with
    * [[graft.ext.Profile.psiDrift]] and the per-bin PSI rows land in
    * an append-only parquet sink keyed by batch id — the monitoring
    * feed a continuously-ingesting pipeline alarms on (PSI > 0.2 on
    * any recent batch ⇒ investigate the source). The reference is
    * re-histogrammed per tick here for oracle-exactness; a production
    * deployment aggregates the reference histogram once and broadcasts
    * the counts — the batch side's one aggregate is the only
    * data-sized work either way. */
  def driftStream(stream: DataFrame, ref: DataFrame, valueCol: String,
      lo: Double, hi: Double, buckets: Int, sinkPath: String,
      checkpointDir: String, queryName: String,
      trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    ledgerStream(stream, checkpointDir, queryName, trigger) { (df, id) =>
      graft.ext.Profile.psiDrift(ref, df, valueCol, lo, hi, buckets)
        .withColumn("batch_id", lit(id))
        .coalesce(1)
        .write.mode("append").parquet(sinkPath)
    }

  /** One-shot gate replay of [[driftStream]]: the purchase-value
    * stream arrives in ONE batch and scores against the click-value
    * reference, so the sink holds exactly the batch
    * [[graft.ext.Profile.psiDrift]] rows — the q_drift_psi oracle.
    * (A second batch would double the row count and fail the gate
    * loudly, pinning the single-batch assumption.) */
  def driftAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String): DataFrame =
    withStagedEvents(spark, dir) { mkStream =>
      val ref = graft.Tables.read(spark, dir, "events")
        .filter(col("event_type") === "click")
      awaitOneShot(
        driftStream(mkStream().filter(col("event_type") === "purchase"),
          ref, "value", lo = 0.0, hi = 512.0, buckets = 16,
          s"$workDir/sink", s"$workDir/cp", queryName),
        queryName)
      spark.read.parquet(s"$workDir/sink")
        .select(col("bucket"), col("ref_n"), col("cur_n"), col("psi_e6"))
        .orderBy(col("bucket"))
    }

  /** One-shot replay of [[versionedIngest]] over the events table —
    * the oracle-gate entry runs it TWICE with fresh checkpoints (so
    * the engine's own checkpoint replay protection is out of the way)
    * and asserts the second run's batch 0 is deduplicated by the
    * committed batch id, leaving one version and no double-merge. */
  def versionedIngestAvailableNow(spark: SparkSession, dir: String,
      storePath: String, checkpointDir: String, queryName: String): Unit =
    withStagedEvents(spark, dir) { mkStream =>
      val stream = mkStream()
        .withColumnRenamed("user_id", "user_email")
        .withColumnRenamed("event_type", "habit")
      awaitOneShot(
        versionedIngest(stream, storePath, checkpointDir, queryName),
        queryName)
    }

  /** One-shot (`AvailableNow`) replay of [[sessionizeStream]] over the
    * events table for the oracle gate. A single batch delivers every
    * user's events to one `flatMapGroupsWithState` call in event-time
    * order, so the replay equals the batch gaps-and-islands
    * sessionization ([[graft.analytics.Habits.sessionize]]) row for
    * row — which is exactly what the shared DuckDB oracle asserts.
    * `user_id` rides as a string key through the typed stream and is
    * cast back to long by the caller for oracle parity. */
  def sessionizeAvailableNow(spark: SparkSession, dir: String,
      gapMinutes: Int, queryName: String): DataFrame =
    withStagedEvents(spark, dir) { mkStream =>
      import spark.implicits._
      val stream = mkStream()
        .select(col("user_id").cast("string").as("user_email"), col("ts"))
        .as[SessionEvent]
      val q = sessionizeStream(stream, gapMinutes)
        .writeStream.format("memory").queryName(queryName)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      awaitOneShot(q, queryName)
      spark.table(queryName)
    }

  /** One-shot (`AvailableNow`) replay of the stream-stream
    * [[intervalJoinStream]] over the events table, for the oracle gate:
    * pairs each `leftHabit` event with the same user's `rightHabit`
    * events inside `[ts − lower, ts + upper]`. Inner-join rows emit as
    * they match (no watermark wait), and the generous watermark only
    * bounds STATE — batch-1 data is never late, so the replay equals
    * the batch theta join row-for-row, which is exactly what the DuckDB
    * oracle asserts. Staging/`ts` handling mirrors
    * [[habitDailyAvailableNow]]. */
  def intervalJoinAvailableNow(spark: SparkSession, dir: String,
      leftHabit: String, rightHabit: String, lower: String, upper: String,
      queryName: String): DataFrame = {
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "intervalJoinAvailableNow requires spark.sql.session.timeZone=UTC")
    withStagedEvents(spark, dir) { mkStream =>
      def side(habit: String) = mkStream()
        .withColumnRenamed("user_id", "user_email")
        .filter(col("event_type") === habit)
        .select(col("event_id"), col("user_email"), col("ts"))
      val joined = intervalJoinStream(side(leftHabit), side(rightHabit),
        "user_email", "ts", lower, upper, watermark = "3650 days")
      val q = joined.writeStream.format("memory").queryName(queryName)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      awaitOneShot(q, queryName)
      spark.table(queryName)
    }
  }

  /** One-shot gate replay of [[dedupStreamIncremental]]: the documents
    * corpus is staged as two files (hash-split on doc_id) and streamed
    * one file per trigger, so tick 0 bootstraps the corpus store
    * (batch-internal pairs) and tick 1 runs the true incremental path
    * (batch×corpus + batch-internal). Every pair of the full corpus
    * lands in exactly ONE tick's ledger append — within-tick pairs in
    * their own tick, cross-tick pairs in the later doc's tick — so the
    * accumulated ledger equals the batch
    * [[graft.ext.Dedup.minhashDupPairs]] over the whole corpus: the
    * shared q_dedup_minhash oracle, with no stream-specific oracle
    * needed. */
  def dedupIncrementalAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String, threshold: Double = 0.5)
      : DataFrame = {
    val docs = graft.Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    replayTicks(spark, workDir, queryName,
        hashTicks(docs, "doc_id", 2)) { stream =>
      dedupStreamIncremental(stream, s"$workDir/corpus",
        s"$workDir/pairs", s"$workDir/cp", "doc_id", "text", threshold)
    } {
      spark.read.parquet(s"$workDir/pairs")
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }
  }

  /** Streaming SIGNATURE/BAND-LEDGER dedup — [[dedupStreamIncremental]]
    * with its documented scale contract made real: each tick stores its
    * own [[graft.ext.Dedup.minhashBandRelation]] under
    * `workPath/bands/batch=<id>` (the at-ingest sufficient statistic)
    * and finds its duplicate pairs by PROBING the prior ticks' stored
    * bands ([[graft.ext.Dedup.minhashDupPairsFromLedger]]) — history is
    * never re-shingled, and the exact-Jaccard verify re-reads only
    * candidate-matched corpus docs. Per-tick hashing cost is O(tick),
    * independent of how much corpus the ledger has accumulated
    * (ScaleProbe `band_ledger` measures it flat as stored history grows
    * 1× → 10×). Pairs land under `workPath/pairs/batch=<id>`; replay
    * safety is the same idempotent `batch=<id>` overwrite discipline,
    * and each tick ends with `clearCache`. */
  def bandLedgerIngest(docs: DataFrame, workPath: String,
      checkpointDir: String, idCol: String, textCol: String,
      threshold: Double = 0.5, queryName: String = "")
      : StreamingQuery =
    ledgerStream(docs, checkpointDir, queryName) { (batch, batchId) =>
      val sp = batch.sparkSession
      val corpusPath = s"$workPath/corpus"
      val bandsPath = s"$workPath/bands"
      // pin THROUGH the tick's own corpus state write (r17): the
      // corpus `batch=<id>` subdir has to be written anyway, and a
      // parquet read-back is the same eviction-immune replay-safe
      // pin a localCheckpoint was — one job instead of a pin job
      // PLUS a corpus write, with per-consumer column pruning for
      // free. Replay-safe: overwrite mode, and priorDirs below
      // excludes this tick's own (possibly replayed) subdir.
      batch.write.mode("overwrite")
        .parquet(s"$corpusPath/batch=$batchId")
      val df = sp.read.parquet(s"$corpusPath/batch=$batchId")
      val prior = priorDirs(sp, corpusPath, batchId)
      val priorBands = priorDirs(sp, bandsPath, batchId)
      val pairs =
        if (prior.nonEmpty) {
          require(priorBands.length == prior.length,
            s"band ledger: ${prior.length} corpus tick(s) but " +
              s"${priorBands.length} band tick(s)")
          graft.ext.Dedup.minhashDupPairsFromLedger(
            df, sp.read.parquet(priorBands.toSeq: _*),
            sp.read.parquet(prior.toSeq: _*), idCol, textCol,
            threshold)
        } else
          graft.ext.Dedup.minhashDupPairs(df, idCol, textCol, threshold)
      // two independent writes off the on-disk batch (pairs probes
      // the PRIOR ledger, bands is the tick's own state) — overlap
      // them (r16, guide §2.6)
      parWrites(
        "pairs" -> (() => pairs.write.mode("overwrite")
          .parquet(s"$workPath/pairs/batch=$batchId")),
        "bands" -> (() =>
          graft.ext.Dedup.minhashBandRelation(df, idCol, textCol)
            .write.mode("overwrite")
            .parquet(s"$bandsPath/batch=$batchId")))
      sp.catalog.clearCache()
    }

  /** Drive [[bandLedgerIngest]] over the driver's documents as a
    * two-tick bounded stream and return the accumulated pair ledger —
    * tick pairs union to exactly the offline full-corpus minhash dedup,
    * so the gate shares the q_dedup_minhash oracle. */
  def bandLedgerAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String, threshold: Double = 0.5)
      : DataFrame = {
    val docs = graft.Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    replayTicks(spark, workDir, queryName,
        hashTicks(docs, "doc_id", 2)) { stream =>
      bandLedgerIngest(stream, workDir, s"$workDir/cp",
        "doc_id", "text", threshold, queryName)
    } {
      spark.read.parquet(s"$workDir/pairs")
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }
  }

  /** Streaming CLUSTER-LABEL ledger: each micro-batch of documents
    * pairs against the accumulated corpus through the maintained
    * SIGNATURE/BAND ledger ([[graft.ext.Dedup.minhashBandRelation]]
    * stored per tick under `bands/batch=<id>`,
    * [[graft.ext.Dedup.minhashDupPairsFromLedger]] probing it — the
    * corpus is never re-shingled; the verify re-reads candidate-matched
    * docs only) and the `(id, cluster_id)` label relation re-folds
    * through [[graft.ext.Dedup.dupClustersIncremental]] — per-tick cost
    * is the tick's own hashing + pairs plus the NODE-sized label
    * relation, never the historical pair set or the historical text.
    * The ledger after the final tick equals the offline CC over the
    * whole corpus's pairs (the star-edge algebra q_cluster_incremental
    * gates and the ScalaCheck property pins), so the streaming gate
    * shares the full-CC oracle.
    *
    * Replay safety: corpus and band ticks are idempotent `batch=<id>`
    * overwrite subdirs (the [[dedupStreamIncremental]] discipline); the
    * label relation is a SNAPSHOT per tick under `labels/batch=<id>`,
    * and a tick folds from the latest snapshot STRICTLY OLDER than
    * itself — a replayed tick re-reads the same prior state and
    * rewrites its own snapshot, converging byte-identically. Each tick
    * ends with `clearCache` so the pair-finder's persisted
    * shingle/band relations don't accumulate across a long-running
    * stream. */
  def clusterLedgerIngest(docs: DataFrame, workPath: String,
      checkpointDir: String, idCol: String, textCol: String,
      threshold: Double = 0.5, queryName: String = "")
      : StreamingQuery =
    ledgerStream(docs, checkpointDir, queryName) { (batch, batchId) =>
      val sp = batch.sparkSession
      val corpusPath = s"$workPath/corpus"
      val labelsPath = s"$workPath/labels"
      val bandsPath = s"$workPath/bands"
      // pin THROUGH the corpus state write (r17, the bandLedger
      // note): one job where the tick paid a checkpoint pin AND a
      // corpus copy; replay-safe because priorDirs excludes this
      // tick's own subdir
      val (df, corpusMs) = timedMs {
        batch.write.mode("overwrite")
          .parquet(s"$corpusPath/batch=$batchId")
        sp.read.parquet(s"$corpusPath/batch=$batchId")
      }
      val prior = priorDirs(sp, corpusPath, batchId)
      val priorBands = priorDirs(sp, bandsPath, batchId)
      // stage-attributed tick (the BASELINE.md q_cluster_stream
      // table): probe = pair-finding against the stored ledger,
      // materialized here so the CC fold reads blocks instead of
      // replaying the probe per iteration; fold = incremental CC +
      // label snapshot write; bands/corpus = the at-ingest state
      // later ticks probe (work the pre-ledger r11 tick did not do)
      val ((pairsOpt, candRows), probeMs) = timedMs {
        if (prior.isEmpty) (None, -1L)
        else {
          require(priorBands.length == prior.length,
            s"cluster ledger: ${prior.length} corpus tick(s) but " +
              s"${priorBands.length} band tick(s) — the signature " +
              "ledger is out of step with the corpus store")
          // census form: the tick's stage line carries the probe's
          // candidate count, so band-bucket degradation shows up
          // as a rising per-tick column instead of wall-time
          // pairs come back PINNED from the census (r16) — the
          // release below frees them once the fold consumed them
          val (pairs, cand) = graft.ext.Dedup.minhashLedgerProbeCensus(
            df, sp.read.parquet(priorBands.toSeq: _*),
            sp.read.parquet(prior.toSeq: _*), idCol, textCol,
            threshold)
          (Some(pairs), cand)
        }
      }
      val (labels, labelMs) = timedMs {
        pairsOpt match {
          case None =>
            graft.ext.Dedup.dupClusters(graft.ext.Dedup
              .minhashDupPairs(df, idCol, textCol, threshold))
          case Some(pairs) =>
            graft.ext.Dedup.dupClustersIncremental(
              priorLabels(sp, labelsPath, batchId, "cluster"), pairs)
        }
      }
      // label snapshot (checkpointed by dupClusters) and the
      // tick's band relation (the at-ingest sufficient statistic
      // later ticks probe) are independent writes off materialized
      // state — overlap them (r16, guide §2.6; the corpus copy now
      // IS the pin above)
      val stageWrites = timedMs {
        parWrites(
          "labels" -> (() => labels.write.mode("overwrite")
            .parquet(s"$labelsPath/batch=$batchId")),
          "bands" -> (() =>
            graft.ext.Dedup.minhashBandRelation(df, idCol, textCol)
              .write.mode("overwrite")
              .parquet(s"$bandsPath/batch=$batchId")))
      }
      val perWrite = stageWrites._1.toMap
      val foldMs = labelMs + perWrite("labels")
      val bandMs = perWrite("bands")
      // release this tick's persisted shingle/band relations (the
      // pair-finders' documented caching contract: the CALLER
      // clears) — a long-running stream must not accumulate them
      sp.catalog.clearCache()
      // ...and the pair pin (checkpoint blocks are outside the
      // relation cache); the batch itself is parquet-backed now
      pairsOpt.foreach(graft.ext.Pinned.release)
      recordTickStages(queryName, batchId, Seq("probe" -> probeMs,
        "fold" -> foldMs, "bands" -> bandMs, "corpus" -> corpusMs) ++
        (if (candRows >= 0) Seq("cand_rows" -> candRows) else Nil))
    }

  /** Drive [[clusterLedgerIngest]] over the driver's documents as a
    * two-tick bounded stream and return the FINAL label snapshot —
    * the batch full-CC oracle checks it. */
  def clusterIncrementalAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String,
      threshold: Double = 0.5): DataFrame = {
    val docs = graft.Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    replayTicks(spark, workDir, queryName,
        hashTicks(docs, "doc_id", 2)) { stream =>
      clusterLedgerIngest(stream, workDir, s"$workDir/cp",
        "doc_id", "text", threshold, queryName)
    } {
      spark.read.parquet(latestBatchDir(spark, s"$workDir/labels").get)
    }
  }

  /** Streaming CURATION-PIPELINE ledger: the at-ingest state that makes
    * the composed pretraining pipeline (gates → dedup → mixture →
    * tokenize → pack → export) incremental. Each micro-batch of
    * documents
    *
    *   1. GATES its own rows once (language id + quality score — pure
    *      per-row expressions, evaluated at ingest and never again) and
    *      appends the survivors `(id, text, source, quality, n_tokens)`
    *      under `gated/batch=<id>`;
    *   2. stores their [[graft.ext.Dedup.simhashSignaturesLocal]]
    *      relation under `sigs/batch=<id>` — for SimHash the 60-bit
    *      signature is BY ITSELF the verify statistic (exact Hamming
    *      needs no text), so unlike the MinHash band ledger the stored
    *      corpus text is never re-read, not even for candidates;
    *   3. finds batch-touching near-dup pairs by probing the stored
    *      signature ledger
    *      ([[graft.ext.Dedup.simhashDupPairsFromLedger]]) and folds
    *      them into the node-sized cluster-label snapshot
    *      ([[graft.ext.Dedup.dupClustersIncremental]]) under
    *      `labels/batch=<id>`;
    *   4. writes its per-doc word census
    *      ([[graft.ext.Bpe.docWordCensus]]) under `words/batch=<id>` —
    *      the tokenizer trainer's sufficient statistic, additive
    *      across ticks and semi-joinable to any survivor subset, so
    *      the refresh's BPE train step is census-sized
    *      ([[graft.ext.Bpe.bpeTrainFromWords]]) instead of
    *      re-splitting stored text.
    *
    * Per-tick cost: the tick's own shingling + a chunk equi-join
    * against 16-byte ledger rows + the label fold — independent of
    * accumulated corpus size. Replay safety is the house idempotent
    * `batch=<id>` overwrite discipline (gated/sigs are per-tick
    * products; labels snapshot folds from the latest snapshot STRICTLY
    * older than the tick, so a replayed tick converges byte-identically
    * — the [[clusterLedgerIngest]] contract). Each tick ends with
    * `clearCache` (the pair-finder caching contract).
    *
    * The gate parameters mirror [[graft.ext.Curation.curate]]'s
    * defaults used by `q_pipeline_export`, and the head reader
    * ([[pipelineIncrementalAvailableNow]]) finishes with the identical
    * [[graft.ext.Curation.mixPackExport]] tail — so the final export
    * shares the batch composition's oracle cell-exactly. */
  def pipelineLedgerIngest(docs: DataFrame, workPath: String,
      checkpointDir: String, idCol: String, textCol: String,
      lang: String = "en", minQuality: Double = 60.0,
      maxHamming: Int = 7, queryName: String = "",
      geometry: graft.ext.Dedup.SigProbeGeometry =
        graft.ext.Dedup.ChunkGeometry(),
      failOnDegraded: Boolean = true)
      : StreamingQuery =
    ledgerStream(docs, checkpointDir, queryName) { (batch, batchId) =>
      import graft.ext.{Dedup, TextAnalysis}
      val sp = batch.sparkSession
      val gatedPath = s"$workPath/gated"
      val sigsPath = s"$workPath/sigs"
      val labelsPath = s"$workPath/labels"
      // gate once, at ingest — the exact Curation.curate stage-1/2
      // semantics via the typed kernel twin (bit-identical values,
      // ExtSpec-pinned), so survivors match the batch pipeline's
      // `kept`. r17: the gate output pins THROUGH its own state
      // write — the `gated/batch=<id>` subdir had to be written
      // anyway, and the parquet read-back is the same replay-safe
      // pin the checkpoint was, one job instead of two (plus
      // column pruning per consumer).
      val (gated, gateMs) = timedMs {
        TextAnalysis.langQualityGateLocal(batch, idCol,
            textCol, lang, minQuality, carryCols = Seq("source"))
          .write.mode("overwrite")
          .parquet(s"$gatedPath/batch=$batchId")
        sp.read.parquet(s"$gatedPath/batch=$batchId") }
      // the words census (the tokenizer trainer's sufficient
      // statistic, additive across ticks) reads only the on-disk
      // gated state — run it CONCURRENTLY with the sig/probe/fold
      // chain below (guide §2.6) instead of at the tick's tail
      import scala.concurrent.{Await, Future, blocking}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val wordsF = Future(blocking(timedMs {
        graft.ext.Bpe.docWordCensus(gated, idCol, textCol)
          .write.mode("overwrite")
          .parquet(s"$workPath/words/batch=$batchId") }._2))
      val priorSigs = priorDirs(sp, sigsPath, batchId)
      // the tick's dominant cost, paid exactly once: the signature
      // relation both JOINS the ledger and drives this tick's pair
      // probe — pinned through its own `sigs/batch=<id>` state
      // write (r17), one job instead of pin + write
      val (sig, sigMs) = timedMs {
        Dedup.simhashSignaturesLocal(gated, idCol, textCol)
          .write.mode("overwrite")
          .parquet(s"$sigsPath/batch=$batchId")
        sp.read.parquet(s"$sigsPath/batch=$batchId") }
      // census probe under the configured geometry (empty ledger on
      // tick 0 → batch-internal pairs only, same set as the direct
      // pigeonhole): the stage line carries the candidate count and
      // the occupancy guard fails a degraded corpus AT THE TICK
      val ledgerSig =
        if (priorSigs.isEmpty) sig.limit(0)
        else sp.read.parquet(priorSigs.toSeq: _*)
      val ((pairs, probeStats), probeMs) = timedMs {
        Dedup.simhashLedgerProbeCensus(sig, ledgerSig, idCol,
          maxHamming, geometry) }
      guardOccupancy(probeStats, s"pipeline ledger tick $batchId",
        failOnDegraded)
      val labels =
        if (priorSigs.isEmpty) Dedup.dupClusters(pairs)
        else Dedup.dupClustersIncremental(
          priorLabels(sp, labelsPath, batchId, "pipeline"), pairs)
      val (_, foldMs) = timedMs {
        labels.write.mode("overwrite")
          .parquet(s"$labelsPath/batch=$batchId") }
      // gated/sig state landed as the pins above; the words census
      // has been running concurrently since the gate — collect its
      // wall now (it bounds the tick only when it outlasts the
      // whole sig/probe/fold chain)
      val stateMs = Await.result(wordsF, Duration.Inf)
      sp.catalog.clearCache()
      // the pair pin is dead once the fold consumed it —
      // clearCache does not release checkpoint blocks; gated/sig
      // are parquet-backed now, nothing to free there
      graft.ext.Pinned.release(pairs)
      recordTickStages(queryName, batchId, Seq("gate" -> gateMs,
        "sig" -> sigMs, "probe" -> probeMs, "fold" -> foldMs,
        "state" -> stateMs,
        "cand_rows" -> probeStats.candidates,
        "pair_rows" -> probeStats.pairs,
        // the geometry actually probed (Auto records its pick as
        // `geo_auto-><arm>`) — the decision is ON the stage line
        s"geo_${probeStats.geometry}" -> 1L))
    }

  /** Drive [[pipelineLedgerIngest]] over the driver's documents as a
    * two-tick bounded stream, then run the
    * [[graft.ext.Curation.mixPackExport]] tail at the HEAD over the
    * accumulated state: survivors = gated rows minus non-canonical
    * cluster members (latest label snapshot), split-labeled exactly as
    * [[graft.ext.Curation.curate]], train slice joined to its stored
    * source/text. Returns the final export-shard relation — equal to
    * the batch `q_pipeline_export` composition, whose oracle it
    * shares. */
  def pipelineIncrementalAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String, ticks: Int = 2,
      geometry: graft.ext.Dedup.SigProbeGeometry =
        graft.ext.Dedup.ChunkGeometry()): DataFrame = {
    require(ticks >= 2, "an incremental gate needs at least two ticks")
    val docs = graft.Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    replayTicks(spark, workDir, queryName,
        hashTicks(docs, "doc_id", ticks)) { stream =>
      pipelineLedgerIngest(stream, workDir, s"$workDir/cp",
        "doc_id", "text", queryName = queryName, geometry = geometry)
    } {
      val gated = spark.read.parquet(s"$workDir/gated/batch=*")
      // survivors: docs in no duplicate pair + cluster canonicals —
      // the Curation.curate stage-3/4 semantics over ledger state
      val surv = graft.ext.Dedup.keepCanonical(gated, "doc_id",
          spark.read.parquet(latestBatchDir(spark, s"$workDir/labels").get))
        .select(col("doc_id"), col("n_tokens"), col("source"),
          graft.ext.Sampling.splitLabel(col("doc_id"),
            Seq("train" -> 90), "val").as("split"))
      val withSrc = surv.filter(col("split") === "train")
        .select(col("doc_id"), col("n_tokens"), col("source"))
      graft.ext.Curation.mixPackExport(withSrc,
        gated.select(col("doc_id"), col("text")), "doc_id", "text",
        // train the tokenizer from the maintained word-census ledger
        // (mixture-scoped inside mixPackExport) — the refresh's train
        // step is census-sized; only the encode stage reads text
        docWords = Some(spark.read.parquet(s"$workDir/words/batch=*")))
    }
  }

  /** Streaming FILTER-FUNNEL ledger: the attrition report a production
    * curation pipeline PUBLISHES CONTINUOUSLY (documents and tokens
    * surviving each successive published gate — the one-shot batch
    * report is `q_filter_funnel`), maintained from per-tick state so
    * the dashboard never rescans the corpus. Each micro-batch
    *
    *   1. evaluates the per-row gates on ITS docs once — Gopher format,
    *      the Gopher repetition kernel, the rendered-page C4 gate,
    *      language id + quality score: the EXACT batch-funnel stage
    *      expressions, stacked as columns on one pass;
    *   2. writes the tick's ADDITIVE stage census `(stage, n_docs,
    *      n_tokens)` for the five per-row stages under
    *      `census/batch=<id>` — counts are non-negative and per-doc
    *      disjoint across ticks, so the subdirs SUM to the batch
    *      report's rows (a stage empty in every tick stays absent,
    *      matching the batch inner aggregate);
    *   3. stores the all-gates survivors `(id, n_tokens)` under
    *      `surv/batch=<id>` and their SimHash signatures under
    *      `sigs/batch=<id>`;
    *   4. probes the signature ledger for batch-touching near-dup
    *      pairs ([[graft.ext.Dedup.simhashDupPairsFromSigLedger]]) and
    *      folds them into the node-sized label snapshot
    *      ([[graft.ext.Dedup.dupClustersIncremental]]) under
    *      `labels/batch=<id>`.
    *
    * The head report is then: stages 1-5 = summed censuses; stage 6 =
    * the canonical-survivor rule over (survivor union, latest labels)
    * — identical to the batch funnel, whose oracle the gate shares.
    * Per-tick cost tracks the tick (gates + shingling + a 16-byte
    * ledger probe + the label fold); the head costs census- and
    * id-relation-sized reads, never text. Replay safety is the house
    * idempotent `batch=<id>` overwrite discipline; labels fold from
    * the latest snapshot STRICTLY older than the tick (the
    * [[clusterLedgerIngest]] contract), so a replayed tick converges
    * byte-identically. */
  def funnelLedgerIngest(docs: DataFrame, workPath: String,
      checkpointDir: String, idCol: String, textCol: String,
      lang: String = "en", minQuality: Double = 60.0,
      maxHamming: Int = 7, queryName: String = "",
      geometry: graft.ext.Dedup.SigProbeGeometry =
        graft.ext.Dedup.ChunkGeometry(),
      failOnDegraded: Boolean = true)
      : StreamingQuery =
    ledgerStream(docs, checkpointDir, queryName) { (batch, batchId) =>
      import graft.ext.{Dedup, TextAnalysis}
      val sp = batch.sparkSession
      // pin the micro-batch once — three consumers scan it (the
      // repetition kernel, the synthetic page, the flag build),
      // same discipline as the cluster/pipeline ledger ticks
      val d = batch.localCheckpoint(true)
      val gr = TextAnalysis.gopherRepetitionLocal(d, idCol, textCol)
        .select(col(idCol), col("pass_repetition").as("p_gr"))
      val c4 = TextAnalysis.c4Rules(
          TextAnalysis.c4SyntheticPage(d, idCol, textCol),
          idCol, "page")
        .select(col(idCol), col("pass").as("p_c4"))
      // one pass, gates stacked as columns — the batch funnel's
      // flag frame, per tick; pinned because census, survivors and
      // signatures all read it. r16: the per-row trio via the
      // typed kernel twin (bit-identical, ExtSpec-pinned)
      val flags = TextAnalysis.gopherLangFlagsLocal(d, idCol,
          textCol, lang, minQuality, keepText = true)
        .join(gr, Seq(idCol)).join(c4, Seq(idCol))
        .withColumn("p3", col("p_gf") && col("p_gr"))
        .withColumn("p4", col("p3") && col("p_c4"))
        .withColumn("p5", col("p4") && col("p_lq"))
        .localCheckpoint(true)
      // ONE aggregate pass builds all five stage rows (r17): the
      // 5-way union-of-filters re-scanned the pinned flag frame
      // five times and paid a groupBy shuffle for a 5-row result;
      // `count(when(p,1))`/`sum(when(p,n_tokens))` are exactly
      // `filter(p)`'s count/sum (when() is null on false/null
      // rows, and count/sum skip nulls), and the trailing
      // `n_docs > 0` filter reproduces the inner groupBy's
      // empty-stage drop.
      val stages = Seq(
        "1_all" -> lit(true), "2_gopher_format" -> col("p_gf"),
        "3_gopher_repetition" -> col("p3"), "4_c4" -> col("p4"),
        "5_lang_quality" -> col("p5"))
      val aggs = stages.flatMap { case (n, p) => Seq(
        count(when(p, 1)).as(s"c_$n"),
        sum(when(p, col("n_tokens"))).as(s"t_$n")) }
      // the census reads only the pinned flag frame — run its
      // write CONCURRENTLY with the sig/probe/fold chain below
      // (guide §2.6) instead of serializing the tick behind it
      import scala.concurrent.{Await, Future, blocking}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val censusF = Future(blocking {
        flags.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(stages.map { case (n, _) =>
            struct(lit(n).as("stage"), col(s"c_$n").as("n_docs"),
              col(s"t_$n").as("n_tokens")) }: _*)).as("s"))
          .select(col("s.stage"), col("s.n_docs"), col("s.n_tokens"))
          .filter(col("n_docs") > 0)
          .coalesce(1)
          .write.mode("overwrite")
          .parquet(s"$workPath/census/batch=$batchId")
      })
      val surv = flags.filter(col("p5"))
      val sigsPath = s"$workPath/sigs"
      val labelsPath = s"$workPath/labels"
      // the signature relation pins THROUGH its own state write
      // (r17): one job where the tick paid a checkpoint pin and a
      // later sig write
      val sig = {
        Dedup.simhashSignaturesLocal(surv, idCol, textCol)
          .write.mode("overwrite")
          .parquet(s"$sigsPath/batch=$batchId")
        sp.read.parquet(s"$sigsPath/batch=$batchId")
      }
      val priorSigs = priorDirs(sp, sigsPath, batchId)
      // census probe under the configured geometry (empty ledger on
      // tick 0 → batch-internal pairs only): stage line carries the
      // candidate count, occupancy guard fails a degraded corpus at
      // the tick (the pipelineLedgerIngest contract)
      val ledgerSig =
        if (priorSigs.isEmpty) sig.limit(0)
        else sp.read.parquet(priorSigs.toSeq: _*)
      val ((pairs, probeStats), probeMs) = timedMs {
        Dedup.simhashLedgerProbeCensus(sig, ledgerSig, idCol,
          maxHamming, geometry) }
      guardOccupancy(probeStats, s"funnel ledger tick $batchId",
        failOnDegraded)
      val labels =
        if (priorSigs.isEmpty) Dedup.dupClusters(pairs)
        else Dedup.dupClustersIncremental(
          priorLabels(sp, labelsPath, batchId, "funnel"), pairs)
      // labels (checkpointed by dupClusters) and surv (off the
      // pinned flags) are materialized and independent — overlap
      // the two writes (r16, guide §2.6; sig landed as its pin)
      val (_, foldMs) = timedMs {
        parWrites(
          "labels" -> (() => labels.write.mode("overwrite")
            .parquet(s"$labelsPath/batch=$batchId")),
          "surv" -> (() => surv.select(col(idCol), col("n_tokens"))
            .write.mode("overwrite")
            .parquet(s"$workPath/surv/batch=$batchId")))
        () }
      // the census has been writing concurrently since the flag
      // frame pinned — the tick completes only when it landed
      Await.result(censusF, Duration.Inf)
      sp.catalog.clearCache()
      graft.ext.Pinned.release(d)
      graft.ext.Pinned.release(flags)
      graft.ext.Pinned.release(pairs)
      recordTickStages(queryName, batchId, Seq("probe" -> probeMs,
        "fold" -> foldMs,
        "cand_rows" -> probeStats.candidates,
        "pair_rows" -> probeStats.pairs,
        // the geometry actually probed (Auto records its pick as
        // `geo_auto-><arm>`) — the decision is ON the stage line
        s"geo_${probeStats.geometry}" -> 1L))
    }

  /** Streaming URL-canonicalization ledger: each micro-batch
    * canonicalizes ITS OWN rows once, at ingest (the typed kernel —
    * the hot-path form), and appends the `(id, url_canon)` relation
    * under the idempotent `urls/batch=<id>` discipline. The relation
    * is additive across doc-partitioned ticks, so the URL-dedup
    * report (keeper = min id per canonical URL + refetch count) is a
    * pure aggregation over the summed ledger — raw URLs are never
    * re-canonicalized, the exact at-ingest sufficient-statistic
    * pattern of the signature/band/census ledgers. Replay safety is
    * the house `batch=<id>` overwrite. */
  def urlLedgerIngest(docs: DataFrame, workPath: String,
      checkpointDir: String, idCol: String, urlCol: String,
      queryName: String = "")
      : StreamingQuery =
    ledgerStream(docs, checkpointDir, queryName) { (batch, batchId) =>
      graft.ext.Urls.urlCanonicalLocal(batch, idCol, urlCol)
        .select(col(idCol), col("url_canon"),
          // the frontier verdict rides the ledger (r15): the
          // filter is pure narrow expressions over the canonical,
          // so the crawl's keep/drop decision is paid once, at
          // ingest, and the attrition report is a ledger
          // aggregation — raw URLs never re-canonicalized OR
          // re-judged
          graft.ext.Urls.urlFilter(col("url_canon"))
            .getField("reason").as("reason"))
        .write.mode("overwrite")
        .parquet(s"$workPath/urls/batch=$batchId")
    }

  /** Drive [[urlLedgerIngest]] over the driver documents (URL fixture
    * built at ingest) as a bounded multi-tick stream, then derive the
    * URL-dedup report from the MAINTAINED ledger alone — equal to the
    * one-shot `q_url_dedup`, whose oracle the gate shares. */
  def urlStreamAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String, ticks: Int = 2): DataFrame = {
    require(ticks >= 2, "a url ledger gate needs at least two ticks")
    val docs = graft.Tables.read(spark, dir, "documents")
      .select(col("doc_id"),
        graft.ext.Urls.demoUrl(col("doc_id"), col("source")).as("url"))
    replayTicks(spark, workDir, queryName,
        hashTicks(docs, "doc_id", ticks)) { stream =>
      urlLedgerIngest(stream, workDir, s"$workDir/cp",
        "doc_id", "url", queryName = queryName)
    } {
      val u = spark.read.parquet(s"$workDir/urls/batch=*")
        .select(col("doc_id"), col("url_canon"))
      val keepers = u.groupBy(col("url_canon"))
        .agg(min(col("doc_id")).as("keeper"),
          count(lit(1)).as("n_fetches"))
      u.join(keepers, "url_canon")
        .select(col("doc_id"), col("url_canon"),
          (col("doc_id") === col("keeper")).as("keep"),
          col("n_fetches"))
        .orderBy(col("doc_id"))
    }
  }

  /** Streaming WEB-pipeline ledgers: each micro-batch pays the
    * crawl's EXTRACTION stages exactly once, at ingest — URL
    * canonicalization (typed kernel) into `urls/batch=<id>`, HTML
    * render + block extraction + jusText gate into
    * `blocks/batch=<id>` (KEPT blocks only: `(id, block_idx,
    * block_text)`), and `(id, source)` provenance into
    * `meta/batch=<id>`. Keeper status (URL and paragraph) is GLOBAL —
    * a later tick can carry the smaller-id fetch of an already-seen
    * canonical, stealing keeper status retroactively — so the head
    * derives both keeper rules from the SUMMED ledgers (hash
    * aggregations over ledger-sized state; pages are never
    * re-rendered — the expensive extraction is the at-ingest
    * sufficient statistic). Replay safety: the house idempotent
    * `batch=<id>` overwrite discipline. */
  def webLedgerIngest(docs: DataFrame, workPath: String,
      checkpointDir: String, idCol: String, textCol: String,
      urlCol: String, queryName: String = "")
      : StreamingQuery =
    ledgerStream(docs, checkpointDir, queryName) { (batch, batchId) =>
      import graft.ext.TextAnalysis
      // r17: no checkpoint pin — the micro-batch source is staged
      // parquet, and each extraction write needs a DIFFERENT
      // column slice (url, text, source). The pin forced one
      // full-width row materialization plus three full-width block
      // scans; three direct column-pruned scans of the source are
      // strictly less work, and the concurrent writes (r16, guide
      // §2.6) stay independent because the source files are
      // immutable for the tick.
      val d = batch
      val stages = parWrites(
        "url" -> (() =>
          graft.ext.Urls.urlCanonicalLocal(d, idCol, urlCol)
            .select(col(idCol), col("url_canon"))
            .write.mode("overwrite")
            .parquet(s"$workPath/urls/batch=$batchId")),
        "blocks" -> (() =>
          TextAnalysis.htmlBlocksLocal(
              TextAnalysis.htmlSyntheticPage(d, idCol, textCol),
              idCol, "page")
            .filter(col("kept"))
            .select(col(idCol), col("block_idx"), col("block_text"))
            .write.mode("overwrite")
            .parquet(s"$workPath/blocks/batch=$batchId")),
        "meta" -> (() =>
          d.select(col(idCol), col("source"))
            .write.mode("overwrite")
            .parquet(s"$workPath/meta/batch=$batchId")))
      recordTickStages(queryName, batchId, stages)
    }

  /** Drive [[webLedgerIngest]] over the driver documents as a bounded
    * multi-tick stream, then run [[graft.ext.Curation.webAssembleExport]]
    * — the IDENTICAL tail the batch `q_pipeline_web` runs — over the
    * summed url/block/meta ledgers. Equal to the batch composition,
    * whose oracle the gate shares. */
  def webStreamAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String, ticks: Int = 2): DataFrame = {
    require(ticks >= 2, "a web ledger gate needs at least two ticks")
    val docs = graft.Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"),
        graft.ext.Urls.demoUrl(col("doc_id"), col("source")).as("url"))
    replayTicks(spark, workDir, queryName,
        hashTicks(docs, "doc_id", ticks)) { stream =>
      webLedgerIngest(stream, workDir, s"$workDir/cp",
        "doc_id", "text", "url", queryName = queryName)
    } {
      graft.ext.Curation.webAssembleExport(
        spark.read.parquet(s"$workDir/urls/batch=*"),
        spark.read.parquet(s"$workDir/blocks/batch=*"),
        spark.read.parquet(s"$workDir/meta/batch=*"), "doc_id")
    }
  }

  /** Frontier-filter attrition off the SAME at-ingest URL ledger: the
    * crawl-URL fixture streams through [[urlLedgerIngest]] (which
    * stores the filter VERDICT next to the canonical), and the report
    * is a pure aggregation of the summed ledger by reason — equal to
    * the one-shot `q_url_frontier`, whose oracle the gate shares.
    * `n_canonical` counts DISTINCT canonical URLs per stage (NULL
    * dead-letter canonicals count zero, both engines). */
  def urlFrontierStreamAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String, ticks: Int = 2): DataFrame = {
    require(ticks >= 2, "a url ledger gate needs at least two ticks")
    val docs = graft.Tables.read(spark, dir, "documents")
      .select(col("doc_id"),
        graft.ext.Urls.demoCrawlUrl(col("doc_id"), col("source"))
          .as("url"))
    replayTicks(spark, workDir, queryName,
        hashTicks(docs, "doc_id", ticks)) { stream =>
      urlLedgerIngest(stream, workDir, s"$workDir/cp",
        "doc_id", "url", queryName = queryName)
    } {
      spark.read.parquet(s"$workDir/urls/batch=*")
        .groupBy(coalesce(col("reason"), lit("kept")).as("stage"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("url_canon")).as("n_canonical"))
        .orderBy(col("stage"))
    }
  }

  /** Drive [[funnelLedgerIngest]] over the documents table as a
    * bounded multi-tick stream, then derive the funnel report from the
    * MAINTAINED state: stages 1-5 by summing the per-tick censuses,
    * stage 6 by the canonical-survivor rule over the survivor union and
    * the latest label snapshot. Equal to the one-shot `q_filter_funnel`
    * report, whose oracle the gate shares. */
  def funnelStreamAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String, ticks: Int = 2,
      geometry: graft.ext.Dedup.SigProbeGeometry =
        graft.ext.Dedup.ChunkGeometry()): DataFrame = {
    require(ticks >= 2, "a funnel ledger gate needs at least two ticks")
    val docs = graft.Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    replayTicks(spark, workDir, queryName,
        hashTicks(docs, "doc_id", ticks)) { stream =>
      funnelLedgerIngest(stream, workDir, s"$workDir/cp",
        "doc_id", "text", queryName = queryName, geometry = geometry)
    } {
      val c15 = spark.read.parquet(s"$workDir/census")
        .groupBy(col("stage"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"))
      val surv = spark.read.parquet(s"$workDir/surv/batch=*")
      val s6 = graft.ext.Dedup.keepCanonical(surv, "doc_id",
          spark.read.parquet(latestBatchDir(spark, s"$workDir/labels").get))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .select(lit("6_dedup_canonical").as("stage"),
          col("n_docs"), col("n_tokens"))
        // the batch report's inner aggregate drops empty stages; the
        // global aggregate here always emits — filter restores parity
        .filter(col("n_docs") > 0)
      c15.unionByName(s6)
    }
  }

  /** Streaming tokenizer-vocabulary maintenance: each micro-batch of
    * documents writes ITS OWN word census into a `batch=<id>` subdir
    * (idempotent overwrite under replay — the
    * [[dedupStreamIncremental]] discipline), so the subdirs sum to the
    * corpus's exact distinct-word frequency relation at any moment —
    * the unigram trainer's SUFFICIENT STATISTIC. Deriving the current
    * vocabulary is then
    * [[graft.ext.Unigram.unigramSeedFromWords]] over the summed state:
    * per-tick cost tracks the tick, vocabulary derivation costs the
    * census size, and the corpus is never rescanned. */
  def vocabIngest(docs: DataFrame, statePath: String,
      checkpointDir: String, textCol: String)
      : StreamingQuery =
    ledgerStream(docs, checkpointDir) { (batch, batchId) =>
      batch
        .select(explode(
          split(col(textCol).cast("string"), " ", -1)).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    }

  /** Count-min sketch maintained at INGEST: each tick sketches ITS
    * rows and writes the serialized counter table to an idempotent
    * `batch=<id>` subdir. CMS counter matrices under one hash family
    * (same eps/confidence/seed) are ADDITIVE cell-by-cell, so the
    * merged state equals the sketch a single batch pass would build —
    * frequency estimates are available at any moment from
    * sketch-sized state (KBs), and the corpus is never rescanned.
    * The streaming counterpart of [[graft.ext.Sketches]]'s
    * tree-aggregated batch build. */
  def cmsIngest(rows: DataFrame, statePath: String,
      checkpointDir: String, valueCol: String, eps: Double = 0.001,
      confidence: Double = 0.99, seed: Int = 42)
      : StreamingQuery =
    ledgerStream(rows, checkpointDir) { (batch, batchId) =>
      val s = batch.sparkSession
      import s.implicits._
      val sk = batch.filter(col(valueCol).isNotNull)
        .select(col(valueCol).cast("string").as("value"))
        .stat.countMinSketch("value", eps, confidence, seed)
      val os = new java.io.ByteArrayOutputStream()
      sk.writeTo(os)
      Seq((batchId, os.toByteArray)).toDF("batch_id", "sketch")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    }

  /** Merge the per-tick sketches accumulated by [[cmsIngest]] back
    * into one CountMinSketch (cell-wise sum via `mergeInPlace` —
    * exact, order-independent). Driver-side by design: state is
    * sketch-count × KBs. */
  def cmsMergedState(spark: SparkSession, statePath: String)
      : org.apache.spark.util.sketch.CountMinSketch = {
    val rows = spark.read.parquet(statePath)
      .select(col("sketch")).collect()
    require(rows.nonEmpty, s"no sketches under $statePath")
    val sketches = rows.map { r =>
      org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](0)))
    }
    sketches.reduce { (a, b) => a.mergeInPlace(b); a }
  }

  /** One-shot gate replay of [[cmsIngest]]: events arrive in two hash
    * ticks, the merged sketch must answer exactly like the single-pass
    * batch sketch — the shared q_cms_freq oracle (exact counts + the
    * one-sided eps·N guarantee). */
  def cmsAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String): DataFrame = {
    val ev = graft.Tables.read(spark, dir, "events")
      .select(col("event_id"), col("event_type"))
    replayTicks(spark, workDir, queryName,
        hashTicks(ev, "event_id", 2)) { stream =>
      cmsIngest(stream, s"$workDir/state", s"$workDir/cp", "event_type")
    } {
      val merged = cmsMergedState(spark, s"$workDir/state")
      graft.ext.Sketches.cmsEstimates(ev, "event_type", merged)
    }
  }

  /** Content-defined-chunk census maintained at INGEST — the chunk
    * STORE index built as data arrives: each tick chunks ITS documents
    * ([[graft.ext.Dedup.contentChunks]]) and writes the (group, chunk)
    * occurrence census to an idempotent `batch=<id>` subdir. Chunk
    * counts are ADDITIVE, so the summed ledger is the dedup
    * accounting's sufficient statistic (and the membership index the
    * incremental dedup probes) — stats and novelty checks never rescan
    * the corpus. */
  def chunkIngest(docs: DataFrame, statePath: String,
      checkpointDir: String, groupCol: String, textCol: String,
      window: Int = 8, mask: Int = 32)
      : StreamingQuery =
    ledgerStream(docs, checkpointDir) { (batch, batchId) =>
      graft.ext.Dedup.contentChunks(batch, textCol,
          window, mask)
        .groupBy(col(groupCol), col("chunk"))
        .agg(count(lit(1)).as("cnt"),
          min(length(col("chunk"))).as("len"))
        .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    }

  /** One-shot gate replay of [[chunkIngest]]: documents arrive in two
    * hash ticks; the dedup accounting derived from the summed chunk
    * census must equal the batch
    * [[graft.ext.Dedup.chunkDedupStats]] — the shared q_dedup_chunks
    * oracle. */
  def chunkStatsAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String): DataFrame = {
    val docs = graft.Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    replayTicks(spark, workDir, queryName,
        hashTicks(docs, "doc_id", 2)) { stream =>
      chunkIngest(stream, s"$workDir/state", s"$workDir/cp", "source", "text")
    } {
      graft.ext.Dedup.chunkStatsFromCensus(
        spark.read.parquet(s"$workDir/state"), "source")
    }
  }

  /** Late-arrival AUDIT at ingest — streaming observability for the
    * silent failure mode: engines drop watermark-late rows without a
    * trace, and a pipeline that never measures its lateness profile
    * can't size its watermark delay. Each tick (a) records its max
    * event time in a high-watermark ledger (`wm/batch=<id>`), and (b)
    * copies rows older than (prior ticks' max − `allowedLag`) into a
    * late ledger (`late/batch=<id>`) WITHOUT dropping them — an audit,
    * not a gate; pair with [[quarantineIngest]] to act on it. Both
    * ledgers are idempotent batch subdirs (replay-safe).
    *
    * Scale: the prior high-watermark read is ledger-sized (one tiny
    * row per tick — compact periodically like any manifest), the split
    * is a narrow filter; nothing corpus-sized accumulates. */
  def lateAuditIngest(events: DataFrame, statePath: String,
      checkpointDir: String, tsCol: String,
      allowedLag: String = "1 day")
      : StreamingQuery =
    ledgerStream(events, checkpointDir) { (batch, batchId) =>
      val s = batch.sparkSession
      import s.implicits._
      val df = batch.localCheckpoint(true)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(statePath + "/wm"),
        s.sparkContext.hadoopConfiguration)
      // the high-watermark stays a DataFrame value (never collected)
      // so the audit is agnostic to TIMESTAMP vs TIMESTAMP_NTZ
      val late =
        if (fs.exists(new Path(s"$statePath/wm")))
          df.crossJoin(broadcast(
              s.read.parquet(s"$statePath/wm")
                .filter(col("batch_id") < batchId)
                .agg(max(col("max_ts")).as("__hw"))))
            .filter(col("__hw").isNotNull &&
              col(tsCol) < col("__hw") - expr(s"INTERVAL $allowedLag"))
            .drop("__hw")
        else df.limit(0)
      // NOT parallelizable (r16 note): `late` READS the wm root —
      // on a replayed tick that listing includes this tick's own
      // stale `wm/batch=<id>` dir, which the wm write below
      // overwrites; racing the two turns the late read into
      // FAILED_READ_FILE. The anti-dependency is the order.
      late.write.mode("overwrite")
        .parquet(s"$statePath/late/batch=$batchId")
      df.agg(max(col(tsCol)).as("max_ts"))
        .withColumn("batch_id", lit(batchId))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$statePath/wm/batch=$batchId")
      graft.ext.Pinned.release(df)
    }

  /** One-shot gate replay of [[lateAuditIngest]]: events arrive in two
    * DETERMINISTIC md5-keyed ticks (the md5 split — not Spark's
    * hash() — so the oracle can reproduce tick membership), and the
    * late ledger must hold exactly tick 1's rows older than
    * (tick 0's max ts − 1 day) — the closed-form oracle. */
  def lateAuditAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String): DataFrame = {
    val ev = graft.Tables.read(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("event_type"))
    val tick = graft.ext.Sampling.hashBucket(col("event_id"), 2)
    val halves = Seq(ev.filter(tick === 0), ev.filter(tick === 1))
    replayTicks(spark, workDir, queryName, halves) { stream =>
      lateAuditIngest(stream, s"$workDir/state",
        s"$workDir/cp", "ts", allowedLag = "1 day")
    } {
      spark.read.parquet(s"$workDir/state/late")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_late"))
    }
  }

  /** HLL distinct-count sketches maintained at INGEST: per tick, one
    * DataSketches HLL per day bucket lands in an idempotent
    * `batch=<id>` subdir. HLL union is element-wise register max —
    * associative, commutative, IDEMPOTENT — so any union tree over the
    * per-tick sketches reaches the same register state as a one-pass
    * build, and rollups to coarser grains (`hll_union_agg` per week)
    * read off sketch-sized state without a corpus rescan. The
    * distinct-count sibling of [[cmsIngest]] (frequencies) and
    * [[histIngest]] (quantiles). */
  def hllIngest(rows: DataFrame, statePath: String,
      checkpointDir: String, keyCol: String)
      : StreamingQuery =
    ledgerStream(rows, checkpointDir) { (batch, batchId) =>
      batch
        .groupBy(date_trunc("DAY", col("ts")).as("day"))
        .agg(hll_sketch_agg(col(keyCol)).as("sk"))
        .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    }

  /** One-shot gate replay of [[hllIngest]]: events arrive in two hash
    * ticks; weekly estimates unioned from the accumulated daily
    * sketches must satisfy the same 5% envelope as the batch rollup —
    * the shared q_hll_rollup oracle. */
  def hllRollupAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"))
    replayTicks(spark, workDir, queryName,
        hashTicks(ev, "event_id", 2)) { stream =>
      hllIngest(stream, s"$workDir/state", s"$workDir/cp", "user_id")
    } {
      val weekly = spark.read.parquet(s"$workDir/state")
        .groupBy(date_trunc("WEEK", col("day")).as("week"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = ev
        .groupBy(date_trunc("WEEK", date_trunc("DAY", col("ts"))).as("week"))
        .agg(count_distinct(col("user_id")).as("exact_users"))
      weekly.join(exact, "week")
        .select(col("week").cast("timestamp_ntz").as("week"),
          col("exact_users"),
          (abs(col("est") - col("exact_users")) <=
            col("exact_users") * 0.05).as("approx_ok"))
    }
  }

  /** Bloom filter maintained at INGEST: per tick, the arriving dim
    * keys sketch into a bloom written to an idempotent `batch=<id>`
    * subdir. Bitmaps under ONE sizing (bits, hash count) OR together
    * into exactly the one-pass bitmap — set bits are a pure union of
    * per-key bits — so the merged ledger prunes identically to a
    * batch-built bloom, and a join-side runtime filter exists
    * continuously as the dimension grows. */
  def bloomIngest(rows: DataFrame, statePath: String,
      checkpointDir: String, keyCol: String, expectedKeys: Long,
      fpp: Double = 0.01)
      : StreamingQuery =
    ledgerStream(rows, checkpointDir) { (batch, batchId) =>
      val s = batch.sparkSession
      import s.implicits._
      val bf = batch
        .select(col(keyCol).cast("long").as(keyCol))
        .stat.bloomFilter(keyCol, expectedKeys, fpp)
      val os = new java.io.ByteArrayOutputStream()
      bf.writeTo(os)
      Seq((batchId, os.toByteArray)).toDF("batch_id", "bloom")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    }

  /** OR-merge the per-tick blooms accumulated by [[bloomIngest]]. */
  def bloomMergedState(spark: SparkSession, statePath: String)
      : org.apache.spark.util.sketch.BloomFilter = {
    val rows = spark.read.parquet(statePath)
      .select(col("bloom")).collect()
    require(rows.nonEmpty, s"no blooms under $statePath")
    rows.map { r =>
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](0)))
    }.reduce { (a, b) => a.mergeInPlace(b); a }
  }

  /** One-shot gate replay of [[bloomIngest]]: the hot-orders dimension
    * arrives in two hash ticks; the join pruned through the MERGED
    * bloom must equal the batch [[graft.ext.Bloom.bloomPrunedJoin]] —
    * the shared q_bloom_join oracle (which is the exact unpruned
    * join: blooms may only shed non-matching rows). */
  def bloomJoinAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String): DataFrame = {
    val hot = graft.Tables.read(spark, dir, "orders")
      .filter(col("o_totalprice") > 450000)
    replayTicks(spark, workDir, queryName,
        hashTicks(hot, "o_orderkey", 2)) { stream =>
      bloomIngest(stream, s"$workDir/state",
        s"$workDir/cp", "o_orderkey", expectedKeys = 20000L)
    } {
      val merged = bloomMergedState(spark, s"$workDir/state")
      graft.ext.Bloom.bloomPrunedJoinWith(
        graft.Tables.read(spark, dir, "lineitem"), hot,
        "l_orderkey", "o_orderkey", merged)
    }
  }

  /** k-anonymity ledger maintained at INGEST: each tick writes its own
    * (QI, user) row-count census to an idempotent `batch=<id>` subdir.
    * The per-group distinct-user count is NOT additive across batches,
    * but the (QI, user) census IS — it is the audit's sufficient
    * statistic, so the current release audit derives from census-sized
    * state at any moment ([[graft.ext.Privacy.anonymityAuditFromCensus]])
    * without rescanning the corpus, the vocabulary-census pattern
    * applied to the privacy gate. QI here = (event_type, day,
    * value band) with user_id sensitive, mirroring the batch q_kanon. */
  def kanonIngest(events: DataFrame, statePath: String,
      checkpointDir: String)
      : StreamingQuery =
    ledgerStream(events, checkpointDir) { (batch, batchId) =>
      batch
        .groupBy(col("event_type"), to_date(col("ts")).as("d"),
          floor(col("value") / 32.0).as("vb"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    }

  /** One-shot gate replay of [[kanonIngest]]: events arrive in two
    * hash-split ticks; the audit derived from the accumulated census
    * must equal the batch [[graft.ext.Privacy.anonymityAudit]] — the
    * shared q_kanon oracle. */
  def kanonAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String): DataFrame = {
    val ev = graft.Tables.read(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    replayTicks(spark, workDir, queryName,
        hashTicks(ev, "event_id", 2)) { stream =>
      kanonIngest(stream, s"$workDir/state", s"$workDir/cp")
    } {
      graft.ext.Privacy.anonymityAuditFromCensus(
        spark.read.parquet(s"$workDir/state"),
        Seq(col("event_type"), col("d"), col("vb")), col("user_id"),
        col("n"), reportAs = "event_type", k = 5, l = 3)
    }
  }

  /** Blocklist-hit ledger maintained at INGEST: each tick scans ITS
    * documents against the (config-sized, broadcast) phrase list
    * ([[graft.ext.Curation.blocklistHits]]) and appends the flagged
    * rows to an idempotent `batch=<id>` subdir. Hits are per-document
    * facts and ticks partition the corpus, so the unioned ledger
    * equals the one-pass batch scan at any moment — a safety review
    * queue fed at ingest, with the corpus never rescanned. */
  def blocklistIngest(docs: DataFrame, statePath: String,
      checkpointDir: String, idCol: String, textCol: String,
      phrases: Seq[String])
      : StreamingQuery =
    ledgerStream(docs, checkpointDir) { (batch, batchId) =>
      graft.ext.Curation
        .blocklistHits(batch, idCol, textCol, phrases)
        .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    }

  /** One-shot gate replay of [[blocklistIngest]]: documents arrive in
    * two hash-split ticks; the merged ledger must equal the batch
    * [[graft.ext.Curation.blocklistHits]] — the shared q_blocklist
    * oracle. (The doc-keyed merge is a formality: ticks partition
    * docs, so sum/min act on single rows — but it makes the read path
    * correct under any future doc-spanning tick scheme too.) */
  def blocklistAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String,
      phrases: Seq[String]): DataFrame = {
    val docs = graft.Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    replayTicks(spark, workDir, queryName,
        hashTicks(docs, "doc_id", 2)) { stream =>
      blocklistIngest(stream, s"$workDir/state",
        s"$workDir/cp", "doc_id", "text", phrases)
    } {
      spark.read.parquet(s"$workDir/state")
        .groupBy(col("doc_id"))
        .agg(sum(col("n_hits")).as("n_hits"),
          min(col("first_phrase")).as("first_phrase"))
    }
  }

  /** Winnowing-fingerprint census maintained at INGEST: each tick
    * fingerprints ITS documents with the monotonic-deque kernel
    * ([[graft.ext.Dedup.winnowFingerprintsLocal]]) and writes the
    * per-doc census — fingerprint count, distinct-hash count, mod-prime
    * checksum — to an idempotent `batch=<id>` subdir. A document's
    * fingerprints depend only on its own text and ticks partition the
    * corpus, so the unioned ledger equals the batch census at any
    * moment: the local-overlap detector's sufficient statistic
    * maintained at ingest, corpus never rescanned. */
  def winnowIngest(docs: DataFrame, statePath: String,
      checkpointDir: String, idCol: String, textCol: String,
      k: Int, w: Int)
      : StreamingQuery =
    ledgerStream(docs, checkpointDir) { (batch, batchId) =>
      graft.ext.Dedup
        .winnowFingerprintsLocal(batch, idCol, textCol, k, w)
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_fp"),
          countDistinct(col("fp")).as("n_distinct_fp"),
          sum(col("fp") % 1000000007L).as("fp_checksum"))
        .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    }

  /** One-shot gate replay of [[winnowIngest]]: documents arrive in two
    * hash-split ticks; the merged ledger must equal the batch
    * q_winnow_census — the shared oracle. (The doc-keyed sum-merge is
    * a formality: ticks partition docs, so each doc_id holds a single
    * ledger row — but it keeps the read path correct under any future
    * doc-spanning tick scheme.) */
  def winnowAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String, k: Int, w: Int): DataFrame = {
    val docs = graft.Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    replayTicks(spark, workDir, queryName,
        hashTicks(docs, "doc_id", 2)) { stream =>
      winnowIngest(stream, s"$workDir/state",
        s"$workDir/cp", "doc_id", "text", k, w)
    } {
      spark.read.parquet(s"$workDir/state")
        .groupBy(col("doc_id"))
        .agg(sum(col("n_fp")).as("n_fp"),
          sum(col("n_distinct_fp")).as("n_distinct_fp"),
          sum(col("fp_checksum")).as("fp_checksum"))
    }
  }

  /** Scatter-matrix sufficient statistics maintained at INGEST — the
    * whitening/top-PC ledger: each tick writes ITS vectors' integer
    * censuses (n, per-dim S1, per-dim-pair Σxxᵀ over the shared
    * milli-quantization) to idempotent `batch=<id>` subdirs under
    * `n/`, `s1/`, `s2/`. A vector's cross-products live wholly in its
    * own row, so every census is VECTOR-ADDITIVE across ticks and the
    * summed ledger equals the batch scatter exactly — the dominant
    * embedding direction derives from dim²-sized state at any moment
    * ([[graft.ext.Similarity.topComponentFromLedger]]), corpus never
    * rescanned. */
  def scatterIngest(vecs: DataFrame, statePath: String,
      checkpointDir: String, idCol: String, vecCol: String)
      : StreamingQuery =
    ledgerStream(vecs, checkpointDir) { (batch, batchId) =>
      val sp = batch.sparkSession
      import sp.implicits._
      val dims = graft.ext.Similarity
        .quantizedDims(batch, idCol, vecCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // three independent census writes (s1/s2 share the persisted
      // dims — the block manager's per-partition locks make the
      // concurrent fill compute-once) — overlap them (r16, §2.6)
      parWrites(
        "s1" -> (() =>
          dims.groupBy(col("d")).agg(sum(col("xq")).as("s1"))
            .write.mode("overwrite")
            .parquet(s"$statePath/s1/batch=$batchId")),
        "s2" -> (() =>
          dims.as("a").join(dims.as("b"), "vid")
            .groupBy(col("a.d").as("dj"), col("b.d").as("dk"))
            .agg(sum(col("a.xq") * col("b.xq")).as("s"))
            .write.mode("overwrite")
            .parquet(s"$statePath/s2/batch=$batchId")),
        "n" -> (() =>
          Seq(batch.count()).toDF("n")
            .write.mode("overwrite")
            .parquet(s"$statePath/n/batch=$batchId")))
      dims.unpersist(blocking = false)
    }

  /** One-shot gate replay of [[scatterIngest]]: vectors arrive in two
    * hash-split ticks; the top-PC derived from the summed ledger must
    * equal the batch [[graft.ext.Similarity.topComponentPower]] — the
    * shared q_embed_top_pc oracle. */
  def scatterAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String, iterations: Int): DataFrame = {
    val vecs = graft.Tables.read(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    replayTicks(spark, workDir, queryName,
        hashTicks(vecs, "vec_id", 2)) { stream =>
      scatterIngest(stream, s"$workDir/state",
        s"$workDir/cp", "vec_id", "embedding")
    } {
      graft.ext.Similarity.topComponentFromLedger(spark,
        s"$workDir/state", iterations)
    }
  }

  /** Vote-cell census maintained at INGEST — label hygiene's ledger:
    * each tick runs the deterministic annotator panel over ITS labeled
    * rows ([[graft.ext.Agreement.annotatorLabels]]) and writes the
    * (id, lab, n) cell census to an idempotent `batch=<id>` subdir.
    * An item's ratings derive from its own row and ticks partition
    * items, so the unioned ledger is the panel's sufficient statistic
    * at any moment: Fleiss' kappa (and any vote report) derives from
    * census-sized state without rescanning the corpus
    * ([[graft.ext.Agreement.fleissKappaFromCells]]). */
  def kappaIngest(items: DataFrame, statePath: String,
      checkpointDir: String, idCol: String, labelCol: String,
      nAnnotators: Int, nCats: Int)
      : StreamingQuery =
    ledgerStream(items, checkpointDir) { (batch, batchId) =>
      graft.ext.Agreement
        .annotatorLabels(batch, idCol, labelCol,
          nAnnotators, nCats)
        .groupBy(col("id"), col("lab"))
        .agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    }

  /** One-shot gate replay of [[kappaIngest]]: labeled vectors arrive in
    * two hash-split ticks; kappa off the accumulated cell ledger must
    * equal the batch [[graft.ext.Agreement.fleissKappa]] — the shared
    * q_fleiss_kappa oracle. */
  def kappaAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String): DataFrame = {
    val items = graft.Tables.read(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    replayTicks(spark, workDir, queryName,
        hashTicks(items, "vec_id", 2)) { stream =>
      kappaIngest(stream, s"$workDir/state",
        s"$workDir/cp", "vec_id", "label", 3, 10)
    } {
      graft.ext.Agreement.fleissKappaFromCells(
        spark.read.parquet(s"$workDir/state"), nRaters = 3)
    }
  }

  /** Collocation censuses maintained at INGEST: per tick, the
    * doc-local unigram counts and adjacent-bigram counts land in
    * idempotent `uni/batch=<id>` / `big/batch=<id>` subdirs. Both
    * censuses are ADDITIVE across doc-partitioned ticks (a bigram
    * never crosses a document boundary), so PMI derived from the
    * summed ledger ([[graft.ext.TextAnalysis.pmiFromCensus]]) equals
    * the batch scan at any moment — collocation monitoring at ingest
    * with vocabulary-sized state, corpus never rescanned. Tokenization
    * mirrors `TextAnalysis.tokens` exactly (same oracle). */
  def collocationIngest(docs: DataFrame, statePath: String,
      checkpointDir: String, textCol: String)
      : StreamingQuery =
    ledgerStream(docs, checkpointDir) { (batch, batchId) =>
      val toks = batch
        .select(split(col(textCol).cast("string"), " ").as("t"))
        .filter(col("t").isNotNull)
      // the two census writes are independent — overlap (r16, §2.6)
      parWrites(
        "uni" -> (() =>
          toks.select(explode(col("t")).as("w"))
            .groupBy(col("w")).agg(count(lit(1)).as("freq"))
            .write.mode("overwrite")
            .parquet(s"$statePath/uni/batch=$batchId")),
        "big" -> (() =>
          toks.filter(size(col("t")) >= 2)
            .select(explode(expr("transform(sequence(1, size(t)-1), " +
              "i -> named_struct('w1', t[i-1], 'w2', t[i]))")).as("bg"))
            .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
            .agg(count(lit(1)).as("freq"))
            .write.mode("overwrite")
            .parquet(s"$statePath/big/batch=$batchId")))
    }

  /** One-shot gate replay of [[collocationIngest]]: documents arrive
    * in two hash-split ticks; PMI off the summed censuses must equal
    * the batch [[graft.ext.TextAnalysis.pmiCollocations]] — the shared
    * q_pmi_collocations oracle. */
  def pmiAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String, minCount: Long): DataFrame = {
    val docs = graft.Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    replayTicks(spark, workDir, queryName,
        hashTicks(docs, "doc_id", 2)) { stream =>
      collocationIngest(stream, s"$workDir/state", s"$workDir/cp", "text")
    } {
      val uni = spark.read.parquet(s"$workDir/state/uni")
        .groupBy(col("w")).agg(sum(col("freq")).as("cw"))
      val big = spark.read.parquet(s"$workDir/state/big")
        .groupBy(col("w1"), col("w2")).agg(sum(col("freq")).as("cww"))
      graft.ext.TextAnalysis.pmiFromCensus(uni, big, minCount)
    }
  }

  /** Basket censuses maintained at INGEST: per tick, the distinct
    * (basket, item) relation of THAT tick yields its item supports,
    * pair supports, and basket count — all ADDITIVE **provided ticks
    * partition whole baskets** (the stream must shard on the basket
    * key; a basket split across ticks would under-count its own
    * pairs — the same arrival contract the chunk ledger documents for
    * groups). Rules derive from the summed ledger via
    * [[graft.ext.Assoc.pairRulesFromCensus]] with no corpus rescan. */
  def assocIngest(rows: DataFrame, statePath: String,
      checkpointDir: String, basketCol: String, itemCol: String,
      maxBasketItems: Int = 1024)
      : StreamingQuery =
    ledgerStream(rows, checkpointDir) { (batch, batchId) =>
      val items = batch
        .select(col(basketCol).as("b"), col(itemCol).as("i"))
        .filter(col("b").isNotNull && col("i").isNotNull)
        .distinct()
      val sized = items.groupBy(col("b"))
        .agg(count(lit(1)).as("basket_sz"))
        .filter(col("basket_sz") <= maxBasketItems)
        .select(col("b"))
      val kept = items.join(sized, "b").persist()
      try {
        // three independent census writes over the persisted kept
        // relation — overlap (r16, §2.6)
        parWrites(
          "item" -> (() =>
            kept.groupBy(col("i")).agg(count(lit(1)).as("supp"))
              .write.mode("overwrite")
              .parquet(s"$statePath/item/batch=$batchId")),
          "pair" -> (() =>
            kept.as("x")
              .join(kept.as("y"),
                col("x.b") === col("y.b") && col("x.i") < col("y.i"))
              .groupBy(col("x.i").as("item_a"), col("y.i").as("item_b"))
              .agg(count(lit(1)).as("supp_ab"))
              .write.mode("overwrite")
              .parquet(s"$statePath/pair/batch=$batchId")),
          "n" -> (() =>
            kept.agg(countDistinct(col("b")).as("n"))
              .write.mode("overwrite")
              .parquet(s"$statePath/n/batch=$batchId")))
        ()
      } finally { kept.unpersist(); () }
    }

  /** One-shot gate replay of [[assocIngest]]: lineitem rows arrive in
    * two ticks HASH-SPLIT ON THE BASKET KEY (the arrival contract);
    * rules off the summed censuses must equal the batch
    * [[graft.ext.Assoc.pairRules]] — the shared q_assoc_rules
    * oracle. */
  def assocAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String,
      minSupport: Long): DataFrame = {
    val rows = graft.Tables.read(spark, dir, "lineitem")
      .select(col("l_orderkey").as("b"),
        (col("l_partkey") % 200).as("i"))
    replayTicks(spark, workDir, queryName, hashTicks(rows, "b", 2)) { stream =>
      assocIngest(stream, s"$workDir/state", s"$workDir/cp", "b", "i")
    } {
      val supp = spark.read.parquet(s"$workDir/state/item")
        .groupBy(col("i")).agg(sum(col("supp")).as("supp"))
      val pairSupp = spark.read.parquet(s"$workDir/state/pair")
        .groupBy(col("item_a"), col("item_b"))
        .agg(sum(col("supp_ab")).as("supp_ab"))
      val n = spark.read.parquet(s"$workDir/state/n")
        .agg(sum(col("n")).as("n_baskets"))
      graft.ext.Assoc.pairRulesFromCensus(supp, pairSupp, n, minSupport)
    }
  }

  /** One-shot gate replay of [[vocabIngest]]: documents arrive in two
    * hash-split ticks, and the vocabulary derived from the summed
    * census state must equal the batch
    * [[graft.ext.Unigram.unigramSeed]] — the shared q_unigram_vocab
    * oracle. */
  def unigramVocabAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String): DataFrame = {
    val docs = graft.Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    replayTicks(spark, workDir, queryName,
        hashTicks(docs, "doc_id", 2)) { stream =>
      vocabIngest(stream, s"$workDir/state", s"$workDir/cp", "text")
    } {
      val words = spark.read.parquet(s"$workDir/state")
        .groupBy(col("w")).agg(sum(col("freq")).as("freq"))
      graft.ext.Unigram.unigramSeedFromWords(words)
    }
  }

  /** One-shot gate replay of the Zipf health monitor over
    * [[vocabIngest]] state: two hash ticks maintain the word census,
    * and the rank–frequency fit derived from the SUMMED census must
    * equal the batch [[graft.ext.TextAnalysis.zipfFit]] — the shared
    * q_zipf oracle. One maintained statistic (the census) now feeds
    * both the tokenizer trainer and the corpus-health monitor. */
  def zipfAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String): DataFrame = {
    val docs = graft.Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    replayTicks(spark, workDir, queryName,
        hashTicks(docs, "doc_id", 2)) { stream =>
      vocabIngest(stream, s"$workDir/state", s"$workDir/cp", "text")
    } {
      val census = spark.read.parquet(s"$workDir/state")
        .groupBy(col("w")).agg(sum(col("freq")).as("cnt"))
      graft.ext.TextAnalysis.zipfFitFromCensus(census)
    }
  }

  /** Histogram sketch maintained at INGEST: per tick, the exact
    * fixed-domain bin counts ([[graft.ext.Profile.histogram]]) land in
    * an idempotent `batch=<id>` subdir. Bin counts are ADDITIVE, so
    * the summed state equals the one-pass batch histogram at any
    * moment, and mergeable quantiles
    * ([[graft.ext.Profile.histogramQuantiles]]) read off the merged
    * sketch without rescanning the corpus — the percentile
    * counterpart of [[cmsIngest]]. */
  def histIngest(rows: DataFrame, statePath: String,
      checkpointDir: String, valueCol: String, lo: Double, hi: Double,
      buckets: Int, groupCols: Seq[String])
      : StreamingQuery =
    ledgerStream(rows, checkpointDir) { (batch, batchId) =>
      graft.ext.Profile.histogram(batch, valueCol, lo, hi,
          buckets, groupCols)
        .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    }

  /** One-shot gate replay of [[histIngest]] at the q_quantile_rollup
    * grain (per-habit daily histograms → per-habit quantiles): two
    * hash ticks maintain the sketch, the quantiles off the SUMMED bins
    * must equal the batch rollup — the shared oracle. */
  def quantileRollupAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String): DataFrame = {
    val ev = graft.Tables.eventsAsHabits(spark, dir)
      .withColumn("day", graft.analytics.Habits.dayBucket(col("ts")))
      .select(col("event_id"), col("habit"), col("day"), col("value"))
    replayTicks(spark, workDir, queryName,
        hashTicks(ev, "event_id", 2)) { stream =>
      histIngest(stream, s"$workDir/state",
        s"$workDir/cp", "value", lo = 0.0, hi = 640.0, buckets = 64,
        groupCols = Seq("habit", "day"))
    } {
      val daily = spark.read.parquet(s"$workDir/state")
        .groupBy(col("habit"), col("day"), col("bucket"))
        .agg(sum(col("n")).as("n"))
      graft.ext.Profile.histogramQuantiles(daily, Seq("habit"),
        qs = Seq(0.5, 0.9, 0.99), lo = 0.0, hi = 640.0, buckets = 64)
    }
  }

  /** Row-granular data-quality QUARANTINE at ingest — the dead-letter-
    * queue pattern: each tick splits on the expectation predicate,
    * passing rows land in the curated sink and failing rows in the
    * quarantine ledger (both as idempotent `batch=<id>` subdirs), so a
    * malformed row never blocks its batch and never silently enters
    * the curated corpus — it waits in the ledger with its batch id for
    * repair/replay. The batch-REJECT alternative
    * (`VersionedStore.appendChecked`) guards commit-level invariants;
    * this guards row-level ones. */
  def quarantineIngest(rows: DataFrame, sinkPath: String,
      quarantinePath: String, checkpointDir: String,
      predicate: org.apache.spark.sql.Column)
      : StreamingQuery =
    ledgerStream(rows, checkpointDir) { (batch, batchId) =>
      val df = batch.localCheckpoint(true)
      // the split must be EXHAUSTIVE: a predicate evaluating to
      // NULL (e.g. `value >= 0` on a null value) matches neither
      // p nor !p, so null-verdict rows are pinned to the
      // quarantine side — a row the expectation cannot vouch for
      // waits in the ledger, never vanishes
      val pass = coalesce(predicate, lit(false))
      // the two sides of the split are independent scans of the
      // pinned batch — overlap (r16, §2.6)
      parWrites(
        "sink" -> (() => df.filter(pass)
          .write.mode("overwrite")
          .parquet(s"$sinkPath/batch=$batchId")),
        "quarantine" -> (() => df.filter(!pass)
          .write.mode("overwrite")
          .parquet(s"$quarantinePath/batch=$batchId")))
      graft.ext.Pinned.release(df)
    }

  /** One-shot gate replay of [[quarantineIngest]]: the events feed with
    * every `event_id % 11 = 3` row's value corrupted to `-(value+1)`
    * (unambiguously negative even at value = 0) arrives in two hash
    * ticks under the `value >= 0` expectation; the curated sink must
    * hold exactly the untouched rows and the quarantine exactly the
    * corrupted ones — the closed-form oracle. */
  def quarantineAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String): DataFrame = {
    val ev = graft.Tables.read(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        when(col("event_id") % 11 === 3, -(col("value") + 1))
          .otherwise(col("value")).as("value"))
    replayTicks(spark, workDir, queryName,
        hashTicks(ev, "event_id", 2)) { stream =>
      quarantineIngest(stream, s"$workDir/curated",
        s"$workDir/quarantine", s"$workDir/cp", col("value") >= 0)
    } {
      def side(path: String, name: String) =
        spark.read.parquet(path)
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("value")), 6).as("value_sum"))
          .select(lit(name).as("dest"), col("n_rows"), col("value_sum"))
      side(s"$workDir/curated", "curated")
        .unionByName(side(s"$workDir/quarantine", "quarantine"))
    }
  }

  /** Streaming DECONTAMINATION gate: every micro-batch of TRAIN
    * documents is checked against the fixed evaluation set as it
    * arrives — the tick's distinct ≥`minLen`-char windows equi-join
    * the eval set's every-offset window index, and the matched
    * (eval doc, position) pairs land in an idempotent `batch=<id>`
    * ledger subdir. The DISTINCT union of the ledger equals the
    * offline whole-corpus scan (a position matches iff ANY tick's
    * train text contains its window), so contamination reports are
    * available continuously during ingest instead of after a terminal
    * pass. Per-tick cost is tick-windows × eval-index — the eval side
    * is static and small by nature; a production deployment persists
    * its window index once and anchor-tiles the train side exactly
    * like the batch `Curation.substringContamination`. */
  def contaminationIngest(train: DataFrame, test: DataFrame,
      ledgerPath: String, checkpointDir: String, idCol: String,
      textCol: String, minLen: Int)
      : StreamingQuery = {
    def windows(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      transform(sequence(lit(1), length(c) - (minLen - 1)),
        i => c.substr(i, lit(minLen)))
    val testIdx = test
      .filter(length(col(textCol)) >= minLen)
      .select(col(idCol), posexplode(windows(col(textCol)))
        .as(Seq("pos0", "w")))
      .select(col(idCol), (col("pos0") + 1).cast("long").as("i"), col("w"))
    ledgerStream(train, checkpointDir) { (batch, batchId) =>
      val tw = batch
        .filter(length(col(textCol)) >= minLen)
        .select(explode(windows(col(textCol))).as("w"))
        .distinct()
      testIdx.join(tw, "w")
        .select(col(idCol), col("i"))
        .write.mode("overwrite")
        .parquet(s"$ledgerPath/batch=$batchId")
    }
  }

  /** One-shot gate replay of [[contaminationIngest]]: the train split
    * arrives in two hash ticks against the static test split, and the
    * aggregated distinct ledger must equal the offline every-offset
    * contamination scan — the shared q_substring_contamination
    * oracle. */
  def contaminationAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String, minLen: Int = 31): DataFrame = {
    val d = graft.Tables.read(spark, dir, "documents")
      .withColumn("split", graft.ext.Sampling.splitLabel(col("doc_id"),
        Seq("train" -> 80, "val" -> 90), lastLabel = "test"))
    val train = d.filter(col("split") === "train")
      .select(col("doc_id"), col("text"))
    val test = d.filter(col("split") === "test")
      .select(col("doc_id"), col("text"))
    replayTicks(spark, workDir, queryName,
        hashTicks(train, "doc_id", 2)) { stream =>
      contaminationIngest(stream, test, s"$workDir/ledger",
        s"$workDir/cp", "doc_id", "text", minLen)
    } {
      spark.read.parquet(s"$workDir/ledger")
        .select(col("doc_id"), col("i")).distinct()
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"), min(col("i")).as("first_pos"))
    }
  }

  /** Streaming TEXT-INDEX maintenance: each micro-batch of documents
    * writes its own BM25 sufficient statistic
    * ([[graft.ext.TextAnalysis.invertedIndex]] — postings + doc
    * lengths) into idempotent `batch=<id>` subdirs. Doc ids are
    * disjoint across ticks, so the subdirs UNION into the corpus
    * index; any query then scores against the maintained state at
    * matching-postings cost ([[graft.ext.TextAnalysis.bm25FromIndex]])
    * without ever rescanning the corpus. */
  def bm25Ingest(docs: DataFrame, indexPath: String, checkpointDir: String,
      idCol: String, textCol: String)
      : StreamingQuery =
    ledgerStream(docs, checkpointDir) { (batch, batchId) =>
      val df = batch.localCheckpoint(true)
      val (postings, lens) =
        graft.ext.TextAnalysis.invertedIndex(df, idCol, textCol)
      // independent writes off the pinned batch — overlap (r16, §2.6)
      parWrites(
        "postings" -> (() => postings.write.mode("overwrite")
          .parquet(s"$indexPath/postings/batch=$batchId")),
        "lens" -> (() => lens.write.mode("overwrite")
          .parquet(s"$indexPath/lens/batch=$batchId")))
      graft.ext.Pinned.release(df)
    }

  /** One-shot gate replay of [[bm25Ingest]]: two hash-split ticks
    * build the index, then the query scores against the maintained
    * state — the result must equal the ad-hoc corpus-scan
    * [[graft.ext.TextAnalysis.bm25]], the shared q_bm25 oracle. */
  def bm25StreamAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String, queryTerms: Seq[String],
      topK: Int): DataFrame = {
    val docs = graft.Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    replayTicks(spark, workDir, queryName,
        hashTicks(docs, "doc_id", 2)) { stream =>
      bm25Ingest(stream, s"$workDir/index", s"$workDir/cp", "doc_id", "text")
    } {
      graft.ext.TextAnalysis.bm25FromIndex(
        spark.read.parquet(s"$workDir/index/postings").drop("batch"),
        spark.read.parquet(s"$workDir/index/lens").drop("batch"),
        "doc_id", queryTerms, topK = topK)
    }
  }

  /** Streaming ANN-INDEX maintenance: tick 0 freezes the centroid set
    * (the first `nCentroids` ids of the bootstrap batch — ordered
    * arrival puts the corpus's lowest ids there, matching the batch
    * [[graft.ext.Similarity.knnIvf]] default) and every tick assigns
    * ITS OWN vectors to cells with
    * [[graft.ext.Similarity.ivfAssign]], appending postings to an
    * idempotent `batch=<id>` subdir. The inverted-list index GROWS
    * with ingest — per-tick cost tracks the tick, existing vectors are
    * never re-assigned, and probing reads the accumulated postings
    * through [[graft.ext.Similarity.ivfSearch]]. A crashed tick
    * replays into its own subdir (and the centroid bootstrap is
    * content-deterministic), so the index never double-counts. */
  def ivfIngest(embs: DataFrame, workPath: String, checkpointDir: String,
      idCol: String, vecCol: String, nCentroids: Int)
      : StreamingQuery =
    ledgerStream(embs, checkpointDir) { (batch, batchId) =>
      val df = batch.localCheckpoint(true)
      val sp = df.sparkSession
      val centPath = s"$workPath/centroids"
      val p = new Path(centPath)
      val fs = p.getFileSystem(sp.sessionState.newHadoopConf())
      if (!fs.exists(p)) {
        require(batchId == 0L,
          s"centroid bootstrap missing at batch $batchId — the " +
            "index must be seeded by tick 0")
        df.orderBy(col(idCol)).limit(nCentroids)
          .select(col(idCol), col(vecCol))
          .write.parquet(centPath)
      }
      val cents = graft.ext.Dedup.withNorm(
        sp.read.parquet(centPath), idCol, vecCol, "cent_id", "ce")
      graft.ext.Similarity.ivfAssign(df, idCol, vecCol, cents)
        .write.mode("overwrite")
        .parquet(s"$workPath/postings/batch=$batchId")
      graft.ext.Pinned.release(df)
    }

  /** One-shot gate replay of [[ivfIngest]]: the embeddings table is
    * staged as two RANGE-split files (ordered arrival — the bootstrap
    * tick carries the lowest ids, so the frozen centroids equal the
    * batch path's first-16-by-id default) and the accumulated index is
    * probed with the same queries — the result must equal the batch
    * [[graft.ext.Similarity.knnIvf]], which is exactly the shared
    * q_knn_ivf oracle. */
  def knnIvfStreamAvailableNow(spark: SparkSession, dir: String,
      workDir: String, queryName: String, k: Int = 5,
      nCentroids: Int = 16, nProbes: Int = 4): DataFrame = {
    val emb = graft.Tables.read(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    stageRanges(spark, emb, 2, "vec_id", workDir)
    replayStaged(spark, workDir, queryName, emb.schema) { stream =>
      ivfIngest(stream, s"$workDir/ivf", s"$workDir/cp", "vec_id",
        "embedding", nCentroids)
    } {
      val cents = graft.ext.Dedup.withNorm(
        spark.read.parquet(s"$workDir/ivf/centroids"), "vec_id",
        "embedding", "cent_id", "ce")
      graft.ext.Similarity.ivfSearch(
        spark.read.parquet(s"$workDir/ivf/postings").drop("batch"),
        cents, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k, nProbes)
    }
  }

  /** One-shot gate replay of [[cdcStream]]: the change feed is staged
    * in ascending-`seqCol` batches (one file per tick), so the
    * arrival-wins cross-tick contract COINCIDES with the global
    * highest-seq-wins resolution the batch oracle computes — tick k's
    * per-key winners carry seqs strictly above every earlier tick's.
    * The sink is primed with the current table state, then the replay
    * drains the feed; the final sink must equal
    * [[graft.load.Merge.applyCdc]] of the whole feed at once — the
    * shared q_cdc_apply oracle. */
  def cdcStreamAvailableNow(spark: SparkSession, current: DataFrame,
      feed: DataFrame, seqValues: Seq[Long], workDir: String,
      queryName: String): DataFrame = {
    val ticks = seqValues.map(s => feed.filter(col("seq") === s))
    val sink = s"$workDir/sink"
    current.write.parquet(sink)
    replayTicks(spark, workDir, queryName, ticks) { stream =>
      cdcStream(stream, sink, s"$workDir/cp", Seq("event_id"), "seq")
    } {
      spark.read.parquet(sink)
    }
  }
}
