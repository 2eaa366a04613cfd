package graft

import java.sql.Timestamp

import graft.analytics.Habits
import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Streaming semantics (SURVEY §2.7 ST1-ST4): the watermarked windowed
  * aggregate must agree with the batch `habit_daily` rollup, and
  * watermark-bounded dedup must absorb replays like the `habits_raw` PK.
  */
class StreamingSpec extends AnyFunSuite with SparkTestSession {

  private def ts(s: String) = Timestamp.valueOf(s)

  private val rows = Seq(
    (ts("2024-01-01 10:00:00"), "a@x", "workout", 1.0),
    (ts("2024-01-01 11:00:00"), "a@x", "workout", 0.0),
    (ts("2024-01-01 12:00:00"), "a@x", "meditation_minutes", 20.0),
    (ts("2024-01-02 09:00:00"), "b@x", "workout", 1.0))

  test("streaming habit_daily equals the batch rollup on the same data") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Timestamp, String, String, Double)]
    mem.addData(rows: _*)
    val stream = mem.toDF().toDF("ts", "user_email", "habit", "value")
    val qn = Streaming.nextQueryName("spec_hd")
    val q = Streaming.habitDailyStream(stream)
      .writeStream.format("memory").queryName(qn)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = s.table(qn)
      .orderBy(col("day"), col("user_email"), col("habit")).collect().toSeq
    val batch = Habits.habitDaily(rows.toDF("ts", "user_email", "habit", "value"))
      .orderBy(col("day"), col("user_email"), col("habit")).collect().toSeq
    assert(streamed.map(_.toSeq) == batch.map(_.toSeq))
  }

  test("sessionizeStream assigns gap-based session ids with state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.SessionEvent
    val mem = MemoryStream[SessionEvent]
    mem.addData(
      SessionEvent("u1", ts("2024-01-01 10:00:00")),
      SessionEvent("u1", ts("2024-01-01 10:10:00")), // same session
      SessionEvent("u1", ts("2024-01-01 11:00:00")), // 50 min gap -> new
      SessionEvent("u2", ts("2024-01-01 10:00:00")))
    val qn = Streaming.nextQueryName("spec_sess")
    val q = Streaming.sessionizeStream(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = s.table(qn).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(2)))
      .toSet
    assert(out == Set(
      ("u1", "2024-01-01 10:00:00.0", 1L),
      ("u1", "2024-01-01 10:10:00.0", 1L),
      ("u1", "2024-01-01 11:00:00.0", 2L),
      ("u2", "2024-01-01 10:00:00.0", 1L)))
    // agrees with the batch sessionizer on the same data
    val batch = Habits.sessionize(
        s.table(qn).select(col("ts"), col("user_email")),
        "user_email", "ts", 30)
      .select(col("user_email"), col("ts"), col("session_id")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(2)))
      .toSet
    assert(batch == out)
  }

  test("asofStream: timeline state carries across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.AsOfStreamEvent
    def us(sec: Long) = sec * 1000000L // event-time micros
    val mem = MemoryStream[AsOfStreamEvent]
    val qn = Streaming.nextQueryName("spec_asof")
    val q = Streaming.asofStream(mem.toDS(), maxState = 4)
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      // batch 1: two purchases and one click for u1 (equal-ts boundary:
      // the click at t=20 must see the purchase at t=20)
      mem.addData(
        AsOfStreamEvent(101L, 1L, us(10), isLeft = false, value = 5.0),
        AsOfStreamEvent(102L, 1L, us(20), isLeft = false, value = 9.0),
        AsOfStreamEvent(1L, 1L, us(20), isLeft = true, value = 0.0),
        AsOfStreamEvent(2L, 2L, us(15), isLeft = true, value = 0.0))
      q.processAllAvailable()
      // batch 2: clicks only — must bind against batch-1 STATE
      mem.addData(
        AsOfStreamEvent(3L, 1L, us(30), isLeft = true, value = 0.0),
        AsOfStreamEvent(4L, 1L, us(15), isLeft = true, value = 0.0), // late
        AsOfStreamEvent(5L, 2L, us(99), isLeft = true, value = 0.0))
      q.processAllAvailable()
      val out = s.table(qn).collect()
        .map(r => r.getLong(0) -> Option(r.get(4))).toMap
      assert(out == Map(
        1L -> Some(9.0),  // equal ts: <= includes the t=20 purchase
        2L -> None,       // other key, no purchases
        3L -> Some(9.0),  // bound from carried state
        4L -> Some(5.0),  // late click binds inside retained timeline
        5L -> None))
    } finally q.stop()
  }

  test("asofStream: maxState cap degradation boundary is exactly the " +
      "retained-timeline edge") {
    // The documented trade: a left event later than `maxState` newer
    // right updates binds against the CAPPED timeline — its true match
    // may have been evicted. This pins the boundary structurally: a
    // left whose match was evicted misses, while a left binding inside
    // the retained window stays exact.
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.AsOfStreamEvent
    def us(sec: Long) = sec * 1000000L
    val mem = MemoryStream[AsOfStreamEvent]
    val qn = Streaming.nextQueryName("spec_asofcap")
    val q = Streaming.asofStream(mem.toDS(), maxState = 4)
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      // batch 1: six right updates; cap 4 retains only {30,40,50,60}
      mem.addData((1 to 6).map(i => AsOfStreamEvent(100L + i, 1L,
        us(i * 10L), isLeft = false, value = i.toDouble)): _*)
      q.processAllAvailable()
      // batch 2: late lefts probing both sides of the eviction edge
      mem.addData(
        AsOfStreamEvent(1L, 1L, us(25), isLeft = true, value = 0.0), // true match t=20: EVICTED
        AsOfStreamEvent(2L, 1L, us(35), isLeft = true, value = 0.0), // match t=30: retained
        AsOfStreamEvent(3L, 1L, us(65), isLeft = true, value = 0.0)) // match t=60: retained
      q.processAllAvailable()
      val out = s.table(qn).collect()
        .map(r => r.getLong(0) -> Option(r.get(4))).toMap
      assert(out == Map(
        1L -> None,       // degraded: older than the capped timeline
        2L -> Some(3.0),  // exact inside the retained window
        3L -> Some(6.0))) // exact at the newest edge
    } finally q.stop()
  }

  test("asofStream: idleRetentionMs expires idle keys — a later left " +
      "binds like a fresh key") {
    // The long-lived-stream knob: ProcessingTimeTimeout drops keys idle
    // beyond the horizon so state doesn't grow with key cardinality
    // forever. NOTE: arming processing-time timeouts makes the engine
    // schedule extra no-data micro-batches to evaluate them
    // (FlatMapGroupsWithStateExec.shouldRunAnotherBatch is
    // unconditionally true for ProcessingTimeTimeout), so
    // processAllAvailable() never settles here — poll the sink instead,
    // which is also the honest way to observe a timeout that only
    // fires in a between-data batch.
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.AsOfStreamEvent
    def us(sec: Long) = sec * 1000000L
    val mem = MemoryStream[AsOfStreamEvent]
    val qn = Streaming.nextQueryName("spec_asofttl")
    val q = Streaming.asofStream(mem.toDS(), maxState = 4,
        idleRetentionMs = Some(500L))
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    def outMap() = s.table(qn).collect()
      .map(r => r.getLong(0) -> Option(r.get(4))).toMap
    def waitFor(n: Int): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (outMap().size < n) {
        assert(System.nanoTime() < deadline,
          s"timed out waiting for $n output rows, have: ${outMap()}")
        Thread.sleep(100)
      }
    }
    try {
      mem.addData(
        AsOfStreamEvent(101L, 1L, us(10), isLeft = false, value = 5.0),
        AsOfStreamEvent(1L, 1L, us(20), isLeft = true, value = 0.0))
      waitFor(1)
      assert(outMap()(1L) == Some(5.0)) // timeline live within horizon
      // idle past the horizon: the no-data batches fire the timeout and
      // release the key's timeline. Observe the expiry through the
      // state-operator metrics (numRowsTotal drops to 0 when the key's
      // state is removed) instead of a fixed sleep — on a loaded host
      // the timeout batch can lag far past the nominal horizon, and a
      // fixed sleep was the flake
      val stateDeadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def stateRows(): Long = {
        val p = q.lastProgress
        if (p == null || p.stateOperators.isEmpty) -1L
        else p.stateOperators.map(_.numRowsTotal).sum
      }
      while (stateRows() != 0L) {
        assert(System.nanoTime() < stateDeadline,
          s"timed out waiting for idle-retention expiry; state rows: ${stateRows()}")
        Thread.sleep(200)
      }
      mem.addData(
        AsOfStreamEvent(2L, 1L, us(30), isLeft = true, value = 0.0))
      waitFor(2)
      // dropped key == fresh key: the late left binds to nothing, the
      // documented degradation (vs Some(5.0) under NoTimeout replay)
      assert(outMap()(2L) == None)
    } finally q.stop()
  }

  test("asofStream equals the batch as-of join on seeded random splits") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.AsOfStreamEvent
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val users = Seq(1L, 2L, 3L)
      // distinct timestamps; batches split in EVENT-TIME order — the
      // operator's exactness contract is for in-order arrival (a right
      // row arriving after a later left already emitted can't retract
      // in append mode; the dedicated unit test covers late lefts)
      val secs = rnd.shuffle((1 to 4000).toList).take(24).sorted
      val events = secs.zipWithIndex.map { case (sec, i) =>
        AsOfStreamEvent(i.toLong + 1L, users(rnd.nextInt(3)),
          sec.toLong * 1000000L,
          isLeft = rnd.nextBoolean(), value = rnd.nextInt(100).toDouble)
      }
      val mem = MemoryStream[AsOfStreamEvent]
      val qn = Streaming.nextQueryName(s"spec_asofr$trial")
      val q = Streaming.asofStream(mem.toDS(), maxState = 64)
        .writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try {
        val (b1, b2) = events.splitAt(12)
        mem.addData(b1: _*); q.processAllAvailable()
        mem.addData(b2: _*); q.processAllAvailable()
        val got = s.table(qn).collect()
          .map(r => r.getLong(0) -> Option(r.get(4))).toMap
        // batch reference over the SAME events through the composed op
        val left = events.filter(_.isLeft)
          .map(e => (e.event_id, e.user_email,
            new java.sql.Timestamp(e.tsMicros / 1000L)))
          .toDF("event_id", "user_email", "ts")
        val right = events.filterNot(_.isLeft)
          .groupBy(e => (e.user_email, e.tsMicros)).values
          .map(g => (g.head.user_email,
            new java.sql.Timestamp(g.head.tsMicros / 1000L),
            g.map(_.value).max)).toSeq
          .toDF("user_email", "ts", "pvalue")
        val want = graft.ext.AsOf.asofJoin(left, right, "user_email", "ts",
            Seq("pvalue")).collect()
          .map(r => r.getLong(0) -> Option(r.get(4))).toMap
        assert(got == want, s"trial $trial")
      } finally q.stop()
    }
  }

  test("update mode + RocksDB: late-in-watermark updates, too-late drops") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // the incremental-refresh semantics of the reference's continuous
    // aggregate (001_schema.sql:43-46): update mode re-emits only the
    // changed day buckets; RocksDB is the at-scale state store
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Timestamp, String, String, Double)]
      val stream = mem.toDF().toDF("ts", "user_email", "habit", "value")
      val qn = Streaming.nextQueryName("spec_upd")
      val q = Streaming.habitDailyStream(stream, watermark = "2 days")
        .writeStream.format("memory").queryName(qn)
        .outputMode("update").start()
      try {
        mem.addData(
          (ts("2024-01-01 10:00:00"), "a@x", "workout", 1.0),
          (ts("2024-01-10 10:00:00"), "b@x", "workout", 1.0))
        q.processAllAvailable()
        assert(s.table(qn).count() == 2) // both new buckets emitted
        // watermark is now 2024-01-08 10:00. A 01-09 event is late but
        // inside -> its bucket re-emits updated; 01-02 is older -> dropped.
        mem.addData(
          (ts("2024-01-09 10:00:00"), "a@x", "workout", 1.0),
          (ts("2024-01-02 10:00:00"), "a@x", "workout", 1.0))
        q.processAllAvailable()
        val emitted = s.table(qn).collect()
          .map(r => (r.getTimestamp(0).toString.take(10),
            r.getString(1), r.getLong(3)))
        // exactly one new emission (the 01-09 bucket), nothing for 01-02
        assert(emitted.length == 3)
        assert(emitted.count(_._1 == "2024-01-09") == 1)
        assert(emitted.filter(_._1 == "2024-01-09").head == ("2024-01-09", "a@x", 1L))
        assert(!emitted.exists(_._1 == "2024-01-02"))
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }
  }

  test("RocksDB provider carries ~100k (day,user,habit) state rows — " +
      "the 60-day × real-user matview state-scale pin") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      // 60 days × 420 users × 4 habits = 100,800 distinct aggregation
      // keys, all inside the 60-day watermark horizon so every one is
      // LIVE state after the batch — the cardinality the RocksDB
      // provider exists for (HDFS-backed keeps it all on heap)
      val habits = Seq("workout", "reading", "meditation_minutes", "water")
      val base = ts("2024-01-01 10:00:00").getTime
      val big = for {
        d <- 0 until 60
        u <- 0 until 420
        h <- habits
      } yield (new Timestamp(base + d * 86400000L), s"u$u@x", h, 1.0)
      val mem = MemoryStream[(Timestamp, String, String, Double)]
      val stream = mem.toDF().toDF("ts", "user_email", "habit", "value")
      val qn = Streaming.nextQueryName("spec_scale")
      val q = Streaming.habitDailyStream(stream, watermark = "60 days")
        .writeStream.format("memory").queryName(qn)
        .outputMode("update").start()
      try {
        mem.addData(big)
        q.processAllAvailable()
        val expected = 60L * 420L * 4L
        assert(s.table(qn).count() == expected)
        val op = q.lastProgress.stateOperators.head
        assert(op.numRowsTotal == expected,
          s"all $expected keys must be live state, saw ${op.numRowsTotal}")
        // and the state really is in RocksDB (file-backed, bounded
        // heap) — these custom metrics exist only under that provider
        import scala.jdk.CollectionConverters._
        assert(op.customMetrics.keySet().asScala
            .exists(_.toLowerCase.contains("rocksdb")),
          s"expected rocksdb metrics, saw ${op.customMetrics.keySet()}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }
  }

  test("built-in session_window agrees with the stateful sessionizer") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.SessionEvent
    val mem = MemoryStream[SessionEvent]
    mem.addData(
      SessionEvent("u1", ts("2024-01-01 10:00:00")),
      SessionEvent("u1", ts("2024-01-01 10:10:00")),  // same session
      SessionEvent("u1", ts("2024-01-01 11:00:00")),  // 50 min gap -> new
      SessionEvent("u2", ts("2024-01-01 10:00:00")))
    val qn = Streaming.nextQueryName("spec_sw")
    // the DECLARATIVE form of sessionizeStream: Spark's native session
    // window merges events closer than the gap into one window
    val q = mem.toDF()
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_email"))
      .agg(count(lit(1)).as("n_events"))
      .writeStream.format("memory").queryName(qn)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val sessions = s.table(qn).collect()
      .map(r => r.getAs[String]("user_email") -> r.getAs[Long]("n_events"))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // u1: one 2-event session + one 1-event session; u2: one session —
    // the same partitioning sessionizeStream (and the batch sessionizer)
    // produce for this data
    assert(sessions == Map("u1" -> Seq(1L, 2L), "u2" -> Seq(1L)))
  }

  test("stream-stream interval join pairs keys within the time bounds") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val clicks = MemoryStream[(String, Timestamp, Long)]
    val purchases = MemoryStream[(String, Timestamp, Double)]
    clicks.addData(
      ("u1", ts("2024-01-01 10:00:00"), 1L),
      ("u1", ts("2024-01-01 13:30:00"), 2L),  // > 2h after the purchase
      ("u2", ts("2024-01-01 10:30:00"), 3L))  // no purchase for u2
    purchases.addData(
      ("u1", ts("2024-01-01 11:00:00"), 9.99))
    val joined = Streaming.intervalJoinStream(
      clicks.toDF().toDF("user", "ts", "click_id"),
      purchases.toDF().toDF("user", "ts", "amount"),
      key = "user", tsCol = "ts",
      lowerBound = "0 seconds", upperBound = "2 hours",
      watermark = "1 hour")
    val qn = Streaming.nextQueryName("spec_ssj")
    val q = joined.writeStream.format("memory").queryName(qn)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = s.table(qn).collect()
      .map(r => (r.getAs[Long]("l_click_id"), r.getAs[Double]("r_amount")))
      .toSet
    // only click 1 has a purchase within (ts, ts + 2h] on its key
    assert(out == Set((1L, 9.99)))
  }

  test("outer interval replay stamps staged batches with strictly " +
      "increasing mtimes — sentinels cannot arrive before the data") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_ssjo_")
    try {
      val work = dir.resolve("work").toString
      val out = Streaming.intervalJoinOuterAvailableNow(s,
        "/root/testdata/sf0.001", "click", "purchase",
        "0 seconds", "2 hours", work,
        Streaming.nextQueryName("spec_ssjo"))
      // batch oracle: left interval join of the same events
      val ev = graft.Tables.events(s, "/root/testdata/sf0.001")
      def side(h: String) = ev.filter(col("event_type") === h)
        .select(col("event_id"), col("user_id").as("user_email"),
          col("ts"))
      val l = side("click").as("l")
      val r = side("purchase").as("r")
      val batch = l.join(r,
        col("l.user_email") === col("r.user_email") &&
          col("r.ts") > col("l.ts") &&
          col("r.ts") <= col("l.ts") + expr("INTERVAL 2 HOURS"),
        "left_outer")
      assert(out.count() == batch.count())
      assert(out.filter(col("r_event_id").isNull).count() ==
        batch.filter(col("r.event_id").isNull).count())
      // the staged files must carry three distinct, strictly ordered
      // mtimes (data, sentinel 1, sentinel 2) — the explicit-stamp
      // contract that replaces write-time mtime luck
      val staged = new java.io.File(s"$work/staged").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
      val mtimes = staged.map(_.lastModified()).sorted.toSeq
      assert(mtimes.distinct.size == 3,
        s"expected 3 distinct batch mtimes, got $mtimes")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("upsertStream: successive AvailableNow ticks converge the store") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ustream_")
    val store = dir.resolve("events").toString
    val cp = dir.resolve("cp").toString
    try {
      val mem = MemoryStream[(Timestamp, String, String, Double, Option[String], String)]
      def stream = mem.toDF()
        .toDF("ts", "user_email", "habit", "value", "notes", "source")
      // tick 1: bootstrap
      mem.addData(
        (ts("2024-01-01 10:00:00"), "a@x", "workout", 1.0, Some("n1"), "sheets"),
        (ts("2024-01-02 10:00:00"), "b@x", "workout", 0.0, None, "sheets"))
      Streaming.upsertStream(stream, store, cp).awaitTermination()
      // tick 2: update one key (value replaced, NULL notes keep old),
      // insert one new key; b@x untouched
      mem.addData(
        (ts("2024-01-01 10:00:00"), "a@x", "workout", 5.0, None, "sheets"),
        (ts("2024-01-03 10:00:00"), "c@x", "mood", 7.0, Some("new"), "sheets"))
      Streaming.upsertStream(stream, store, cp).awaitTermination()

      val out = graft.load.EventStore.read(s, store).collect()
        .map(r => (r.getAs[String]("user_email"), r.getAs[String]("habit")) ->
          (r.getAs[Double]("value"), Option(r.getAs[String]("notes"))))
        .toMap
      assert(out.size == 3)
      assert(out(("a@x", "workout")) == ((5.0, Some("n1")))) // COALESCE rule
      assert(out(("b@x", "workout")) == ((0.0, None)))       // untouched
      assert(out(("c@x", "mood"))    == ((7.0, Some("new")))) // inserted
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("joinViewIngest: each commit's change feed advances the join " +
      "view; updates re-weigh, dim-less facts drop, head == recompute") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_jvi_")
    try {
      val store = dir.resolve("fact").toString
      val viewDir = dir.resolve("view").toString
      val cp = dir.resolve("cp").toString
      val dim = Seq((1L, 2.0), (2L, 0.5)).toDF("user_email", "weight")
      val mem = MemoryStream[(Long, Timestamp, String, Double)]
      def stream = mem.toDF().toDF("user_email", "ts", "habit", "value")
      def tick(): Unit = Streaming.joinViewIngest(stream, store, viewDir,
        dim, joinKeys = Seq("user_email"),
        factCols = Seq("habit", "value"), dims = Seq("habit"),
        contribE6 = round(col("value") * col("weight") * 1e6).cast("long"),
        checkpointDir = cp, queryName = Streaming.nextQueryName("jvi"),
        keys = Seq("user_email", "habit", "ts")).awaitTermination()
      def view(v: Int) = s.read.parquet(s"$viewDir/v$v").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // tick 1 bootstraps the store AND the view
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), "workout", 2.0),
        (2L, ts("2024-01-01 11:00:00"), "workout", 4.0),
        (1L, ts("2024-01-02 10:00:00"), "mood", 3.0))
      tick()
      // workout = 2·2 + 4·0.5 = 6; mood = 3·2 = 6
      assert(view(0) == Map("workout" -> ((2L, 6000000L)),
        "mood" -> ((1L, 6000000L))))
      // tick 2: update one key, insert one, and one user with no dim
      // row (must contribute nothing); day 2024-01-02 carries by
      // reference, so its rows never reappear in the feed
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), "workout", 10.0),
        (2L, ts("2024-01-03 09:00:00"), "mood", 8.0),
        (9L, ts("2024-01-03 10:00:00"), "mood", 1.0))
      tick()
      // workout = 10·2 + 4·0.5 = 22; mood = 3·2 + 8·0.5 = 10
      val v1 = view(1)
      assert(v1 == Map("workout" -> ((2L, 22000000L)),
        "mood" -> ((2L, 10000000L))))
      // head view == full recompute of the final store ⋈ dim
      val full = graft.load.VersionedStore.snapshot(s, store)
        .join(dim, "user_email")
        .groupBy(col("habit"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * col("weight") * 1e6).cast("long"))
            .as("sum_e6"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(v1 == full)
      // exactly-once: a fresh-checkpoint replay re-delivers everything
      // as batch 0, which the committed batch-id dedup must skip —
      // no new store version, no new view generation
      Streaming.joinViewIngest(stream, store, viewDir, dim,
        joinKeys = Seq("user_email"), factCols = Seq("habit", "value"),
        dims = Seq("habit"),
        contribE6 = round(col("value") * col("weight") * 1e6).cast("long"),
        checkpointDir = dir.resolve("cp2").toString,
        queryName = Streaming.nextQueryName("jvi"),
        keys = Seq("user_email", "habit", "ts")).awaitTermination()
      assert(graft.load.VersionedStore.versions(s, store) == Seq(0, 1))
      assert(!new java.io.File(s"$viewDir/v2").exists())
      assert(view(1) == v1)
      // gap healing: a crash between manifest publish and view write
      // leaves a version without its view — the next tick must advance
      // from the newest EXISTING generation (here v0), telescoping the
      // feed across both commits instead of wedging on a missing read
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$viewDir/v1"))
      mem.addData((2L, ts("2024-01-04 12:00:00"), "workout", 6.0))
      tick()
      // workout gains 6·0.5 = 3 over the healed v1 state: 22 + 3 = 25
      assert(view(2) == Map("workout" -> ((3L, 25000000L)),
        "mood" -> ((2L, 10000000L))))
      // a generation that was CREATED but never COMMITTED (its write
      // died before the _SUCCESS marker) must not be trusted as the
      // resume point: strip v2 to a bare directory — the next tick has
      // to skip it (and the fully-deleted v1) and heal from v0
      org.apache.commons.io.FileUtils.cleanDirectory(
        new java.io.File(s"$viewDir/v2"))
      mem.addData((1L, ts("2024-01-05 09:00:00"), "mood", 2.0))
      tick()
      // telescoped v0 → v3 feed over the final store:
      // workout = 10·2 + 4·0.5 + 6·0.5 = 25 (n=3)
      // mood    = 3·2 + 8·0.5 + 2·2   = 14 (n=3; u9 has no dim row)
      assert(view(3) == Map("workout" -> ((3L, 25000000L)),
        "mood" -> ((3L, 14000000L))))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("joinViewIngestTwoSided: dim changes advance the view through " +
      "the zB leg; fact-only ticks skip it; head == closed form") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_jv2s_")
    try {
      val fact = dir.resolve("fact").toString
      val dim = dir.resolve("dim").toString
      val viewDir = dir.resolve("view").toString
      val dimTs = ts("2024-01-01 00:00:00")
      def dimDf(rows: (Long, Double)*) = rows.toSeq
        .map { case (u, w) => (u, dimTs, w) }
        .toDF("user_email", "ts", "weight")
      val mem = MemoryStream[(Long, Timestamp, String, Double)]
      def stream = mem.toDF().toDF("user_email", "ts", "habit", "value")
      def tick(): Unit = Streaming.joinViewIngestTwoSided(stream, fact,
        dim, viewDir,
        dimForBatch = {
          case 0L => Some(dimDf(1L -> 2.0, 2L -> 0.5))
          case 1L => Some(dimDf(2L -> 2.0)) // reweight u2
          case _ => None
        },
        joinKeys = Seq("user_email"), factCols = Seq("habit", "value"),
        dimCols = Seq("weight"), dims = Seq("habit"),
        contribE6 = round(col("value") * col("weight") * 1e6).cast("long"),
        checkpointDir = dir.resolve("cp").toString,
        queryName = Streaming.nextQueryName("jv2s"),
        keys = Seq("user_email", "habit", "ts"),
        dimKeys = Seq("user_email")).awaitTermination()
      def view(g: String) = s.read.parquet(s"$viewDir/$g").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), "workout", 2.0),
        (2L, ts("2024-01-01 11:00:00"), "workout", 4.0),
        (1L, ts("2024-01-02 10:00:00"), "mood", 3.0))
      tick()
      // workout = 2·2 + 4·0.5 = 6; mood = 3·2 = 6
      assert(view("v0_0") == Map("workout" -> ((2L, 6000000L)),
        "mood" -> ((1L, 6000000L))))
      // tick 2: fact update + insert AND a dim reweight in one step
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), "workout", 10.0),
        (2L, ts("2024-01-03 09:00:00"), "mood", 8.0))
      tick()
      // final dim u1=2, u2=2: workout = 10·2 + 4·2 = 28; mood = 3·2 + 8·2 = 22
      assert(view("v1_1") == Map("workout" -> ((2L, 28000000L)),
        "mood" -> ((2L, 22000000L))))
      // tick 3: fact-only (dim-less user contributes nothing; ΔB empty)
      mem.addData((9L, ts("2024-01-04 10:00:00"), "mood", 1.0))
      tick()
      assert(view("v2_1") == Map("workout" -> ((2L, 28000000L)),
        "mood" -> ((2L, 22000000L))))
      // head view == full recompute of final fact ⋈ final dim
      val full = graft.load.VersionedStore.snapshot(s, fact)
        .join(graft.load.VersionedStore.snapshot(s, dim)
          .select(col("user_email"), col("weight")), "user_email")
        .groupBy(col("habit"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * col("weight") * 1e6).cast("long"))
            .as("sum_e6"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(view("v2_1") == full)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("cdcStream: change-feed ticks apply inserts, updates, deletes") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc_")
    val sink = dir.resolve("table").toString
    val cp = dir.resolve("cp").toString
    try {
      val mem = MemoryStream[(Long, String, Double, String, Long)]
      def stream = mem.toDF().toDF("k", "name", "value", "op", "seq")
      // tick 1: pure inserts bootstrap the sink
      mem.addData((1L, "a", 10.0, "I", 1L), (2L, "b", 20.0, "I", 2L),
        (3L, "c", 30.0, "I", 3L))
      Streaming.cdcStream(stream, sink, cp, Seq("k"), "seq")
        .awaitTermination()
      // tick 2: update k2 (stale change superseded in-batch), delete k3,
      // insert k4
      mem.addData((2L, "stale", -1.0, "U", 4L), (2L, "b2", 22.0, "U", 5L),
        (3L, "c", 0.0, "D", 6L), (4L, "d", 40.0, "I", 7L))
      Streaming.cdcStream(stream, sink, cp, Seq("k"), "seq")
        .awaitTermination()
      val out = s.read.parquet(sink).collect()
        .map(r => r.getAs[Long]("k") ->
          ((r.getAs[String]("name"), r.getAs[Double]("value")))).toMap
      assert(out == Map(1L -> (("a", 10.0)), 2L -> (("b2", 22.0)),
        4L -> (("d", 40.0))))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("dedupStreamIncremental: ticks find cross-tick near-dups only once") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sdedup_")
    val corpus = dir.resolve("corpus").toString
    val pairs = dir.resolve("pairs").toString
    val cp = dir.resolve("cp").toString
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    try {
      val mem = MemoryStream[(Long, String)]
      def stream = mem.toDF().toDF("doc_id", "text")
      // tick 1: two distinct docs — no pairs
      mem.addData((1L, textA),
        (2L, "completely different words in this one here today"))
      Streaming.dedupStreamIncremental(stream, corpus, pairs, cp,
        "doc_id", "text").awaitTermination()
      // tick 2: a copy of doc 1 plus another distinct doc
      mem.addData((3L, textA),
        (4L, "nothing shared with any other document at all folks"))
      Streaming.dedupStreamIncremental(stream, corpus, pairs, cp,
        "doc_id", "text").awaitTermination()
      val ledger = s.read.parquet(pairs).select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(ledger == Set((1L, 3L)))
      assert(s.read.parquet(corpus).count() == 4)
      // replaying a tick (same batchId) must not duplicate anything:
      // the batch=<id> overwrite makes both sinks idempotent — model it
      // by re-running tick 2's merge path against its own leftovers
      assert(s.read.parquet(corpus).select("batch").distinct().count() == 2)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("vocabIngest: per-tick censuses sum to the corpus word table; " +
      "a replayed tick rewrites, never double-counts") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_uvspec_")
    val state = dir.resolve("state").toString
    try {
      val mem = MemoryStream[String]
      def stream = mem.toDF().toDF("text")
      mem.addData("a a b")
      Streaming.vocabIngest(stream, state, dir.resolve("cp1").toString,
        "text").awaitTermination()
      mem.addData("b c")
      Streaming.vocabIngest(stream, state, dir.resolve("cp1").toString,
        "text").awaitTermination()
      def freq() = s.read.parquet(state).groupBy(col("w"))
        .agg(sum(col("freq")).as("f"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(freq() == Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
      // replaying the SAME tick (fresh source with identical data ⇒
      // the same batch ids re-fire) must overwrite its own subdir, so
      // the summed state still counts each occurrence once
      val state2 = dir.resolve("state2").toString
      val mem2 = MemoryStream[String]
      def stream2 = mem2.toDF().toDF("text")
      mem2.addData("a a b", "b c")
      Streaming.vocabIngest(stream2, state2, dir.resolve("cp2").toString,
        "text").awaitTermination()
      val mem3 = MemoryStream[String]
      def stream3 = mem3.toDF().toDF("text")
      mem3.addData("a a b", "b c")
      Streaming.vocabIngest(stream3, state2, dir.resolve("cp3").toString,
        "text").awaitTermination()
      val f2 = s.read.parquet(state2).groupBy(col("w"))
        .agg(sum(col("freq")).as("f"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(f2 == Map("a" -> 2L, "b" -> 2L, "c" -> 1L),
        "same batch ids must overwrite, not append")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("lateAuditIngest: rows older than the prior high-watermark minus " +
      "the lag land in the late ledger; tick 0 ledgers nothing; replay " +
      "overwrites") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_latespec_")
    val state = dir.resolve("state").toString
    try {
      val mem = MemoryStream[(Timestamp, String)]
      def stream = mem.toDF().toDF("ts", "k")
      // tick 0: max ts = Mar 10. Nothing can be late yet.
      mem.addData(
        (ts("2024-03-01 00:00:00"), "a"), (ts("2024-03-10 00:00:00"), "b"))
      Streaming.lateAuditIngest(stream, state,
        dir.resolve("cp1").toString, "ts").awaitTermination()
      // tick 1: Mar 8 (within 1-day lag of Mar 10: NOT late),
      // Mar 5 (late), Mar 12 (ahead: not late)
      mem.addData(
        (ts("2024-03-09 12:00:00"), "ontime"),
        (ts("2024-03-05 00:00:00"), "late"),
        (ts("2024-03-12 00:00:00"), "ahead"))
      Streaming.lateAuditIngest(stream, state,
        dir.resolve("cp1").toString, "ts").awaitTermination()
      def lateKeys() = s.read.parquet(s"$state/late")
        .select(col("k")).collect().map(_.getString(0)).toSet
      assert(lateKeys() == Set("late"))
      // replay tick 0 (fresh checkpoint, same batch id): its empty
      // late subdir overwrites itself; the ledger is unchanged
      val mem2 = MemoryStream[(Timestamp, String)]
      def stream2 = mem2.toDF().toDF("ts", "k")
      mem2.addData(
        (ts("2024-03-01 00:00:00"), "a"), (ts("2024-03-10 00:00:00"), "b"))
      Streaming.lateAuditIngest(stream2, state,
        dir.resolve("cp2").toString, "ts").awaitTermination()
      assert(lateKeys() == Set("late"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("bloomIngest: OR-merged per-tick blooms probe exactly like the " +
      "one-pass bloom; replay is a no-op") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomspec_")
    val state = dir.resolve("state").toString
    try {
      val mem = MemoryStream[Long]
      def stream = mem.toDF().toDF("k")
      mem.addData(1L, 2L, 3L)
      Streaming.bloomIngest(stream, state, dir.resolve("cp1").toString,
        "k", expectedKeys = 100L).awaitTermination()
      mem.addData(4L, 5L)
      Streaming.bloomIngest(stream, state, dir.resolve("cp1").toString,
        "k", expectedKeys = 100L).awaitTermination()
      val merged = Streaming.bloomMergedState(s, state)
      val onePass = Seq(1L, 2L, 3L, 4L, 5L).toDF("k")
        .stat.bloomFilter("k", 100L, 0.01)
      for (k <- 0L to 50L)
        assert(merged.mightContainLong(k) == onePass.mightContainLong(k),
          s"key $k: merged bloom != one-pass bloom")
      // replay tick 0: overwrite + OR idempotence keep the bitmap fixed
      val mem2 = MemoryStream[Long]
      def stream2 = mem2.toDF().toDF("k")
      mem2.addData(1L, 2L, 3L)
      Streaming.bloomIngest(stream2, state, dir.resolve("cp2").toString,
        "k", expectedKeys = 100L).awaitTermination()
      val merged2 = Streaming.bloomMergedState(s, state)
      for (k <- 0L to 50L)
        assert(merged2.mightContainLong(k) == onePass.mightContainLong(k))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("hllIngest: unioned per-tick sketches estimate exactly like the " +
      "one-pass sketch (register-max associativity); replay is a no-op") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_hllspec_")
    val state = dir.resolve("state").toString
    val t = Timestamp.valueOf("2024-03-04 10:00:00")
    try {
      val mem = MemoryStream[(Timestamp, Long)]
      def stream = mem.toDF().toDF("ts", "user_id")
      mem.addData((t, 1L), (t, 2L), (t, 1L))
      Streaming.hllIngest(stream, state, dir.resolve("cp1").toString,
        "user_id").awaitTermination()
      mem.addData((t, 2L), (t, 3L))
      Streaming.hllIngest(stream, state, dir.resolve("cp1").toString,
        "user_id").awaitTermination()
      def est(): Long = s.read.parquet(state)
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))))
        .collect()(0).getLong(0)
      val onePass = Seq((t, 1L), (t, 2L), (t, 1L), (t, 2L), (t, 3L))
        .toDF("ts", "user_id")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))))
        .collect()(0).getLong(0)
      assert(est() == onePass, "union tree must reach the same registers")
      // replaying tick 0 (fresh checkpoint, same batch id) changes
      // nothing: subdir overwrite + union idempotence
      val mem2 = MemoryStream[(Timestamp, Long)]
      def stream2 = mem2.toDF().toDF("ts", "user_id")
      mem2.addData((t, 1L), (t, 2L), (t, 1L))
      Streaming.hllIngest(stream2, state, dir.resolve("cp2").toString,
        "user_id").awaitTermination()
      assert(est() == onePass)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("histIngest: summed per-tick bins equal the one-pass histogram; " +
      "replayed ticks never double-count") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_histspec_")
    val state = dir.resolve("state").toString
    try {
      val mem = MemoryStream[(String, Double)]
      def stream = mem.toDF().toDF("g", "v")
      mem.addData(("a", 5.0), ("a", 15.0))
      Streaming.histIngest(stream, state, dir.resolve("cp1").toString,
        "v", lo = 0.0, hi = 40.0, buckets = 4, groupCols = Seq("g"))
        .awaitTermination()
      mem.addData(("a", 5.0), ("b", 35.0))
      Streaming.histIngest(stream, state, dir.resolve("cp1").toString,
        "v", lo = 0.0, hi = 40.0, buckets = 4, groupCols = Seq("g"))
        .awaitTermination()
      def merged() = s.read.parquet(state)
        .groupBy(col("g"), col("bucket")).agg(sum(col("n")).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val exp = graft.ext.Profile.histogram(
          Seq(("a", 5.0), ("a", 15.0), ("a", 5.0), ("b", 35.0))
            .toDF("g", "v"), "v", 0.0, 40.0, 4, Seq("g"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(merged() == exp)
      // replay tick 0 under a fresh checkpoint: same batch id, same
      // subdir, totals unchanged
      val mem2 = MemoryStream[(String, Double)]
      def stream2 = mem2.toDF().toDF("g", "v")
      mem2.addData(("a", 5.0), ("a", 15.0))
      Streaming.histIngest(stream2, state, dir.resolve("cp2").toString,
        "v", lo = 0.0, hi = 40.0, buckets = 4, groupCols = Seq("g"))
        .awaitTermination()
      assert(merged() == exp, "replayed tick must overwrite, not append")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("cmsIngest: merged per-tick sketches answer exactly like the " +
      "one-pass batch sketch; replayed ticks never double-count") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cmsspec_")
    val state = dir.resolve("state").toString
    try {
      val mem = MemoryStream[String]
      def stream = mem.toDF().toDF("v")
      mem.addData("a", "a", "b")
      Streaming.cmsIngest(stream, state, dir.resolve("cp1").toString, "v")
        .awaitTermination()
      mem.addData("a", "c")
      Streaming.cmsIngest(stream, state, dir.resolve("cp1").toString, "v")
        .awaitTermination()
      val merged = Streaming.cmsMergedState(s, state)
      val batchSketch = Seq("a", "a", "b", "a", "c").toDF("v")
        .stat.countMinSketch("v", 0.001, 0.99, 42)
      for (k <- Seq("a", "b", "c", "never-seen"))
        assert(merged.estimateCount(k) == batchSketch.estimateCount(k),
          s"key $k: merged != one-pass batch")
      assert(merged.estimateCount("a") >= 3L)
      // replaying tick 0 under a fresh checkpoint (same batch id) must
      // overwrite its subdir — totals unchanged
      val mem2 = MemoryStream[String]
      def stream2 = mem2.toDF().toDF("v")
      mem2.addData("a", "a", "b")
      Streaming.cmsIngest(stream2, state, dir.resolve("cp2").toString, "v")
        .awaitTermination()
      val merged2 = Streaming.cmsMergedState(s, state)
      assert(merged2.estimateCount("a") == batchSketch.estimateCount("a"),
        "replayed tick must overwrite its sketch, not add a third")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("kanonIngest: cross-tick distinct users resolve from the census " +
      "(not additive per tick); replayed ticks never double-count") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_kaspec_")
    val state = dir.resolve("state").toString
    val t = Timestamp.valueOf("2024-03-01 10:00:00")
    try {
      val mem = MemoryStream[(Timestamp, Long, String, Double)]
      def stream = mem.toDF().toDF("ts", "user_id", "event_type", "value")
      // user 1 spans both ticks inside ONE QI group — a per-tick
      // distinct would count it twice; the census counts it once
      mem.addData((t, 1L, "click", 1.0), (t, 2L, "click", 1.0))
      Streaming.kanonIngest(stream, state, dir.resolve("cp1").toString)
        .awaitTermination()
      mem.addData((t, 1L, "click", 2.0))
      Streaming.kanonIngest(stream, state, dir.resolve("cp1").toString)
        .awaitTermination()
      def audit() = graft.ext.Privacy.anonymityAuditFromCensus(
          s.read.parquet(state),
          Seq(col("event_type"), col("d"), col("vb")), col("user_id"),
          col("n"), reportAs = "event_type", k = 3, l = 3)
        .collect()
      val a = audit()
      assert(a.length == 1)
      val r = a(0)
      assert(r.getLong(r.fieldIndex("n_groups")) == 1L)
      assert(r.getLong(r.fieldIndex("min_group")) == 3L)   // 3 rows
      assert(r.getLong(r.fieldIndex("risky_k_groups")) == 0L)
      assert(r.getLong(r.fieldIndex("min_l")) == 2L)       // users 1,2
      assert(r.getLong(r.fieldIndex("risky_l_groups")) == 1L)
      assert(r.getLong(r.fieldIndex("risky_l_rows")) == 3L)
      // replay both ticks under fresh checkpoints (same batch ids):
      // the batch=<id> overwrite keeps the census — and audit — fixed
      val mem2 = MemoryStream[(Timestamp, Long, String, Double)]
      def stream2 = mem2.toDF().toDF("ts", "user_id", "event_type", "value")
      mem2.addData((t, 1L, "click", 1.0), (t, 2L, "click", 1.0))
      Streaming.kanonIngest(stream2, state, dir.resolve("cp2").toString)
        .awaitTermination()
      val a2 = audit()(0)
      assert(a2.getLong(a2.fieldIndex("min_group")) == 3L,
        "replayed tick must overwrite its census subdir, not append")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("dedupStream drops replayed keys within the watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Timestamp, String, String, Double)]
    mem.addData(rows ++ rows: _*) // full replay in the same batch
    val stream = mem.toDF().toDF("ts", "user_email", "habit", "value")
    val qn = Streaming.nextQueryName("spec_dd")
    val q = Streaming.dedupStream(stream, Seq("user_email", "habit", "ts"))
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(s.table(qn).count() == rows.length.toLong)
  }

  // ── chaos: ticks killed mid-write ────────────────────────────────────
  // The clean-replay tests above prove idempotence of COMMITTED ticks;
  // these prove the torn-write path: a tick killed mid-write leaves a
  // `batch=<id>` subdir holding a plausible-but-wrong partial artifact
  // and NO `_SUCCESS` marker. The checkpoint never committed that
  // batch, so the restart re-delivers it, and every ledger's
  // `mode("overwrite")` must truncate the debris — each case fails if
  // the ledger unions with or skips past the torn dir instead.

  /** Plant the crash debris: `bogus` rows as the torn partial write,
    * `_SUCCESS` stripped. */
  private def tearTick(state: String, batchId: Long,
      bogus: org.apache.spark.sql.DataFrame): Unit = {
    bogus.coalesce(1).write.mode("overwrite").parquet(s"$state/batch=$batchId")
    val succ = new java.io.File(s"$state/batch=$batchId/_SUCCESS")
    assert(!succ.exists() || succ.delete())
  }

  test("chaos: vocabIngest heals a torn batch=0 census on replay") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaosvoc_")
    val state = dir.resolve("state").toString
    try {
      tearTick(state, 0L, Seq(("zz", 99L)).toDF("w", "freq"))
      val mem = MemoryStream[String]
      def stream = mem.toDF().toDF("text")
      mem.addData("a a b")
      Streaming.vocabIngest(stream, state, dir.resolve("cp").toString,
        "text").awaitTermination()
      mem.addData("b c")
      Streaming.vocabIngest(stream, state, dir.resolve("cp").toString,
        "text").awaitTermination()
      val freq = s.read.parquet(state).groupBy(col("w"))
        .agg(sum(col("freq")).as("f"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(freq == Map("a" -> 2L, "b" -> 2L, "c" -> 1L),
        "torn tick-0 debris must be truncated by the replay overwrite")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("chaos: blocklistIngest heals a torn batch=0 hit ledger on replay") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaosblk_")
    val state = dir.resolve("state").toString
    try {
      // plausible-but-wrong debris: a flagged doc that was never dirty
      tearTick(state, 0L,
        Seq((999L, 5L, "bogus")).toDF("doc_id", "n_hits", "first_phrase"))
      val mem = MemoryStream[(Long, String)]
      def stream = mem.toDF().toDF("doc_id", "text")
      mem.addData(1L -> "clean words", 2L -> "has a bad word inside")
      Streaming.blocklistIngest(stream, state, dir.resolve("cp").toString,
        "doc_id", "text", Seq("bad word", "worse")).awaitTermination()
      mem.addData(3L -> "worse still, a bad word too")
      Streaming.blocklistIngest(stream, state, dir.resolve("cp").toString,
        "doc_id", "text", Seq("bad word", "worse")).awaitTermination()
      val hits = s.read.parquet(state)
        .groupBy(col("doc_id"))
        .agg(sum(col("n_hits")).as("n"), min(col("first_phrase")).as("p"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
        .toMap
      assert(hits == Map(2L -> ((1L, "bad word")),
        3L -> ((2L, "bad word"))),
        "torn tick-0 debris must be truncated by the replay overwrite")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("chaos: clusterLedgerIngest heals torn batch=0 corpus AND label " +
      "snapshots on replay") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaoscls_")
    val work = dir.resolve("state").toString
    try {
      // plausible-but-wrong debris in BOTH stateful dirs: a phantom
      // corpus doc and a phantom label that never existed
      tearTick(s"$work/corpus", 0L,
        Seq((999L, "phantom text")).toDF("doc_id", "text"))
      tearTick(s"$work/labels", 0L,
        Seq((999L, 999L)).toDF("id", "cluster_id"))
      val dup = "alpha beta gamma delta epsilon zeta"
      val mem = MemoryStream[(Long, String)]
      def stream = mem.toDF().toDF("doc_id", "text")
      mem.addData(1L -> dup, 2L -> dup, 4L -> "unrelated solitary words")
      Streaming.clusterLedgerIngest(stream, work,
        dir.resolve("cp").toString, "doc_id", "text").awaitTermination()
      mem.addData(3L -> dup)
      Streaming.clusterLedgerIngest(stream, work,
        dir.resolve("cp").toString, "doc_id", "text").awaitTermination()
      val last = new java.io.File(s"$work/labels").list()
        .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
        .max
      val labels = s.read.parquet(s"$work/labels/batch=$last")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the phantom 999 must be gone; the three dups cluster to min id
      // 1; the pairless doc 4 stays out of the label domain
      assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
        s"torn debris must be truncated by the replay overwrite: $labels")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("chaos: winnowIngest heals a torn batch=0 census on replay") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaoswin_")
    val state = dir.resolve("state").toString
    try {
      // plausible-but-wrong debris: a census row for a doc never seen
      tearTick(state, 0L, Seq((999L, 7L, 7L, 123L))
        .toDF("doc_id", "n_fp", "n_distinct_fp", "fp_checksum"))
      val mem = MemoryStream[(Long, String)]
      def stream = mem.toDF().toDF("doc_id", "text")
      mem.addData(1L -> "abcdefghij", 2L -> "abcdefghijklmno")
      Streaming.winnowIngest(stream, state, dir.resolve("cp").toString,
        "doc_id", "text", 4, 3).awaitTermination()
      mem.addData(3L -> "zyxwvutsrq")
      Streaming.winnowIngest(stream, state, dir.resolve("cp").toString,
        "doc_id", "text", 4, 3).awaitTermination()
      val got = s.read.parquet(state)
        .groupBy(col("doc_id"))
        .agg(sum(col("n_fp")).as("n_fp"),
          sum(col("n_distinct_fp")).as("nd"),
          sum(col("fp_checksum")).as("ck"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      // the merged ledger must equal the one-pass batch census
      val batch = graft.ext.Dedup.winnowFingerprintsLocal(
          Seq(1L -> "abcdefghij", 2L -> "abcdefghijklmno",
            3L -> "zyxwvutsrq").toDF("doc_id", "text"),
          "doc_id", "text", 4, 3)
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_fp"),
          countDistinct(col("fp")).as("nd"),
          sum(col("fp") % 1000000007L).as("ck"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(!got.contains(999L),
        "torn tick-0 debris must be truncated by the replay overwrite")
      assert(got == batch,
        "merged ledger must equal the one-pass batch census")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("chaos: scatterIngest heals torn batch=0 censuses on replay") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaossc_")
    val state = dir.resolve("state").toString
    try {
      // plausible-but-wrong debris in all three ledgers
      tearTick(s"$state/s1", 0L, Seq((0, 999L)).toDF("d", "s1"))
      tearTick(s"$state/s2", 0L, Seq((0, 0, 999L)).toDF("dj", "dk", "s"))
      tearTick(s"$state/n", 0L, Seq(99L).toDF("n"))
      val mem = MemoryStream[(Long, Seq[Float])]
      def stream = mem.toDF().toDF("vec_id", "embedding")
      mem.addData(1L -> Seq(0.5f, -0.2f), 2L -> Seq(-0.1f, 0.4f))
      Streaming.scatterIngest(stream, state, dir.resolve("cp").toString,
        "vec_id", "embedding").awaitTermination()
      mem.addData(3L -> Seq(0.3f, 0.3f))
      Streaming.scatterIngest(stream, state, dir.resolve("cp").toString,
        "vec_id", "embedding").awaitTermination()
      val ledger = graft.ext.Similarity
        .topComponentFromLedger(s, state, iterations = 4)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      val batch = graft.ext.Similarity.topComponentPower(
          Seq(1L -> Seq(0.5f, -0.2f), 2L -> Seq(-0.1f, 0.4f),
            3L -> Seq(0.3f, 0.3f)).toDF("vec_id", "embedding"),
          "vec_id", "embedding", iterations = 4)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      assert(ledger == batch,
        "top-PC off the healed ledger must equal the batch computation")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("chaos: kappaIngest heals a torn batch=0 cell census on replay") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaoskap_")
    val state = dir.resolve("state").toString
    try {
      // plausible-but-wrong debris: votes for an item never rated
      tearTick(state, 0L, Seq((999L, 4L, 3L)).toDF("id", "lab", "n"))
      val mem = MemoryStream[(Long, Int)]
      def stream = mem.toDF().toDF("vec_id", "label")
      mem.addData(1L -> 2, 2L -> 7)
      Streaming.kappaIngest(stream, state, dir.resolve("cp").toString,
        "vec_id", "label", 3, 10).awaitTermination()
      mem.addData(3L -> 2, 4L -> 5)
      Streaming.kappaIngest(stream, state, dir.resolve("cp").toString,
        "vec_id", "label", 3, 10).awaitTermination()
      val ledger = graft.ext.Agreement.fleissKappaFromCells(
          s.read.parquet(state), nRaters = 3)
        .collect().head
      val batch = graft.ext.Agreement.fleissKappa(
          graft.ext.Agreement.annotatorLabels(
            Seq(1L -> 2, 2L -> 7, 3L -> 2, 4L -> 5)
              .toDF("vec_id", "label"), "vec_id", "label", 3, 10),
          nRaters = 3)
        .collect().head
      assert(ledger.getLong(0) == 4L,
        "torn tick-0 debris (item 999) must be truncated by the replay")
      assert(ledger.toSeq == batch.toSeq,
        "kappa off the merged ledger must equal the batch computation")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("chaos: collocationIngest heals torn batch=0 censuses on replay") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaospmi_")
    val state = dir.resolve("state").toString
    try {
      tearTick(s"$state/uni", 0L, Seq(("zz", 99L)).toDF("w", "freq"))
      tearTick(s"$state/big", 0L,
        Seq(("zz", "zz", 99L)).toDF("w1", "w2", "freq"))
      val mem = MemoryStream[String]
      def stream = mem.toDF().toDF("text")
      mem.addData("a b a")
      Streaming.collocationIngest(stream, state, dir.resolve("cp").toString,
        "text").awaitTermination()
      mem.addData("b a")
      Streaming.collocationIngest(stream, state, dir.resolve("cp").toString,
        "text").awaitTermination()
      val uni = s.read.parquet(s"$state/uni").groupBy(col("w"))
        .agg(sum(col("freq")).as("f"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(uni == Map("a" -> 3L, "b" -> 2L),
        "torn uni debris must be truncated by the replay overwrite")
      val big = s.read.parquet(s"$state/big")
        .groupBy(col("w1"), col("w2")).agg(sum(col("freq")).as("f"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      // doc 1: (a,b),(b,a); doc 2: (b,a) — bigrams never cross docs
      assert(big == Map(("a", "b") -> 1L, ("b", "a") -> 2L),
        "torn big debris must be truncated by the replay overwrite")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("chaos: assocIngest heals torn batch=0 basket censuses on replay") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaosasc_")
    val state = dir.resolve("state").toString
    try {
      tearTick(s"$state/item", 0L, Seq(("ZZ", 99L)).toDF("i", "supp"))
      tearTick(s"$state/pair", 0L,
        Seq(("ZZ", "ZZ", 99L)).toDF("item_a", "item_b", "supp_ab"))
      tearTick(s"$state/n", 0L, Seq(99L).toDF("n"))
      val mem = MemoryStream[(Long, String)]
      def stream = mem.toDF().toDF("b", "i")
      // ticks carry WHOLE baskets (the documented arrival contract)
      mem.addData(1L -> "A", 1L -> "B", 1L -> "C", 2L -> "A", 2L -> "B")
      Streaming.assocIngest(stream, state, dir.resolve("cp").toString,
        "b", "i").awaitTermination()
      mem.addData(3L -> "A", 3L -> "C", 4L -> "B")
      Streaming.assocIngest(stream, state, dir.resolve("cp").toString,
        "b", "i").awaitTermination()
      val supp = s.read.parquet(s"$state/item").groupBy(col("i"))
        .agg(sum(col("supp")).as("supp"))
      val pairSupp = s.read.parquet(s"$state/pair")
        .groupBy(col("item_a"), col("item_b"))
        .agg(sum(col("supp_ab")).as("supp_ab"))
      val n = s.read.parquet(s"$state/n").agg(sum(col("n")).as("n_baskets"))
      val rules = graft.ext.Assoc
        .pairRulesFromCensus(supp, pairSupp, n, minSupport = 2)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
        .toMap
      // same fixture as the batch pairRules spec: AB=2 AC=2, N=4
      assert(rules == Map(
        ("A", "B") -> ((2L, 0.666667d, 0.666667d, 0.888889d)),
        ("A", "C") -> ((2L, 0.666667d, 1.0d, 1.333333d))),
        "torn basket-census debris must be truncated by the replay")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("chaos: cmsIngest heals a torn batch=0 sketch on replay") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaoscms_")
    val state = dir.resolve("state").toString
    try {
      // a syntactically valid sketch of the WRONG rows — the worst torn
      // artifact, indistinguishable from a real one by inspection
      val wrong = Seq("zz", "zz", "zz").toDF("v")
        .stat.countMinSketch("v", 0.001, 0.99, 42)
      val os = new java.io.ByteArrayOutputStream()
      wrong.writeTo(os)
      tearTick(state, 0L, Seq((0L, os.toByteArray)).toDF("batch_id", "sketch"))
      val mem = MemoryStream[String]
      def stream = mem.toDF().toDF("v")
      mem.addData("a", "a", "b")
      Streaming.cmsIngest(stream, state, dir.resolve("cp").toString, "v")
        .awaitTermination()
      mem.addData("a", "c")
      Streaming.cmsIngest(stream, state, dir.resolve("cp").toString, "v")
        .awaitTermination()
      val merged = Streaming.cmsMergedState(s, state)
      val batchSketch = Seq("a", "a", "b", "a", "c").toDF("v")
        .stat.countMinSketch("v", 0.001, 0.99, 42)
      for (k <- Seq("a", "b", "c", "zz"))
        assert(merged.estimateCount(k) == batchSketch.estimateCount(k),
          s"key $k: healed state must equal the one-pass batch sketch")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("chaos: chunkIngest heals a torn batch=0 chunk census on replay") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaoschk_")
    val state = dir.resolve("state").toString
    val tA = "the quick brown fox jumps over the lazy dog again and again"
    val tB = "a completely different second document with its own words"
    try {
      tearTick(state, 0L,
        Seq(("g1", "bogus-chunk", 99L, 11L)).toDF("src", "chunk", "cnt", "len"))
      val mem = MemoryStream[(String, String)]
      def stream = mem.toDF().toDF("src", "text")
      mem.addData(("g1", tA))
      Streaming.chunkIngest(stream, state, dir.resolve("cp").toString,
        "src", "text").awaitTermination()
      mem.addData(("g1", tB))
      Streaming.chunkIngest(stream, state, dir.resolve("cp").toString,
        "src", "text").awaitTermination()
      val ledger = s.read.parquet(state)
        .groupBy(col("src"), col("chunk")).agg(sum(col("cnt")).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val batch = graft.ext.Dedup.contentChunks(
          Seq(("g1", tA), ("g1", tB)).toDF("src", "text"), "text", 8, 32)
        .groupBy(col("src"), col("chunk")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(ledger == batch,
        "healed chunk census must equal the batch one-pass census")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("chaos: lateAuditIngest heals a torn batch=0 high-watermark — a " +
      "far-future torn value must not misclassify tick 1 as late") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaoslate_")
    val state = dir.resolve("state").toString
    try {
      // torn watermark claims year 2199: if the replay unioned instead
      // of overwrote, EVERY tick-1 row would read as late
      tearTick(s"$state/wm", 0L,
        Seq((ts("2199-01-01 00:00:00"), 0L)).toDF("max_ts", "batch_id"))
      val mem = MemoryStream[(Timestamp, String)]
      def stream = mem.toDF().toDF("ts", "k")
      mem.addData((ts("2024-03-10 10:00:00"), "t0a"),
        (ts("2024-03-10 12:00:00"), "t0b"))
      Streaming.lateAuditIngest(stream, state, dir.resolve("cp").toString,
        "ts", allowedLag = "1 day").awaitTermination()
      mem.addData((ts("2024-03-08 09:00:00"), "t1-late"),
        (ts("2024-03-10 11:00:00"), "t1-ok"))
      Streaming.lateAuditIngest(stream, state, dir.resolve("cp").toString,
        "ts", allowedLag = "1 day").awaitTermination()
      val late = s.read.parquet(s"$state/late")
        .select(col("k")).collect().map(_.getString(0)).toSet
      assert(late == Set("t1-late"),
        "healed watermark must classify exactly tick 1's genuinely late row")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("chaos: hllIngest heals a torn batch=0 daily sketch on replay") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaoshll_")
    val state = dir.resolve("state").toString
    val day = ts("2024-03-10 00:00:00")
    try {
      // wrong-keys sketch under the right schema (day, sk)
      tearTick(state, 0L,
        Seq((day, 900L), (day, 901L), (day, 902L)).toDF("ts", "k")
          .groupBy(date_trunc("DAY", col("ts")).as("day"))
          .agg(hll_sketch_agg(col("k")).as("sk")))
      val mem = MemoryStream[(Timestamp, Long)]
      def stream = mem.toDF().toDF("ts", "k")
      mem.addData((ts("2024-03-10 10:00:00"), 1L), (ts("2024-03-10 11:00:00"), 2L))
      Streaming.hllIngest(stream, state, dir.resolve("cp").toString, "k")
        .awaitTermination()
      mem.addData((ts("2024-03-10 12:00:00"), 2L), (ts("2024-03-10 13:00:00"), 3L))
      Streaming.hllIngest(stream, state, dir.resolve("cp").toString, "k")
        .awaitTermination()
      val est = s.read.parquet(state)
        .groupBy(col("day"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        .collect().map(_.getLong(1))
      assert(est.toSeq == Seq(3L),
        "healed daily sketch must estimate the true 3 distinct keys, " +
          "not union in the torn sketch's phantom keys")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("chaos: bloomIngest heals a torn batch=0 bloom on replay") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaosblm_")
    val state = dir.resolve("state").toString
    try {
      // a valid bloom over phantom keys, same sizing as the real ticks
      val wrong = Seq(900L, 901L).toDF("k").stat.bloomFilter("k", 100L, 0.01)
      val os = new java.io.ByteArrayOutputStream()
      wrong.writeTo(os)
      tearTick(state, 0L, Seq((0L, os.toByteArray)).toDF("batch_id", "bloom"))
      val mem = MemoryStream[Long]
      def stream = mem.toDF().toDF("k")
      mem.addData(1L, 2L)
      Streaming.bloomIngest(stream, state, dir.resolve("cp").toString,
        "k", expectedKeys = 100L).awaitTermination()
      mem.addData(3L)
      Streaming.bloomIngest(stream, state, dir.resolve("cp").toString,
        "k", expectedKeys = 100L).awaitTermination()
      val merged = Streaming.bloomMergedState(s, state)
      val batch = Seq(1L, 2L, 3L).toDF("k").stat.bloomFilter("k", 100L, 0.01)
      for (k <- 0L to 950L)
        assert(merged.mightContainLong(k) == batch.mightContainLong(k),
          s"key $k: healed bitmap must equal the one-pass batch bloom")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("chaos: kanonIngest heals a torn batch=0 census on replay") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaoska_")
    val state = dir.resolve("state").toString
    val t = ts("2024-03-01 10:00:00")
    try {
      tearTick(state, 0L,
        Seq(("phantom", java.sql.Date.valueOf("2024-03-01"), 0L, 999L, 50L))
          .toDF("event_type", "d", "vb", "user_id", "n"))
      val mem = MemoryStream[(Timestamp, Long, String, Double)]
      def stream = mem.toDF().toDF("ts", "user_id", "event_type", "value")
      mem.addData((t, 1L, "click", 1.0), (t, 2L, "click", 1.0))
      Streaming.kanonIngest(stream, state, dir.resolve("cp").toString)
        .awaitTermination()
      mem.addData((t, 1L, "click", 2.0))
      Streaming.kanonIngest(stream, state, dir.resolve("cp").toString)
        .awaitTermination()
      val census = s.read.parquet(state)
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(col("n")).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(census == Map(("click", 1L) -> 2L, ("click", 2L) -> 1L),
        "healed census must hold exactly the real rows — no phantom group")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("chaos: histIngest heals a torn batch=0 bin table on replay") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaoshist_")
    val state = dir.resolve("state").toString
    try {
      tearTick(state, 0L, Seq(("a", 3L, 77L)).toDF("g", "bucket", "n"))
      val mem = MemoryStream[(String, Double)]
      def stream = mem.toDF().toDF("g", "v")
      mem.addData(("a", 5.0), ("a", 15.0))
      Streaming.histIngest(stream, state, dir.resolve("cp").toString,
        "v", lo = 0.0, hi = 40.0, buckets = 4, groupCols = Seq("g"))
        .awaitTermination()
      mem.addData(("a", 5.0), ("b", 35.0))
      Streaming.histIngest(stream, state, dir.resolve("cp").toString,
        "v", lo = 0.0, hi = 40.0, buckets = 4, groupCols = Seq("g"))
        .awaitTermination()
      val merged = s.read.parquet(state)
        .groupBy(col("g"), col("bucket")).agg(sum(col("n")).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val batch = graft.ext.Profile.histogram(
          Seq(("a", 5.0), ("a", 15.0), ("a", 5.0), ("b", 35.0))
            .toDF("g", "v"), "v", 0.0, 40.0, 4, Seq("g"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(merged == batch,
        "healed bins must equal the batch histogram — no phantom bucket")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("chaos: quarantineIngest heals torn batch=0 dirs in BOTH sinks " +
      "on replay — rows end up exactly once on exactly the right side") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaosq_")
    val curated = dir.resolve("curated").toString
    val quarantine = dir.resolve("quarantine").toString
    try {
      // torn debris lands rows on the WRONG sides of the split
      tearTick(curated, 0L, Seq((900L, -5.0)).toDF("id", "value"))
      tearTick(quarantine, 0L, Seq((901L, 5.0)).toDF("id", "value"))
      val mem = MemoryStream[(Long, Double)]
      def stream = mem.toDF().toDF("id", "value")
      mem.addData((1L, 1.0), (2L, -2.0))
      Streaming.quarantineIngest(stream, curated, quarantine,
        dir.resolve("cp").toString, col("value") >= 0).awaitTermination()
      mem.addData((3L, 3.0))
      Streaming.quarantineIngest(stream, curated, quarantine,
        dir.resolve("cp").toString, col("value") >= 0).awaitTermination()
      def ids(path: String) = s.read.parquet(path)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      assert(ids(curated) == Set(1L, 3L),
        "curated must hold exactly the passing rows")
      assert(ids(quarantine) == Set(2L),
        "quarantine must hold exactly the failing rows")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("chaos: urlLedgerIngest heals torn batch=0 url state on replay; " +
      "the report reads the ledger alone") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaosu_")
    val work = dir.resolve("state").toString
    try {
      // plausible-but-wrong debris: a phantom doc claiming a canonical
      // URL that would steal keeper status from every real doc
      tearTick(s"$work/urls", 0L,
        Seq((0L, "http://phantom.example/x")).toDF("doc_id", "url_canon"))
      val mem = MemoryStream[(Long, String)]
      def stream = mem.toDF().toDF("doc_id", "url")
      // two docs collide on the canonical form, one stands alone
      mem.addData(
        (3L, "HTTP://www.Ex.COM:80/a//b/?utm_source=f&b=2&a=1#x"),
        (5L, "http://ex.com/a/b?a=1&b=2"))
      Streaming.urlLedgerIngest(stream, work,
        dir.resolve("cp").toString, "doc_id", "url").awaitTermination()
      mem.addData((9L, "https://solo.ex.com/p"))
      Streaming.urlLedgerIngest(stream, work,
        dir.resolve("cp").toString, "doc_id", "url").awaitTermination()
      val u = s.read.parquet(s"$work/urls/batch=*")
      val rows = u.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.keySet == Set(3L, 5L, 9L),
        s"phantom batch=0 debris must be overwritten by the replay: $rows")
      assert(rows(3L) == "http://ex.com/a/b?a=1&b=2" &&
        rows(3L) == rows(5L),
        "the canonical collision must survive the ledger round-trip")
      val keepers = u.groupBy(col("url_canon"))
        .agg(min(col("doc_id")).as("k")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(keepers(rows(3L)) == 3L, "keeper = min doc_id per canonical")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("occupancy guard: a boilerplate-skewed corpus fails the ingest " +
      "tick loudly instead of degrading silently") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_skewg_")
    try {
      // 50 docs sharing a 200-word boilerplate template (stopwords
      // sprinkled in so the language/quality gates KEEP them) with 32
      // unique tail words each: the shared shingle mass pins most
      // signature bits, so chunk buckets collapse — measured ~1.5k
      // chunk-collision candidates against a ~880 occupancy bound —
      // while at maxHamming = 0 (exact-signature dedup config) not one
      // pair verifies. The tick must fail with the named blow-up, not
      // quietly pay the quadratic probe forever.
      val base = (1 to 200).map(i =>
        if (i % 4 == 0) "the" else if (i % 8 == 1) "and" else s"boiler$i")
        .mkString(" ")
      val docs = (0 until 50).map { d =>
        (d.toLong,
          base + " " + (0 until 32).map(j => s"u${d}_$j").mkString(" "),
          "src0")
      }
      val mem = MemoryStream[(Long, String, String)]
      mem.addData(docs: _*)
      val q = Streaming.pipelineLedgerIngest(
        mem.toDF().toDF("doc_id", "text", "source"),
        dir.resolve("work").toString, dir.resolve("cp").toString,
        "doc_id", "text", maxHamming = 0)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.awaitTermination())
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(c =>
        c.getMessage != null && c.getMessage.contains("candidate blow-up")),
        s"the occupancy require must surface through the stream: $ex")
      // r15 escape hatch: failOnDegraded = false degrades the same
      // corpus to warn-and-record — the tick completes and the ledger
      // state lands, so a legitimately boilerplate-skewed corpus is a
      // perf problem, not permanent unavailability
      val dir2 = java.nio.file.Files.createTempDirectory("graft_skewg2_")
      try {
        val mem2 = MemoryStream[(Long, String, String)]
        mem2.addData(docs: _*)
        Streaming.pipelineLedgerIngest(
            mem2.toDF().toDF("doc_id", "text", "source"),
            dir2.resolve("work").toString, dir2.resolve("cp").toString,
            "doc_id", "text", maxHamming = 0, failOnDegraded = false)
          .awaitTermination()
        val sigs = s.read.parquet(
          dir2.resolve("work").resolve("sigs").toString + "/batch=*")
        assert(sigs.count() == 50L,
          "the degraded-but-allowed tick must land its ledger state")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(dir2.toFile)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("chaos: webLedgerIngest heals torn batch=0 url/block/meta state " +
      "on replay; extraction runs at ingest; keepers fold globally") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaosweb_")
    val work = dir.resolve("state").toString
    try {
      // plausible-but-wrong debris in all THREE stateful dirs — the
      // idempotent batch=<id> overwrite must replace it wholesale
      tearTick(s"$work/urls", 0L,
        Seq((999L, "https://phantom.example.com/x"))
          .toDF("doc_id", "url_canon"))
      tearTick(s"$work/blocks", 0L,
        Seq((999L, 0L, "phantom block text")).toDF(
          "doc_id", "block_idx", "block_text"))
      tearTick(s"$work/meta", 0L,
        Seq((999L, "src9")).toDF("doc_id", "source"))
      val mem = MemoryStream[(Long, String, String, String)]
      def stream = mem.toDF().toDF("doc_id", "text", "source", "url")
      // docs 1 and 2 collide on the canonical URL (1 is keeper);
      // doc 4 is its own canonical
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog again", "src0",
          "https://www.ex.com/a"),
        (2L, "wholly different words live in this other page today",
          "src1", "HTTPS://ex.com:443/a"),
        (4L, "the solo document speaks of other quiet things entirely",
          "src0", "https://ex.com/b"))
      Streaming.webLedgerIngest(stream, work, dir.resolve("cp").toString,
          "doc_id", "text", "url").awaitTermination()
      val urls = s.read.parquet(s"$work/urls/batch=*")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(!urls.contains(999L), "phantom url debris must be gone")
      assert(urls(1L) == urls(2L),
        s"the canonical collision must survive the ledger: $urls")
      val blocks = s.read.parquet(s"$work/blocks/batch=*")
      assert(blocks.filter(col("doc_id") === 999L).count() == 0,
        "phantom block debris must be gone")
      assert(blocks.filter(col("doc_id") === 1L).count() >= 1,
        "extraction runs at ingest: doc 1's kept blocks are state")
      // the head's keeper joins: doc 2 (url loser) contributes no text
      val out = graft.ext.Curation.webAssembleExport(
        s.read.parquet(s"$work/urls/batch=*"),
        s.read.parquet(s"$work/blocks/batch=*"),
        s.read.parquet(s"$work/meta/batch=*"), "doc_id")
      assert(out.count() >= 1, "the composed head runs off pure state")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      s.catalog.clearCache()
    }
  }

  test("chaos: pipelineLedgerIngest heals torn batch=0 gated/sigs/labels " +
      "on replay; gate runs at ingest; labels fold to min id") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaospl_")
    val work = dir.resolve("state").toString
    try {
      // plausible-but-wrong debris in all THREE stateful dirs
      tearTick(s"$work/gated", 0L,
        Seq((999L, "phantom text", "src0", 99.0, 2L))
          .toDF("doc_id", "text", "source", "quality", "n_tokens"))
      tearTick(s"$work/sigs", 0L,
        Seq((999L, 12345L)).toDF("doc_id", "simhash"))
      tearTick(s"$work/labels", 0L,
        Seq((999L, 999L)).toDF("id", "cluster_id"))
      val dup = "the quick brown fox jumps over the lazy dog and then " +
        "the fox rests in the shade of an old tree"
      val solo = "the other document stands alone and speaks of wholly " +
        "other things in the quiet of the archive"
      val mem = MemoryStream[(Long, String, String)]
      def stream = mem.toDF().toDF("doc_id", "text", "source")
      mem.addData((1L, dup, "src0"), (2L, dup, "src1"),
        (4L, solo, "src0"),
        (7L, "nicht englisch der und das der und das", "src2"))
      Streaming.pipelineLedgerIngest(stream, work,
          dir.resolve("cp").toString, "doc_id", "text", minQuality = 0.0)
        .awaitTermination()
      mem.addData((3L, dup, "src2"))
      Streaming.pipelineLedgerIngest(stream, work,
          dir.resolve("cp").toString, "doc_id", "text", minQuality = 0.0)
        .awaitTermination()
      val last = new java.io.File(s"$work/labels").list()
        .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
        .max
      val labels = s.read.parquet(s"$work/labels/batch=$last")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
        s"phantom gone, dups fold to min id, pairless stays out: $labels")
      val gatedIds = s.read.parquet(s"$work/gated/batch=*")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(gatedIds == Set(1L, 2L, 3L, 4L),
        s"the language gate must drop doc 7 AT INGEST and the replay " +
          s"overwrite must truncate phantom 999: $gatedIds")
      val sigIds = s.read.parquet(s"$work/sigs/batch=*")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(sigIds == gatedIds,
        "the signature ledger must cover exactly the gated survivors")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("chaos: funnelLedgerIngest heals torn batch=0 state on replay — " +
      "summed censuses and ledger state equal a clean run's, phantom-free") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_chaosfn_")
    val torn = dir.resolve("torn").toString
    val clean = dir.resolve("clean").toString
    try {
      // plausible-but-wrong debris in all FOUR stateful dirs
      tearTick(s"$torn/census", 0L,
        Seq(("1_all", 999L, 999L)).toDF("stage", "n_docs", "n_tokens"))
      tearTick(s"$torn/surv", 0L,
        Seq((999L, 99L)).toDF("doc_id", "n_tokens"))
      tearTick(s"$torn/sigs", 0L,
        Seq((999L, 12345L)).toDF("doc_id", "simhash"))
      tearTick(s"$torn/labels", 0L,
        Seq((999L, 999L)).toDF("id", "cluster_id"))
      val base = (1 to 60).map(i => s"word$i").mkString(" ") +
        ". More full sentences follow here today!"
      val docsByTick = Seq(
        Seq((1L, base + " tail one"), (2L, base + " tail two"),
          (7L, "short.")),
        Seq((3L, base + " tail one"), (4L, "another quite long and " +
          (1 to 60).map(i => s"only$i").mkString(" ") + " ending here.")))
      def drive(work: String, cp: String): Unit = {
        val mem = MemoryStream[(Long, String)]
        def stream = mem.toDF().toDF("doc_id", "text")
        // ONE checkpoint dir across ticks (the clusterLedgerIngest
        // chaos pattern): tick 1 must resume as batch 1 so the
        // incremental label fold over the torn batch=0 snapshot is
        // actually exercised — a fresh dir per tick would replay the
        // whole stream as batch 0 and never hit that path
        docsByTick.zipWithIndex.foreach { case (tick, _) =>
          mem.addData(tick: _*)
          Streaming.funnelLedgerIngest(stream, work,
            dir.resolve(cp).toString, "doc_id", "text")
            .awaitTermination()
        }
      }
      drive(torn, "cpt")
      drive(clean, "cpc")
      def state(work: String) = {
        val census = s.read.parquet(s"$work/census")
          .groupBy(col("stage"))
          .agg(sum(col("n_docs")).as("d"), sum(col("n_tokens")).as("t"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .toSet
        val surv = s.read.parquet(s"$work/surv/batch=*")
          .select(col("doc_id")).collect().map(_.getLong(0)).toSet
        val last = new java.io.File(s"$work/labels").list()
          .filter(_.startsWith("batch="))
          .map(_.stripPrefix("batch=").toLong).max
        val labels = s.read.parquet(s"$work/labels/batch=$last")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        (census, surv, labels)
      }
      val (ct, st, lt) = state(torn)
      val (cc, sc, lc) = state(clean)
      assert(ct == cc, s"torn census must heal to the clean run's: $ct")
      assert(st == sc && lt == lc, "survivors and labels must heal")
      assert(!st.contains(999L) && !lt.contains(999L),
        "phantom debris must be overwritten, not absorbed")
      // the all-docs stage is gate-independent: exact count + token sum
      val all = docsByTick.flatten
      assert(ct.exists(_ == (("1_all", all.size.toLong,
        all.map(_._2.split(" ").count(_.nonEmpty).toLong).sum))),
        s"stage 1_all must census every ingested doc: $ct")
      // the engineered near-dup (1,2,3 share base) must fold to min id
      // IF it survived the gates; either way no phantom cluster exists
      assert(lt.values.forall(_ != 999L))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("funnelStreamAvailableNow equals the batch q_filter_funnel " +
      "report cell-exactly (shared oracle), at two and three ticks") {
    val s = spark
    val dir = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("q_filter_funnel")(s, dir)
      .collect().toSeq
    s.catalog.clearCache()
    val stream2 = SparkEntry.queries("q_filter_funnel_stream")(s, dir)
      .collect().toSeq
    assert(stream2.nonEmpty, "the funnel must report at least one stage")
    assert(stream2 == batch,
      "per-tick censuses + the survivor ledger must sum to the batch " +
        "attrition report")
    s.catalog.clearCache()
    val tmp = java.nio.file.Files.createTempDirectory("graft_fun3_")
    try {
      val stream3 = Streaming.funnelStreamAvailableNow(s, dir,
          tmp.toString, Streaming.nextQueryName("graft_fun3"), ticks = 3)
        .orderBy(col("stage")).collect().toSeq
      assert(stream3 == batch,
        "a second-generation label fold must still sum to the batch report")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("pipelineIncrementalAvailableNow: the ledger-driven composition " +
      "equals the batch q_pipeline_export, cell for cell — at TWO and " +
      "THREE ticks (the 3-tick run folds a folded label snapshot)") {
    val s = spark
    val dir = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("q_pipeline_export")(s, dir)
      .collect().toSeq
    s.catalog.clearCache()
    val inc = SparkEntry.queries("q_pipeline_incremental")(s, dir)
      .collect().toSeq
    assert(inc.nonEmpty, "the composed export must produce bins")
    assert(inc == batch,
      "at-ingest gates + signature ledger + label fold must compose " +
        "into the identical final training-data export")
    s.catalog.clearCache()
    val tmp = java.nio.file.Files.createTempDirectory("graft_pinc3_")
    try {
      val inc3 = Streaming.pipelineIncrementalAvailableNow(s, dir,
          tmp.toString, Streaming.nextQueryName("graft_pinc3"),
          ticks = 3)
        .collect().toSeq
      assert(inc3 == batch,
        "a second-generation label fold (tick 3 folds tick 2's folded " +
          "snapshot) must still equal the batch composition")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("chunkStatsAvailableNow routes a key hashing to Int.MinValue " +
      "under ANSI mode and equals the batch chunkDedupStats") {
    val s = spark
    import s.implicits._
    // the fixture's point: this bigint hashes to Int.MinValue, where
    // abs(hash) raises ARITHMETIC_OVERFLOW under ANSI mode
    assert(Seq(1957873941L).toDF("k").select(hash(col("k"))).head()
      .getInt(0) == Int.MinValue)
    val dir = java.nio.file.Files.createTempDirectory("graft_ansitick_")
    try {
      val docs = Seq(
        (1957873941L, "web", "the quick brown fox jumps over the lazy dog"),
        (7L, "web", "the quick brown fox jumps over the lazy dog again"),
        (8L, "books", "a completely different document with its own words"),
        (9L, "books", "the quick brown fox naps under a different tree"))
        .toDF("doc_id", "source", "text")
      docs.coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
      val stream = Streaming.chunkStatsAvailableNow(s, dir.toString,
          dir.resolve("work").toString, Streaming.nextQueryName("spec_ansi"))
        .collect().toSet
      val batch = graft.ext.Dedup.chunkDedupStats(docs, "source", "text")
        .collect().toSet
      assert(stream.nonEmpty)
      assert(stream == batch,
        "the two-tick replay must equal the one-pass batch accounting")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("cdcStreamAvailableNow rejects an empty tick list with a clear " +
      "message") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cdcnil_")
    try {
      val current = Seq((1L, 1.0)).toDF("event_id", "value")
      val feed = Seq((1L, 2.0, 1L, "U")).toDF("event_id", "value", "seq", "op")
      val ex = intercept[IllegalArgumentException](
        Streaming.cdcStreamAvailableNow(s, current, feed, seqValues = Nil,
          dir.resolve("work").toString, Streaming.nextQueryName("spec_cdcnil")))
      assert(ex.getMessage.contains("no ticks to stage"), ex.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Messages along `e`'s cause chain. */
  private def causeMessages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .flatMap(c => Option(c.getMessage)).toSeq

  /** A foreachBatch sink whose every tick throws `msg`. */
  private def throwingSink(stream: org.apache.spark.sql.DataFrame,
      checkpointDir: String, msg: String) =
    stream.writeStream.option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        throw new IllegalStateException(msg) }
      .trigger(Trigger.AvailableNow()).start()

  test("replayTicks restores spark.sql.shuffle.partitions when a tick " +
      "throws") {
    val s = spark
    val prior = s.conf.get("spark.sql.shuffle.partitions")
    val dir = java.nio.file.Files.createTempDirectory("graft_replayfail_")
    s.conf.set("spark.sql.shuffle.partitions", "7")
    try {
      val ex = intercept[Exception](
        Streaming.replayTicks(s, dir.toString,
            Streaming.nextQueryName("spec_replayfail"),
            Seq(s.range(0, 3).toDF("id"), s.range(3, 6).toDF("id"))) {
          stream => throwingSink(stream, dir.resolve("cp").toString,
            "replay tick boom")
        }(fail("the read-back must not run after a failed replay")))
      assert(causeMessages(ex).exists(_.contains("replay tick boom")),
        causeMessages(ex).mkString(" | "))
      assert(s.conf.get("spark.sql.shuffle.partitions") == "7",
        "the replay pin must be undone on the failure path")
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prior)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("a replay drops its lastTickEnd entry when it returns and when " +
      "it throws") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tickend_")
    try {
      Seq((1L, "web", "a b"), (2L, "books", "c d"), (3L, "web", "e f"))
        .toDF("doc_id", "source", "text").coalesce(1)
        .write.parquet(dir.resolve("documents.parquet").toString)
      val done = Streaming.nextQueryName("spec_tickend")
      assert(Streaming.urlStreamAvailableNow(s, dir.toString,
        dir.resolve("ok").toString, done).count() == 3L)
      assert(!Streaming.lastTickEnd.containsKey(done))
      // the ticks ran under timedTick (the entry exists while the
      // replay runs); the read-back then throws
      val failed = Streaming.nextQueryName("spec_tickend")
      var seen = false
      val ex = intercept[IllegalStateException](
        Streaming.replayTicks(s, dir.resolve("fail").toString, failed,
            Seq(Seq((1L, "http://a.ex/")).toDF("doc_id", "url"),
              Seq((2L, "http://b.ex/")).toDF("doc_id", "url"))) { stream =>
          Streaming.urlLedgerIngest(stream, dir.resolve("fail").toString,
            dir.resolve("fail/cp").toString, "doc_id", "url",
            queryName = failed)
        } {
          seen = Streaming.lastTickEnd.containsKey(failed)
          throw new IllegalStateException("read-back boom")
        })
      assert(ex.getMessage == "read-back boom")
      assert(seen, "the named ticks must have recorded their end time")
      assert(!Streaming.lastTickEnd.containsKey(failed))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("withStagedEvents restores shuffle partitions and nanosAsLong " +
      "when the replay throws") {
    val s = spark
    import s.implicits._
    val priorParts = s.conf.get("spark.sql.shuffle.partitions")
    val priorNanos = s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    val dir = java.nio.file.Files.createTempDirectory("graft_stagedfail_")
    try {
      // a single events.parquet FILE, as the testdata ships it: the
      // staging symlinks it into the stream's source directory
      val tmp = dir.resolve("events_tmp")
      Seq((1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
      java.nio.file.Files.move(part.head.toPath, dir.resolve("events.parquet"))
      s.conf.set("spark.sql.shuffle.partitions", "7")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      val ex = intercept[Exception](
        Streaming.withStagedEvents(s, dir.toString) { mkStream =>
          throwingSink(mkStream(), dir.resolve("cp").toString,
            "staged tick boom").awaitTermination()
        })
      assert(causeMessages(ex).exists(_.contains("staged tick boom")),
        causeMessages(ex).mkString(" | "))
      assert(s.conf.get("spark.sql.shuffle.partitions") == "7")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false")
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", priorParts)
      priorNanos match {
        case Some(v) => s.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
        case None => s.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
      }
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
