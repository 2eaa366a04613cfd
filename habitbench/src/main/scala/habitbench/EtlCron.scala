package habitbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable

import graft.analytics.Habits
import graft.load.{EventStore, Merge}
import graft.transform.HabitTransform
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** `etl_cron`: the reference's own job. Each operation is one cron tick:
  * read the whole sheet tab, land new raw rows by content hash, unpivot
  * the full tab, upsert it into the day-partitioned event store, and
  * refresh the daily rollup of the days the new rows touched. Between
  * ticks the tab gains a day of responses and a few edits. */
final class EtlCron(spark: SparkSession, tracer: Tracer, seed: Long) extends Workload {
  val Users = 40
  val HistoryDays = 60

  private val schema = StructType(Sheet.Columns.map(StructField(_, StringType)))
  private var dir = ""
  private var tab: SheetTab = _
  private val truth = new Truth.Store
  private val seen = mutable.HashSet.empty[Vector[String]]
  // per timed tick, for the traced run's layer metrics
  private val newFrac = mutable.ArrayBuffer.empty[Double]
  private val noopFrac = mutable.ArrayBuffer.empty[Double]
  private val daysRewritten = mutable.ArrayBuffer.empty[Double]
  private val rollupDays = mutable.ArrayBuffer.empty[Double]
  private val rowsRead = mutable.ArrayBuffer.empty[Double]
  private val eventsOut = mutable.ArrayBuffer.empty[Double]
  private val changedEvents = mutable.Map.empty[Int, Long]
  private val filesRead = mutable.ArrayBuffer.empty[Double]
  private val rowsPerOut = mutable.ArrayBuffer.empty[Double]

  private def tabPath = s"$dir/tab.csv"
  private def landing = s"$dir/landing"
  private def store = s"$dir/store"

  private def csvCell(c: String): String = if (c.contains(",")) "\"" + c + "\"" else c

  /** The sheet export the tick reads: a header and one line per row. */
  private def writeTab(): Unit = {
    val lines = Sheet.Columns.map(csvCell).mkString(",") +:
      tab.rows.map(_.cells.map(csvCell).mkString(","))
    Files.write(Paths.get(tabPath), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def readTab(): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(tabPath)

  private def withHash(t: DataFrame): DataFrame =
    t.withColumn("row_hash", HabitTransform.rowHash(Sheet.Columns))
      .withColumn("payload", HabitTransform.payloadJson(Sheet.Columns))

  /** A tab row as the CSV reader returns it: blank cells are null. */
  private def asRead(r: SheetRow): Vector[String] = r.cells.map(c => if (c.isEmpty) null else c)

  def setup(d: String): Unit = {
    dir = d
    Files.createDirectories(Paths.get(dir))
    tab = new SheetTab(seed, Users)
    (0 until HistoryDays).foreach(_ => tab.advance())
    writeTab()
    val t = readTab()
    Merge.newRawRows(t.limit(0).withColumn("row_hash", lit("")), withHash(t))
      .write.parquet(landing)
    val events = HabitTransform.toEvents(t)
    EventStore.write(Merge.upsertEvents(events.limit(0), events), store)
    truth.upsert(tab.rows.flatMap(Truth.toEvents))
    seen ++= tab.rows.map(asRead)
  }

  def warmupOps: Int = 3

  override def prepare(): Unit = { tab.advance(); writeTab() }

  def op(): Done = {
    val t = tracer.span("sources.scan") {
      val df = readTab().cache()
      df.count()
      df
    }
    val (newRaw, newCount) = tracer.span("load.landing") {
      val nr = Merge.newRawRows(spark.read.parquet(landing), withHash(t))
        .localCheckpoint(true)
      val n = nr.count()
      nr.write.mode("append").parquet(landing)
      (nr, n)
    }
    tracer.span("load.upsert") {
      EventStore.upsert(spark, store, HabitTransform.toEvents(t))
    }
    val (days, rollupDf, rollup) = tracer.span("analytics.rollup") {
      val days = HabitTransform.toEvents(newRaw).select(to_date(col("ts")))
        .distinct().collect().map(_.getDate(0).toLocalDate).toSeq
      val rollup = Habits.habitDaily(spark.read.parquet(store)
        .filter(col(EventStore.DayCol).isin(days.map(java.sql.Date.valueOf): _*))
        .drop(EventStore.DayCol))
      if (tracer.enabled) tracer.span("plans.plan")(rollup.queryExecution.executedPlan)
      (days, rollup, rollup.collect())
    }
    val rows = tab.rows
    Done(() => {
      if (tracer.enabled) {
        tracer.span("transform.to_events") {
          HabitTransform.toEvents(t).write.format("noop").mode("overwrite").save()
        }
        val (files, scannedRows) = Checks.scanned(rollupDf.queryExecution.executedPlan)
        filesRead += files.toDouble / Checks.parquetFiles(store)._1
        rowsPerOut += scannedRows.toDouble / math.max(1, rollup.length)
      }
      t.unpersist()
      graft.ext.Pinned.release(newRaw)
      Checks.note(s"etl tick ${tab.days}", check(rows, newCount, days, rollup))
    })
  }

  private def check(rows: Seq[SheetRow], newCount: Long, days: Seq[LocalDate],
      rollup: Array[Row]): Boolean = {
    val fresh = rows.filterNot(r => seen(asRead(r)))
    val expectNew = fresh.map(asRead).distinct.size
    seen ++= fresh.map(asRead)
    val events = rows.flatMap(Truth.toEvents)
    val noop = truth.upsert(events)
    val distinctEvents = events.map(_.key).distinct.size
    val touched = fresh.flatMap(Truth.toEvents).map(_.day).distinct
    val expected = Truth.habitDaily(truth.events.filter(e => touched.contains(e.day)))
    val got = rollup.map(r => Truth.Daily(
      r.getTimestamp(0).toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDate,
      r.getString(1), r.getString(2), r.getLong(3), r.getDouble(4),
      if (r.isNullAt(5)) Double.NaN else r.getDouble(5)))
      .sortBy(r => (r.day.toEpochDay, r.user, r.habit)).toSeq
    newFrac += newCount.toDouble / rows.size
    noopFrac += noop.toDouble / math.max(1, distinctEvents)
    daysRewritten += events.map(_.day).distinct.size
    rollupDays += days.size
    rowsRead += rows.size
    eventsOut += events.size
    changedEvents(tab.days) = distinctEvents - noop
    newCount == expectNew && days.toSet == touched.toSet &&
      got.size == expected.size && got.zip(expected).forall { case (a, b) =>
        a.day == b.day && a.user == b.user && a.habit == b.habit &&
          a.countDone == b.countDone && Truth.close(a.avgValue, b.avgValue) &&
          Truth.close(a.sumMeditation, b.sumMeditation)
      }
  }

  /** The whole store must equal the truth model, key for key. */
  def finish(): Boolean = Checks.storeMatches(
    EventStore.read(spark, store), truth, withNotes = true)

  def layers(t: TraceView): Map[String, Double] = {
    val upserts = t.named("load.upsert")
    val upsertStages = t.stagesIn(upserts)
    val (files, mb) = Checks.parquetFiles(store)
    val storeRows = truth.rows.size
    val bytesPerEvent = mb * 1048576.0 / math.max(1, storeRows)
    val written = upsertStages.map(_.bytesWritten).sum.toDouble
    val changed = changedEvents.values.sum.toDouble
    Map(
      "sources.scan_s" -> t.medianSeconds("sources.scan"),
      "sources.rows" -> t.meanOf(rowsRead.toSeq),
      "transform.to_events_s" -> t.medianSeconds("transform.to_events"),
      "transform.events" -> t.meanOf(eventsOut.toSeq),
      "transform.cell_yield" ->
        eventsOut.sum / math.max(1.0, rowsRead.sum * Sheet.Habits.size),
      "load.landing_s" -> t.medianSeconds("load.landing"),
      "load.landing_new_frac" -> t.meanOf(newFrac.toSeq),
      "load.upsert_s" -> t.medianSeconds("load.upsert"),
      "load.upsert_jobs" -> t.jobsIn(upserts).size.toDouble / math.max(1, upserts.size),
      "load.upsert_shuffle_mb" ->
        upsertStages.map(_.shuffleBytes).sum / 1048576.0 / math.max(1, upserts.size),
      "load.days_rewritten" -> t.meanOf(daysRewritten.toSeq),
      "load.noop_frac" -> t.meanOf(noopFrac.toSeq),
      // bytes written per traced upsert over the bytes a tick's changed
      // events occupy (mean over all ticks, at the store's bytes per event)
      "load.write_amp" -> (if (changed == 0) 0.0 else
        written / math.max(1, upserts.size) / (changed / changedEvents.size * bytesPerEvent)),
      "load.store_files" -> files.toDouble,
      "load.store_mb" -> mb,
      "analytics.rollup_s" -> t.medianSeconds("analytics.rollup"),
      "analytics.rollup_days" -> t.meanOf(rollupDays.toSeq),
      "plans.plan_s" -> t.medianSeconds("plans.plan"),
      "plans.files_read_frac" -> t.meanOf(filesRead.toSeq),
      "plans.rows_read_per_row_out" -> t.meanOf(rowsPerOut.toSeq))
  }
}
