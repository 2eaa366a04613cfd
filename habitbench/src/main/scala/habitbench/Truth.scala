package habitbench

import java.time.{Instant, LocalDate, LocalDateTime, ZoneId, ZoneOffset}

import scala.collection.mutable

/** A tidy habit event, the `habit_events` shape. `ts` is UTC epoch
  * microseconds; `notes` may be null. */
final case class Ev(ts: Long, user: String, habit: String, value: Double,
    notes: String) {
  def key: (String, String, Long) = (user, habit, ts)
  def day: LocalDate = Truth.utcDay(ts)
}

/** Plain-Scala model of what the program must compute, written from the
  * reference semantics rather than from the program's code: the sheet
  * unpivot, the keyed upsert and the daily rollup.
  * Workloads compare every Spark result against it. */
object Truth {
  val Zone: ZoneId = ZoneId.of("America/Chicago")
  val Truthy: Set[String] = Set("yes", "true", "1", "y", "t", "on")
  val SumHabit = "meditation_minutes"

  private val WhiteSpace = "^[\\p{IsWhite_Space}]+|[\\p{IsWhite_Space}]+$".r
  def pyTrim(s: String): String = WhiteSpace.replaceAllIn(s, "")
  private val Numeric = "^-?\\d+(\\.\\d+)?$".r

  def micros(local: LocalDateTime): Long = {
    val i = local.atZone(Zone).toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  def utcDay(tsMicros: Long): LocalDate =
    Instant.ofEpochSecond(Math.floorDiv(tsMicros, 1000000L))
      .atOffset(ZoneOffset.UTC).toLocalDate

  /** The wide-row unpivot (`etl/transform.py` `unpivot_row`): rows with a
    * blank report date or email are skipped, blank habit cells and
    * non-numeric number cells emit no event, bools map through the
    * truthy set. The event instant is the one the generator gave the
    * row's date cell. */
  def toEvents(row: SheetRow): Seq[Ev] =
    if (row.dateCell.isEmpty || row.emailCell.isEmpty) Nil
    else {
      val user = pyTrim(row.emailCell).toLowerCase
      val notes = if (row.notesCell.isEmpty) null else "Notes: " + row.notesCell
      Sheet.Habits.zip(row.habitCells).flatMap { case (h, raw) =>
        val t = pyTrim(raw)
        if (raw.isEmpty || t.isEmpty) None
        else if (h.kind == "bool")
          Some(Ev(row.ts, user, h.id, if (Truthy(t.toLowerCase)) 1.0 else 0.0, notes))
        else if (Numeric.matches(t)) Some(Ev(row.ts, user, h.id, t.toDouble, notes))
        else None
      }
    }

  /** Keyed store under the reference's upsert rule: the batch's value
    * wins, notes are `COALESCE(new, old)`, keys absent from the batch
    * keep their row. */
  final class Store {
    val rows = mutable.HashMap.empty[(String, String, Long), Ev]

    /** Applies `batch`; returns how many batch events left their stored
      * row unchanged. Duplicate keys within a batch must agree. */
    def upsert(batch: Seq[Ev]): Int = {
      val byKey = batch.groupBy(_.key)
      byKey.foreach { case (k, evs) =>
        require(evs.distinct.size == 1, s"batch disagrees on key $k")
      }
      byKey.values.map(_.head).count { e =>
        val merged = rows.get(e.key) match {
          case Some(old) => e.copy(notes = Option(e.notes).getOrElse(old.notes))
          case None => e
        }
        val same = rows.get(e.key).contains(merged)
        rows(e.key) = merged
        same
      }
    }

    def events: Iterable[Ev] = rows.values
  }

  /** One `habit_daily` row; `sumMeditation` is NaN when null. */
  final case class Daily(day: LocalDate, user: String, habit: String,
      countDone: Long, avgValue: Double, sumMeditation: Double)

  def habitDaily(evs: Iterable[Ev]): Seq[Daily] =
    evs.groupBy(e => (e.day, e.user, e.habit)).map { case ((d, u, h), g) =>
      Daily(d, u, h, g.count(_.value >= 1).toLong,
        g.map(_.value).sum / g.size,
        if (h == SumHabit) g.map(_.value).sum else Double.NaN)
    }.toSeq.sortBy(r => (r.day.toEpochDay, r.user, r.habit))

  def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))
}
