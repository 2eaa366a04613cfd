package habitbench

import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.Locale

import scala.collection.mutable

final case class HabitCol(header: String, id: String, kind: String)

/** One rendered sheet row: every cell as the sheet export holds it ("" is
  * a blank cell) plus the instant its date cell denotes, which the
  * generator knows because it chose the date and its format. */
final case class SheetRow(cells: Vector[String], ts: Long) {
  def emailCell: String = cells(1)
  def dateCell: String = cells(2)
  def habitCells: Vector[String] = cells.slice(3, 3 + Sheet.Habits.size)
  def notesCell: String = cells.last
}

/** The sheet tab of FIXTURES A1: a form-response header with the 8
  * configured habit columns, every date format the reference parses,
  * and the edge rows it must survive. */
object Sheet {
  val Habits: Seq[HabitCol] = Seq(
    HabitCol("Sleep (Number of hours)", "sleep_hours", "number"),
    HabitCol("Nutrition", "nutrition_score", "number"),
    HabitCol("Mood", "mood_score", "number"),
    HabitCol("Meditation (Number of Minutes)", "meditation_minutes", "number"),
    HabitCol("Workout", "workout", "bool"),
    HabitCol("Water (How many litres?)", "water_liters", "number"),
    HabitCol("Skin Care", "skin_care", "bool"),
    HabitCol("How authentically did you live this day?", "authenticity_score", "number"))
  val Columns: Seq[String] =
    Seq("Timestamp", "Email Address", "Report Date") ++ Habits.map(_.header) :+ "Notes"

  /** Day 0 of every generated history: winter (CST), so histories of a
    * few weeks cross the March switch to CDT. */
  val Start: LocalDate = LocalDate.of(2025, 2, 20)

  val TruthySpellings = Seq("Yes", "yes", "TRUE", "true", "1", "on", "t", "y", " Yes ", "Y")
  val FalsySpellings = Seq("no", "No", "FALSE", "0", "off", "n", "maybe")
  val Junk = Seq("abc", "n/a", "?", "-")
  val NotesText = Seq("did intervals", "slept late", "good day", "travel day", "rest")

  private val fmtUs = DateTimeFormatter.ofPattern("MM/dd/yyyy", Locale.US)
  private val fmtUsBare = DateTimeFormatter.ofPattern("M/d/yyyy", Locale.US)
  private val fmtIso = DateTimeFormatter.ofPattern("yyyy-MM-dd", Locale.US)
  private val fmtYy = DateTimeFormatter.ofPattern("M/d/yy", Locale.US)
  private val fmtMon = DateTimeFormatter.ofPattern("MMM d, yyyy", Locale.US)
  private val fmtMonth = DateTimeFormatter.ofPattern("MMMM d, yyyy", Locale.US)
  private val fmtDateTime = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss", Locale.US)
  private val fmtUsTime = DateTimeFormatter.ofPattern("M/d/yyyy H:mm", Locale.US)
  private val Serial0 = LocalDate.of(1899, 12, 30)

  /** Date formats of `etl/transform.py` `parse_report_date`, by index:
    * 6 and 7 carry a local wall time, the others are date-only (noon
    * local). */
  def isDateTime(fmt: Int): Boolean = fmt == 6 || fmt == 7

  def dateCell(d: LocalDate, fmt: Int, time: LocalDateTime): String = fmt match {
    case 0 => d.format(fmtUs)
    case 1 => d.format(fmtIso)
    case 2 => d.format(fmtYy)
    case 3 => d.format(fmtMon)
    case 4 => d.format(fmtMonth)
    case 5 => (d.toEpochDay - Serial0.toEpochDay).toString
    case 6 => time.format(fmtDateTime)
    case 7 => time.format(fmtUsTime)
    case 8 => d.format(fmtUsBare)
  }

  /** Email cell spellings that all normalize to `user<u>@example.com`. */
  def emailCell(u: Int, style: Int): String = style match {
    case 0 => s"user$u@example.com"
    case 1 => s"User$u@Example.com"
    case 2 => s" user$u@example.com "
    case 3 => s"USER$u@EXAMPLE.COM"
  }
  def email(u: Int): String = s"user$u@example.com"

  /** Zipf(s) weights over `n` users, most active first. */
  def zipfWeights(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val z = w.sum
    w.map(_ / z)
  }

  /** `k` distinct users drawn with probability proportional to `w`
    * (Efraimidis-Spirakis keys), in ascending order: a day's responders,
    * Zipf-skewed but always the same number. */
  def responders(rnd: scala.util.Random, w: Array[Double], k: Int): Seq[Int] =
    w.indices.map(i => (math.pow(rnd.nextDouble(), 1.0 / w(i)), i))
      .sortBy(-_._1).take(k).map(_._2).sorted
}

/** A form response as the generator tracks it: the logical record that a
  * later edit changes in place. */
final case class Response(user: Int, day: Int, fmt: Int, hour: Int,
    minute: Int, emailStyle: Int, submitted: String, habitCells: Vector[String],
    notes: String, blankDate: Boolean = false, blankEmail: Boolean = false) {
  def localDate: LocalDate = Sheet.Start.plusDays(day)
  def localTime: LocalDateTime =
    if (Sheet.isDateTime(fmt)) localDate.atTime(hour, minute) else localDate.atTime(12, 0)
  def ts: Long = Truth.micros(localTime)
  /** The sheet row of this response with its email spelled in `style`. */
  def row(style: Int): SheetRow = SheetRow(Vector(
    submitted,
    if (blankEmail) "" else Sheet.emailCell(user, style),
    if (blankDate) "" else Sheet.dateCell(localDate, fmt, localTime)) ++
    habitCells :+ notes, ts)
}

/** The growing sheet tab of the `etl_cron` workload. Each [[advance]]
  * appends one day of responses from half the users (Zipf-skewed),
  * edits a share of earlier responses in place and re-sends everything
  * else unchanged; [[rows]] is the whole tab as the next tick reads it. */
final class SheetTab(seed: Long, val users: Int) {
  private val ZipfS = 0.8
  private val EditShare = 0.02
  private val rnd = new scala.util.Random(seed)
  private val weights = Sheet.zipfWeights(users, ZipfS)
  val responses = mutable.ArrayBuffer.empty[Response]
  /** Tab slots: (response index, email style of this copy). A duplicate
    * row is a second slot on the same response. */
  val slots = mutable.ArrayBuffer.empty[(Int, Int)]
  var days = 0

  def rows: Seq[SheetRow] = slots.toSeq.map { case (r, style) => responses(r).row(style) }

  private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))

  private def habitCell(h: HabitCol): String = {
    val x = rnd.nextDouble()
    if (x < 0.04) ""
    else if (h.kind == "bool")
      if (rnd.nextBoolean()) pick(Sheet.TruthySpellings) else pick(Sheet.FalsySpellings)
    else if (x < 0.05) pick(Sheet.Junk)
    else {
      val v = h.id match {
        case "sleep_hours" => "%.1f".formatLocal(Locale.US, 4 + rnd.nextInt(13) * 0.5)
        case "meditation_minutes" => (rnd.nextInt(13) * 5).toString
        case "water_liters" => "%.1f".formatLocal(Locale.US, 0.5 + rnd.nextInt(8) * 0.5)
        case _ => (1 + rnd.nextInt(10)).toString
      }
      if (x > 0.97) s" $v " else v
    }
  }

  private def fmt(): Int = {
    val x = rnd.nextDouble()
    if (x < 0.45) 0 else if (x < 0.6) 8 else 1 + rnd.nextInt(7)
  }

  def newResponse(u: Int, day: Int): Response = {
    val d = Sheet.Start.plusDays(day)
    Response(u, day, fmt(), 6 + rnd.nextInt(16), rnd.nextInt(60),
      if (rnd.nextDouble() < 0.8) 0 else 1 + rnd.nextInt(3),
      s"${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear} ${8 + rnd.nextInt(12)}:${10 + rnd.nextInt(50)}:00",
      Sheet.Habits.map(habitCell).toVector,
      if (rnd.nextDouble() < 0.3) pick(Sheet.NotesText) else "")
  }

  private def add(r: Response, style: Int): Unit = {
    responses += r
    slots += ((responses.size - 1, style))
  }

  /** Appends day `days` and edits earlier responses. */
  def advance(): Unit = {
    val day = days
    Sheet.responders(rnd, weights, users / 2).foreach { u =>
      val r = newResponse(u, day)
      add(r, r.emailStyle)
      // an exact re-submission or the same answers under another
      // email spelling: the landing zone keys rows by content hash
      if (rnd.nextDouble() < 0.02) slots += ((responses.size - 1, r.emailStyle))
      else if (rnd.nextDouble() < 0.02) slots += ((responses.size - 1, (r.emailStyle + 1) % 4))
    }
    // rows the unpivot must skip: a blank report date or email
    if (rnd.nextDouble() < 0.3)
      add(newResponse(rnd.nextInt(users), day).copy(blankDate = true), 0)
    if (rnd.nextDouble() < 0.3)
      add(newResponse(rnd.nextInt(users), day).copy(blankEmail = true), 0)
    if (day > 0) {
      val n = math.max(1, (responses.size * EditShare).toInt)
      (0 until n).foreach { _ =>
        val i = rnd.nextInt(responses.size)
        val r = responses(i)
        val h = rnd.nextInt(Sheet.Habits.size)
        responses(i) = r.copy(
          habitCells = r.habitCells.updated(h, habitCell(Sheet.Habits(h))),
          notes = if (rnd.nextDouble() < 0.3) pick(Sheet.NotesText :+ "") else r.notes)
      }
    }
    days += 1
  }
}

/** One row of the `documents` table the registered ledger replays read. */
final case class Doc(id: Long, text: String, lang: String, source: String)

/** A seeded `documents` corpus in the shape of the sf0.01 test table:
  * 500 documents of 10–99 words over a 30-word vocabulary, 20 sources
  * assigned round-robin, five languages (44% `en`), and 5% planted
  * duplicates that repeat an earlier document's text with " dup"
  * appended. */
object DocCorpus {
  val Size = 500
  val Sources = 20
  val Vocabulary: Seq[String] = Seq("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  private val Langs = Seq("zh", "de", "es", "fr")

  def apply(seed: Long): Seq[Doc] = {
    val rnd = new scala.util.Random(seed)
    val docs = mutable.ArrayBuffer.empty[Doc]
    (0 until Size).foreach { i =>
      val text =
        if (i >= Sources && rnd.nextDouble() < 0.05) docs(rnd.nextInt(i)).text + " dup"
        else Seq.fill(10 + rnd.nextInt(90))(Vocabulary(rnd.nextInt(Vocabulary.size))).mkString(" ")
      val lang = if (rnd.nextDouble() < 0.44) "en" else Langs(rnd.nextInt(Langs.size))
      docs += Doc(i, text, lang, s"src${i % Sources}")
    }
    docs.toSeq
  }
}
