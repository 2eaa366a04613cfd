package habitbench

import java.nio.file.{Files, Paths}

import graft.transform.HabitTransform
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def tab(seed: Long, days: Int): SheetTab = {
    val t = new SheetTab(seed, users = 20)
    (0 until days).foreach(_ => t.advance())
    t
  }

  test("generators are deterministic per seed") {
    assert(tab(7, 10).rows == tab(7, 10).rows)
    assert(tab(7, 10).rows != tab(8, 10).rows)
    assert(DocCorpus(7) == DocCorpus(7) && DocCorpus(7) != DocCorpus(8))
  }

  test("the documents corpus has the sf0.01 shape") {
    val docs = DocCorpus(3)
    assert(docs.size == DocCorpus.Size && docs.map(_.id) == (0L until DocCorpus.Size))
    assert(docs.map(_.source).distinct.size == DocCorpus.Sources)
    assert(docs.map(_.lang).toSet == Set("en", "zh", "de", "es", "fr"))
    val dups = docs.filter(_.text.endsWith(" dup"))
    assert(dups.nonEmpty && dups.forall(d => docs.exists(_.text + " dup" == d.text)))
    assert(docs.forall(_.text.split(" ").forall((DocCorpus.Vocabulary :+ "dup").contains)))
  }

  test("the sheet tab covers the FIXTURES A1 formats and edge rows") {
    val t = tab(3, 40)
    val rows = t.rows
    assert(t.responses.map(_.fmt).toSet == (0 to 8).toSet)
    assert(rows.exists(_.dateCell.isEmpty) && rows.exists(_.emailCell.isEmpty))
    assert(rows.exists(_.habitCells.exists(Sheet.Junk.contains)))
    assert(rows.exists(_.habitCells.exists(_.isEmpty)))
    assert(rows.exists(_.notesCell.nonEmpty))
    assert(Sheet.TruthySpellings.forall(s => rows.exists(_.habitCells.contains(s))))
    assert(rows.size > rows.distinct.size, "no exact duplicate rows")
    assert(rows.map(r => Truth.utcDay(r.ts)).exists(_.getMonthValue == 2) &&
      rows.map(r => Truth.utcDay(r.ts)).exists(_.getMonthValue == 3), "no CST and CDT dates")
  }

  test("the truth model agrees with HabitTransform.toEvents on the sheet tab") {
    val t = tab(5, 40)
    val path = Files.createTempDirectory("habitbench_spec").resolve("tab.csv")
    def cell(c: String) = if (c.contains(",")) "\"" + c + "\"" else c
    Files.write(path, (Sheet.Columns.map(cell).mkString(",") +: t.rows.map(_.cells.map(cell)
      .mkString(","))).mkString("\n").getBytes("UTF-8"))
    val wide = spark.read.option("header", "true")
      .schema(StructType(Sheet.Columns.map(StructField(_, StringType)))).csv(path.toString)
    val got = HabitTransform.toEvents(wide)
      .select(unix_micros(col("ts")), col("user_email"), col("habit"), col("value"), col("notes"))
      .collect().map(r => Ev(r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3),
        r.getString(4))).toSeq
    val expected = t.rows.flatMap(Truth.toEvents)
    assert(got.size == expected.size)
    assert(got.sortBy(_.toString) == expected.sortBy(_.toString))
  }

  test("metric names are valid, unique and match BENCHMARK.json") {
    val all = Metrics.EndToEnd ++ Metrics.PerLayer
    assert(all.forall(m => "^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$".r.matches(m.name) &&
      "^[A-Za-z0-9_/%.-]{1,16}$".r.matches(m.unit)))
    assert(all.map(_.name).distinct.size == all.size)
    val json = new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8")
    def names(section: String): Seq[String] = {
      val body = json.substring(json.indexOf(s""""$section""""))
      val list = body.substring(body.indexOf('['), body.indexOf(']') + 1)
      """"name":\s*"([^"]+)"""".r.findAllMatchIn(list).map(_.group(1)).toSeq
    }
    assert(names("end_to_end") == Metrics.EndToEnd.map(_.name))
    assert(names("per_layer") == Metrics.PerLayer.map(_.name))
  }

  test("percentiles interpolate between closest ranks") {
    val xs = (1 to 101).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 91.0)
    assert(Stats.median(Seq(1.0, 3.0, 2.0, 4.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }
}
