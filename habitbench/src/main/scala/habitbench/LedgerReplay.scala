package habitbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** `ledger_replay`: passes over registered ledger replays, called through
  * `SparkEntry.queries` so the workload stays valid when the functions
  * behind the registry are rewritten. Each replay streams the seeded
  * `documents` corpus through its ledger from empty state. Every pass
  * must return what the first did; [[finish]] writes the first results
  * and their `SparkEntry.oracleSql` under `oracleDir`, where run.py
  * compares them with DuckDB over the same corpus once the JVM exits. */
final class LedgerReplay(spark: SparkSession, tracer: Tracer, seed: Long,
    oracleDir: String) extends Workload {
  import LedgerReplay.Replays

  private var dir = ""
  private val first = mutable.Map.empty[String, (StructType, Seq[Row])]

  private def documents = s"$dir/documents.parquet"

  def setup(d: String): Unit = {
    dir = d
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(DocCorpus(seed).map(d =>
        Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)), 1), schema)
      .write.parquet(documents)
  }

  def warmupOps: Int = 6

  def op(): Done = {
    val results = Replays.map { q =>
      tracer.span(s"ext.replay.$q") {
        val df = SparkEntry.queries(q)(spark, dir)
        q -> (df.schema, df.collect().toSeq)
      }
    }
    Done(() => results.forall { case (q, (schema, rows)) =>
      val (_, want) = first.getOrElseUpdate(q, (schema, rows))
      Checks.note(s"$q differs from its first replay", rows == want)
    })
  }

  def finish(): Boolean = {
    Files.createDirectories(Paths.get(oracleDir))
    val sql = SparkEntry.oracleSql
    first.foreach { case (q, (schema, rows)) =>
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.parquet(s"$oracleDir/$q")
    }
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"; case c => c.toString
    } + "\""
    val queries = Replays.map(q => s"${str(q)}: ${str(sql(q))}").mkString(", ")
    Files.write(Paths.get(oracleDir, "oracle.json"),
      s"""{"documents": ${str(documents)}, "queries": {$queries}}"""
        .getBytes(StandardCharsets.UTF_8))
    first.size == Replays.size
  }

  def layers(t: TraceView): Map[String, Double] = {
    val passes = t.opSpans
    Replays.flatMap { q =>
      val spans = t.named(s"ext.replay.$q")
      Seq(s"ext.replay_s.$q" -> t.medianSeconds(s"ext.replay.$q"),
        s"ext.jobs.$q" -> t.jobsIn(spans).size.toDouble / math.max(1, spans.size))
    }.toMap ++ t.streamingPhases(passes)
  }
}

object LedgerReplay {
  /** The registered replays one pass runs, in order. */
  val Replays: Seq[String] = Seq("q_chunk_store_stream")
}
