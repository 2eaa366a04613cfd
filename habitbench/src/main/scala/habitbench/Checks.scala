package habitbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

object Checks {

  /** Every stored event equals the truth model's, and no key is missing
    * or stored twice. */
  def storeMatches(stored: DataFrame, truth: Truth.Store, withNotes: Boolean): Boolean = {
    val cols = Seq(unix_micros(col("ts")), col("user_email"), col("habit"),
      col("value")) ++ (if (withNotes) Seq(col("notes")) else Nil)
    val got = stored.select(cols: _*).collect().map { r =>
      Ev(r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3),
        if (withNotes) r.getString(4) else null)
    }
    val ok = got.length == truth.rows.size && got.forall(e => truth.rows.get(e.key).contains(e))
    if (!ok) System.err.println(s"[habitbench] store mismatch: ${got.length} stored, " +
      s"${truth.rows.size} expected, first wrong: " +
      got.find(e => !truth.rows.get(e.key).contains(e)))
    ok
  }

  /** Number and total size (MB) of the parquet data files under `dir`. */
  def parquetFiles(dir: String): (Int, Double) = {
    val walk = Files.walk(Paths.get(dir))
    val files = try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toList finally walk.close()
    (files.size, files.map(Files.size).sum / 1048576.0)
  }

  private object Scans extends AdaptiveSparkPlanHelper {
    def of(plan: SparkPlan): Seq[FileSourceScanExec] = collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s
    }
  }

  /** Files and rows the executed plan's file scans read, summed from
    * their SQL metrics. */
  def scanned(plan: SparkPlan): (Long, Long) = {
    val scans = Scans.of(plan)
    def metric(n: String) = scans.flatMap(_.metrics.get(n)).map(_.value).sum
    (metric("numFiles"), metric("numOutputRows"))
  }

  def note(what: String, ok: Boolean): Boolean = {
    if (!ok) System.err.println(s"[habitbench] wrong result: $what")
    ok
  }
}
