package graft

/** Dump `.explain("formatted")` for named registry queries to files —
  * the optimization rounds' plan-evidence surface (plans/r16/...).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> q_a,q_b,...
  * writes <outDir>/<query>_<suffix>.txt per query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val spark = DriverSession.session(DriverSession.cpus())
    new java.io.File(outDir).mkdirs()
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
      DriverSession.sweep(spark)
    }
    spark.stop()
  }
}
