package graft

import org.apache.spark.sql.SparkSession

/** The one local session and the one between-query sweep that every
  * main (Bench, Verify, PlanDump, ScaleProbe) and the spec suite share,
  * so a number from any of them measures the program the others run. */
object DriverSession {

  /** `SPARK_GRAFT_CPUS`, default 4. Parsed up front: a non-numeric value
    * fails here, not later as an invalid `_cpus` entry in
    * BENCH_FULL.json. */
  def cpus(): Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt

  /** A `local[cpus]` session with the engine's config: graft's planner
    * extensions, UTC, nanosecond parquet timestamps read as longs (the
    * r1-r6 `events.ts` encoding) and storage-partitioned joins over
    * DSv2 scans that report a KeyGroupedPartitioning (FormResponseScan
    * day blocks). Any streaming query's slow micro-batch logs its
    * per-phase durations ([[graft.streaming.Streaming.SlowBatchListener]]). */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.streaming.Streaming.registerSlowBatchListener(spark)
    spark
  }

  /** Free everything a finished query left pinned. Call it only once
    * the query's result is fully materialized: the catalog cache;
    * every persistent RDD, which also catches the eager
    * `localCheckpoint` pins the catalog cache does not track; and the
    * scratch-parquet pins ([[graft.ext.Pinned.columnarPin]]), which are
    * disk state neither sweep can see. The unpersist BLOCKS: with
    * `blocking = false` the removals can still be in flight when the
    * next query starts, and its heap/cache start samples would blame
    * the wrong query. */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    graft.ext.Pinned.releaseAllScratch()
  }
}
