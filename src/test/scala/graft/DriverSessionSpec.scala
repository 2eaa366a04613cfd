package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared session and between-query sweep every main measures
  * through ([[DriverSession]]): the config a copied builder used to
  * drift from, and the release Bench and Verify rely on between
  * queries. */
class DriverSessionSpec extends AnyFunSuite with SparkTestSession {

  test("the session carries the engine config and the slow-batch " +
      "listener") {
    val conf = spark.conf
    assert(conf.get("spark.sql.extensions")
      .contains("graft.plans.GraftExtensions"))
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.sources.v2.bucketing.enabled") == "true")
    assert(spark.streams.listListeners().exists(
      _.isInstanceOf[graft.streaming.Streaming.SlowBatchListener]))
  }

  test("one sweep drops cached frames, localCheckpoint blocks and " +
      "scratch pins") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-sweep-spec")
      .toFile
    s.conf.set("spark.graft.scratch.dir", root.getAbsolutePath)
    try {
      val cached = Seq(1L, 2L, 3L).toDF("v").cache()
      assert(cached.count() == 3L)
      val pinned = s.range(0, 10).rdd.localCheckpoint()
      assert(pinned.count() == 10L)
      val scratch = graft.ext.Pinned.columnarPin(Seq(4L).toDF("v"), "sweep")
      assert(scratch.count() == 1L)
      assert(!s.sharedState.cacheManager.isEmpty)
      assert(s.sparkContext.getPersistentRDDs.nonEmpty)
      assert(root.listFiles().nonEmpty)
      DriverSession.sweep(s)
      assert(s.sparkContext.getPersistentRDDs.isEmpty)
      assert(s.sharedState.cacheManager.isEmpty)
      assert(root.listFiles().isEmpty, "the scratch pin dir must be gone")
    } finally {
      s.conf.unset("spark.graft.scratch.dir")
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }
}
