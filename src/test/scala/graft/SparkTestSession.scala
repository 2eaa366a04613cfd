package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
trait SparkTestSession {
  lazy val spark: SparkSession = SparkTestSession.session
}

object SparkTestSession {
  lazy val session: SparkSession = DriverSession.session(4)
}
