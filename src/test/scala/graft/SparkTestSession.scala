package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Tables.localSession(2)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
