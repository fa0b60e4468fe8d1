package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed specs. Four cores,
  * whatever the host: the EngineSpec plan contracts pin exchange
  * counts and partition shapes at this width. */
object SparkSuite {
  lazy val session: SparkSession = GraftSession.local(4, "ERROR")
}
