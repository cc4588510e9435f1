package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, under the project's session
  * policy (`Sessions`). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.create(4)
}
