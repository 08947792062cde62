package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Test/fork := true ⇒ single
  * JVM for the test run). */
object TestSpark {
  lazy val spark: SparkSession = Session.build("4")
}
