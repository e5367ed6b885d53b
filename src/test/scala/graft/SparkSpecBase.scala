package graft

import org.apache.spark.sql.SparkSession

/** One shared SparkSession across all suites (single forked test JVM). */
object TestSpark {
  lazy val session: SparkSession = Sessions.local(4)
}
