package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (Test/fork runs them in a
  * single forked JVM, so this is created once). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(cpus = 4, logLevel = "ERROR")
}
