package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (sbt forks one test JVM). */
object TestSpark {
  lazy val spark: SparkSession = LocalSession.build(4)
}
