package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (sbt forks one test JVM). */
object TestSpark {
  lazy val spark: SparkSession = LocalSession.build(4)

  /** Run `body` with the fixpoint driver budget
   * ([[graft.ops.Fixpoint.BudgetKey]]) set to `rows`, restoring the
   * previous value after; `withFixpointBudget(0)` pins every fixpoint to
   * its distributed face. */
  def withFixpointBudget[A](rows: Long)(body: => A): A = {
    val key = graft.ops.Fixpoint.BudgetKey
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, rows.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
