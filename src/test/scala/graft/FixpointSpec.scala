package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Term, Triple}
import graft.ops.{Fixpoint, Graphs}
import graft.reason.Rules

/** The one fixpoint policy: every loop plans in its own loop session (the
 * caller's conf is never written, so queries and loops run side by side),
 * and one conf key sets the driver budget. */
class FixpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val EX = "http://example/"
  private val CpKey = "spark.sql.constraintPropagation.enabled"

  /** A `length`-edge link chain and a linear closure program over it:
   * round k derives the paths of k links, so the distributed loop takes
   * length + 1 rounds. */
  private def chain(length: Int): Seq[Triple] = (0 until length).map(k =>
    Triple(Term.iri(EX + "n" + k), Term.iri(EX + "link"), Term.iri(EX + "n" + (k + 1))))
  private val linear = Rules.parse(
    s"[r1: (?a <${EX}link> ?b) -> (?a <${EX}next> ?b)] " +
      s"[r2: (?a <${EX}next> ?b), (?b <${EX}link> ?c) -> (?a <${EX}next> ?c)]")
  private def closedSize(length: Int) = length + length * (length + 1) / 2

  /** Runs `body` on a second thread while this thread samples the caller
   * session's constraint-propagation key; returns the body's result and
   * the samples. */
  private def sampling[A](body: => A): (A, Seq[String]) = {
    spark.conf.set(CpKey, "true")
    val seen = Seq.newBuilder[String]
    try {
      val f = Future(body)
      while (!f.isCompleted) { seen += spark.conf.get(CpKey, "true"); Thread.sleep(2) }
      (Await.result(f, Duration.Inf), seen.result())
    } finally spark.conf.unset(CpKey)
  }

  test("a distributed rule closure never writes the caller session's conf") {
    val base = spark.createDataset(chain(24)).toDF()
    val (n, seen) = sampling(
      TestSpark.withFixpointBudget(0)(Rules.closure(base, linear).count()))
    assert(n == closedSize(24))
    assert(seen.nonEmpty && !seen.contains("false"),
      s"caller session read constraintPropagation=false in " +
        s"${seen.count(_ == "false")} of ${seen.size} samples")
  }

  test("a Graphs closure and a Rules closure run at once and both finish right") {
    val ruleBase = spark.createDataset(chain(12)).toDF()
    val edges = (0 until 12).map(k => (s"v$k", s"v${k + 1}")).toDF("src", "dst")
    TestSpark.withFixpointBudget(0) {
      val ruleCount = Future(Rules.closure(ruleBase, linear).count())
      val pairs = Graphs.transitiveClosure(edges)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(pairs == (for (a <- 0 to 12; b <- a + 1 to 12) yield (s"v$a", s"v$b")).toSet)
      assert(Await.result(ruleCount, Duration.Inf) == closedSize(12))
    }
  }

  test("the budget key parses a row count and rejects anything else") {
    assert(Fixpoint.budget(spark) == Fixpoint.DefaultBudget)
    TestSpark.withFixpointBudget(0) {
      assert(!Fixpoint.local(spark, 0L))
    }
    TestSpark.withFixpointBudget(800) {
      assert(Fixpoint.local(spark, 800L) && !Fixpoint.local(spark, 801L))
    }
    spark.conf.set(Fixpoint.BudgetKey, "lots")
    try {
      val e = intercept[IllegalArgumentException](Fixpoint.budget(spark))
      assert(e.getMessage.contains(Fixpoint.BudgetKey))
    } finally spark.conf.unset(Fixpoint.BudgetKey)
  }
}
