package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.canon.ConnectedComponents

/** CC fixture per FIXTURES.md §4: chains, stars, one giant component,
 * singletons — the distributed face (driver budget 0) verified against
 * the driver-side union-find. */
class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def distributed(edges: org.apache.spark.sql.DataFrame) =
    TestSpark.withFixpointBudget(0)(ConnectedComponents.runAdaptive(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)))

  private def check(edges: Seq[(String, String)]): Unit = {
    import spark.implicits._
    val got = distributed(edges.toDF("src", "dst")).toMap
    val want = ConnectedComponents.unionFind(edges)
    assert(got == want, s"got=$got want=$want")
  }

  test("chain of 20 nodes collapses to its min") {
    check((0 until 19).map(i => (f"n$i%03d", f"n${i + 1}%03d")))
  }

  test("star topology") {
    check((1 until 15).map(i => (f"hub", f"leaf$i%02d")))
  }

  test("mixed: giant component + small groups + disjoint pairs") {
    val giant = (0 until 50).map(i => (f"g${i % 7}%02d", f"g${(i * 3) % 29}%02d"))
      .filter(e => e._1 != e._2)
    val groups = Seq(("a1", "a2"), ("a2", "a3"), ("b1", "b2"), ("zz", "zy"))
    check(giant ++ groups)
  }

  test("self-loop-only nodes map to themselves on both faces") {
    import spark.implicits._
    // "a" exists only as a self-loop; "s" has a self-loop AND a real edge
    val edges = Seq(("a", "a"), ("s", "s"), ("s", "t"), ("b", "c"))
    check(edges) // distributed face vs the union-find
    val adaptive = ConnectedComponents.runAdaptive(edges.toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(adaptive == ConnectedComponents.unionFind(edges))
    assert(adaptive("a") == "a" && adaptive("t") == "s" && adaptive("s") == "s")
  }

  test("deterministic across partitionings") {
    import spark.implicits._
    val edges = (0 until 30).map(i => (f"x${i % 11}%02d", f"x${(i * 5) % 13}%02d"))
      .filter(e => e._1 != e._2)
    val a = distributed(edges.toDF("src", "dst").repartition(1)).sorted.toSeq
    val b = distributed(edges.toDF("src", "dst").repartition(7)).sorted.toSeq
    assert(a == b)
  }
}
