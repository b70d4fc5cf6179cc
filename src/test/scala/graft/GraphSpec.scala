package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Graph

/** Exact-integer PageRank: hand-computed fixpoints and iterations, ranking
  * laws, and partitioning invariance (the all-integer design's point).
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int,
      parts: Int = 4): Map[Long, Long] =
    Graph.pagerankInt(
        edges.toDF("s", "d").repartition(parts), "s", "d", iters)
      .as[(Long, Long)].collect().toMap

  test("a 2-cycle is an exact integer fixpoint at 1,000,000 ppm") {
    // each node forwards its whole rank: new = 150000 + 85% · 1e6 = 1e6
    val r = ranks(Seq((1L, 2L), (2L, 1L)), iters = 7)
    assert(r === Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("dangling sink, hand-computed per iteration") {
    // A→B. iter1: B = 150000 + 85%·1e6 = 1e6; A = 150000 (no in-edges).
    val r1 = ranks(Seq((1L, 2L)), iters = 1)
    assert(r1 === Map(1L -> 150000L, 2L -> 1000000L))
    // iter2: B = 150000 + 85%·150000 = 150000 + 85·1500 = 277500
    val r2 = ranks(Seq((1L, 2L)), iters = 2)
    assert(r2 === Map(1L -> 150000L, 2L -> 277500L))
  }

  test("rank splits across out-edges with integer truncation") {
    // A→B, A→C: deg(A)=2 so each side gets 1e6 div 2 = 500000.
    // iter1: B = C = 150000 + 85%·500000 = 575000
    val r = ranks(Seq((1L, 2L), (1L, 3L)), iters = 1)
    assert(r(2L) === 575000L && r(3L) === 575000L)
    // odd rank truncates: after iter1 A=150000; iter2 B gets
    // 150000 div 2 = 75000 → 150000 + 85·750 = 213750
    val r2 = ranks(Seq((1L, 2L), (1L, 3L)), iters = 2)
    assert(r2(2L) === 213750L && r2(3L) === 213750L)
  }

  test("an in-degree hub outranks its spokes; result is identical under " +
    "1, 3, and 16 input partitions") {
    // spokes 1..10 all link to hub 99; hub links back to spoke 1
    val edges = (1L to 10L).map(i => (i, 99L)) :+ (99L, 1L)
    val byParts = Seq(1, 3, 16).map(p => ranks(edges, iters = 5, parts = p))
    assert(byParts.distinct.size === 1, "partitioning changed integer ranks")
    val r = byParts.head
    assert(r(99L) > r(1L) && r(1L) > r(2L),
      s"hub > linked spoke > unlinked spoke: $r")
    assert((2L to 10L).map(r).distinct.size === 1)
  }

  test("the result is checkpointed: after the first action, a frame " +
    "derived from it plans no join round and reads the saved ranks") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.LogicalRDD
    val edges = (0L until 30L).map(i => (i, (i * 7 + 3) % 30))
    // 5 rounds: no periodic checkpoint; 8: the last round is periodic-
    // aligned; 9: one periodic checkpoint, then one more round
    Seq(5, 8, 9).foreach { iters =>
      val r = Graph.pagerankInt(edges.toDF("s", "d"), "s", "d", iters)
      val first = r.as[(Long, Long)].collect().toMap
      val derived = r.agg(sum("rank_ppm"))
      val plan = derived.queryExecution.analyzed
      assert(plan.collect { case j: Join => j }.isEmpty,
        s"iters=$iters: derived frame re-plans join rounds:\n$plan")
      val saved = plan.collect { case l: LogicalRDD => l.rdd }
      assert(saved.nonEmpty && saved.forall(_.isCheckpointed),
        s"iters=$iters: ranks not saved by the first action")
      assert(derived.head().getLong(0) === first.values.sum)
    }
  }
}
