package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.cc.ConnectedComponents

class CcSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The driver-local branch (default gate) and the distributed one. */
  private val gates = Seq(250000L, 0L)

  /** Components on both branches, which must agree row for row. */
  private def bothBranches(edges: DataFrame): Map[Long, Long] = {
    val Seq(local, dist) = gates.map { g =>
      val rows = ConnectedComponents.run(edges, localEdges = g).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      assert(rows.length == rows.toMap.size, s"a vertex has two rows (gate $g)")
      rows.toMap
    }
    assert(local == dist, s"branches disagree: local $local, distributed $dist")
    local
  }

  private def comps(edges: (Long, Long)*): Map[Long, Long] = {
    import spark.implicits._
    bothBranches(edges.toDF("src", "dst"))
  }

  /** Edges with nullable endpoints (None = null). */
  private def compsOf(edges: (Option[Long], Option[Long])*): Map[Long, Long] = {
    import spark.implicits._
    bothBranches(edges.toDF("src", "dst"))
  }

  test("chain collapses to min id") {
    val m = comps(1L -> 2L, 2L -> 3L, 3L -> 4L, 10L -> 11L)
    assert(m(1L) == 1L && m(2L) == 1L && m(3L) == 1L && m(4L) == 1L)
    assert(m(10L) == 10L && m(11L) == 10L)
  }

  test("star and clique") {
    val m = comps(5L -> 1L, 5L -> 2L, 5L -> 3L, 7L -> 8L, 8L -> 7L)
    assert(Set(m(5L), m(1L), m(2L), m(3L)) == Set(1L))
    assert(m(7L) == 7L && m(8L) == 7L)
  }

  test("long path converges (O(log n) rounds)") {
    val edges = (0L until 63L).map(i => i -> (i + 1))
    val m = comps(edges: _*)
    assert(m.values.toSet == Set(0L))
    assert(m.size == 64)
  }

  test("self-loops and duplicates are harmless") {
    val m = comps(1L -> 1L, 1L -> 2L, 2L -> 1L, 1L -> 2L)
    assert(m(2L) == 1L)
  }

  test("result is independent of edge orientation") {
    val a = comps(3L -> 9L, 9L -> 4L, 4L -> 12L)
    val b = comps(9L -> 3L, 4L -> 9L, 12L -> 4L)
    assert(a == b)
  }

  test("edges with a null endpoint are ignored") {
    val m = compsOf(Some(1L) -> Some(2L), Some(2L) -> None, None -> Some(3L),
      None -> None, Some(4L) -> None)
    assert(m == Map(1L -> 1L, 2L -> 1L))
  }

  test("self-loop-only vertices are absent") {
    val m = comps(1L -> 1L, 2L -> 3L, 7L -> 7L)
    assert(m == Map(2L -> 2L, 3L -> 2L))
    assert(comps(5L -> 5L).isEmpty)
  }

  test("duplicate or reversed edges change nothing") {
    val base = comps(1L -> 2L, 3L -> 4L, 4L -> 5L)
    assert(comps(2L -> 1L, 3L -> 4L, 5L -> 4L, 4L -> 3L, 1L -> 2L, 1L -> 2L) == base)
  }

  test("both branches keep the input's nullability") {
    import spark.implicits._
    for (edges <- Seq(Seq(1L -> 2L).toDF("src", "dst"),
        Seq(Option(1L) -> Option(2L)).toDF("src", "dst"))) {
      val Seq(a, b) = gates.map(g =>
        ConnectedComponents.run(edges, localEdges = g).schema)
      assert(a == b)
    }
  }

  test("a computed input is evaluated once on both branches and nothing stays persisted") {
    import spark.implicits._
    val sc = spark.sparkContext
    assert(graft.util.Blocks.isStored(Seq(1L -> 2L).toDF("src", "dst")))
    assert(graft.util.Blocks.isStored(Seq(1L -> 2L).toDF("src", "dst").localCheckpoint(true)))
    for (g <- gates) {
      val evaluated = sc.longAccumulator(s"cc_input_rows_$g")
      // a path 0-1-...-40 whose rows a typed map computes on demand
      val edges = spark.range(40).map { i => evaluated.add(1); (i, i + 1) }.toDF("src", "dst")
      assert(!graft.util.Blocks.isStored(edges))
      val before = sc.getPersistentRDDs.keySet
      val labels = ConnectedComponents.run(edges, localEdges = g)
      assert(labels.select("component").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
      assert(labels.count() == 41)
      assert(evaluated.value == 40L, s"gate $g: input rows evaluated ${evaluated.value} times")
      val pinned = sc.getPersistentRDDs.keySet -- before
      assert(pinned.size <= 1, s"gate $g: more than the result pinned: ${pinned.toSeq.sorted}")
      graft.util.Blocks.release(labels)
    }
  }
}
