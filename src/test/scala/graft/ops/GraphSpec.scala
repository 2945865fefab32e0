package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Graph ops on hand-computable fixtures: K4 (every node in 3
  * triangles, clustering 1), a path graph (no triangles), and PageRank
  * invariants (base floor, mass bound, hub dominance, determinism), plus
  * a static check that no op mutates session conf.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("triangles: K4 has 4 triangles, every node in 3, clustering 1") {
    // complete graph on 4 nodes, given as duplicated directed edges
    val edges = (for {
      a <- 0L to 3L; b <- 0L to 3L if a != b
    } yield (a, b)).toDF("src", "dst")
    val t = Graph.triangles(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(t.length == 4)
    assert(t.forall { case (_, deg, tri, c) => deg == 3 && tri == 3 && c == 1.0 })
  }

  test("triangles: a path graph has none; a square with one diagonal has two") {
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(Graph.triangles(path).agg(sum("triangles")).head.getLong(0) == 0L)
    // square 0-1-2-3-0 plus diagonal 0-2 → triangles (0,1,2) and (0,2,3)
    val sq = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L))
      .toDF("src", "dst")
    val m = Graph.triangles(sq).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(m == Map(0L -> 2L, 1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("pagerank: base floor, mass bound, hub dominance, determinism") {
    // star: every spoke points at the hub; hub points at spoke 1
    val edges = (1L to 5L).map(i => (i, 0L)).toDF("src", "dst")
      .unionByName(Seq((0L, 1L)).toDF("src", "dst"))
    val nodes = (0L to 5L).toDF("id")
    val pr = Graph.pagerank(edges, nodes, rounds = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every node keeps at least the base mass
    assert(pr.values.forall(_ >= 150000L))
    // total mass never exceeds the initial N·1e6 (leak-only dynamics)
    assert(pr.values.sum <= 6L * 1000000L)
    // the 0↔1 two-cycle concentrates mass: both dwarf the leaf spokes
    // (hub-vs-spoke-1 ordering oscillates with round parity — the
    // 2-cycle has no damped-iteration fixed order at finite rounds)
    assert(pr(0L) > 2L * pr(2L) && pr(1L) > 2L * pr(2L))
    // spokes 2..5 are structurally identical → identical mass
    assert(Set(pr(2L), pr(3L), pr(4L), pr(5L)).size == 1)
    val again = Graph.pagerank(edges, nodes, rounds = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == pr)
  }

  test("no op under graft.ops sets session conf (static check)") {
    // A library op that flips session-wide conf changes the plans of every
    // query running concurrently on the same session; scope plan choices
    // with hints instead.
    val stream = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft/ops"))
    val offenders = try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.toSeq.filter(_.toString.endsWith(".scala")).flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
          .collect { case (l, i) if l.contains("conf.set(") => s"$p:${i + 1}: ${l.trim}" }
      }
    } finally stream.close()
    assert(offenders.isEmpty, s"session conf set in library ops: $offenders")
  }
}
