package graft

import org.apache.spark.sql.functions._

/** GraphOps.pageRank invariants (round 12): mass conservation on
  * dangling-free graphs, symmetry, known closed-form cases, and loud
  * parameter failures.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("cycle graph: uniform ranks; mass conserved") {
    // directed 4-cycle: every node has in/outdegree 1 -> rank stays 1/N
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val r = graft.operators.GraphOps.pageRank(edges, 5, 0.85)
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    r.values.foreach(v => assert(math.abs(v - 0.25) < 1e-12, r))
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("star graph: the hub outranks every leaf; mass conserved (symmetrized)") {
    val spokes = (2L to 9L).flatMap(l => Seq((1L, l), (l, 1L)))
    val r = graft.operators.GraphOps.pageRank(spokes.toDF("src", "dst"), 10, 0.85)
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(r(1L) > r(2L) * 3, s"hub must dominate: $r")
    (3L to 9L).foreach(l => assert(math.abs(r(l) - r(2L)) < 1e-12, "leaves are symmetric"))
    assert(math.abs(r.values.sum - 1.0) < 1e-9, s"no dangling mass lost: ${r.values.sum}")
  }

  test("duplicate edges do not double-count; iteration bounds are loud") {
    val once = graft.operators.GraphOps.pageRank(
      Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"), 3, 0.85).collect()
    val duped = graft.operators.GraphOps.pageRank(
      Seq((1L, 2L), (1L, 2L), (2L, 1L)).toDF("src", "dst"), 3, 0.85).collect()
    assert(once.map(_.getDouble(1)).sorted.toSeq == duped.map(_.getDouble(1)).sorted.toSeq)
    val e = intercept[IllegalArgumentException] {
      graft.operators.GraphOps.pageRank(Seq((1L, 2L)).toDF("src", "dst"), 0, 0.85)
    }
    assert(e.getMessage.contains("iterations"))
  }

  test("pageRank releases its caches: no CacheManager entry outlives the call") {
    def entries = org.apache.spark.sql.CacheEntries(spark)
    val before = entries
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 2L)).toDF("src", "dst")
    val r = graft.operators.GraphOps.pageRank(edges, 3, 0.85).collect()
    assert(r.length == 3)
    assert(math.abs(r.map(_.getDouble(1)).sum - 1.0) < 1e-9)
    assert(entries == before, s"pageRank left ${entries - before} cache entries behind")
  }
}
