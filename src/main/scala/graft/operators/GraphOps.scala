package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryEntry, Tables}

/** Link-graph signals for corpus curation (the web-scale pipeline's
  * PageRank-family quality prior: CommonCrawl-style curation ranks
  * hosts by (harmonic) centrality before content filters ever run —
  * the reference stack would push this to its SQL engine the same way).
  *
  * The operator is pure DataFrame iteration: each PageRank round is
  *   r'(v) = (1-d)/N + d * Σ_{u→v} r(u)/outdeg(u)
  * spelled as one join + one aggregation, so a K-iteration rank is a
  * K-stage DAG — per round ONE shuffle on the edge key and one on the
  * destination, both AQE-sized; no driver-side state beyond the loop
  * counter, no collect. At 100 TB the edge list is the big input:
  * each round is a standard fact-fact equi-join (bucketable on the
  * node key via the round-12 bucketed tables, which removes the edge
  * re-shuffle entirely across rounds).
  */
object GraphOps {

  /** K rounds of PageRank over DIRECTED `edges(src, dst)` (dedup'd
    * here). Every node that appears on either side participates;
    * callers who need dangling-mass redistribution should symmetrize
    * the edges first (the t30 entry does). Returns (node, rank). */
  def pageRank(edges: DataFrame, iterations: Int, damping: Double): DataFrame = {
    require(iterations >= 1 && iterations <= 50, s"iterations in [1,50], got $iterations")
    val (ed, nodes, nodesN) = pageRankInputs(edges)
    var rank = nodesN.select(col("node"), (lit(1.0) / col("n")).as("rank"))
    for (_ <- 1 to iterations) rank = pageRankRound(ed, nodesN, rank, damping)
    // computed eagerly into a checkpoint, the result no longer reads the
    // three caches, so they are released before returning: a long-lived
    // session keeps no cache entry per call
    val out = rank.localCheckpoint()
    Seq(ed, nodes, nodesN).foreach(_.unpersist())
    out
  }

  /** The loop-invariant inputs of [[pageRank]], persisted and
    * materialized: `ed(src, dst, outdeg)` hash-partitioned on src,
    * `nodes(node)` and `nodesN(node, n)` hash-partitioned on node. The
    * caller unpersists all three. */
  private[graft] def pageRankInputs(edges: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // localCheckpoint the loop-invariant relations ONCE (same policy as
    // t14's label propagation): edges carry outdeg inline — the
    // per-round work is then exactly ONE join (rank onto edges) + ONE
    // aggregation on dst + ONE left join back onto nodes. Without
    // this, round k replays k copies of the distinct/groupBy lineage —
    // quadratic in iterations. NOTE (r14, ProbeCkpt): under AQE a
    // localCheckpoint reports UnknownPartitioning, so the repartition
    // below does NOT let later rounds skip the edge-side exchange — it
    // only sizes the checkpointed RDD's partitions. The per-round edge
    // shuffle is a known cost here; the bucketed-GraftTable edge layout
    // is the 100 TB path that removes it (SCALE.md).
    // Checkpoint the BASE relation too: deg, ed and nodes all read ed0,
    // and without this the upstream scan+join+distinct replays once per
    // consumer (measured 4 replays on the t30 shape).
    val ed0 = edges.select(col("src"), col("dst")).distinct().localCheckpoint()
    val deg = ed0.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // persist() the two loop-invariant join inputs instead of
    // localCheckpoint (r15, guide §2.4): an InMemoryRelation PRESERVES
    // its repartition()'s HashPartitioning while a checkpointed RDD
    // reports UnknownPartitioning — so every round's rank⋈edges and
    // nodes⋈contribs join re-shuffled ed and nodesN (6 of the 10
    // exchanges in the r14 3-round plan). With the cache, each round
    // exchanges only the NEW data (rank, and the contribution agg);
    // the edge set and node set are shuffled exactly once. This is the
    // in-memory twin of the bucketed-GraftTable edge layout SCALE.md
    // names for 100 TB (storage-partitioned joins); MEMORY_AND_DISK
    // persist spills instead of OOMing at volume.
    val ed = ed0.join(deg, "src")
      .select(col("src"), col("dst"), col("outdeg"))
      .repartition(col("src")).persist()
    val nodes = ed0.select(col("src").as("node"))
      .union(ed0.select(col("dst").as("node"))).distinct()
      .repartition(col("node")).persist()
    // N as a broadcast scalar column (no collect: a 1-row cross join),
    // attached to the node set ONCE and checkpointed (r14 optimization,
    // guide §1.2/§2.4): the old shape cross-joined nodes x broadcast(n)
    // inside the loop, so every round's plan re-derived the count
    // subtree (aggregate + exchange + broadcast + BroadcastNestedLoop
    // cross) — 4 copies in the 3-round t30 plan. (node, n) costs 8
    // bytes/row and removes all of them from the loop.
    val n = nodes.agg(count(lit(1)).as("n"))
    // BroadcastNestedLoopJoin preserves the streamed (nodes) side's
    // partitioning, so persisting the crossJoin keeps
    // HashPartitioning(node) visible to every round's left join.
    val nodesN = nodes.crossJoin(broadcast(n)).persist()
    // Materialize both caches NOW (the checkpoints this replaces were
    // eager too): an unmaterialized cache is an AdaptiveSparkPlan with
    // isFinalPlan=false, whose output partitioning the outer planner
    // cannot trust — the loop's plans would re-shuffle it every round.
    ed.count(); nodesN.count()
    (ed, nodes, nodesN)
  }

  /** One PageRank round: `rank(node, rank)` → the next round's ranks. */
  private[graft] def pageRankRound(ed: DataFrame, nodesN: DataFrame, rank: DataFrame,
                                   damping: Double): DataFrame = {
    // SHUFFLE_HASH on the rank/contribution sides (guide §3.1): the
    // per-round joins are fact-fact (checkpointed RDDs report no
    // stats, so the planner falls back to sort-merge — nothing is
    // broadcastable at scale anyway), but hash joins stream the edge
    // side with ZERO sorts; the r14 before-plan carried 12
    // SortMergeJoins / 10 Sorts for 3 rounds, every one re-sorting a
    // relation that is hashed on the join key anyway. Rows identical:
    // join strategy only.
    val contribs = ed
      .join(rank.withColumnRenamed("node", "src").hint("SHUFFLE_HASH"), "src")
      .select(col("dst").as("node"), (col("rank") / col("outdeg")).as("c"))
    nodesN
      .join(contribs.groupBy("node").agg(sum(col("c")).as("cs"))
        .hint("SHUFFLE_HASH"), Seq("node"), "left")
      .select(col("node"),
        ((lit(1.0) - lit(damping)) / col("n") +
          lit(damping) * coalesce(col("cs"), lit(0.0))).as("rank"))
  }

  val entries: Seq[QueryEntry] = Seq(
    // ------------------------------------------------------------------
    // PageRank over the customer-supplier trade graph: an edge when a
    // customer's order contains a supplier's line item, SYMMETRIZED
    // (both directions) so the bipartite graph has no dangling nodes
    // and the oracle needs no dangling-mass term. Node ids are
    // namespaced (2*custkey vs 2*suppkey+1 — the raw key ranges
    // overlap). 3 rounds, d = 0.85; the DuckDB oracle UNROLLS the same
    // three rounds as CTEs — an independent spelling of the identical
    // recurrence, compared exactly after ROUND(..., 4) on both sides
    // (absorbs cross-engine float-sum-order noise; rank masses are
    // O(1e-4..1e-2) at sf0.01, so 4 decimals is meaningful precision).
    QueryEntry("t30_pagerank",
      (s, d) => {
        val o = Tables(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
        val l = Tables(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        val raw = o.join(l, col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("p"))
          .distinct()
        val edges = raw.select(col("c").as("src"), col("p").as("dst"))
          .union(raw.select(col("p").as("src"), col("c").as("dst")))
        pageRank(edges, iterations = 3, damping = 0.85)
          .select(col("node"), round(col("rank"), 4).as("rank4"))
      },
      Some("""WITH raw AS (
          SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        edges AS (
          SELECT c AS src, p AS dst FROM raw
          UNION ALL SELECT p AS src, c AS dst FROM raw),
        deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        nodes AS (SELECT DISTINCT src AS node FROM edges
                  UNION SELECT DISTINCT dst FROM edges),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
        c1 AS (SELECT edges.dst AS node, SUM(r0.rank / deg.outdeg) AS cs
               FROM edges JOIN r0 ON r0.node = edges.src
               JOIN deg ON deg.src = edges.src GROUP BY edges.dst),
        r1 AS (SELECT nodes.node, 0.15 / nn.n + 0.85 * COALESCE(c1.cs, 0) AS rank
               FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.node = nodes.node),
        c2 AS (SELECT edges.dst AS node, SUM(r1.rank / deg.outdeg) AS cs
               FROM edges JOIN r1 ON r1.node = edges.src
               JOIN deg ON deg.src = edges.src GROUP BY edges.dst),
        r2 AS (SELECT nodes.node, 0.15 / nn.n + 0.85 * COALESCE(c2.cs, 0) AS rank
               FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.node = nodes.node),
        c3 AS (SELECT edges.dst AS node, SUM(r2.rank / deg.outdeg) AS cs
               FROM edges JOIN r2 ON r2.node = edges.src
               JOIN deg ON deg.src = edges.src GROUP BY edges.dst),
        r3 AS (SELECT nodes.node, 0.15 / nn.n + 0.85 * COALESCE(c3.cs, 0) AS rank
               FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.node = nodes.node)
        SELECT node, ROUND(rank, 4) AS rank4 FROM r3"""))
  )
}
