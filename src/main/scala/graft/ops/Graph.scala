package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics on edge frames — ALL-INTEGER arithmetic throughout
  * (micro-unit PageRank mass, exact triangle counts) so every result is
  * bit-reproducible and SQL-mirrorable; see `graph_pagerank` /
  * `graph_triangles` / `text_textrank` in SparkEntry for the shipped
  * queries and their unrolled-CTE oracles.
  */
object Graph {

  /** Damped integer PageRank over directed `edges(src, dst)` for
    * `nodes(id)`: pr₀ = 1e6 micro-units; per round contrib = pr div
    * outdeg (non-negative ⇒ truncation ≡ floor), pr' = base +
    * (dampNum·inflow) div 1000. Dangling/isolated nodes keep only the
    * base each round (mass leak — the textbook simplification,
    * deterministic). Edge table is checkpointed once; lineage truncates
    * every fourth round. No session conf is touched: the plan runs
    * under whatever AQE setting the caller's session has.
    */
  def pagerank(edges: DataFrame, nodes: DataFrame, rounds: Int = 10,
      dampNum: Long = 850L, base: Long = 150000L): DataFrame = {
    require(rounds > 0 && dampNum >= 0 && dampNum <= 1000)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val e = edges.join(deg, "src").localCheckpoint()
    val n = nodes.select(col("id")).localCheckpoint()
    // Explicit broadcast hints on the rank-sized frames when the node
    // set's plan-time size estimate says they fit (round 15, guide
    // §3.1): checkpointed RDDs carry no partitioning/size under the
    // static planner, so without hints every round's joins either plan
    // sort-merge (static) or pay AQE's per-stage job cascade to
    // discover the broadcast at runtime — the r14 measurement was 48
    // jobs/run with AQE on and 3.4× slower wall with it off. The hint
    // gives the static plan the broadcast directly; past the estimate
    // threshold (a corpus-scale node set) the hint is withheld and the
    // plan stays the scale shape. Values are join-strategy-independent
    // (exact integer arithmetic), oracle-gated.
    val thr = edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val ranksFit = thr > 0 &&
      nodes.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(thr)
    val hint: DataFrame => DataFrame =
      if (ranksFit) (df: DataFrame) => broadcast(df) else identity
    var pr = n.withColumn("pr", lit(1000000L))
    for (k <- 1 to rounds) {
      val inflow = e.join(hint(pr), e("src") === pr("id"))
        .select(col("dst"), expr("pr div deg").as("contrib"))
        .groupBy("dst").agg(sum(col("contrib")).as("inflow"))
      pr = n.join(hint(inflow), n("id") === inflow("dst"), "left_outer")
        .select(n("id"),
          (lit(base) + expr(s"($dampNum * coalesce(inflow, 0L)) div 1000"))
            .as("pr"))
      // lineage truncated every 4th round: the hinted plan is all
      // broadcast joins, so lineage depth is cheap
      if (k % 4 == 0 || k == rounds) pr = pr.localCheckpoint()
    }
    pr
  }

  /** Triangle counts + local clustering coefficient over an UNDIRECTED
    * edge set given as any directed/duplicated `edges(src, dst)` frame:
    * symmetrized to ordered (a<b) pairs, each triangle enumerated once
    * via the a<b<c join chain, corners credited; c_v =
    * 2·T_v/(deg_v·(deg_v−1)). Nodes with no edges are absent.
    */
  def triangles(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint()
    val deg = und.select(col("a").as("v"))
      .unionByName(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val tri = und.as("e1")
      .join(und.as("e2"), col("e2.a") === col("e1.b"))
      .join(und.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val cr = tri.select(col("x").as("v"))
      .unionByName(tri.select(col("y").as("v")))
      .unionByName(tri.select(col("z").as("v")))
      .groupBy("v").agg(count(lit(1)).as("triangles"))
    deg.join(cr, Seq("v"), "left_outer")
      .select(col("v"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        round(lit(2.0) * coalesce(col("triangles"), lit(0L)).cast("double")
          / nullif((col("deg") * (col("deg") - 1)).cast("double"), lit(0.0)), 6)
          .as("clustering"))
  }
}
