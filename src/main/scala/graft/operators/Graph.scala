package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics over an edge table — the analysis layer a crawl
  * pipeline feeds (the reference's BFS produces exactly such a parent→child
  * edge set; see `/root/reference/internal/workerpool/pool.go:59` `List` —
  * this operator is what you run on the frontier it discovered).
  *
  * Everything is expressed on DataFrames so the graph never materializes on
  * the driver:
  *  - edges/nodes stay distributed; each PageRank round is one equi-join on
  *    the source id plus one hash aggregate on the destination.
  *  - at cluster scale, both per-round shuffles key on the vertex id, so
  *    pre-partitioning `edges` by `src` (bucketing, or a one-time
  *    `repartition`) makes the join side shuffle-free and only the rank
  *    frame moves per round.
  *  - iteration count is FIXED (not convergence-tested): training-data
  *    ranking wants a reproducible, oracle-checkable result, and 3–10
  *    damped rounds already separate hubs from leaves. Lineage is cut with
  *    a lazy `localCheckpoint` every 3 rounds, so deep iteration cannot
  *    blow the plan up.
  */
object Graph extends CacheLedger {

  /** Damped PageRank with a fixed number of rounds.
    *
    * Conventions (chosen so the result is reproducible in plain SQL on any
    * engine, and documented because they differ across libraries):
    *  - self-loops and duplicate edges are dropped (an unweighted simple
    *    digraph);
    *  - rank mass that lands on a dangling node (no out-edges) is NOT
    *    redistributed — it simply leaves the system, so ranks sum to < 1
    *    when sinks exist. The redistribution variant costs one extra 1-row
    *    aggregate join per round; the simple form is what the chained-CTE
    *    oracle replays.
    *
    * @return (v, pr) — one row per node appearing in any edge
    */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val e = ledgered(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .cache())
    // (src, dst, deg): degree attached once, outside the loop.
    val weighted = ledgered(
      e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src").cache())
    val nodes = ledgered(e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct().cache())
    // One scalar job over the (cached, id-only) node set — not a
    // driver-side materialization of graph data.
    val n = nodes.count()
    val base = lit((1.0 - damping) / n)
    var ranks = nodes.select(col("v"), lit(1.0 / n).as("pr"))
    for (i <- 1 to iterations) {
      val contrib = weighted
        .join(ranks.withColumnRenamed("v", "src"), "src")
        .select(col("dst").as("v"), (col("pr") / col("deg")).as("c"))
        .groupBy("v")
        .agg(sum("c").as("c"))
      ranks = nodes.join(contrib, Seq("v"), "left")
        .select(col("v"),
          (base + lit(damping) * coalesce(col("c"), lit(0.0))).as("pr"))
      if (i % 3 == 0 && i < iterations)
        ranks = ranks.localCheckpoint(eager = false)
    }
    ranks
  }

  /** Per-node triangle participation counts over the undirected simple
    * graph induced by the edge table (direction, duplicate edges, and
    * self-loops are ignored). Nodes in no triangle are omitted.
    *
    * The classic curse-of-the-last-reducer guard (Suri & Vassilvitskii
    * 2011): every edge is oriented from its lower- to its
    * higher-(degree, id) endpoint, so wedges are generated at each
    * triangle's LOWEST-rank vertex. A power-law hub never enumerates its
    * own neighbor pairs — the total wedge volume is O(m^1.5) instead of
    * Σ deg², and no single task degenerates on a celebrity node. The
    * closure check is one equi-join of the wedge set against the oriented
    * edge set on the (y, z) pair key.
    *
    * @return (v, tri) — one row per node in at least one triangle
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = ledgered(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .cache())
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // Total order (deg, id); each edge points at its higher endpoint, which
    // carries its own rank along so the wedge filter below needs no third
    // join back to the degree table.
    val oriented = ledgered(und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("w"),
            struct(col("db").as("d"), col("b").as("id")).as("wr")))
          .otherwise(
            struct(col("b").as("u"), col("a").as("w"),
              struct(col("da").as("d"), col("a").as("id")).as("wr")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"), col("e.wr").as("wr"))
      .cache())
    val wedges = oriented.select(col("u"), col("w").as("y"), col("wr").as("yr"))
      .join(oriented.select(col("u"), col("w").as("z"), col("wr").as("zr")), Seq("u"))
      .filter(col("yr") < col("zr"))
      .select(col("u").as("x"), col("y"), col("z"))
    // A triangle {x,y,z} with rank x<y<z has oriented edges x->y, x->z,
    // y->z: the wedge at x closes iff the oriented edge y->z exists, so
    // each triangle is found exactly once.
    val tris = wedges.join(
      oriented.select(col("u").as("y"), col("w").as("z")), Seq("y", "z"))
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("tri"))
  }

  /** Per-node in/out degree — the frontier-shape report of a crawl.
    * One shuffle per direction, map-side combined, outer-merged so
    * pure sources and pure sinks both appear (missing side = 0).
    */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val out = edges.groupBy(col(srcCol).as("v")).agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col(dstCol).as("v")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("v"), "full_outer")
      .select(col("v"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }
}
