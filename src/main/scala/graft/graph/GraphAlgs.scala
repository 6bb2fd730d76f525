package graft.graph

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col}

/** Graph algorithms over edge DataFrames that complement
  * [[ConnectedComponents]]: the exact SCC of DBSCAN ε-graphs (the
  * reference's SCC mode, DBSCAN-strongly-connected-component.py:174), and
  * GraphX's Pregel connected components, kept as an independent
  * implementation to cross-check [[ConnectedComponents]].
  */
object GraphAlgs {

  /** Rows per GraphX edge partition. Pregel pays per-partition,
    * per-iteration fixed costs (task scheduling, vertex/edge co-location
    * joins), so the edge RDD is sized by DATA VOLUME — a 100 TB graph
    * gets thousands of ~2M-row partitions instead of inheriting whatever
    * partitioning the upstream DataFrame happened to have. The partition
    * count is FLOORED at the session's default parallelism (round 16):
    * round 15's pure data sizing collapsed the gate-scale edge list to 1
    * partition, serializing every Pregel round onto one core — the
    * driver measured cc_graphx 6.97 → 10.06 s at 32 cores and 13.44 s at
    * 8 — so a graph smaller than cores × 2M rows now simply keeps its
    * existing partitions (capped at parallelism), while at scale
    * ceil(n / 2M) dominates the floor and the data sizing takes over.
    * The count that sizes it is one cheap job over the (usually
    * memoized) edge frame; `coalesce` keeps it shuffle-free. Results are
    * partitioning-independent (component = min vertex id), cross-checked
    * in ConnectedComponentsSpec. */
  private val EdgeRowsPerPartition = 2000000L

  private def toEdgeRdd(edges: DataFrame) = {
    val rows = edges.selectExpr("CAST(src AS LONG)", "CAST(dst AS LONG)")
    val n = rows.count()
    val rdd = rows.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
    val byData = math.max(1L, (n + EdgeRowsPerPartition - 1) / EdgeRowsPerPartition)
      .min(Int.MaxValue.toLong).toInt
    val floor = math.min(
      rows.sparkSession.sparkContext.defaultParallelism,
      rdd.getNumPartitions)
    val parts = math.max(byData, floor)
    if (rdd.getNumPartitions > parts) rdd.coalesce(parts) else rdd
  }

  /** Undirected connected components; returns (id, component) for vertices
    * present in `edges`. Component ids are GraphX's (min vertex id). */
  def connectedComponents(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    Graph.fromEdges(toEdgeRdd(edges), 0)
      .connectedComponents().vertices
      .toDF("id", "component")
  }

  /** Exact SCC *specialized to DBSCAN ε-graphs* (edges only core→neighbor):
    * a non-core vertex has no out-edges, so no cycle leaves the core set,
    * and any core-core edge is mutual (each is in the other's
    * ε-neighborhood) — hence SCC ≡ connected components of the core-core
    * subgraph, with every other vertex a singleton. This replaces GraphX's
    * iterative SCC (minutes at sf0.1) with two joins + large-star/small-star
    * CC, and is exact (it matched the mutual-reachability SQL oracle that
    * bounded-iteration SCC only happens to match on shallow graphs).
    */
  def dbscanScc(edges: DataFrame): DataFrame = {
    val cores = edges.select(col("src")).distinct()
    val mutual = edges.join(cores.withColumnRenamed("src", "c"),
      edges("dst") === col("c"), "left_semi")
    val cc = ConnectedComponents.run(mutual)
    val verts = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    verts.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }
}
