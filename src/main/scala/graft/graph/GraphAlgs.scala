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

  /** The edge list as a GraphX edge RDD of at most default-parallelism
    * partitions. Pregel pays per-partition, per-iteration fixed costs, so
    * more partitions than cores only add overhead; fewer would serialize
    * rounds onto fewer cores (a 1-partition edge list took cc_graphx from
    * 6.97 to 10.06 s at 32 cores). `coalesce` keeps it shuffle-free.
    * Results are partitioning-independent (component = min vertex id),
    * cross-checked in ConnectedComponentsSpec. */
  private def toEdgeRdd(edges: DataFrame) = {
    val rows = edges.selectExpr("CAST(src AS LONG)", "CAST(dst AS LONG)")
    val rdd = rows.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
    val parallelism = rows.sparkSession.sparkContext.defaultParallelism
    if (rdd.getNumPartitions > parallelism) rdd.coalesce(parallelism) else rdd
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
    * The core-core subgraph's set-up (which the components' first
    * checksum runs) is tagged `scc.mutual`; the returned relabelling is
    * lazy and runs under its reader's tag.
    */
  def dbscanScc(edges: DataFrame): DataFrame =
    graft.core.Phase(edges.sparkSession.sparkContext, "scc.mutual") {
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
