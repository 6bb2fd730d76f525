package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DataFrame-native connected components via the alternating
  * large-star / small-star algorithm (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SOCC'14) — O(log n) rounds, each round two
  * per-source-min passes over the edge list, so it scales to
  * graphs that GraphX's Pregel CC would need a real cluster for, and it
  * never materializes components on the driver.
  *
  * The reference delegates this step to GraphFrames `connectedComponents()`
  * (DBSCAN.py:172) with a mandatory checkpoint dir (DBSCAN.py:171); we cut
  * lineage the same way with `localCheckpoint` per round.
  */
object ConnectedComponents {

  /** Connected components of an undirected graph.
    *
    * @param edges DataFrame with two Long-castable columns `src`, `dst`.
    *              Duplicates and self-loops are tolerated.
    * @return (id, component) for every id appearing in `edges`; `component`
    *         is the minimum id of the containing component (deterministic).
    *         Isolated vertices (absent from `edges`) are the caller's to
    *         re-add (`coalesce(component, id)` after an outer join).
    */
  def run(edges: DataFrame, maxIter: Int = 64): DataFrame = {
    // checkpoints are LAZY: the checksum that every round needs anyway is
    // the action that materializes them, so each round schedules ONE job
    // (checkpoint-fill + checksum fused) instead of two — rounds are pure
    // barrier latency at gate scale, so job count is the cost that matters
    var e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct()
      .localCheckpoint(eager = false)

    var prev = checksum(e)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // Per-source minima come from a map-side-combined groupBy joined
      // back on src, not a window over the edge partition: a window
      // partition gets no partial aggregation, so a component root's full
      // adjacency — which grows toward the whole component as stars
      // contract — would sort in ONE task. Near-dup graphs at data scale
      // are power-law (boilerplate/template mega-components); the hash
      // partials absorb a hot root BEFORE the exchange.
      def withSrcMin(df: DataFrame): DataFrame =
        df.join(df.groupBy("src").agg(min("dst").as("m")), "src")

      // Large-star: for each node u, attach every strictly-larger neighbor
      // to the minimum of Γ(u) ∪ {u}.
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      // no distinct here: duplicates don't change small-star's minima and
      // its final distinct dedups — saves one full shuffle per round
      val large = withSrcMin(sym)
        .withColumn("m", least(col("m"), col("src")))
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst"))

      // Small-star: orient edges larger→smaller, attach each node and its
      // smaller neighbors to the minimum neighbor.
      //
      // The LAZY checkpoint here is driver-side, not data-side: without
      // it, small-star's plan embeds the large-star subtree in FOUR
      // branches (both sides of the skew-safe self-join, then the union),
      // and the per-round ANALYZER pass over that self-join-deduped tree
      // cost ~0.6 s/round on the driver — 3× the round's actual job time
      // at gate scale (measured via tools/ProbeHdbscan: 9.1 s CC wall vs
      // 2.4 s of jobs). The checkpoint makes `oriented` a LogicalRDD
      // leaf, so both halves of the round analyze shallow trees; its
      // blocks materialize inside the same checksum job (no extra
      // action) and are released as soon as the round's survivor is
      // materialized.
      val oriented = large.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
        .localCheckpoint(eager = false)
      val withMin = withSrcMin(oriented)
      val small = withMin
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(withMin.select(col("src"), col("m").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(eager = false)

      // the checksum materializes the lazy checkpoint — one fused job
      val cur = checksum(small)
      converged = cur == prev
      prev = cur
      // `small` is now materialized, so the previous round's checkpoint
      // blocks are dead — drop them (and the round's oriented
      // intermediate) rather than stranding one edge-set copy per round
      // until driver GC.
      graft.core.LineageCut.release(e)
      graft.core.LineageCut.release(oriented)
      e = small
      i += 1
    }

    // Fixed point is a star forest: edges (member, root).
    e.select(col("src").as("id"), col("dst").as("component"))
      .union(e.select(col("dst"), col("dst")).distinct()
        .toDF("id", "component"))
      .distinct()
  }

  /** Order-insensitive fingerprint of an edge set (count + hash sum; the
    * sum is done in decimal so ANSI mode can't overflow). */
  private def checksum(e: DataFrame): (Long, java.math.BigDecimal) = {
    val r = e.agg(count(lit(1)),
      coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head()
    (r.getLong(0), r.getDecimal(1))
  }
}
