package graft.kmeans

import graft.functions.Distances
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One fitted constrained-k-means model. `assignment` is (cluster, id, qi);
  * `centroids` are the post-fit per-cluster means; `cost` is the total L1
  * distance of members to their (new) centroids — the reference computes
  * cost against the NEW centroids (k-means.ipynb cost step).
  */
final case class KMeansModel(assignment: DataFrame,
                             centroids: Map[Int, Array[Double]],
                             cost: Double, lloydIters: Int)
    extends graft.core.QueryCache.Releasable {
  // `assignment` is localCheckpoint'd — Dataset.unpersist can't see its
  // cache, so drop the backing RDD's blocks directly.
  def unpersist(): Unit = graft.core.LineageCut.release(assignment)
  override def release(): Unit = unpersist()
}

/** K-member-constrained k-means (reference k-means.ipynb, single cell):
  * Lloyd iterations where every cluster must keep ≥ k members — oversized
  * clusters keep their k nearest points and donate the rest back to a pool
  * that is re-assigned among the still-deficient clusters only.
  *
  * Faithful quirks (SURVEY §3 E3, §2.8 F4), each pinned by a spec:
  *  - the repair loop tolerates ONE deficient cluster (`count() > 1`, not
  *    `> 0`) — so at most one output cluster may break k-anonymity;
  *  - clusters with exactly k members neither donate nor receive;
  *  - convergence uses the SIGNED centroid drift Σ(new-old)/Σold (< 1e-6),
  *    so opposite movements can cancel;
  *  - ties in nearest-centroid go to the lowest cluster index (Python-2
  *    small-int dict iteration order), and ties in the keep-k sort are
  *    broken by point id (Python's stable sort made this input-order).
  *
  * Deviation: the reference's repair loop can livelock when the donation
  * pool dries up while ≥2 clusters are deficient (it would spin forever);
  * we stop after `maxRepair` rounds and keep the partial assignment.
  */
object ConstrainedKMeans {

  /** Nearest centroid as a single narrow projection — no shuffle, no
    * crossJoin, no UDF. The centroid matrix rides as a codegen reference
    * object ([[graft.functions.VecKernels.nearest_centroids]]), so the
    * plan stays O(1)-sized and codegen'd at any cluster count (a literal
    * `aggregate` fold — ConstrainedKMeansSpec's cross-check — hits the
    * JVM 64KB codegen limit past a few hundred centroids). Ties keep the
    * lowest cluster index. */
  private def nearestCentroid(qi: Column, cents: Seq[(Int, Array[Double])]): Column =
    element_at(
      graft.functions.VecKernels.nearest_centroids(qi, cents, 1, cosine = false), 1)

  /** The centroid of each row's `cluster`, as an `array<double>` column:
    * a lookup in a literal cluster → centroid map. */
  private def centroidOf(centroids: Map[Int, Array[Double]],
                         cluster: Column): Column =
    element_at(map(centroids.toSeq.sortBy(_._1).flatMap { case (cid, c) =>
      Seq(lit(cid), array(c.map(lit(_)): _*))
    }: _*), cluster)

  /** One (nClusters, init) fit: Lloyd loop with k-member repair. */
  def fit(points: DataFrame, idCol: String, qiCol: String, nClusters: Int,
          kAnon: Int, seed: Long, maxLloyd: Int = 20, maxRepair: Int = 100)
  : KMeansModel = {
    val pts = points.select(col(idCol).cast("long").as("id"), col(qiCol).as("qi"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try fitOn(pts, nClusters, kAnon, seed, maxLloyd, maxRepair)
    finally pts.unpersist()
  }

  /** [[fit]] over an already-projected, caller-persisted (id, qi) frame —
    * the seam [[sweep]] shares ONE cached point set through (Spark's
    * CacheManager keys persists by logical plan, so per-fit persists of
    * the same projection would thrash each other's cache under the
    * concurrent sweep). */
  private def fitOn(pts: DataFrame, nClusters: Int, kAnon: Int, seed: Long,
                    maxLloyd: Int, maxRepair: Int): KMeansModel = {
    val dim = pts.select(size(col("qi"))).head().getInt(0)

    // Random initial centroids = a seeded sample of the points
    // (rdd.takeSample(False, want_cluster), k-means.ipynb; we add the seed
    // the reference lacked, SURVEY §2.10 C5).
    var centroids: Map[Int, Array[Double]] =
      pts.select("qi").rdd.map(_.getSeq[Double](0).toArray)
        .takeSample(withReplacement = false, nClusters, seed)
        .zipWithIndex.map { case (c, i) => i -> c }.toMap

    var model: KMeansModel = null
    var iters = 0
    var done = false
    while (!done && iters < maxLloyd) {
      iters += 1

      // ---- repair loop: every cluster ends with >= k members (modulo the
      // tolerated single deficit) ----
      // Each round's assignment is persisted (it feeds the size count, the
      // keep-k split, and the final union); rounds' caches are RELEASED as
      // soon as the iteration's final assignment is materialized, and the
      // accumulating `completed` union is lineage-cut every few rounds —
      // without both, a long repair run leaks cached blocks and grows the
      // plan a layer per round.
      var avail = pts
      var availCents = centroids
      var completed: DataFrame = null
      var roundCaches = List.empty[DataFrame]
      var repairs = 0
      var repairing = true
      while (repairing && repairs < maxRepair) {
        repairs += 1
        val assigned = avail.withColumn("nc",
          nearestCentroid(col("qi"), availCents.toSeq))
          .select(col("id"), col("qi"),
            col("nc.cluster").as("cluster"), col("nc.d").as("d"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        roundCaches ::= assigned

        val sizesMap = assigned.groupBy("cluster").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        // seeded-empty clusters (sc.parallelize union) = available clusters
        // with zero assigned rows
        val allSizes = availCents.keysIterator
          .map(c => c -> sizesMap.getOrElse(c, 0L)).toMap
        val deficient = allSizes.filter(_._2 < kAnon).keySet

        if (deficient.size > 1) {
          // keep the k nearest of every cluster (deficient ones keep all)
          val w = Window.partitionBy("cluster").orderBy(col("d"), col("id"))
          val ranked = assigned.withColumn("rn", row_number().over(w))
          val kept = ranked.where(col("rn") <= kAnon).select("cluster", "id", "qi")
          completed = if (completed == null) kept else completed.unionByName(kept)
          if (repairs % 8 == 0) {
            completed = completed.localCheckpoint()
            roundCaches ::= completed
          }
          avail = ranked.where(col("rn") > kAnon).select("id", "qi")
          availCents = availCents.view.filterKeys(deficient).toMap
        } else {
          val fin = assigned.select("cluster", "id", "qi")
          completed = if (completed == null) fin
            else completed.unionByName(fin)
          repairing = false
        }
      }

      // lineage cut: the checkpoint is LAZY — the centroid aggregation
      // right below is the action that materializes it, so the iteration
      // schedules one job for both instead of two
      val assignment = completed.localCheckpoint(eager = false)

      // new centroid = per-dimension mean over members (calculate_centroid)
      val dimAvgs = (0 until dim).map(i => avg(element_at(col("qi"), i + 1)).as(s"c$i"))
      val newCentroids = assignment.groupBy("cluster")
        .agg(dimAvgs.head, dimAvgs.tail: _*)
        .collect()
        .map(r => r.getInt(0) -> (0 until dim).map(i => r.getDouble(i + 1)).toArray)
        .toMap

      // the agg materialized the checkpoint, so the per-round caches are
      // dead (roundCaches mixes persist()'d assignments, which unpersist()
      // handles, and intermediate checkpoints, which need the RDD release)
      roundCaches.foreach { df =>
        df.unpersist()
        graft.core.LineageCut.release(df)
      }

      // cost vs NEW centroids (distance to the OWN cluster's centroid, not
      // the nearest one), in one declarative pass over a literal map
      val cost = assignment
        .select(sum(Distances.l1(col("qi"), centroidOf(newCentroids, col("cluster")))))
        .head().getDouble(0)

      if (model == null || cost < model.cost) {
        if (model != null) model.unpersist()
        model = KMeansModel(assignment, newCentroids, cost, iters)
      } else graft.core.LineageCut.release(assignment)

      done = isConverged(centroids, newCentroids, dim)
      centroids = newCentroids
    }
    model.copy(lloydIters = iters)
  }

  /** Signed-drift convergence (k-means.ipynb is_converge — the shipped
    * variant sums signed deltas, so movements can cancel; SURVEY §2.8 F4).
    * Clusters that lost every member are skipped (the reference would
    * KeyError; never hit on its data). */
  private[graft] def isConverged(oldC: Map[Int, Array[Double]],
                                  newC: Map[Int, Array[Double]], dim: Int): Boolean = {
    var diff = 0.0
    var oldSum = 0.0
    oldC.foreach { case (cid, oc) =>
      newC.get(cid).foreach { nc =>
        var j = 0
        while (j < dim) { diff += nc(j) - oc(j); oldSum += oc(j); j += 1 }
      }
    }
    oldSum != 0.0 && math.abs(diff / oldSum) < 1e-6
  }

  /** Restart sweep over cluster counts × seeds, keeping the argmin-cost
    * model (the reference's outer loops: want_cluster × 30 combinations).
    *
    * The fits are INDEPENDENT seeded jobs, so they run 2 at a time from a
    * small thread pool (guide §2.6 "overlap independent jobs"): each
    * fit's Lloyd/repair loop is a chain of small driver-synchronous
    * actions whose stage tails leave most cores idle, and the next fit's
    * tasks back-fill them. Two in flight is enough to fill the tail
    * without the fits fighting for executors. Results are UNCHANGED:
    * every fit is internally deterministic (seeded init, stable sorts),
    * and the argmin reduction below walks the models in the same
    * (clusterRange × restart) order as the old sequential loop, with the
    * same strict-less tiebreak. */
  def sweep(points: DataFrame, idCol: String, qiCol: String,
            clusterRange: Seq[Int], restarts: Int, kAnon: Int, seed: Long,
            maxLloyd: Int = 20): KMeansModel = {
    val combos = for (c <- clusterRange; r <- 0 until restarts) yield (c, r)
    // ONE shared (id, qi) cache for every fit (was: one persist per fit
    // of the same projection — also a correctness hazard under the
    // concurrent sweep, see fitOn)
    val pts = points.select(col(idCol).cast("long").as("id"), col(qiCol).as("qi"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val models: Seq[KMeansModel] =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        val futs = combos.map { case (c, r) =>
          scala.concurrent.Future {
            fitOn(pts, c, kAnon, seed + c * 1000 + r, maxLloyd,
              maxRepair = 100)
          }
        }
        futs.map(f => scala.concurrent.Await.result(
          f, scala.concurrent.duration.Duration.Inf))
      } finally {
        pool.shutdown()
        pts.unpersist()
      }
    var best: KMeansModel = null
    for (m <- models) {
      if (best == null || m.cost < best.cost) {
        if (best != null) best.unpersist()
        best = m
      } else m.unpersist()
    }
    best
  }

  /** The reference's output shape: one row per input point carrying its
    * cluster's centroid (write_to_output → output.txt parquet). */
  def anonymized(model: KMeansModel, dim: Int): DataFrame =
    model.assignment.select(col("id"),
      centroidOf(model.centroids, col("cluster")).as("an_qi"))
}
