package graft.kmeans

import graft.core.Phase
import graft.functions.Distances
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}

/** One fitted constrained-k-means model. `assignment` is (cluster, id, qi);
  * `centroids` are the post-fit per-cluster means; `cost` is the total L1
  * distance of members to their (new) centroids — the reference computes
  * cost against the NEW centroids (k-means.ipynb cost step). An
  * unrepaired iteration's cost is summed in the NEXT iteration's pass
  * (see [[ConstrainedKMeans.fit]]).
  */
final case class KMeansModel(assignment: DataFrame,
                             centroids: Map[Int, Array[Double]],
                             cost: Double, lloydIters: Int)
    extends graft.core.QueryCache.Releasable {
  // `assignment` is a localCheckpoint, or a projection of one that the
  // model alone holds — Dataset.unpersist can't see either's cache, so
  // drop the backing RDD's blocks directly.
  def unpersist(): Unit = graft.core.LineageCut.releaseAll(assignment)
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
  * the `maxRepair`-th round ends the repair with its whole assignment, so
  * every point still in the pool takes its nearest available centroid
  * and no input point drops out of the model.
  */
object ConstrainedKMeans {

  /** Nearest centroid as a single narrow projection — no shuffle, no
    * crossJoin, no UDF. The centroid matrix rides as a codegen reference
    * object ([[graft.functions.VecKernels.nearest_centroids]]), so the
    * plan stays O(1)-sized and codegen'd at any cluster count (a literal
    * `aggregate` fold — ConstrainedKMeansSpec's cross-check — hits the
    * JVM 64KB codegen limit past a few hundred centroids). Ties keep the
    * lowest cluster index. */
  private[graft] def nearestCentroid(qi: Column,
                                     cents: Seq[(Int, Array[Double])]): Column =
    element_at(
      graft.functions.VecKernels.nearest_centroids(qi, cents, 1, cosine = false), 1)

  /** The centroid of each row's `cluster`, as an `array<double>` column:
    * a lookup in a literal cluster → centroid map. */
  private[graft] def centroidOf(centroids: Map[Int, Array[Double]],
                                cluster: Column): Column =
    element_at(map(centroids.toSeq.sortBy(_._1).flatMap { case (cid, c) =>
      Seq(lit(cid), array(c.map(lit(_)): _*))
    }: _*), cluster)

  /** One (nClusters, init) fit: Lloyd loop with k-member repair.
    *
    * An iteration whose first round needs no repair costs ONE Spark
    * aggregate: a `groupBy("cluster")` collect over the round's lazily
    * checkpointed assignment returns every cluster's size (the repair
    * test), per-dimension qi sums (the new centroids, `sum / count`) and
    * the previous iteration's cost, and it materializes the checkpoint,
    * which becomes the iteration's assignment. Only iterations that
    * donate points run a second aggregate, the per-cluster `avg` over
    * their checkpointed union of rounds.
    *
    * Cost is deferred by one iteration: after an unrepaired iteration i,
    * iteration i+1's first round reads assignment(i) — every point, in the
    * points' own row order — with each point's L1 distance to its own new
    * centroid, and sums it per cluster in that same aggregate (the sums
    * are added in sorted cluster order). Model i is settled once its cost
    * is known — strict `<`, so the earlier iteration wins ties — and the
    * losing model's assignment is released at once. A repaired
    * iteration's cost, and the last iteration's, take one more pass of
    * the same shape, and the iteration after a repaired one reads the
    * points afresh, so centroids and assignments match the per-iteration
    * three-action loop bit for bit. */
  def fit(points: DataFrame, idCol: String, qiCol: String, nClusters: Int,
          kAnon: Int, seed: Long, maxLloyd: Int = 20, maxRepair: Int = 100)
  : KMeansModel = {
    val pts = points.select(col(idCol).cast("long").as("id"), col(qiCol).as("qi"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try fitOn(pts, dimOf(pts), nClusters, kAnon, seed, maxLloyd, maxRepair)
    finally pts.unpersist()
  }

  private def dimOf(pts: DataFrame): Int =
    Phase(pts.sparkSession.sparkContext, "kmeans.input") {
      pts.select(size(col("qi"))).head().getInt(0)
    }

  /** A round's assignment: every available point's nearest available
    * centroid (`cluster`, at L1 distance `d`), carrying (id, qi, cost). */
  private def assign(avail: DataFrame,
                     cents: Map[Int, Array[Double]]): DataFrame =
    avail.withColumn("nc", nearestCentroid(col("qi"), cents.toSeq))
      .select(col("id"), col("qi"), col("cost"),
        col("nc.cluster").as("cluster"), col("nc.d").as("d"))

  /** An iteration's assignment as the next first round's input: (id, qi)
    * and `cost`, the point's L1 distance to its own cluster's centroid. */
  private def withCost(assignment: DataFrame,
                       centroids: Map[Int, Array[Double]]): DataFrame =
    assignment.select(col("id"), col("qi"),
      Distances.l1(col("qi"), centroidOf(centroids, col("cluster"))).as("cost"))

  /** Per cluster of a round's assignment: size, per-dimension qi sums and
    * the `cost` sum — one `groupBy("cluster")` collect. */
  private def clusterStats(assigned: DataFrame, dim: Int)
  : Map[Int, (Long, Array[Double], Double)] = {
    val sums = (0 until dim).map(i => sum(element_at(col("qi"), i + 1))) :+
      sum(col("cost"))
    assigned.groupBy("cluster").agg(count(lit(1)), sums: _*).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1),
        Array.tabulate(dim)(i => r.getDouble(i + 2)), r.getDouble(dim + 2))))
      .toMap
  }

  /** The cost summed over [[clusterStats]] in sorted cluster order, so the
    * total never depends on the order the groups were collected in. */
  private def totalCost(stats: Map[Int, (Long, Array[Double], Double)]): Double =
    stats.toSeq.sortBy(_._1).foldLeft(0.0)(_ + _._2._3)

  /** [[fit]] over an already-projected, caller-persisted (id, qi) frame of
    * `dim`-long qi vectors — the seam [[sweep]] shares ONE cached point set
    * through (Spark's CacheManager keys persists by logical plan, so
    * per-fit persists of the same projection would thrash each other's
    * cache under the concurrent sweep).
    *
    * Jobs are tagged on the calling thread (a [[sweep]] pool thread runs
    * its fit's jobs): `kmeans.init`, `kmeans.lloyd.<i>` for iteration i,
    * `kmeans.repair.<i>.<r>` for its r-th repair round and `kmeans.cost`
    * for the last iteration's cost pass. */
  private def fitOn(pts: DataFrame, dim: Int, nClusters: Int, kAnon: Int,
                    seed: Long, maxLloyd: Int, maxRepair: Int): KMeansModel = {
    val sc = pts.sparkSession.sparkContext
    // Random initial centroids = a seeded sample of the points
    // (rdd.takeSample(False, want_cluster), k-means.ipynb; we add the seed
    // the reference lacked, SURVEY §2.10 C5).
    var centroids: Map[Int, Array[Double]] = Phase(sc, "kmeans.init") {
      pts.select("qi").rdd.map(_.getSeq[Double](0).toArray)
        .takeSample(withReplacement = false, nClusters, seed)
        .zipWithIndex.map { case (c, i) => i -> c }.toMap
    }

    var best: KMeansModel = null
    def settle(m: KMeansModel): Unit =
      if (best == null || m.cost < best.cost) {
        if (best != null) best.unpersist()
        best = m
      } else m.unpersist()
    // a model's cost in its own pass, grouped like a next first round
    def settleNow(m: KMeansModel): Unit = settle(m.copy(cost = totalCost(
      clusterStats(assign(withCost(m.assignment, m.centroids), m.centroids), dim))))

    // the previous iteration's model, until its cost is known
    var pending: KMeansModel = null
    var iters = 0
    var done = false
    while (!done && iters < maxLloyd) {
      iters += 1

      // ---- repair loop: every cluster ends with >= k members (modulo the
      // tolerated single deficit), or the `maxRepair`-th round assigns the
      // whole pool ----
      // Each round's assignment is a LAZY checkpoint: the round's
      // aggregate materializes it, and the keep-k split and the final
      // union read it. A repairing iteration releases its rounds'
      // checkpoints once its own assignment is materialized, and cuts the
      // accumulating `completed` union every few rounds — without both, a
      // long repair run leaks cached blocks and grows the plan a layer per
      // round.
      var avail =
        if (pending == null) pts.withColumn("cost", lit(0.0))
        else withCost(pending.assignment, centroids)
      var availCents = centroids
      var completed: DataFrame = null
      var roundCks = List.empty[DataFrame]
      var unrepaired: Map[Int, (Long, Array[Double], Double)] = null
      var repairs = 0
      var repairing = true
      while (repairing) {
        repairs += 1
        // round 1 is the iteration's assignment, every later one a repair
        val round =
          if (repairs == 1) s"kmeans.lloyd.$iters"
          else s"kmeans.repair.$iters.${repairs - 1}"
        Phase(sc, round) {
          val assigned = assign(avail, availCents).localCheckpoint(eager = false)
          roundCks ::= assigned
          val stats = clusterStats(assigned, dim)
          if (pending != null) {
            // the first round read assignment(i-1) with its costs
            settle(pending.copy(cost = totalCost(stats)))
            pending = null
          }
          // seeded-empty clusters (sc.parallelize union) = available clusters
          // with zero assigned rows
          val deficient = availCents.keySet
            .filter(c => stats.get(c).fold(0L)(_._1) < kAnon)

          if (deficient.size > 1 && repairs < maxRepair) {
            // keep the k nearest of every cluster (deficient ones keep all)
            val w = Window.partitionBy("cluster").orderBy(col("d"), col("id"))
            val ranked = assigned.withColumn("rn", row_number().over(w))
            val kept = ranked.where(col("rn") <= kAnon).select("cluster", "id", "qi")
            completed = if (completed == null) kept else completed.unionByName(kept)
            if (repairs % 8 == 0) {
              completed = completed.localCheckpoint()
              roundCks ::= completed
            }
            avail = ranked.where(col("rn") > kAnon).select("id", "qi", "cost")
            availCents = availCents.view.filterKeys(deficient).toMap
          } else {
            val fin = assigned.select("cluster", "id", "qi")
            if (completed == null) unrepaired = stats
            completed = if (completed == null) fin
              else completed.unionByName(fin)
            repairing = false
          }
        }
      }

      val newCentroids =
        if (unrepaired != null) {
          // the first round needed no repair: its checkpoint is the
          // assignment and its sums give the new centroids (sum / count is
          // Spark's avg, bit for bit, over the same rows); the next
          // iteration's first round reads it and yields its cost
          val cents = unrepaired.map { case (c, (n, s, _)) => c -> s.map(_ / n) }
          pending = KMeansModel(completed, cents, Double.NaN, iters)
          cents
        } else Phase(sc, s"kmeans.lloyd.$iters") {
          // lineage cut: LAZY, materialized by the aggregation below
          val ck = completed.localCheckpoint(eager = false)
          // new centroid = per-dimension mean over members (calculate_centroid)
          val dimAvgs = (0 until dim).map(i =>
            avg(element_at(col("qi"), i + 1)).as(s"c$i"))
          val cents = ck.groupBy("cluster")
            .agg(dimAvgs.head, dimAvgs.tail: _*)
            .collect()
            .map(r => r.getInt(0) -> (0 until dim).map(i => r.getDouble(i + 1)).toArray)
            .toMap
          roundCks.foreach(graft.core.LineageCut.release)
          // a union of rounds is no input for the next iteration: its row
          // order would change the next centroid sums' rounding — so the
          // next iteration reads `pts`, and this cost takes its own pass
          settleNow(KMeansModel(ck, cents, Double.NaN, iters))
          cents
        }

      done = isConverged(centroids, newCentroids, dim)
      centroids = newCentroids
    }
    // the last iteration's cost takes one more pass
    if (pending != null) Phase(sc, "kmeans.cost")(settleNow(pending))
    best.copy(lloydIters = iters)
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
    * same strict-less tiebreak. A failed fit fails the sweep only once
    * every fit has ended: the finished models are released and the shared
    * points unpersisted, so no fit's caches outlive the sweep. */
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
    val fits: Seq[Try[KMeansModel]] =
      try {
        val dim = dimOf(pts) // once for every fit
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val futs = combos.map { case (c, r) =>
          Future {
            fitOn(pts, dim, c, kAnon, seed + c * 1000 + r, maxLloyd,
              maxRepair = 100)
          }
        }
        // every fit ends before `pts` is unpersisted under it
        futs.map(f => Try(Await.result(f, Duration.Inf)))
      } finally {
        pool.shutdown()
        pts.unpersist()
      }
    fits.collectFirst { case Failure(t) => t }.foreach { t =>
      fits.foreach(_.foreach(_.unpersist()))
      throw t
    }
    val models = fits.map(_.get)
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
