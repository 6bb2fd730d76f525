package graft

import graft.functions.Distances
import graft.kmeans.{ConstrainedKMeans, KMeansModel}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class ConstrainedKMeansSpec extends GraftSuite {
  import spark.implicits._

  private def blob(cx: Double, cy: Double, n: Int, idBase: Long) =
    (0 until n).map(i => (idBase + i, Array(cx + (i % 3) * 0.1, cy + (i / 3) * 0.1)))

  test("two well-separated blobs, nClusters=2: perfect split, k respected") {
    val pts = (blob(0, 0, 8, 0L) ++ blob(100, 100, 8, 100L)).toDF("id", "qi")
    val m = ConstrainedKMeans.fit(pts, "id", "qi", nClusters = 2, kAnon = 4, seed = 1)
    val byCluster = m.assignment.groupBy("cluster").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().toMap
    assert(byCluster.size == 2 && byCluster.values.forall(_ == 8L))
    // membership is exactly the blobs
    val comp = m.assignment.select("id", "cluster").as[(Long, Int)].collect().toMap
    assert(comp.filter(_._1 < 100).values.toSet.size == 1)
    assert(comp.filter(_._1 >= 100).values.toSet.size == 1)
    assert(m.cost > 0 && m.cost < 20)
  }

  test("k-member constraint: oversized cluster donates, deficient receives") {
    // 12 points near origin, 4 points far away; nClusters=2, k=6:
    // natural assignment gives (12, 4) → cluster 2 is deficient (4 < 6) and
    // must receive the origin-cluster's farthest donations... but with only
    // ONE deficient cluster the quirk (`count() > 1`) tolerates it.
    val pts = (blob(0, 0, 12, 0L) ++ blob(50, 50, 4, 100L)).toDF("id", "qi")
    val m = ConstrainedKMeans.fit(pts, "id", "qi", nClusters = 2, kAnon = 6, seed = 7)
    val sizes = m.assignment.groupBy("cluster").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().toMap
    // the single-deficit tolerance: at most one cluster below k
    assert(sizes.values.count(_ < 6) <= 1,
      s"more than one deficient cluster: $sizes")
    assert(sizes.values.sum == 16)
  }

  test("three clusters, k=5, forced redistribution") {
    // 20 pts in one tight blob + 5 + 5 in two outliers; nClusters=3, k=5
    val pts = (blob(0, 0, 20, 0L) ++ blob(60, 0, 5, 100L) ++ blob(0, 60, 5, 200L))
      .toDF("id", "qi")
    val m = ConstrainedKMeans.fit(pts, "id", "qi", nClusters = 3, kAnon = 5, seed = 3)
    val sizes = m.assignment.groupBy("cluster").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().toMap
    assert(sizes.values.sum == 30)
    assert(sizes.values.count(_ < 5) <= 1)
  }

  test("deterministic under fixed seed") {
    val pts = blob(0, 0, 30, 0L).toDF("id", "qi")
    val a = ConstrainedKMeans.fit(pts, "id", "qi", 3, 4, seed = 42, maxLloyd = 5)
    val b = ConstrainedKMeans.fit(pts, "id", "qi", 3, 4, seed = 42, maxLloyd = 5)
    assert(a.cost == b.cost)
    assert(a.assignment.select("id", "cluster").as[(Long, Int)].collect().toMap
      == b.assignment.select("id", "cluster").as[(Long, Int)].collect().toMap)
  }

  test("signed-drift convergence can cancel (quirk F4)") {
    // centroid 0 moves +1 in dim 0, centroid 1 moves -1 → signed diff 0 →
    // "converged" even though both moved
    val oldC = Map(0 -> Array(10.0, 0.0), 1 -> Array(10.0, 0.0))
    val newC = Map(0 -> Array(11.0, 0.0), 1 -> Array(9.0, 0.0))
    assert(ConstrainedKMeans.isConverged(oldC, newC, 2))
  }

  test("long repair runs keep plan depth bounded and leak no caches") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    // every fit-created cache — round checkpoints, superseded models and
    // the model's own assignment — is released deterministically
    // (LineageCut), not via GC timing
    def noLeak(what: String): Unit =
      assert(sc.getPersistentRDDs.size - before <= 0,
        s"$what leaked cached blocks: before=$before after=${sc.getPersistentRDDs.size}")
    def keepsColumns(m: KMeansModel): Unit =
      assert(m.assignment.columns.toSeq == Seq("cluster", "id", "qi"))

    // near-uniform points with nClusters*k close to n force repeated
    // donation rounds — enough to cross the every-8-rounds lineage cut
    val m = ConstrainedKMeans.fit(uniform120, "id", "qi", nClusters = 12, kAnon = 9,
      seed = 2, maxLloyd = 2, maxRepair = 20)
    assert(m.assignment.count() > 0)
    keepsColumns(m)
    val depth = m.assignment.queryExecution.executedPlan.toString
      .linesIterator.size
    assert(depth < 30, s"plan depth $depth — repair lineage not cut")
    m.unpersist()
    noLeak("a repair-heavy fit")

    // the best iteration is not the last: pending models are settled one
    // iteration late, and every superseded one must still be released
    val (ref, log) = referenceFit(spread60, 6, 8, seed = 1)
    ref.unpersist()
    val bestIter = log.indices.minBy(i => (log(i).cost, i)) + 1
    assert(bestIter < log.size, s"best iteration $bestIter is the last")
    val f = ConstrainedKMeans.fit(spread60, "id", "qi", 6, 8, seed = 1)
    keepsColumns(f)
    f.unpersist()
    noLeak("a fit whose best iteration is not its last")

    // fits two at a time under the sweep
    val w = ConstrainedKMeans.sweep(spread60, "id", "qi", clusterRange = Seq(5, 6),
      restarts = 2, kAnon = 8, seed = 1)
    keepsColumns(w)
    w.unpersist()
    noLeak("a sweep")
  }

  test("a failed fit fails the sweep without stranding any fit's caches") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // the -1 fit fails in its seeded sample; fits 5 and 6 finish
    val e = intercept[IllegalArgumentException] {
      ConstrainedKMeans.sweep(spread60, "id", "qi", clusterRange = Seq(5, -1, 6),
        restarts = 1, kAnon = 8, seed = 1)
    }
    assert(e.getMessage.contains("Negative number of elements requested"))
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"the failed sweep left ${left.size} persisted RDDs")
  }

  /** The round-1 literal-fold nearest centroid: the declarative oracle of
    * the native kernel (ties keep the lowest cluster index). */
  private def nearestCentroidFold(qi: Column,
                                  cents: Seq[(Int, Array[Double])]): Column = {
    val centArr = array(cents.sortBy(_._1).map { case (cid, c) =>
      struct(lit(cid).as("cluster"), array(c.map(lit(_)): _*).as("centroid"))
    }: _*)
    val init = struct(lit(-1).as("cluster"), lit(Double.PositiveInfinity).as("d"))
    aggregate(centArr, init, (acc, ctr) => {
      val d = Distances.l1(qi, ctr.getField("centroid"))
      when(d < acc.getField("d"),
        struct(ctr.getField("cluster").as("cluster"), d.as("d"))).otherwise(acc)
    })
  }

  test("native nearest-centroid kernel is bit-equal to the literal fold") {
    val rnd = new scala.util.Random(17)
    val pts = (0 until 200).map(i =>
      (i.toLong, Array.fill(4)(rnd.nextGaussian() * 10))).toDF("id", "qi")
    val cents = (0 until 37).map(c => c -> Array.fill(4)(rnd.nextGaussian() * 10))
    val mismatches = pts.select(
      element_at(graft.functions.VecKernels.nearest_centroids(
        col("qi"), cents, 1, cosine = false), 1).as("k"),
      nearestCentroidFold(col("qi"), cents).as("f"))
      .where(col("k.cluster") =!= col("f.cluster") || col("k.d") =!= col("f.d"))
      .count()
    assert(mismatches == 0)
  }

  test("sweep is argmin-by-cost over the grid, single-deficit quirk holds") {
    val pts = (blob(0, 0, 10, 0L) ++ blob(40, 40, 10, 100L)).toDF("id", "qi")
    val m = ConstrainedKMeans.sweep(pts, "id", "qi",
      clusterRange = Seq(2, 3), restarts = 2, kAnon = 4, seed = 9, maxLloyd = 5)
    assert(m.assignment.count() == 20)
    // argmin: re-fit every grid cell with the sweep's seed schedule and
    // check the sweep kept the cheapest
    val gridCosts = for (c <- Seq(2, 3); r <- 0 until 2) yield {
      val f = ConstrainedKMeans.fit(pts, "id", "qi", c, 4,
        seed = 9 + c * 1000 + r, maxLloyd = 5)
      val cost = f.cost; f.unpersist(); cost
    }
    assert(m.cost == gridCosts.min,
      s"sweep cost ${m.cost} != grid min ${gridCosts.min}")
    // the tolerated-single-deficit quirk survives restarts: at most one
    // cluster below k in the winning assignment
    val sizes = m.assignment.groupBy("cluster").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().toMap
    assert(sizes.values.count(_ < 4) <= 1, s"sizes: $sizes")
  }

  /** One Lloyd iteration of [[referenceFit]]: its repair rounds, its cost,
    * how many points its assignment holds, and whether `maxRepair` cut the
    * repair short (its last round still had ≥2 deficient clusters and
    * assigned the whole pool). */
  private case class RefIter(repairs: Int, cost: Double, rows: Long,
                             cut: Boolean)

  /** The Lloyd loop as it was before the fit's one-aggregate form: a sizes
    * collect in every repair round, a centroid `avg` collect over the
    * checkpointed assignment, and a separate cost `head()` per iteration,
    * with the model settled in the same iteration. Kept as the production
    * fit's cross-check; it also logs every iteration (see [[RefIter]]), so
    * a fixture can show which paths it exercises. */
  private def referenceFit(points: DataFrame, nClusters: Int, kAnon: Int,
                           seed: Long, maxLloyd: Int = 20,
                           maxRepair: Int = 100): (KMeansModel, Seq[RefIter]) = {
    val pts = points.select(col("id").cast("long").as("id"), col("qi"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val dim = pts.select(size(col("qi"))).head().getInt(0)
      var centroids: Map[Int, Array[Double]] =
        pts.select("qi").rdd.map(_.getSeq[Double](0).toArray)
          .takeSample(withReplacement = false, nClusters, seed)
          .zipWithIndex.map { case (c, i) => i -> c }.toMap
      var model: KMeansModel = null
      val log = Seq.newBuilder[RefIter]
      var iters = 0
      var done = false
      while (!done && iters < maxLloyd) {
        iters += 1
        var avail = pts
        var availCents = centroids
        var completed: DataFrame = null
        var roundCaches = List.empty[DataFrame]
        var repairs = 0
        var repairing = true
        var cut = false
        while (repairing) {
          repairs += 1
          val assigned = avail.withColumn("nc",
            ConstrainedKMeans.nearestCentroid(col("qi"), availCents.toSeq))
            .select(col("id"), col("qi"),
              col("nc.cluster").as("cluster"), col("nc.d").as("d"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          roundCaches ::= assigned
          val sizesMap = assigned.groupBy("cluster").agg(count(lit(1)).as("n"))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          val deficient = availCents.keySet
            .filter(c => sizesMap.getOrElse(c, 0L) < kAnon)
          if (deficient.size > 1 && repairs < maxRepair) {
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
            completed = if (completed == null) fin else completed.unionByName(fin)
            cut = deficient.size > 1
            repairing = false
          }
        }
        val assignment = completed.localCheckpoint(eager = false)
        val dimAvgs = (0 until dim).map(i => avg(element_at(col("qi"), i + 1)).as(s"c$i"))
        val newCentroids = assignment.groupBy("cluster")
          .agg(dimAvgs.head, dimAvgs.tail: _*)
          .collect()
          .map(r => r.getInt(0) -> (0 until dim).map(i => r.getDouble(i + 1)).toArray)
          .toMap
        roundCaches.foreach { df =>
          df.unpersist()
          graft.core.LineageCut.release(df)
        }
        val cost = assignment.select(sum(Distances.l1(col("qi"),
            ConstrainedKMeans.centroidOf(newCentroids, col("cluster")))))
          .head().getDouble(0)
        log += RefIter(repairs, cost, assignment.count(), cut)
        if (model == null || cost < model.cost) {
          if (model != null) model.unpersist()
          model = KMeansModel(assignment, newCentroids, cost, iters)
        } else graft.core.LineageCut.release(assignment)
        done = ConstrainedKMeans.isConverged(centroids, newCentroids, dim)
        centroids = newCentroids
      }
      (model.copy(lloydIters = iters), log.result())
    } finally pts.unpersist()
  }

  /** 120 near-uniform points: with 12 clusters and k=9 every round
    * donates, so iterations run many repair rounds. */
  private def uniform120: DataFrame = {
    val rnd = new scala.util.Random(31)
    (0 until 120).map(i =>
      (i.toLong, Array(rnd.nextDouble(), rnd.nextDouble()))).toDF("id", "qi")
  }

  /** 60 points in [0, 100)²: with 6 clusters, k=8 and seed 1 the first two
    * iterations repair and the last two do not, and the best of the 4
    * iterations is the 3rd. */
  private def spread60: DataFrame = {
    val rnd = new scala.util.Random(1)
    (0 until 60).map(i => (i.toLong,
      Array(rnd.nextDouble() * 100, rnd.nextDouble() * 100))).toDF("id", "qi")
  }

  /** Fits `pts` with the production fit and with [[referenceFit]] and
    * checks they agree: the same id → cluster map, centroids and
    * `lloydIters`, and a cost within 1e-9 relative (the fit adds its cost
    * per cluster, the reference in one global sum). Returns the
    * reference's per-iteration log. */
  private def matchesReference(pts: DataFrame, nClusters: Int, kAnon: Int,
                               seed: Long, maxLloyd: Int = 20,
                               maxRepair: Int = 100): Seq[RefIter] = {
    val (ref, log) = referenceFit(pts, nClusters, kAnon, seed, maxLloyd, maxRepair)
    val m = ConstrainedKMeans.fit(pts, "id", "qi", nClusters, kAnon, seed,
      maxLloyd, maxRepair)
    try {
      def byId(x: KMeansModel) =
        x.assignment.select("id", "cluster").as[(Long, Int)].collect().toMap
      assert(byId(m) == byId(ref), "id → cluster differs from the reference")
      assert(m.centroids.keySet == ref.centroids.keySet &&
        m.centroids.forall { case (c, v) => v.sameElements(ref.centroids(c)) },
        "centroids differ from the reference")
      assert(m.lloydIters == ref.lloydIters)
      assert(math.abs(m.cost - ref.cost) <= 1e-9 * math.abs(ref.cost),
        s"cost ${m.cost} vs reference ${ref.cost}")
    } finally { m.unpersist(); ref.unpersist() }
    log
  }

  test("fit equals the three-action reference loop, with and without repair") {
    // two blobs: no iteration repairs, so every one takes the fused path
    val blobs = (blob(0, 0, 8, 0L) ++ blob(100, 100, 8, 100L)).toDF("id", "qi")
    val a = matchesReference(blobs, 2, 4, seed = 1)
    assert(a.forall(_.repairs == 1), s"two blobs repaired: $a")
    // repair-heavy: the second iteration reads a repaired assignment and
    // repairs again
    val b = matchesReference(uniform120, 12, 9, seed = 2, maxLloyd = 2,
      maxRepair = 20)
    assert(b.forall(_.repairs > 1), s"uniform120 did not repair: $b")
    // a repaired iteration followed by unrepaired ones: the iteration after
    // a repair reads the points afresh, so the fused sums see the
    // reference's row order
    val c = matchesReference(spread60, 6, 8, seed = 1)
    assert(c.sliding(2).exists(p => p(0).repairs > 1 && p(1).repairs == 1),
      s"spread60 has no repaired → unrepaired step: $c")
    // maxRepair cuts a repair short: its last round assigns the whole
    // pool, so no iteration drops a point
    val d = matchesReference(uniform120, 12, 9, seed = 1, maxLloyd = 5,
      maxRepair = 2)
    assert(d.exists(_.cut), s"uniform120 cut no repair short: $d")
    assert(d.forall(_.rows == 120), s"uniform120 dropped points: $d")
  }

  /** Counts the Spark jobs of one job group. Listener delivery is
    * asynchronous, so [[await]] runs a marker job and waits for its start:
    * the bus delivers events in order, so every earlier job is counted. */
  private final class JobCounter(group: String) extends SparkListener {
    @volatile var jobs = 0
    @volatile private var marked = false
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
        case Some(`group`) => jobs += 1
        case Some(g) if g == s"$group-marker" => marked = true
        case _ =>
      }
    def await(): Unit = {
      val sc = spark.sparkContext
      sc.setJobGroup(s"$group-marker", "listener marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      var i = 0
      while (!marked && i < 400) { Thread.sleep(25); i += 1 }
      assert(marked, "listener never saw the marker job")
    }
  }

  test("a fit without repair runs at most 2 Spark jobs per Lloyd iteration") {
    val rnd = new scala.util.Random(5)
    val pts = (0 until 200).map(i =>
      (i.toLong, Array(rnd.nextDouble(), rnd.nextDouble()))).toDF("id", "qi")
    // k=1: no iteration repairs and none converges early (checked on the
    // reference)
    val (ref, log) = referenceFit(pts, 8, 1, seed = 3, maxLloyd = 10)
    ref.unpersist()
    assert(log.size == 10 && log.forall(_.repairs == 1), s"fixture: $log")
    val sc = spark.sparkContext
    val counter = new JobCounter("kmeans-job-pin")
    sc.addSparkListener(counter)
    try {
      sc.setJobGroup("kmeans-job-pin", "constrained k-means fit")
      val m = try ConstrainedKMeans.fit(pts, "id", "qi", 8, 1, seed = 3,
        maxLloyd = 10) finally sc.clearJobGroup()
      m.unpersist()
      counter.await()
      val n = m.lloydIters
      info(s"${counter.jobs} Spark jobs for $n Lloyd iterations")
      // Each iteration is one groupBy collect: a shuffle-map job and a
      // result job under AQE. The constant 5, as measured here (25 jobs
      // for 10 iterations), is the fit's fixed cost: 1 job for `dim`, 2
      // for the seeded `takeSample` and 2 for the last iteration's cost
      // pass. The three-action loop took ~7 jobs per iteration.
      assert(counter.jobs <= 2 * n + 5, s"${counter.jobs} jobs for $n iterations")
    } finally sc.removeSparkListener(counter)
  }
}
