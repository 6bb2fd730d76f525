package graft

import graft.functions.Distances
import graft.kmeans.ConstrainedKMeans
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

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
    // near-uniform points with nClusters*k close to n force repeated
    // donation rounds — enough to cross the every-8-rounds lineage cut
    val rnd = new scala.util.Random(31)
    val pts = (0 until 120).map(i =>
      (i.toLong, Array(rnd.nextDouble(), rnd.nextDouble()))).toDF("id", "qi")
    val m = ConstrainedKMeans.fit(pts, "id", "qi", nClusters = 12, kAnon = 9,
      seed = 2, maxLloyd = 2, maxRepair = 20)
    assert(m.assignment.count() > 0)
    val depth = m.assignment.queryExecution.executedPlan.toString
      .linesIterator.size
    assert(depth < 30, s"plan depth $depth — repair lineage not cut")
    m.unpersist()
    // every fit-created cache — persisted round assignments AND checkpoint
    // RDDs — is released deterministically (LineageCut), not via GC timing
    assert(sc.getPersistentRDDs.size - before <= 0,
      s"cached blocks leaked across the fit: before=$before after=${sc.getPersistentRDDs.size}")
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
}
