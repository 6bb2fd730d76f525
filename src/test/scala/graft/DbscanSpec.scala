package graft

import graft.core.QueryCache
import graft.dbscan.{Cc, ClusterMode, Dbscan, DbscanModel, Scc}
import graft.queries.ClusterQueries
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

class DbscanSpec extends GraftSuite {
  import spark.implicits._

  /** Two dense blobs (k=3 points within L1 < 4 of each other) + 2 isolated
    * noise points (FIXTURES.md §3 two_blobs). */
  private def twoBlobs = Seq(
    // blob A around (0,0)
    (1L, Array(0.0, 0.0)), (2L, Array(1.0, 0.0)), (3L, Array(0.0, 1.0)),
    (4L, Array(1.0, 1.0)),
    // blob B around (50,50)
    (11L, Array(50.0, 50.0)), (12L, Array(51.0, 50.0)), (13L, Array(50.0, 51.0)),
    (14L, Array(49.0, 50.0)),
    // isolated noise
    (21L, Array(100.0, 0.0)), (22L, Array(0.0, 100.0))
  ).toDF("id", "qi")

  /** Core chain p1..p5 tightly packed; border p6 at the edge of p5's ball
    * with too few neighbors to be core itself — at eps=2.0, minPts=4 CC
    * absorbs it and SCC leaves it as noise. */
  private def borderChain = Seq(
    (1L, Array(0.0)), (2L, Array(0.5)), (3L, Array(1.0)), (4L, Array(1.5)),
    (5L, Array(2.0)), (6L, Array(3.5))
  ).toDF("id", "qi")

  /** 400 points with non-integer coordinates: 7 gaussian blobs of 52
    * points and 36 points scattered far from them, so every radius used
    * below has clusters and noise to assign. */
  private def sevenBlobs = {
    val rnd = new scala.util.Random(7)
    val blobs = (0 until 364).map { i =>
      val b = i % 7
      (i.toLong, Array(b * 40.0 + 3.3 + rnd.nextGaussian(),
        (b % 3) * 50.0 + 1.7 + rnd.nextGaussian()))
    }
    val scattered = (364 until 400).map(i => (i.toLong,
      Array(rnd.nextDouble() * 300, 200 + rnd.nextDouble() * 150)))
    (blobs ++ scattered).toDF("id", "qi")
  }

  /** The SQL actions (collect, count, head, …) `body` runs on the session.
    * Listener delivery is asynchronous, so a marker action follows `body`
    * and is awaited: the bus delivers events in order, so every earlier
    * action is counted. */
  private def sqlActions(body: => Unit): Int = {
    val marker = "__sql_action_marker"
    @volatile var actions = 0
    @volatile var marked = false
    val listener = new QueryExecutionListener {
      private def seen(qe: QueryExecution): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) marked = true
        else actions += 1
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen(qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = seen(qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(lit(1).as(marker)).collect()
      var i = 0
      while (!marked && i < 400) { Thread.sleep(25); i += 1 }
      assert(marked, "listener never saw the marker action")
      actions
    } finally spark.listenerManager.unregister(listener)
  }

  test("two blobs + noise: 2 clusters, 2 noise, correct membership") {
    val m = Dbscan.run(twoBlobs, "id", "qi", eps = 4.0, minPts = 3, k = 3)
    assert(m.nClusters == 2 && m.nNoise == 2)
    val comp = m.assignments.select("id", "component")
      .as[(Long, Option[Long])].collect().toMap
    assert(comp(1L).contains(1L) && comp(4L).contains(1L))
    assert(comp(11L).contains(11L) && comp(14L).contains(11L))
    assert(comp(21L).isEmpty && comp(22L).isEmpty)
    // noise anonymized to nearest centroid: 21 is closer to blob A's centroid
    val an = m.assignments.where(col("id") === 21L)
      .select("an_qi").as[Array[Double]].head()
    assert(math.abs(an(0) - 0.5) < 1e-9 && math.abs(an(1) - 0.5) < 1e-9)
  }

  test("CC absorbs border points; SCC leaves them as noise (G3)") {
    val pts = borderChain
    val eps = 2.0; val minPts = 4
    val ccM = Dbscan.run(pts, "id", "qi", eps, minPts, k = 4, Cc, blockDims = 1)
    val sccM = Dbscan.run(pts, "id", "qi", eps, minPts, k = 4, Scc, blockDims = 1)
    val ccComp = ccM.assignments.select("id", "component")
      .as[(Long, Option[Long])].collect().toMap
    val sccComp = sccM.assignments.select("id", "component")
      .as[(Long, Option[Long])].collect().toMap
    // id 6 has neighbors {4(d1.5? no:2.0 not<2), 5, 6} → not core; it is a
    // border point of core 5
    assert(ccComp(6L).nonEmpty, "CC absorbs the border point")
    assert(sccComp(6L).isEmpty, "SCC leaves the border point as noise")
    assert(sccComp(1L).nonEmpty && sccComp(5L).nonEmpty,
      "mutually-reachable cores stay clustered under SCC")
  }

  test("duplicate rows count toward minPts but collapse into one vertex") {
    // 5 copies of the same point + nothing else: with minPts=5 the point is
    // core via multiplicity, but the collapsed cluster has 1 distinct
    // member < k → noise (reference vertex-collapse, SURVEY §2.7 G1)
    val dups = Seq.fill(5)(Array(7.0, 7.0)).zipWithIndex
      .map { case (a, i) => (a, 1) }
      .toDF("qi", "label")
    val m = Dbscan.runCollapsed(dups.select("qi"), "qi", eps = 1.0, minPts = 5, k = 2)
    assert(m.nClusters == 0 && m.nNoise == 1)
  }

  test("duplicated point's multiplicity multiplies its neighbor list (a_w * sum(b_w))") {
    // P duplicated 2x with one neighbor Q: the value-keyed reference
    // neighborhood of P has 2 * (2 + 1) = 6 entries, so with minPts=4
    // P IS core (each copy contributes its full neighbor list), even
    // though the distinct-neighbor weight sum is only 3
    val rows = Seq(Array(0.0, 0.0), Array(0.0, 0.0), Array(0.5, 0.0))
      .map(Tuple1(_)).toDF("qi")
    val m = Dbscan.runCollapsed(rows, "qi", eps = 1.0, minPts = 4, k = 1)
    assert(m.nClusters == 1,
      s"P must be core via multiplicity: clusters=${m.nClusters} noise=${m.nNoise}")
    assert(m.nNoise == 0, "Q is a border point absorbed by CC")
  }

  test("sweep records empty-edge epsilons as [eps,0,n,0,inf,inf] and picks argmin") {
    val (recs, best) = Dbscan.sweep(twoBlobs, "id", "qi",
      epsRange = Seq(0.1, 4.0), minPts = 3, k = 3)
    assert(recs.size == 2)
    val r0 = recs.head
    assert(r0.nClusters == 0 && r0.nNoise == 10 && r0.clusterError == 0.0
      && r0.noiseError.isPosInfinity && r0.totalError.isPosInfinity)
    assert(best.exists(_._1 == 4.0))
  }

  test("hoisted sweep slices equal fresh per-eps runs (subset property)") {
    // the sweep computes pairs ONCE at max(eps), slices d < eps per radius
    // and clusters every radius in one batched pass; every record must
    // match an independent full run at that radius exactly, in every
    // mode, and the winning model — published from its block of that
    // same pass — must equal a fresh run at the winning radius row for
    // row. Negative ids are namespaced relative to the minimum id; ids
    // spanning the whole Long range overflow the namespace and take the
    // per-eps pass.
    val shifted = twoBlobs.select((col("id") - 100L).as("id"), col("qi"))
    val extreme = twoBlobs.select(
      when(col("id") === 1L, lit(Long.MinValue))
        .when(col("id") === 22L, lit(Long.MaxValue))
        .otherwise(col("id")).as("id"), col("qi"))
    // (points, label, mode, minPts, k, blockDims, epsRange)
    val inputs = Seq(
      (twoBlobs, "twoBlobs", Cc, 3, 3, 2, Seq(0.5, 1.5, 4.0)),
      (twoBlobs, "twoBlobs", Scc, 3, 3, 2, Seq(0.5, 1.5, 4.0)),
      (borderChain, "borderChain", Cc, 4, 4, 1, Seq(0.4, 1.2, 2.0)),
      (borderChain, "borderChain", Scc, 4, 4, 1, Seq(0.4, 1.2, 2.0)),
      (shifted, "twoBlobs ids-100", Cc, 3, 3, 2, Seq(0.5, 1.5, 4.0)),
      (shifted, "twoBlobs ids-100", Scc, 3, 3, 2, Seq(0.5, 1.5, 4.0)),
      (extreme, "twoBlobs full-range ids", Cc, 3, 3, 2, Seq(0.5, 1.5, 4.0)))
    val recsOf = scala.collection.mutable.Map
      .empty[(String, ClusterMode), Seq[(Long, Long, Double, Double)]]
    // (label, winning block index, minimum id) of every batched sweep
    val winners = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long)]
    def assignmentRows(m: DbscanModel) = m.assignments
      .select("id", "component", "is_noise", "an_qi", "an_err").orderBy("id")
      .as[(Long, Option[Long], Boolean, Option[Seq[Double]], Option[Double])]
      .collect().toSeq
    def centroidRows(m: DbscanModel) = m.centroids
      .select("component", "centroid", "n_members").orderBy("component")
      .as[(Long, Seq[Double], Long)].collect().toSeq
    def numbers(m: DbscanModel) =
      (m.nClusters, m.nNoise, m.clusterError, m.noiseError)
    for ((pts, label, mode, minPts, k, bd, epsRange) <- inputs) {
      val (recs, best) = Dbscan.sweep(pts, "id", "qi", epsRange, minPts, k,
        mode, blockDims = bd)
      val (bestEps, won) = best.getOrElse(fail(s"$label $mode: no winner"))
      try {
        val win = recs.find(_.eps == bestEps).get
        assert((win.nClusters, win.nNoise, win.clusterError, win.noiseError)
          == numbers(won), s"$label $mode: winner's record != its model")
        if (label != "twoBlobs full-range ids")
          winners += ((label, epsRange.indexOf(bestEps),
            pts.agg(min("id")).as[Long].head()))
        for ((eps, rec) <- epsRange.zip(recs)) {
          val m = Dbscan.run(pts, "id", "qi", eps, minPts, k, mode,
            blockDims = bd)
          try {
            // a clusterless run itself reports noiseError = ∞
            assert((rec.nClusters, rec.nNoise, rec.clusterError,
              rec.noiseError) == numbers(m),
              s"$label $mode eps=$eps: sliced sweep != fresh run")
            if (eps == bestEps) {
              assert(assignmentRows(won) == assignmentRows(m),
                s"$label $mode eps=$eps: winner's assignments != fresh run")
              assert(centroidRows(won) == centroidRows(m),
                s"$label $mode eps=$eps: winner's centroids != fresh run")
              assert(numbers(won) == numbers(m),
                s"$label $mode eps=$eps: winner's numbers != fresh run")
            }
          } finally m.unpersist()
        }
      } finally won.unpersist()
      recsOf((label, mode)) =
        recs.map(r => (r.nClusters, r.nNoise, r.clusterError, r.noiseError))
    }
    assert(recsOf(("borderChain", Cc)) != recsOf(("borderChain", Scc)),
      "the chain fixture must separate CC from SCC")
    assert(winners.exists { case (_, ei, minId) => ei > 0 && minId != 0 },
      s"no batched winner exercises the id mapping: $winners")
  }

  test("a sweep's caches end with its model: none stay after unpersist, " +
      "none when no radius wins") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (_, best) = Dbscan.sweep(twoBlobs, "id", "qi",
      epsRange = Seq(0.5, 1.5, 4.0), minPts = 3, k = 3)
    val m = best.map(_._2).getOrElse(fail("twoBlobs must have a winner"))
    // what the model publishes is materialized while its sources live:
    // reading it builds no new cache and never recomputes the released
    // clustering pass
    val held = sc.getPersistentRDDs.keySet -- before
    m.assignments.count(); m.centroids.count()
    val cached = sc.getRDDStorageInfo.map(i => i.id -> i).toMap
    assert(sc.getPersistentRDDs.keySet -- before == held,
      "reading the model built a cache the sweep left lazy")
    assert(held.nonEmpty && held.forall(id => cached.get(id)
      .exists(i => i.numCachedPartitions == i.numPartitions)),
      s"model frames not fully cached: ${held.map(cached.get)}")
    m.unpersist()
    assert(sc.getPersistentRDDs.keySet -- before == Set.empty,
      "a published sweep stranded a cache")
    val (recs, none) = Dbscan.sweep(twoBlobs, "id", "qi",
      epsRange = Seq(0.1), minPts = 3, k = 3)
    assert(none.isEmpty && recs.head.totalError.isPosInfinity)
    assert(sc.getPersistentRDDs.keySet -- before == Set.empty,
      "a sweep with no winner stranded a cache")
  }

  test("dbscan_sweep gate: repeated calls neither strand the ε=0.5 model " +
      "nor unpersist the shared ε=2.0 model") {
    // the gate owns its legs' caches: the ε=0.5 model it builds is released
    // once read; the ε=2.0 model is the shared cache entry and stays
    val sc = spark.sparkContext
    val gate = SparkEntry.queries("dbscan_sweep")
    // fresh entries, so the caches the gate holds are the ones it built
    Seq(ClusterQueries.ModelKey, ClusterQueries.PairsKey)
      .foreach(QueryCache.evict(_, spark, sf0001))
    val before = sc.getPersistentRDDs.keySet
    val rows = gate(spark, sf0001).collect().toSeq
    assert(gate(spark, sf0001).collect().toSeq == rows)
    val second = sc.getPersistentRDDs.keySet
    val held = second -- before
    assert(gate(spark, sf0001).collect().toSeq == rows)
    val third = sc.getPersistentRDDs.keySet
    assert(third -- second == Set.empty,
      s"a repeated call stranded a cache: ${third -- second}")
    assert(held.nonEmpty && held.subsetOf(third),
      s"a repeated call unpersisted a shared cache: ${held -- third}")
    val shared = QueryCache.shared(ClusterQueries.ModelKey, spark, sf0001)(
      fail("the gate must leave the shared ε=2.0 model cached"): DbscanModel)
    assert(shared.assignments.storageLevel != StorageLevel.NONE &&
      shared.centroids.storageLevel != StorageLevel.NONE,
      "the shared ε=2.0 model was unpersisted")
  }

  test("weighted sweep over collapsed rows equals sweep over duplicates") {
    // 3 copies of (0,0) + 2 singletons nearby: multiplicity must flow
    // through the hoisted pair set's a_w/b_w exactly as through the
    // expanded rows
    val expanded = Seq(
      (1L, Array(0.0, 0.0)), (2L, Array(0.0, 0.0)), (3L, Array(0.0, 0.0)),
      (4L, Array(1.0, 0.0)), (5L, Array(0.0, 1.0)),
      (21L, Array(50.0, 50.0))
    ).toDF("id", "qi")
    val collapsed = Seq(
      (1L, Array(0.0, 0.0), 3L), (4L, Array(1.0, 0.0), 1L),
      (5L, Array(0.0, 1.0), 1L), (21L, Array(50.0, 50.0), 1L)
    ).toDF("id", "qi", "w")
    val epsRange = Seq(0.5, 2.0)
    val (expRecs, _) = Dbscan.sweep(expanded, "id", "qi",
      epsRange = epsRange, minPts = 4, k = 1)
    val (colRecs, _) = Dbscan.sweep(collapsed, "id", "qi",
      epsRange = epsRange, minPts = 4, k = 1, weightCol = Some("w"))
    // same clusters form (multiplicity makes (0,0) core at eps=2.0).
    // Errors are NOT compared: centroids are the unweighted mean over
    // DISTINCT members (calc_error, DBSCAN.py:86-100), so expanded
    // duplicates legitimately shift them — collapsing first is the
    // reference-faithful form.
    for ((e, c) <- expRecs.zip(colRecs))
      assert(e.nClusters == c.nClusters, s"eps=${e.eps} cluster counts")
    assert(colRecs.last.nClusters == 1,
      "multiplicity must make the duplicated point core through the " +
        "hoisted weighted pair set")
  }

  test("reference data.csv golden run (1000 pts, dim=2, eps=6, minPts=10)") {
    val raw = graft.core.Tables.readPointsCsv(spark, "/root/reference/data.csv", 2)
    val pts = raw.select(
      graft.functions.Distances.pack(col("x0"), col("x1")).as("qi"),
      col("label"))
    val m = Dbscan.runCollapsed(pts, "qi", eps = 6.0, minPts = 10, k = 10)
    // structural invariants of the anonymization output
    assert(m.nClusters > 0)
    val sizes = m.centroids.select("n_members").as[Long].collect()
    assert(sizes.forall(_ >= 10), "k-anonymity: every cluster >= k members")
    val total = m.assignments.count()
    val distinctRows = pts.distinct().count()
    assert(total == distinctRows, "one output row per distinct input row")
    assert(m.clusterError > 0 && !m.totalError.isNaN)
  }

  test("a run and a sweep read each pass's per-ε numbers from one " +
      "centroid collect plus one action") {
    val pts = sevenBlobs
    for (mode <- Seq[ClusterMode](Cc, Scc)) {
      val run = sqlActions {
        val m = Dbscan.run(pts, "id", "qi", eps = 3.0, minPts = 5, k = 5,
          mode = mode)
        assert(m.nClusters == 7 && m.nNoise > 0, s"$mode run: $m")
        m.unpersist()
      }
      val sweep = sqlActions {
        val (recs, best) = Dbscan.sweep(pts, "id", "qi",
          epsRange = Seq(2.0, 3.0), minPts = 5, k = 5, mode = mode)
        assert(recs.forall(r => r.nClusters > 0 && r.nNoise > 0),
          s"$mode sweep: $recs")
        best.foreach(_._2.unpersist())
      }
      info(s"$mode: run $run, sweep $sweep SQL actions")
      // A pass reads its per-ε numbers from the centroid collect and one
      // stats action. Three actions (stats, centroid collect, noise error)
      // took 16 for a run and 18 for this sweep in both modes. The sweep
      // reads the vector length off its id-range action; a separate
      // `dim` action per pass took 17.
      assert(run <= 15, s"$mode run: $run SQL actions")
      assert(sweep <= 16, s"$mode sweep: $sweep SQL actions")
    }
  }

  test("noise takes the brute-force nearest centroid under Long component " +
      "ids above Int.MaxValue") {
    // The noise assign labels centroids by position in the kernel and
    // maps the winning position back to its Long component id. Sparse
    // ids put every component above the Int range. Two mirror-image
    // blobs have centroids (1001, 1) and (1021, 1), and the point
    // (1011, 30) is at L1 39 from both. The right-hand blob holds the
    // lower ids, so the tie must go to its centroid.
    val Scale = 1000000007L
    val mirror = for {
      (x0, base) <- Seq((1000.0, 409L), (1020.0, 400L))
      i <- 0 until 3; j <- 0 until 3
    } yield (base + i * 3 + j, Array(x0 + i, j.toDouble))
    val tie = (418L, Array(1011.0, 30.0))
    val pts = sevenBlobs.union((mirror :+ tie).toDF("id", "qi"))
      .select(((col("id") + 3L) * Scale).as("id"), col("qi"))
    val (_, best) = Dbscan.sweep(pts, "id", "qi", epsRange = Seq(2.0, 3.0),
      minPts = 5, k = 5)
    val (_, m) = best.getOrElse(fail("the blobs must have a winner"))
    try {
      val cents = m.centroids.select("component", "centroid")
        .as[(Long, Seq[Double])].collect().toSeq
      assert(cents.forall(_._1 > Int.MaxValue), s"components: ${cents.map(_._1)}")
      val noise = m.assignments.where(col("is_noise"))
        .select("id", "qi", "an_qi", "an_err")
        .as[(Long, Seq[Double], Seq[Double], Double)].collect()
      assert(noise.exists(_._1 == (tie._1 + 3L) * Scale),
        "the tie point must be noise")
      for ((id, qi, anQi, anErr) <- noise) {
        val (d, comp) = cents.map { case (c, cent) =>
          (qi.indices.map(i => math.abs(qi(i) - cent(i))).sum, c)
        }.min
        val cent = cents.find(_._1 == comp).get._2
        assert(anQi == cent && anErr == d,
          s"noise $id: ($anQi, $anErr) != component $comp ($cent, $d)")
        if (id == (tie._1 + 3L) * Scale)
          assert(anQi == Seq(1021.0, 1.0) && anErr == 39.0 &&
            cents.exists(_._2 == Seq(1001.0, 1.0)),
            s"tie went to component $comp ($anQi, $anErr)")
      }
    } finally m.unpersist()
  }

  test("sweep on empty input returns zero records, no exception") {
    val empty = Seq.empty[(Long, Array[Double])].toDF("id", "qi")
    // the empty guard must fire before any head() on the empty points
    val (recs, best) = Dbscan.sweep(empty, "id", "qi",
      epsRange = Seq(1.0, 2.0), minPts = 2, k = 2)
    assert(best.isEmpty, "no model to build from empty input")
    assert(recs.map(r => (r.eps, r.nClusters, r.nNoise, r.totalError))
      == Seq((1.0, 0L, 0L, 0.0), (2.0, 0L, 0L, 0.0)))
  }
}
