package graft.dbscan

import graft.functions.Distances
import graft.graph.{ConnectedComponents, GraphAlgs}
import graft.operators.NeighborJoin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.util.Try

/** Which graph-connectivity semantics clusters use (SURVEY §2.7 G2/G3),
  * one per reference program: CC absorbs border points into the cluster
  * of the core that reaches them; SCC leaves border points as singleton
  * components (→ noise). Both label a component by one of its member
  * vertex ids, which is what lets [[Dbscan.sweep]] cluster all radii in
  * one batched pass and publish the winner's ids from that same pass.
  */
sealed trait ClusterMode
case object Cc extends ClusterMode
/** Exact SCC via the DBSCAN-graph specialization (GraphAlgs.dbscanScc). */
case object Scc extends ClusterMode

/** One DBSCAN run's outputs. `assignments` is per input id:
  * (id, qi, component nullable, is_noise, an_qi nullable) — `an_qi` is the
  * cluster centroid for members and the nearest-cluster centroid for noise
  * (the reference's anonymization, DBSCAN.py:103-117, 126-133).
  */
final case class DbscanModel(
    assignments: DataFrame,
    centroids: DataFrame, // component, centroid, n_members
    nClusters: Long,
    nNoise: Long,
    clusterError: Double,
    noiseError: Double) extends graft.core.QueryCache.Releasable {
  def totalError: Double = clusterError + noiseError
  def unpersist(): Unit = { assignments.unpersist(); centroids.unpersist() }
  override def release(): Unit = unpersist()
}

/** Per-ε record of the sweep (DBSCAN.py eps_records, lines 135-143/198). */
final case class SweepRecord(eps: Double, nClusters: Long, nNoise: Long,
                             clusterError: Double, noiseError: Double,
                             totalError: Double, seconds: Double)

/** DBSCAN as declarative Spark dataflow.
  *
  * The reference pipeline (DBSCAN.py:157-205): cartesian θ-join → minPts
  * filter → edges → GraphFrames connected components → cluster/noise split →
  * centroid + L1 error per cluster → broadcast nearest-centroid for noise.
  *
  * Differences by design, not behavior: the O(n²) cartesian becomes the
  * grid-blocked equi-join ([[NeighborJoin]]); GraphFrames CC becomes the
  * DataFrame-native large-star/small-star ([[ConnectedComponents]]); every
  * per-group Python UDF becomes a codegen'd aggregate.
  */
object Dbscan {

  /** Element budget for the driver-collected centroid matrix behind the
    * pruned assign (the matrix rides the plan as one reference object).
    * The bound is on CENTROIDS × DIM, not centroid count alone — the
    * collect and the per-stage reference object scale with both, so a
    * count-only cap would let a high-dim fit (e.g. 128-dim embeddings)
    * ship a multi-GB matrix. 2^23 doubles is 64 MB flat: at dim 8 that
    * is the old 2^20-centroid ceiling exactly. Above budget the noise
    * assign switches to [[graft.operators.CentroidJoin.assignExact]] —
    * the collect-free coarse-bucket probe join: the centroid table stays
    * distributed, only its O(√k·dim) coarse summary rides the plan, and
    * per-row work is probe-bounded instead of the old broadcast
    * crossJoin's rows × k candidate shuffle. Same min-struct semantics
    * at any k. */
  private[graft] val MaxAssignElements: Long = 1L << 23
  /** Spec hook: lowers the element budget so the join-based regime
    * engages at test scale ([[MaxAssignElements]] otherwise). */
  private[graft] var assignElementBudget: Long = MaxAssignElements
  /** The element budget expressed as a centroid-count ceiling at a
    * given dimensionality. */
  private[graft] def maxAssignCentroids(dim: Int): Long =
    assignElementBudget / math.max(1, dim)

  /** Adds (`ccName`, `dName`) = (nearest centroid's component id, its L1
    * distance) via the triangle-inequality-pruned exact argmin
    * ([[graft.functions.VecKernels.pruned_nearest]]) — one narrow
    * projection with the centroid matrix and its component ids riding as
    * one reference object, so the plan stays O(1) in k; per-row cost is
    * O(√k·dim) expected. Ties go to the lowest component id (the
    * min-struct tiebreak). The noise assign of [[cluster]] and of the ML
    * transform up to the [[MaxAssignElements]] budget. `sorted` MUST be
    * ascending by component id. A null vector yields null in both
    * columns. */
  private[graft] def withPrunedNearest(df: DataFrame, qiCol: String,
                                sorted: IndexedSeq[(Long, Array[Double])],
                                ccName: String, dName: String): DataFrame =
    df.withColumn("__pn",
        graft.functions.VecKernels.pruned_nearest(col(qiCol), sorted))
      .withColumn(ccName, col("__pn.component"))
      .withColumn(dName, col("__pn.d"))
      .drop("__pn")

  /** The ε-blocks one [[cluster]] pass labels at once: block `ei` is the
    * ε-graph at radius `eps(ei)`, its vertex ids namespaced to
    * `ei·span + (id − minId)`. No edge crosses a block, so the components
    * of the disjoint union restricted to a block are exactly that
    * radius's components, and every component id (a member vertex id in
    * every [[ClusterMode]]) names its block. `span == 0` is a single
    * block whose ids stay as they are. */
  private final case class Blocks(eps: Seq[Double], minId: Long = 0L,
                                  span: Long = 0L) {
    def vertex(ei: Column, id: Column): Column =
      if (span == 0) id else ei * span + (id - minId)
    /** The block of a namespaced id column. `/` on longs is double
      * division in Spark SQL — DIV keeps the quotient exact. One block is
      * a cast constant, not a bare literal: an integer literal in GROUP BY
      * is read as a column ordinal. */
    def of(idCol: String): Column =
      if (span == 0) lit(0L).cast("int")
      else expr(s"CAST($idCol DIV ${span}L AS INT)")
    /** [[vertex]]'s inverse on block `ei`: the input id of a namespaced
      * id or component (null stays null). Exact, because every
      * [[ClusterMode]] labels a component by a member vertex id. */
    def input(ei: Int, id: Column): Column =
      if (span == 0) id else id - ei * span + minId
  }

  /** A [[cluster]] pass's outputs. `labeled` (id, qi, component; null =
    * noise) and `centroids` (component, centroid, n_members) are persisted
    * and materialized; [[publish]] consumes them (the caller releases a
    * pass it does not publish). `nearest(ei)` (id, qi, cc, an_err) is
    * block `ei`'s noise rows with their nearest same-block centroid, null
    * where the block has no cluster — the very rows whose `an_err` sums
    * to `records(ei).noiseError`. Ids and components are namespaced by
    * `blocks`. */
  private final case class Clustered(blocks: Blocks, labeled: DataFrame,
                                     centroids: DataFrame,
                                     nearest: IndexedSeq[DataFrame],
                                     records: Seq[SweepRecord]) {
    def release(): Unit = { labeled.unpersist(); centroids.unpersist() }
  }

  /** The DBSCAN pipeline over ε-tagged pairs (ei, a_id, a_w, b_id, b_w),
    * each step written once for [[run]] (one block) and [[sweep]] (every
    * radius in one pass, the winner published from it): weighted core
    * rule, core → neighbour edges, components, k-anonymity, centroids,
    * per-block stats in one action, and the noise → nearest-centroid
    * assign. `pts` is (id, qi) with unique ids. Records carry
    * `seconds = 0`.
    */
  private def cluster(pts: DataFrame, tagged: DataFrame, blocks: Blocks,
                      minPts: Int, k: Int, mode: ClusterMode): Clustered = {
    val dim = pts.select(size(col("qi"))).head().getInt(0)
    val pairs = tagged.select(
      blocks.vertex(col("ei"), col("a_id")).as("a_id"), col("a_w"),
      blocks.vertex(col("ei"), col("b_id")).as("b_id"), col("b_w"))

    // Core test: the reference's cartesian keys pairs on the point VALUE,
    // so a point with c duplicate copies sees each neighbor c times — its
    // neighbor list is c·Σw_b long. Weighted mode reproduces that as
    // a_w · Σ(b_w) ≥ minPts; unweighted rows have a_w = 1.
    val core = pairs.groupBy(col("a_id"), col("a_w"))
      .agg(sum("b_w").as("nw"))
      .where(col("a_w") * col("nw") >= minPts)
      .select(col("a_id").as("core_id"))

    // Directed edges core → neighbor (flattenPair, DBSCAN.py:119-124,162).
    val edges = pairs
      .join(core, pairs("a_id") === core("core_id"), "left_semi")
      .select(col("a_id").as("src"), col("b_id").as("dst"))

    val comp = mode match {
      case Cc => ConnectedComponents.run(edges)
      case Scc => GraphAlgs.dbscanScc(edges)
    }

    // Every point appears in every block. A vertex outside the edge graph
    // has no component and is immediately noise; components with < k
    // distinct members are dissolved into noise too (strictly-less,
    // DBSCAN.py:176).
    val verts = pts
      .select(explode(sequence(lit(0), lit(blocks.eps.length - 1))).as("ei"),
        col("id"), col("qi"))
      .select(blocks.vertex(col("ei"), col("id")).as("id"), col("qi"))
    val withComp = verts.join(comp, Seq("id"), "left")
    val sizes = withComp.where(col("component").isNotNull)
      .groupBy("component").agg(count(lit(1)).as("csize"))
    val labeled = withComp.join(sizes, Seq("component"), "left")
      .select(col("id"), col("qi"),
        when(col("csize") >= k, col("component")).as("component"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Centroid = unweighted per-dimension mean over distinct members
    // (calc_error, DBSCAN.py:86-100); one partial-aggregable pass.
    val dimAvgs = (0 until dim).map(i =>
      avg(element_at(col("qi"), i + 1)).as(s"c$i"))
    // Persisted BEFORE first use: the noise assign collects this aggregate
    // for an_err and run() re-joins it for an_qi — without the persist
    // those are two jobs whose avg partial-combine order may differ, and
    // an_qi could drift an ulp from the centroid that produced an_err.
    // One materialization keeps an_err == L1(qi, an_qi) exact.
    val centroids = labeled.where(col("component").isNotNull)
      .groupBy("component")
      .agg(dimAvgs.head, dimAvgs.tail :+ count(lit(1)).as("n_members"): _*)
      .select(col("component"),
        array((0 until dim).map(i => col(s"c$i")): _*).as("centroid"),
        col("n_members"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    try {
      val members = labeled.where(col("component").isNotNull)
      val noise = labeled.where(col("component").isNull)
      // per-block cluster count, member error and noise count in ONE
      // action (round 16, guide §2.6): the three aggregates are tagged and
      // unioned so their stages run concurrently inside one job instead
      // of three driver round-trips. Long metrics ride a long column, the
      // error a double column — no lossy cast. The member error keeps the
      // inner component-keyed join (no null-keyed noise rows ever enter a
      // join — a component=null hot key would hash to one task at scale).
      val stats = centroids.groupBy(blocks.of("component").as("ei"))
        .agg(count(lit(1)).as("vl"))
        .select(col("ei"), lit("k").as("m"), col("vl"), lit(0.0).as("vd"))
        .unionByName(members.join(centroids, "component")
          .groupBy(blocks.of("component").as("ei"))
          .agg(sum(Distances.l1(col("qi"), col("centroid"))).as("vd"))
          .select(col("ei"), lit("ce").as("m"), lit(0L).as("vl"), col("vd")))
        .unionByName(noise.groupBy(blocks.of("id").as("ei"))
          .agg(count(lit(1)).as("vl"))
          .select(col("ei"), lit("nn").as("m"), col("vl"), lit(0.0).as("vd")))
        .collect().map(r => (r.getString(1), r.getInt(0)) -> r).toMap
      val nClusters = blocks.eps.indices.map(ei =>
        stats.get(("k", ei)).fold(0L)(_.getLong(2)))
      val nNoise = blocks.eps.indices.map(ei =>
        stats.get(("nn", ei)).fold(0L)(_.getLong(2)))
      val clustered = blocks.eps.indices.filter(nClusters(_) > 0)
      val totalClusters = nClusters.sum

      // Noise → nearest same-block centroid, L1, ties to the lowest
      // component id (assign_nearest, DBSCAN.py:126-133). Up to the
      // [[MaxAssignElements]] budget the argmin is the pruned-exact
      // kernel — one pass over the noise rows with the centroid matrix as
      // a reference object, instead of a crossJoin that shuffles
      // |noise|·|clusters| candidate rows through a group-min; beyond it
      // nothing may collect or broadcast, and the coarse-bucket probe
      // join keeps the centroid table distributed (per-block jobs, never
      // a rows × k candidate shuffle). Each block has its own centroid
      // set and its own frame.
      def noiseIn(ei: Int) =
        noise.where(blocks.of("id") === ei).select(col("id"), col("qi"))
      val assigned: Map[Int, DataFrame] =
        if (totalClusters == 0) Map.empty
        else if (totalClusters <= maxAssignCentroids(dim)) {
          // ascending component ids per block — the kernel's documented
          // precondition (collect order is arbitrary)
          val byBlock = centroids
            .select(blocks.of("component"), col("component"), col("centroid"))
            .collect().groupBy(_.getInt(0))
            .map { case (ei, rows) =>
              ei -> rows.map(r => (r.getLong(1), r.getSeq[Double](2).toArray))
                .sortBy(_._1).toIndexedSeq
            }
          clustered.map(ei => ei -> withPrunedNearest(noiseIn(ei), "qi",
            byBlock(ei), "cc", "an_err")).toMap
        } else clustered.map(ei => ei ->
          graft.operators.CentroidJoin.assignExact(noiseIn(ei), "id", "qi",
              centroids.where(blocks.of("component") === ei)
                .select(col("component"), col("centroid")),
              "component", "centroid", "cc", "__cent", "an_err")
            .drop("__cent")).toMap

      val noiseError =
        if (!clustered.exists(nNoise(_) > 0)) Map.empty[Int, Double]
        else clustered.map(assigned).reduce(_ unionByName _)
          .groupBy(blocks.of("id")).agg(sum("an_err"))
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val nearest = blocks.eps.indices.map(ei => assigned.getOrElse(ei,
        noiseIn(ei).select(col("id"), col("qi"),
          lit(null).cast("long").as("cc"),
          lit(null).cast("double").as("an_err"))))

      // a clusterless block is the reference's [eps, 0, n, 0, ∞, ∞]
      // empty record (DBSCAN.py:163-167); all its points are noise
      val records = blocks.eps.indices.map { ei =>
        val ce = stats.get(("ce", ei)).fold(0.0)(_.getDouble(3))
        val ne =
          if (nNoise(ei) == 0) 0.0
          else if (nClusters(ei) == 0) Double.PositiveInfinity
          else noiseError(ei)
        SweepRecord(blocks.eps(ei), nClusters(ei), nNoise(ei), ce, ne,
          ce + ne, 0.0)
      }
      Clustered(blocks, labeled, centroids, nearest, records)
    } catch { case t: Throwable =>
      // a failed stat job must not strand the two caches for the
      // session's lifetime
      labeled.unpersist(); centroids.unpersist(); throw t
    } finally {
      // labeled now holds the components, so the graph step's own final
      // checkpoint is dead
      graft.core.LineageCut.releaseAdded(comp, edges)
    }
  }

  /** Builds block `ei` of pass `c` into the published [[DbscanModel]]:
    * the one builder of a model from a pass, for [[run]] and [[sweep]]
    * alike. Ids and components are mapped back to the input ids
    * ([[Blocks.input]]). Members take their own centroid; noise takes the
    * centroid its `an_err` was measured to, from the same persisted
    * table, so the model's numbers are `c.records(ei)` and its
    * `noiseError` is the sum of the very `an_err` values published. Extra
    * input columns (e.g. the preserved label) are carried through.
    *
    * Consumes the pass: the model owns `assignments` and its centroids,
    * and every other frame the pass persisted is released before this
    * returns, on failure too — only after the model's frames are
    * materialized, so nothing published recomputes from a released frame.
    */
  private def publish(c: Clustered, ei: Int, points: DataFrame,
                      idCol: String, qiCol: String,
                      weightCol: Option[String]): DbscanModel = {
    val blocks = c.blocks
    // a one-block pass's centroids are already the model's
    val cents =
      if (blocks.span == 0) c.centroids
      else c.centroids.where(blocks.of("component") === ei)
        .select(blocks.input(ei, col("component")).as("component"),
          col("centroid"), col("n_members"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    var assignments: DataFrame = null
    try {
      val memberAssigned = c.labeled
        .where(col("component").isNotNull && blocks.of("id") === ei)
        .select(blocks.input(ei, col("id")).as("id"), col("qi"),
          blocks.input(ei, col("component")).as("component"))
        .join(cents, "component")
        .select(col("id"), col("qi"), col("component"),
          col("centroid").as("an_qi"),
          Distances.l1(col("qi"), col("centroid")).as("an_err"))
      val noiseAssigned = c.nearest(ei)
        .select(blocks.input(ei, col("id")).as("id"), col("qi"),
          blocks.input(ei, col("cc")).as("cc"), col("an_err"))
        .join(cents.select(col("component").as("cc"),
          col("centroid").as("an_qi")), Seq("cc"), "left")
        .select(col("id"), col("qi"), lit(null).cast("long").as("component"),
          col("an_qi"), col("an_err"))

      val extras = points.columns.toSeq
        .filterNot(n => n == idCol || n == qiCol || weightCol.contains(n))
      val base = memberAssigned.unionByName(noiseAssigned)
        .withColumn("is_noise", col("component").isNull)
      assignments = (if (extras.isEmpty) base
        else base.join(
          points.select((col(idCol).cast("long").as("id") +: extras.map(col)): _*),
          "id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (cents ne c.centroids) cents.count()
      assignments.count()
      val r = c.records(ei)
      DbscanModel(assignments, cents, r.nClusters, r.nNoise, r.clusterError,
        r.noiseError)
    } catch { case t: Throwable =>
      if (assignments != null) assignments.unpersist()
      cents.unpersist(); throw t
    } finally {
      c.labeled.unpersist()
      if (cents ne c.centroids) c.centroids.unpersist()
    }
  }

  /** Run DBSCAN over points identified by a unique Long `idCol` with
    * `array<double>` coordinates `qiCol`: one ε-block of [[cluster]],
    * published by [[publish]].
    *
    * @param weightCol multiplicity column: the reference runs its cartesian
    *   over the raw (duplicate-bearing) rows, so duplicates count toward
    *   minPts; value-collapsed callers pass the duplicate count here.
    * @param k  k-anonymity parameter: components with fewer than k distinct
    *   members are noise (DBSCAN.py:176-179). Usually == minPts.
    * @param pairsOpt optional precomputed ε-pair set (the epsJoinGrid
    *   output over (id, qi, w) for the SAME points and eps) — callers that
    *   already hold the ε-graph (e.g. the gate registry's per-dir cache)
    *   pass it here so the join isn't rebuilt; it is NOT unpersisted.
    */
  def run(points: DataFrame, idCol: String, qiCol: String, eps: Double,
          minPts: Int, k: Int, mode: ClusterMode = Cc,
          weightCol: Option[String] = None, blockDims: Int = 2,
          pairsOpt: Option[DataFrame] = None): DbscanModel = {
    val w = weightCol.map(col).getOrElse(lit(1L)).cast("long")
    val pts = points.select(col(idCol).cast("long").as("id"),
      col(qiCol).as("qi"), w.as("w"))

    // ε-neighborhood pairs (self included) via grid blocking; reused by the
    // core-point test and the edge list, so persist across those jobs.
    val ownPairs = pairsOpt.isEmpty
    val pairs = pairsOpt.getOrElse(NeighborJoin
      .epsJoinGrid(pts, "id", "qi", eps, blockDims)
      .persist(StorageLevel.MEMORY_AND_DISK))
    val c = try cluster(pts.select("id", "qi"),
        pairs.select(lit(0).as("ei"), col("a_id"), col("a_w"), col("b_id"),
          col("b_w")),
        Blocks(Seq(eps)), minPts, k, mode)
      finally if (ownPairs) pairs.unpersist()
    publish(c, 0, points, idCol, qiCol, weightCol)
  }

  /** Reference-faithful value-collapsed mode: rows are deduplicated into
    * vertices keyed by their full value (qi + extra cols), duplicates
    * counted as neighbor multiplicity but clusters/centroids computed over
    * distinct values (SURVEY §2.7 G1 vertex collapse). Ids are assigned
    * deterministically by sorted order.
    */
  def runCollapsed(points: DataFrame, qiCol: String, eps: Double, minPts: Int,
                   k: Int, mode: ClusterMode = Cc, blockDims: Int = 2): DbscanModel = {
    val spark = points.sparkSession
    val keyCols = points.columns.toSeq
    val verts = points.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("w"))
    // dense ids in sorted-key order via the two-phase scan — stays in
    // Catalyst and scales with numParts, unlike the old sortBy +
    // rdd.zipWithIndex round-trip (same ids: the key set is unique)
    val withId = graft.operators.PrefixScan.denseIds(
      verts, keyCols, "id", spark.sparkContext.defaultParallelism)
    run(withId, "id", qiCol, eps, minPts, k, mode, weightCol = Some("w"),
      blockDims = blockDims)
  }

  /** ε sweep with argmin-by-total-error selection (DBSCAN.py:148-205).
    * Returns all per-ε records plus the best model (reference keeps the
    * output of the best ε only). Empty edge sets record
    * [eps, 0, n, 0, ∞, ∞] (DBSCAN.py:163-167).
    *
    * The ε-join — the sweep's dominant cost — runs ONCE, at max(epsRange)
    * with the L1 distance materialized; each ε's pair set is the
    * `d < ε` slice of that superset (L1 < ε ⟹ L1 < ε_max), so the sweep
    * pays one shuffle instead of |epsRange|. The reference hoists only the
    * vertices DF out of its loop (DBSCAN.py:157); this hoists the join too.
    *
    * The per-ε records then come from one batched [[cluster]] pass in
    * every [[ClusterMode]]: each pair is tagged with every radius that
    * admits it, and all radii's graphs are clustered as one disjoint union
    * (one set of CC rounds instead of |epsRange|). The winning ε's model
    * is published from its block of that same pass ([[publish]]), so the
    * winner's record and the model are one computation; the losing blocks
    * are released. Only when the namespaced ids would overflow a Long
    * does the same pass run once per ε, keeping only the best pass so
    * far.
    *
    * @param runner optional per-ε model source — lets callers with a
    *   model cache (e.g. the gate registry, which memoizes one ε already)
    *   serve that ε from the cache while the sweep computes the argmin.
    *   With a runner there is no batched pass: every record comes from
    *   the runner's model. Runner-served models belong to the caller —
    *   the sweep never unpersists them, winning or losing.
    */
  def sweep(points: DataFrame, idCol: String, qiCol: String,
            epsRange: Seq[Double], minPts: Int, k: Int,
            mode: ClusterMode = Cc, weightCol: Option[String] = None,
            blockDims: Int = 2,
            runner: Double => DbscanModel = null)
  : (Seq[SweepRecord], Option[(Double, DbscanModel)]) = {
    if (epsRange.isEmpty) return (Seq.empty, None)
    if (runner != null) return sweepWith(points, epsRange, runner)
    val w = weightCol.map(col).getOrElse(lit(1L)).cast("long")
    val pts = points.select(col(idCol).cast("long").as("id"),
      col(qiCol).as("qi"), w.as("w"))
    // empty-input check BEFORE any head() on the points — head() on an
    // empty Dataset throws, the agg always returns one row
    val idRow = pts.agg(min("id"), max("id")).head()
    if (idRow.isNullAt(0))
      return (epsRange.map(e => SweepRecord(e, 0, 0, 0.0, 0.0, 0.0, 0.0)), None)
    val (minId, maxId) = (idRow.getLong(0), idRow.getLong(1))

    // only the columns the core reads survive the persist — the qi
    // arrays (the wide part of the join output) are re-joined from the
    // points, not carried pair-wise. Released in the finally — also on
    // failure partway through the sweep, so an aborted sweep can't
    // strand its largest intermediate.
    val sharedMax = NeighborJoin
      .epsJoinGrid(pts, "id", "qi", epsRange.max, blockDims,
        distCol = Some("d"))
      .select("a_id", "a_w", "b_id", "b_w", "d")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val t0 = System.nanoTime()
      // tag each pair with every ε-index whose radius admits it (strict <)
      val tagged = sharedMax
        .select(col("a_id"), col("a_w"), col("b_id"), col("b_w"), col("d"),
          posexplode(array(epsRange.map(lit(_)): _*)).as(Seq("ei", "epsv")))
        .where(col("d") < col("epsv"))
        .select(col("ei"), col("a_id"), col("a_w"), col("b_id"), col("b_w"))
      // the best block so far (its pass and index) stays persisted until
      // it is published; every other pass is released as soon as its
      // records are in. Ties keep the earlier radius.
      var kept: Option[(Clustered, Int)] = None
      def err(b: (Clustered, Int)) = b._1.records(b._2).totalError
      def pass(t: DataFrame, blocks: Blocks): Seq[SweepRecord] = {
        val c = cluster(pts.select("id", "qi"), t, blocks, minPts, k, mode)
        val finite = c.records.indices
          .filter(c.records(_).totalError.isFinite).map((c, _))
        val winner = (kept ++ finite)
          .reduceOption((a, b) => if (err(b) < err(a)) b else a)
        for ((old, _) <- kept if !winner.exists(_._1 eq old)) old.release()
        if (!winner.exists(_._1 eq c)) c.release()
        kept = winner
        c.records
      }
      val span = Try(Math.addExact(Math.subtractExact(maxId, minId), 1L))
        .filter(s => Try(Math.multiplyExact(s, epsRange.length.toLong)).isSuccess)
      val recs = try span.toOption match {
        case Some(s) => pass(tagged, Blocks(epsRange, minId, s))
        case None => epsRange.indices.flatMap(ei =>
          pass(tagged.where(col("ei") === ei), Blocks(Seq(epsRange(ei)))))
      } catch { case t: Throwable => kept.foreach(_._1.release()); throw t }
      val best = kept.map { case (c, ei) =>
        (c.blocks.eps(ei), publish(c, ei, points, idCol, qiCol, weightCol))
      }
      // the pass and the winner's build are shared work — per-ε
      // attribution is an even split
      val secs = (System.nanoTime() - t0) / 1e9
      (recs.map(_.copy(seconds = secs / epsRange.length)), best)
    } finally sharedMax.unpersist()
  }

  /** The per-ε loop behind a caller's `runner`: one model per radius, the
    * argmin kept. Models are the runner's, so none is unpersisted here. */
  private def sweepWith(points: DataFrame, epsRange: Seq[Double],
                        runner: Double => DbscanModel)
  : (Seq[SweepRecord], Option[(Double, DbscanModel)]) = {
    val n = points.count()
    var best: Option[(Double, DbscanModel)] = None
    var minCost = Double.PositiveInfinity
    val records = epsRange.map { eps =>
      val t0 = System.nanoTime()
      val m = runner(eps)
      val secs = (System.nanoTime() - t0) / 1e9
      val rec =
        if (m.nClusters == 0 && m.nNoise == n && m.clusterError == 0.0)
          SweepRecord(eps, 0, n, 0.0, Double.PositiveInfinity,
            Double.PositiveInfinity, secs)
        else
          SweepRecord(eps, m.nClusters, m.nNoise, m.clusterError,
            m.noiseError, m.totalError, secs)
      if (rec.totalError < minCost) {
        minCost = rec.totalError
        best = Some((eps, m))
      }
      rec
    }
    (records, best)
  }

  /** Sweep metrics as a DataFrame matching the reference's eps_record.csv
    * columns (DBSCAN.py:137). */
  def sweepMetrics(spark: org.apache.spark.sql.SparkSession,
                   records: Seq[SweepRecord]): DataFrame = {
    import spark.implicits._
    records.toDF()
  }
}
