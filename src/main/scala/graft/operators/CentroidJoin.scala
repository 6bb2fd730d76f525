package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{BucketProbeIndex, Distances, VecKernels}

/** Distributed-exact nearest-centroid assign that never collects the
  * centroid table to the driver — a gate-only operator: its one caller is
  * the `assign_joined` gate, which checks it under the DuckDB oracle. The
  * DBSCAN noise assign and the ML transform collect their centroids
  * (a k-anonymous clustering has at most n/k of them) and scan them with
  * the exhaustive kernel ([[graft.functions.VecKernels.nearest_centroids]]),
  * the one this operator also uses to bucket the centroid table.
  *
  * Plan shape: the centroid TABLE stays distributed. A bounded coarse
  * summary — m ≈ √k centers (deterministic hash-ordered sample + one
  * distributed Lloyd pass) with per-bucket L1 radii — is collected
  * (O(√k·dim), budget-enforced) and ships as ONE reference object inside
  * [[graft.functions.BucketProbeExpr]]. Each query row emits only the
  * bucket ids that can contain its true nearest centroid (triangle
  * inequality, see [[BucketProbeIndex]] for the exactness argument), and
  * an equi-join on bucket id + `min(struct(d, component, centroid))`
  * finishes the argmin — expected per-row work O(√k·dim) probe + O(√k)
  * joined candidates instead of O(k), with no CartesianProduct, no
  * BroadcastNestedLoopJoin, and no structure on the driver that grows
  * with k. Degenerate geometry (uniform high-dim sets where triangle
  * bounds are weak) degrades toward probing every bucket — the old
  * crossJoin's cost, never worse.
  *
  * Semantics are the broadcast-crossJoin branch's min-struct contract,
  * exactly: ties break to the lowest component id; a NaN-bearing query
  * resolves to the lowest component id (all distances NaN compare equal
  * in Spark's struct order); NaN-bearing centroids lose to any finite
  * distance; a null query vector yields null in all three output
  * columns. Exercised end-to-end by the `assign_joined` gate under the
  * DuckDB row_number-argmin oracle and pinned ≡ the crossJoin oracle in
  * CentroidJoinSpec.
  */
object CentroidJoin {

  /** Coarse-center count ceiling. */
  val MaxCoarse = 65536
  /** Driver/plan element budget for the coarse summary (flat centers +
    * radii) — 2^22 doubles = 32 MB, since this object rides every task
    * binary of the probe stage. */
  val MaxCoarseElements: Long = 1L << 22
  /** Distributed Lloyd refinement passes over the sampled init — one
    * pass gives the buckets the spatial locality the radii feed on;
    * more buys little. */
  val LloydIters = 1

  /** Appends (`ccName`, `centName`, `dName`) = (nearest centroid's
    * component id, its array, its L1 distance) to `queries`.
    *
    * @param queries   rows to assign; `idCol` MUST be unique (the final
    *                  argmin groups on it)
    * @param centroids (compCol: long-castable, centCol: array<double>) —
    *                  every array EXACTLY the same length (enforced; the
    *                  triangle bound is only exact over a fixed dim)
    * @param coarseOverride spec/gate hook: force the coarse-center count
    *                  (0 = the √k default)
    */
  def assignExact(queries: DataFrame, idCol: String, qiCol: String,
                  centroids: DataFrame, compCol: String, centCol: String,
                  ccName: String, centName: String, dName: String,
                  coarseOverride: Int = 0): DataFrame = {
    val cents = centroids.select(col(compCol).cast("long").as("__cc"),
      col(centCol).as("__cent"))

    val stats = cents.agg(count(lit(1)).as("k"),
      min(size(col("__cent"))).as("dmin"),
      max(size(col("__cent"))).as("dmax")).head()
    val k = stats.getLong(0)
    require(k > 0, "CentroidJoin.assignExact: empty centroid set")
    val dimMin = stats.getInt(1)
    val dim = stats.getInt(2)
    require(dimMin == dim,
      s"CentroidJoin.assignExact: centroid arrays must be uniform length " +
        s"(saw $dimMin..$dim) — a centroid shorter than a query flips the " +
        "triangle bound's direction and the probe would no longer be exact")

    val m = math.max(1L, math.min(
      if (coarseOverride > 0) coarseOverride.toLong
      else math.ceil(math.sqrt(k.toDouble)).toLong,
      math.min(MaxCoarse.toLong, MaxCoarseElements / math.max(1, dim)))).toInt

    // Deterministic, spatially-unbiased init: hash-ordered TakeOrderedAndProject
    // pulls exactly m centroid rows — never a data-dependent collect.
    var centers: Array[Array[Double]] = cents
      .orderBy(xxhash64(col("__cc")), col("__cc"))
      .select(col("__cent")).limit(m)
      .collect().map(_.getSeq[Double](0).toArray)
    // an override above k yields fewer rows than requested — size
    // everything off what actually came back
    val mEff = centers.length

    // Distributed Lloyd pass(es): assign every centroid to its nearest
    // coarse center (the exhaustive kernel, ties to the lowest bucket
    // id), then recompute means as a map-side-combined
    // groupBy over (bucket, dim position). m·dim result rows ≤ the
    // element budget by construction. An empty bucket keeps its center.
    def nearestBucket(cs: Array[Array[Double]]) = element_at(
      VecKernels.nearest_centroids(col("__cent"),
        cs.indices.map(g => g -> cs(g)), 1, cosine = false), 1)
    for (_ <- 0 until LloydIters) {
      val sums = cents.select(
          nearestBucket(centers).getField("cluster").as("__b"),
          posexplode(col("__cent")).as(Seq("__p", "__v")))
        .groupBy("__b", "__p")
        .agg(sum("__v").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = centers.map(_.clone())
      sums.foreach { r =>
        val g = r.getInt(0); val p = r.getInt(1)
        next(g)(p) = r.getDouble(2) / r.getLong(3)
      }
      centers = next
    }

    // Final bucket table + radii. The table is NOT persisted: its
    // recompute is one narrow scan of the centroid table, and pinning a
    // cache here would strand blocks past the caller's lifecycle
    // (callers that reuse the result persist downstream).
    val bucketed = cents.select(col("__cc"), col("__cent"),
      nearestBucket(centers).as("__nb"))
      .select(col("__cc"), col("__cent"),
        col("__nb").getField("cluster").as("__b"),
        col("__nb").getField("d").as("__d"))

    // max() keeps NaN greatest, so a NaN-bearing member poisons its
    // bucket's radius to NaN and the probe then always scans that bucket
    // — conservative, still exact.
    val radRows = bucketed.groupBy("__b").agg(max("__d").as("r")).collect()
    val radii = Array.fill(mEff)(0.0)
    val live = Array.fill(mEff)(false)
    radRows.foreach { r => radii(r.getInt(0)) = r.getDouble(1); live(r.getInt(0)) = true }
    val flat = new Array[Double](mEff * dim)
    var g = 0
    while (g < mEff) {
      System.arraycopy(centers(g), 0, flat, g * dim, dim); g += 1
    }
    val probeIdx = new BucketProbeIndex(flat, radii, live, dim)

    // Probe → explode → shuffled equi-join on bucket id → min-struct.
    // A null query vector probes null, explode drops the row, and the
    // final left join restores it with null outputs.
    val q = queries.select(col(idCol).as("__qid"), col(qiCol).as("__qi"))
    val cand = q
      .select(col("__qid"), col("__qi"),
        explode(VecKernels.bucket_probe(col("__qi"), probeIdx)).as("__b"))
    val best = cand.join(bucketed, Seq("__b"))
      .groupBy("__qid")
      .agg(min(struct(
        Distances.l1(col("__qi"), col("__cent")).as("d"),
        col("__cc").as("cc"),
        col("__cent").as("cent"))).as("__s"))
      .select(col("__qid"), col("__s"))

    queries.join(best, col(idCol) === col("__qid"), "left")
      .withColumn(ccName, col("__s").getField("cc"))
      .withColumn(centName, col("__s").getField("cent"))
      .withColumn(dName, col("__s").getField("d"))
      .drop("__qid", "__s")
  }
}
