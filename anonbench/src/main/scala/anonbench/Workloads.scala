package anonbench

import graft.dbscan.{Cc, ClusterMode, Dbscan, DbscanModel, Outputs, Scc}
import graft.functions.{Distances, VecKernels}
import graft.graph.{ConnectedComponents, GraphAlgs}
import graft.kmeans.ConstrainedKMeans
import graft.operators.{NeighborJoin, PrefixScan}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** What one job needs: the session, the cached input, the number of
  * published rows the input must yield, and the span recorder. */
final case class Ctx(spark: SparkSession, input: DataFrame, records: Long,
                     parallelism: Int, spans: Spans)

/** The checked outcome of one job. `notes` carries what the traced run's
  * module calls need to repeat the job's winning configuration. */
final case class JobResult(verdict: Verdict, reported: Double,
                           notes: Map[String, Double])

/** One of the paper's anonymization programs, run as a user runs it. */
sealed trait Workload {
  def name: String
  def rows: Long
  def why: String
  /** Published rows the input must yield. */
  def records(input: DataFrame): Long
  /** One whole anonymization: input ready, then published table written
    * and checked. Internal steps are spans on traced jobs. */
  def job(ctx: Ctx, dir: String): JobResult
  /** Traced run only: times single module calls that the job makes
    * internally, repeating the configuration `last` chose. */
  def probe(ctx: Ctx, last: JobResult): Unit
}

object Workloads {
  val Dim: Int = Gen.QiCols.length

  /** Evaluates every row and column of `df`, writing nothing. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Times the nearest-centroid kernel over every point, several passes so
    * the span is long enough to time. */
  def nearest(ctx: Ctx, qi: DataFrame, cents: Seq[(Int, Array[Double])],
              passes: Int = 5): Unit = {
    val rows = qi.count()
    ctx.spans("functions.nearest") {
      (1 to passes).foreach(_ => noop(qi.select(
        VecKernels.nearest_centroids(col("qi"), cents, 1, cosine = false)
          .as("nc"))))
    }
    ctx.spans.note("functions.nearest", "rows", (rows * passes).toDouble)
  }

  /** Sizes are set so that a run — three set-ups, a cold job and two warm
    * jobs — stays near a minute on four cores: every job here is bound by
    * ~65 ms of driver work per Spark job, not by rows. */
  val all: Seq[Workload] = Seq(
    DbscanWorkload("anon_dbscan_cc", rows = 5000,
      eps = (10 to 19).map(_.toDouble), mode = Cc,
      why = "DBSCAN-CC, 5000 rows, eps 10..19, minPts=k=10: the batched " +
        "union-CC fixpoint and per-eps stats dominate; the eps-join is " +
        "small; JSON sink"),
    DbscanWorkload("anon_dbscan_scc", rows = 5000,
      eps = Seq(15.0, 19.0), mode = Scc,
      why = "DBSCAN-SCC, 5000 rows, eps {15,19}: one Dbscan.run per eps " +
        "instead of the batched pass, and a sink that recomputes the " +
        "assignments"),
    KmeansWorkload("anon_kmeans", rows = 5000, clusterRange = Seq(25, 100),
      restarts = 1,
      why = "constrained k-means, 5000 rows, clusters {25,100}, kAnon=10: " +
        "chains of small driver-bound Lloyd jobs and the nearest-centroid " +
        "kernel; no eps-join or graph"))

  def byName(name: String): Workload = all.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(
      s"unknown workload $name; known: ${all.map(_.name).mkString(", ")}"))
}

/** Reference programs #1 (CC) and #2 (SCC): value-collapse, ε sweep with
  * minPts = k = 10 over three blocked dimensions, JSON sink of the best ε. */
final case class DbscanWorkload(name: String, rows: Long, eps: Seq[Double],
                                mode: ClusterMode, why: String)
    extends Workload {
  val minPts = 10
  val k = 10
  val blockDims = 3
  private val keyCols = Gen.Columns.map(_._1)

  def records(input: DataFrame): Long =
    input.select(keyCols.map(col): _*).distinct().count()

  /** One vertex per distinct record with its duplicate count `w`, dense
    * ids in sorted-record order (SURVEY §2.7 G1). Cached and counted, as
    * the reference-scale program does before its sweep. */
  private def collapse(ctx: Ctx): DataFrame = {
    val verts = ctx.input.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("w"))
    val pts = PrefixScan.denseIds(verts, keyCols, "id", ctx.parallelism)
      .select(col("id"), Distances.pack(Gen.QiCols.map(col): _*).as("qi"),
        col("label"), col("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    pts.count()
    pts
  }

  def job(ctx: Ctx, dir: String): JobResult = {
    val spans = ctx.spans
    val pts = spans.step("operators.prefixscan")(collapse(ctx))
    try {
      val (_, best) = spans.step("dbscan.sweep")(Dbscan.sweep(pts, "id",
        "qi", eps, minPts, k, mode, Some("w"), blockDims))
      val (bestEps, model) = best.getOrElse(
        throw new IllegalStateException(s"$name: the sweep built no model"))
      try {
        val out = s"$dir/published"
        spans.step("dbscan.outputs")(
          Outputs.writeAnonymizedJson(model, Workloads.Dim, out, Some("label")))
        val v = spans.step("check")(
          Check.dbscanJson(ctx.spark, out, ctx.records, k, model.totalError))
        JobResult(v, model.totalError, Map("best_eps" -> bestEps,
          "clusters" -> model.nClusters.toDouble,
          "noise" -> model.nNoise.toDouble))
      } finally model.unpersist()
    } finally pts.unpersist()
  }

  private def centroids(m: DbscanModel): Seq[(Int, Array[Double])] =
    m.centroids.select("component", "centroid").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).zipWithIndex.map { case ((_, c), i) => (i, c) }.toSeq

  def probe(ctx: Ctx, last: JobResult): Unit = {
    val spans = ctx.spans
    val bestEps = last.notes("best_eps")
    val pts = collapse(ctx)
    var pairs: DataFrame = null
    var edges: DataFrame = null
    try {
      pairs = spans("operators.neighborjoin") {
        val p = NeighborJoin.epsJoinGrid(pts.select("id", "qi", "w"), "id",
            "qi", eps.max, blockDims, distCol = Some("d"))
          .select("a_id", "a_w", "b_id", "b_w", "d")
          .persist(StorageLevel.MEMORY_AND_DISK)
        spans.note("operators.neighborjoin", "pairs", p.count().toDouble)
        p
      }
      spans.note("operators.neighborjoin", "rows", ctx.records.toDouble)

      // the best ε's core → neighbour edges, built as Dbscan.run does
      val atBest = pairs.where(col("d") < bestEps)
      val core = atBest.groupBy(col("a_id"), col("a_w"))
        .agg(sum("b_w").as("nw"))
        .where(col("a_w") * col("nw") >= minPts)
        .select(col("a_id").as("core_id"))
      edges = atBest.join(core, col("a_id") === col("core_id"), "left_semi")
        .select(col("a_id").as("src"), col("b_id").as("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nEdges = edges.count().toDouble
      // both connectivity semantics on the same edges, whichever the
      // workload's mode, so each graph layer is timed on every DBSCAN run
      spans("graph.cc")(Workloads.noop(ConnectedComponents.run(edges)))
      spans.note("graph.cc", "edges", nEdges)
      spans("graph.scc")(Workloads.noop(GraphAlgs.dbscanScc(edges)))

      val model = spans("dbscan.run")(Dbscan.run(pts, "id", "qi", bestEps,
        minPts, k, mode, Some("w"), blockDims, pairsOpt = Some(atBest)))
      try Workloads.nearest(ctx, pts.select("qi"), centroids(model))
      finally model.unpersist()
    } finally {
      Seq(edges, pairs).filter(_ != null).foreach(_.unpersist())
      pts.unpersist()
    }
  }
}

/** Reference program #3: constrained k-means restart sweep with a fixed
  * seed, Parquet sink of the winning model. */
final case class KmeansWorkload(name: String, rows: Long,
                                clusterRange: Seq[Int], restarts: Int,
                                why: String) extends Workload {
  val kAnon = 10
  val seed = 17L
  val maxLloyd = 20

  def records(input: DataFrame): Long = input.count()

  private def points(ctx: Ctx): DataFrame = ctx.input.select(col("id"),
    Distances.pack(Gen.QiCols.map(col): _*).as("qi"))

  def job(ctx: Ctx, dir: String): JobResult = {
    val spans = ctx.spans
    val model = spans.step("kmeans.sweep")(ConstrainedKMeans.sweep(
      points(ctx), "id", "qi", clusterRange, restarts, kAnon, seed, maxLloyd))
    try {
      val (pub, link) = (s"$dir/published", s"$dir/linkage")
      spans.step("kmeans.outputs")(
        Outputs.writeKmeansParquet(model, Gen.Headers, pub))
      val v = spans.step("check") {
        ConstrainedKMeans.anonymized(model, Workloads.Dim)
          .write.parquet(link)
        Check.kmeans(ctx.spark, pub, link, ctx.input, ctx.records, kAnon,
          model.cost)
      }
      JobResult(v, model.cost, Map(
        "clusters" -> model.centroids.size.toDouble,
        "lloyd_iters" -> model.lloydIters.toDouble))
    } finally model.unpersist()
  }

  /** Refits the sweep's winning combination: the smallest cluster count
    * that holds the winner's clusters, restarts in the sweep's seed order
    * until one reproduces the winning cost. */
  def probe(ctx: Ctx, last: JobResult): Unit = {
    val spans = ctx.spans
    val pts = points(ctx).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val c = clusterRange.filter(_ >= last.notes("clusters"))
        .minOption.getOrElse(clusterRange.max)
      var fitted: graft.kmeans.KMeansModel = null
      var r = 0
      def wins(m: graft.kmeans.KMeansModel) =
        math.abs(m.cost - last.reported) <= 1e-9 * math.abs(last.reported)
      while (r < restarts && (fitted == null || !wins(fitted))) {
        if (fitted != null) fitted.unpersist()
        fitted = spans("kmeans.fit")(ConstrainedKMeans.fit(pts, "id", "qi", c,
          kAnon, seed + c * 1000 + r, maxLloyd))
        spans.note("kmeans.fit", "lloyd_iters", fitted.lloydIters.toDouble)
        r += 1
      }
      try Workloads.nearest(ctx, pts.select("qi"), fitted.centroids.toSeq)
      finally fitted.unpersist()
    } finally pts.unpersist()
  }
}
