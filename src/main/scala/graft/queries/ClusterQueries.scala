package graft.queries

import graft.core.QueryCache
import graft.core.Tables.table
import graft.dbscan.{Cc, Dbscan, DbscanModel, Scc}
import graft.functions.Distances
import graft.graph.{ConnectedComponents, GraphAlgs, Traversals}
import graft.operators.NeighborJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Clustering-operator gate queries. The DuckDB oracles reproduce the whole
  * pipeline in SQL — the ε-graph as a cartesian θ-join and connected
  * components as a recursive-CTE min-label propagation — so even the
  * iterative graph step is oracle-checked, not just rows-counted.
  *
  * Points: (p_size, p_retailprice) from `part`, eps=2.0, minPts=k=4 (chosen
  * so both sf0.001 and sf0.01 yield multi-cluster structure: 11 / 121
  * components respectively).
  */
object ClusterQueries {
  private val eps = 2.0
  private val minPts = 4
  private val kAnon = 4
  private val BfsMaxHops = 32
  /** harmonic_centrality seed-sample size (Boldi-Vigna estimator). */
  private val HarmonicSeeds = 16
  /** harmonic_centrality radius bound: contributions past R hops are
    * ≤ 1000000/R ppm each and the BFS costs one round per hop, so the
    * estimator truncates (bounded-radius harmonic centrality) — at
    * sf0.1 this is the difference between 8 and 32 fixpoint rounds. */
  private val HarmonicRadius = 8
  private val PrIters = 5
  private val PrDamping = 0.85
  /** ppr_scores seed set: graph vertices with id % PprSeedMod == 0. */
  private val PprSeedMod = 17
  /** rand_walks seed set (id % RwSeedMod == 0) and walk length. */
  private val RwSeedMod = 13
  private val RwSteps = 4
  private val LpaIters = 3
  private val KCoreK = 4
  private val KCoreRounds = 6
  /** link_predict result-set size. */
  private val LinkTopN = 100
  /** eigencentrality power-iteration rounds (walk length). */
  private val EigenIters = 3
  /** hits_scores alternating-walk rounds (a ← Aᵀh, h ← A·a per round). */
  private val HitsIters = 2
  /** ktruss truss order (support ≥ k−2) and peel rounds. */
  private val KTrussK = 4
  private val KTrussRounds = 2
  /** stress_centrality seed set (id % mod == 0) and radius bound. Both
    * cap the σ-BFS state (seeds·ball(radius)) AND the per-vertex pair
    * fan-out ((seeds in ball)² per middle vertex) — the two quantities
    * that decide whether seed-sampled betweenness-family centrality is
    * computable at corpus scale. */
  private val StressSeedMod = 7
  private val StressRadius = 3

  private def pts(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "part").select(col("p_partkey").as("id"),
      Distances.pack(col("p_size"), col("p_retailprice")).as("qi"))

  /** The ε=2.0 pair set (epsJoinGrid output with unit weights) that BOTH
    * the graph gates' edge list and the shared DBSCAN model walk —
    * computed once per (session, dir), eagerly checkpointed. The exact L1
    * distance is kept as `d` so smaller-ε consumers (the sweep's ε=0.5
    * leg) are a filter over this set, not a second join. */
  private[graft] val PairsKey = "cluster.pairs"
  private def sharedPairs(s: SparkSession, dir: String): DataFrame =
    QueryCache.shared(PairsKey, s, dir) {
      val p = pts(s, dir).withColumn("w", lit(1L))
      NeighborJoin.epsJoinGrid(p, "id", "qi", eps, distCol = Some("d"))
        .localCheckpoint()
    }

  /** Directed core→neighbor edge list of the ε-graph (DBSCAN.py:161-162),
    * derived from [[sharedPairs]]; three gate queries (cc_components,
    * cc_graphx, scc_components) walk the same graph, so the finished edge
    * list is eagerly localCheckpoint'd once per (session, dir) too. */
  private[graft] val EdgesKey = "cluster.epsEdges"
  private def epsEdges(s: SparkSession, dir: String): DataFrame =
    QueryCache.shared(EdgesKey, s, dir) {
      val pairs = sharedPairs(s, dir)
      val core = pairs.groupBy("a_id").agg(count(lit(1)).as("n"))
        .where(col("n") >= minPts).select(col("a_id").as("core_id"))
      pairs
        .join(core, pairs("a_id") === core("core_id"), "left_semi")
        .select(col("a_id").as("src"), col("b_id").as("dst"))
        .localCheckpoint()
    }

  /** The ε=2.0 DBSCAN model shared by dbscan_labels / dbscan_errors /
    * dbscan_anonymize: the driver times each gate query independently, but
    * a real user computes the model once and reads three outputs from it —
    * memoizing per (session, dir) makes the gate reflect that. The model
    * run reuses [[sharedPairs]] instead of rebuilding the ε-join. */
  private[graft] val ModelKey = "cluster.dbscanModel"
  private def sharedModel(s: SparkSession, dir: String): graft.dbscan.DbscanModel =
    QueryCache.shared(ModelKey, s, dir) {
      Dbscan.run(pts(s, dir), "id", "qi", eps, minPts, kAnon, Cc,
        pairsOpt = Some(sharedPairs(s, dir)))
    }

  /** ml_pipeline / ml_kmeans_model input: the same (p_size, p_retailprice)
    * points, but as raw columns for VectorAssembler to pack — the MLlib
    * half of the pipeline under test. */
  private def mlInput(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "part").select(col("p_partkey").as("id"),
      col("p_size").cast("double").as("x0"),
      col("p_retailprice").cast("double").as("x1"))

  /** Releasable wrapper so [[QueryCache.evictSession]] frees the fitted
    * stages' cached assignment blocks. */
  private case class MlHolder(pm: org.apache.spark.ml.PipelineModel)
      extends QueryCache.Releasable {
    def release(): Unit = pm.stages.foreach {
      case m: graft.ml.GraftDbscanModel => m.release()
      case m: graft.ml.GraftKMeansModel => m.release()
      case _ => ()
    }
  }

  /** The fitted [VectorAssembler -> GraftDbscan] PipelineModel, memoized
    * per (session, dir) like [[sharedModel]] (one fit, many transforms).
    * The fit deliberately goes through the public Estimator surface — no
    * sharedPairs shortcut — so the gate exercises the same path a
    * Pipeline user runs. */
  private[graft] val MlPipelineKey = "cluster.mlPipelineModel"
  private def sharedMlPipeline(s: SparkSession, dir: String)
  : org.apache.spark.ml.PipelineModel =
    QueryCache.shared(MlPipelineKey, s, dir) {
      import org.apache.spark.ml.Pipeline
      import org.apache.spark.ml.feature.VectorAssembler
      MlHolder(new Pipeline().setStages(Array(
          new VectorAssembler()
            .setInputCols(Array("x0", "x1")).setOutputCol("features"),
          new graft.ml.GraftDbscan()
            .setIdCol("id").setFeaturesCol("features")
            .setPredictionCol("component")
            .setEps(eps).setMinPts(minPts).setKAnon(kAnon)))
        .fit(mlInput(s, dir)))
    }.pm

  /** The published anonymized table joined with the sensitive attribute —
    * the input both privacy-audit gates (l_diversity, t_closeness) read:
    * one row per point with its published quasi-identifier group (the
    * 4dp-rounded anonymizing centroid, dbscan_anonymize's columns) and
    * the part brand as the sensitive value. */
  private def anonPublished(s: SparkSession, dir: String): DataFrame = {
    val m = sharedModel(s, dir)
    m.assignments.select(col("id"),
        round(element_at(col("an_qi"), 1), 4).as("an_x0"),
        round(element_at(col("an_qi"), 2), 4).as("an_x1"))
      .join(table(s, dir, "part")
        .select(col("p_partkey").as("id"), col("p_brand").as("sv")), "id")
  }

  /** The 3-round LPA labeling of the ε-graph, shared by lpa_communities
    * and modularity (a real pipeline labels communities once and reads
    * several metrics from them) — memoized per (session, dir); the
    * shuffle-budget pins for both gates evict this entry so they still
    * measure the LPA build plan. */
  private[graft] val LpaKey = "cluster.lpa"
  private def sharedLpa(s: SparkSession, dir: String): DataFrame =
    QueryCache.shared(LpaKey, s, dir) {
      Traversals.labelPropagation(epsEdges(s, dir), iters = LpaIters)
        .localCheckpoint()
    }

  /** The Boruvka minimum spanning forest of the ε-pair graph (weights =
    * exact centi-L1), shared by mst_forest / single_linkage /
    * hdbscan_stability — the dendrogram skeleton is built once per
    * (session, dir) and every cut/sweep reads it. Both frames are
    * eagerly checkpointed (boruvka's own per-round checkpoints release
    * everything else). */
  private[graft] val MstKey = "cluster.mst"
  /** Dev-profiler hook ([[graft.tools.ProbeHdbscan]]) — the memoized MST. */
  private[graft] def probeMst(s: SparkSession, dir: String): graft.graph.Mst.Forest =
    sharedMst(s, dir)
  private def sharedMst(s: SparkSession, dir: String): graft.graph.Mst.Forest =
    QueryCache.shared(MstKey, s, dir) {
      val ew = sharedPairs(s, dir).where(col("a_id") < col("b_id"))
        .select(col("a_id").as("src"), col("b_id").as("dst"),
          round(col("d") * 100).cast("long").as("w"))
      val f = graft.graph.Mst.boruvka(ew)
      graft.graph.Mst.Forest(f.edges.localCheckpoint(),
        f.labels.localCheckpoint())
    }

  /** The StabilityCuts per-cut component table (ci, id, component) of a
    * memoized forest — ONE batched union-CC fixpoint over |cuts|
    * cut-replicated copies of its V−1 edges (the dbscan_sweep trick; the
    * sweep never touches the pair set). Vertices isolated at a cut are
    * absent from their ci slice. */
  private def stabCompOf(f: graft.graph.Mst.Forest): DataFrame = {
    val off = f.labels.agg(max("id")).head().getLong(0) + 1
    val cutLit = array(StabilityCuts.map(lit(_)): _*)
    val edges = f.edges
      .select(col("a"), col("b"), col("w"),
        posexplode(cutLit).as(Seq("ci", "cut")))
      .where(col("w") <= col("cut"))
      .select((col("ci") * off + col("a")).as("src"),
        (col("ci") * off + col("b")).as("dst"))
    ConnectedComponents.run(edges)
      .select(expr(s"CAST(id DIV ${off}L AS INT)").as("ci"),
        (col("id") % off).as("id"),
        (col("component") % off).as("component"))
      .localCheckpoint()
  }

  /** Raw-forest cut sweep, shared by hdbscan_stability (per-label
    * lifetimes) and hdbscan_extract (the FOSC flat labeling read off the
    * same sweep). */
  private[graft] val StabCompKey = "cluster.stabComp"
  private def sharedStabComp(s: SparkSession, dir: String): DataFrame =
    QueryCache.shared(StabCompKey, s, dir)(stabCompOf(sharedMst(s, dir)))

  /** Mutual-reachability-forest cut sweep, shared by mreach_stability
    * and mreach_extract — the TRUE HDBSCAN metric's sweep (non-core
    * points never enter the graph, so they are absent from every
    * slice). */
  private[graft] val MreachCompKey = "cluster.mreachComp"
  private def sharedMreachComp(s: SparkSession, dir: String): DataFrame =
    QueryCache.shared(MreachCompKey, s, dir)(stabCompOf(sharedMreach(s, dir)))

  /** The FOSC flat labeling read off a cut-sweep component table: the
    * per-label stability mass and condensed-tree parent edges collect as
    * O(#clusters) driver rows (labels are min member ids, so point x
    * belongs to cluster x for its whole life and the absorbing label at
    * x's death cut IS the tree parent), [[graft.graph.Fosc.select]] picks
    * the stability-maximizing antichain on the driver, and the labeling
    * is one broadcast join of the memberships against the selected set —
    * every point gets its unique selected ancestor or noise. */
  private def foscExtract(s: SparkSession, comp: DataFrame,
                          allPts: DataFrame): DataFrame = {
    // Driver-bounded collect: pull at most MaxClusters + 1 rows so an
    // oversized condensed tree fails fast HERE — Fosc.select's own
    // require sits after the collect and could never fire before a
    // driver OOM if the materialization were unbounded.
    def collectBounded(df: DataFrame, what: String) = {
      val rows = df.limit(graft.graph.Fosc.MaxClusters + 1).collect()
      require(rows.length <= graft.graph.Fosc.MaxClusters,
        s"$what exceeds Fosc.MaxClusters (${graft.graph.Fosc.MaxClusters}); " +
          "aborting before driver materialization")
      rows
    }
    val sizes = comp.groupBy("ci", "component")
      .agg(count(lit(1)).as("n"))
    val stab = collectBounded(
        sizes.groupBy("component").agg(sum("n").as("m")), "condensed tree")
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val labelsDf = sizes.select(col("component").as("id")).distinct()
    val wd = Window.partitionBy("id").orderBy("ci")
    val parent = collectBounded(
        comp.join(labelsDf, Seq("id"), "left_semi")
          .where(col("component") =!= col("id"))
          .withColumn("rk", row_number().over(wd))
          .where(col("rk") === 1)
          .select(col("id"), col("component")), "condensed-tree parent table")
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sel = graft.graph.Fosc.select(stab, parent)
    import s.implicits._
    val selDf = sel.toSeq.sorted.toDF("cluster")
    val memb = comp
      .join(broadcast(selDf), comp("component") === selDf("cluster"))
      .select(col("id"), col("cluster")).distinct()
    allPts.join(memb, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster"), lit(-1L)).as("cluster"),
        col("cluster").isNull.cast("int").as("is_noise"))
      .orderBy("id")
  }

  /** HDBSCAN core distance per point (exact centi-L1): the k-th nearest
    * neighbor's distance within the ε-ball, k = minPts, self excluded —
    * the per-id rank window runs on ε-ball-bounded candidate lists, so
    * ranking distributes at any scale. Points with fewer than k
    * ε-neighbors have no core distance (ε-bounded HDBSCAN — exactly the
    * points DBSCAN calls non-core). Distances are exact multiples of
    * 0.01 by construction (integer p_size + 2-decimal p_retailprice),
    * so the pre-round double order and the centi-long order agree. */
  private def coreDistances(s: SparkSession, dir: String): DataFrame =
    knnCenti(s, dir).where(col("rk") === minPts)
      .select(col("id"), col("d_c").as("core_c"))

  /** The ε-ball k-NN rank table in exact centi-L1: (id, nbr, d_c, rk)
    * with rk ≤ minPts. The window orders by the ROUNDED centi value —
    * raw float L1 can represent the same true centi distance two ways
    * (907.64−907.63 ≠ 0.01 exactly), and ordering by the float would
    * cut the k-NN set differently than the oracle at those ties. */
  private def knnCenti(s: SparkSession, dir: String): DataFrame = {
    val p = sharedPairs(s, dir).where(col("a_id") =!= col("b_id"))
      .select(col("a_id").as("id"), col("b_id").as("nbr"),
        round(col("d") * 100).cast("long").as("d_c"))
    val w = Window.partitionBy("id").orderBy(col("d_c"), col("nbr"))
    p.withColumn("rk", row_number().over(w)).where(col("rk") <= minPts)
  }

  /** Boruvka MSF over the MUTUAL-REACHABILITY graph (Campello et al.
    * PAKDD'13's actual HDBSCAN metric): w(a,b) = max(core(a), core(b),
    * d(a,b)), restricted to pairs where both endpoints have a core
    * distance. Memoized like [[sharedMst]] — one build per
    * (session, dir), every consumer reads the checkpoint. */
  private[graft] val MreachKey = "cluster.mreachMst"
  private def sharedMreach(s: SparkSession, dir: String): graft.graph.Mst.Forest =
    QueryCache.shared(MreachKey, s, dir) {
      val core = coreDistances(s, dir)
      val ew = sharedPairs(s, dir).where(col("a_id") < col("b_id"))
        .select(col("a_id").as("src"), col("b_id").as("dst"),
          round(col("d") * 100).cast("long").as("d_c"))
        .join(core.select(col("id").as("src"), col("core_c").as("ca")),
          Seq("src"))
        .join(core.select(col("id").as("dst"), col("core_c").as("cb")),
          Seq("dst"))
        .select(col("src"), col("dst"),
          greatest(col("d_c"), col("ca"), col("cb")).as("w"))
      val f = graft.graph.Mst.boruvka(ew)
      graft.graph.Mst.Forest(f.edges.localCheckpoint(),
        f.labels.localCheckpoint())
    }

  /** single_linkage cut thresholds (centi-L1; both < 100·ε so the ε-pair
    * set covers every admitted edge). */
  private val SlCutLo = 60L
  private val SlCutHi = 150L
  /** hdbscan_stability sweep thresholds (centi-L1, ascending). */
  private val StabilityCuts = Seq(25L, 50L, 75L, 100L, 125L, 150L, 175L, 199L)

  /** One constrained-k-means fit shared by kmeans_constrained and
    * sink_roundtrip, memoized like the DBSCAN model above. */
  private[graft] val KmeansKey = "cluster.kmeansModel"
  private def sharedKmeans(s: SparkSession, dir: String): graft.kmeans.KMeansModel =
    QueryCache.shared(KmeansKey, s, dir) {
      graft.kmeans.ConstrainedKMeans.fit(
        pts(s, dir), "id", "qi", nClusters = 8, kAnon = 4, seed = 42,
        maxLloyd = 5)
    }

  /** The seed-42 sf0.001 fit's centroids frozen as literals
    * (tools/FreezeCentroids) — [[queries kmeans_assign]] runs the
    * nearest-centroid assignment kernel the iterative fits stand on
    * (k-means.ipynb assignment step; DBSCAN.py:126-133 for the noise
    * analogue) against FIXED centroids, so the kernel itself is under the
    * driver oracle even though the end-to-end fits are seeded-iterative. */
  private val FrozenCentroids: Seq[(Int, Array[Double])] = Seq(
    0 -> Array(13.472222222222221, 907.6333333333332),
    1 -> Array(23.136363636363637, 915.6818181818181),
    2 -> Array(43.94117647058823, 912.4647058823529),
    3 -> Array(4.808510638297872, 910.4574468085108),
    4 -> Array(44.0625, 903.50625),
    5 -> Array(24.892857142857142, 904.6357142857144),
    6 -> Array(48.714285714285715, 916.4857142857143),
    7 -> Array(34.888888888888886, 913.5370370370371))

  /** DuckDB literal table for [[FrozenCentroids]] — generated from the same
    * constants so the two engines share bits by construction (VARCHAR→
    * DOUBLE cast = strtod, identical to the JVM's parse). */
  private def sqlFrozenCents: String =
    FrozenCentroids.map { case (cid, c) =>
      s"($cid, CAST('${c(0)}' AS DOUBLE), CAST('${c(1)}' AS DOUBLE))"
    }.mkString("cents0 AS (SELECT * FROM (VALUES\n  ", ",\n  ",
      ") t(cluster, c0, c1))")

  // Shared SQL prologue: ε-graph via cartesian θ-join (reference-faithful),
  // parameterized by ε so the sweep oracle can instantiate several legs.
  private def sqlGraphFor(e: Double) =
    s"""pts AS (SELECT p_partkey AS id, CAST(p_size AS DOUBLE) AS x0,
       |        p_retailprice AS x1 FROM part),
       |nbr AS (SELECT a.id AS src, b.id AS dst FROM pts a, pts b
       |        WHERE abs(a.x0-b.x0)+abs(a.x1-b.x1) < $e),
       |core AS (SELECT src AS id FROM nbr GROUP BY src
       |         HAVING count(*) >= $minPts),
       |edges AS (SELECT n.src, n.dst FROM nbr n JOIN core c ON n.src = c.id)""".stripMargin
  private val sqlGraph = sqlGraphFor(eps)

  /** The weighted a<b ε-pair graph shared by the single-linkage oracles —
    * same centi-L1 rounding expression as the Spark side. */
  private def sqlNbrW =
    s"""pts AS (SELECT p_partkey AS id, CAST(p_size AS DOUBLE) AS x0,
       |  p_retailprice AS x1 FROM part),
       |nbr AS (SELECT a.id AS src, b.id AS dst,
       |    CAST(round((abs(a.x0-b.x0)+abs(a.x1-b.x1)) * 100) AS BIGINT)
       |      AS w
       |  FROM pts a, pts b
       |  WHERE a.id < b.id AND abs(a.x0-b.x0)+abs(a.x1-b.x1) < $eps)""".stripMargin

  /** The published anonymized rows with the sensitive attribute —
    * (an_x0, an_x1, sv) per point, shared by the l_diversity /
    * t_closeness oracles. Same members/nearest-centroid construction as
    * the dbscan_anonymize oracle; expects $sqlGraph + $sqlCc (pts,
    * labels) to precede it. */
  private def sqlAnonPub: String =
    s"""cents AS (SELECT l.component, avg(p.x0) AS c0, avg(p.x1) AS c1
       |  FROM labels l JOIN pts p ON l.id = p.id
       |  WHERE l.component IS NOT NULL GROUP BY l.component),
       |members AS (SELECT l.id, round(c.c0, 4) AS an_x0,
       |    round(c.c1, 4) AS an_x1
       |  FROM labels l JOIN cents c ON l.component = c.component),
       |nn AS (SELECT l.id, round(c.c0, 4) AS an_x0,
       |    round(c.c1, 4) AS an_x1,
       |    row_number() OVER (PARTITION BY l.id
       |      ORDER BY abs(p.x0 - c.c0) + abs(p.x1 - c.c1), c.component)
       |      AS rn
       |  FROM labels l JOIN pts p ON l.id = p.id, cents c
       |  WHERE l.component IS NULL),
       |anon AS (SELECT id, an_x0, an_x1 FROM members
       |  UNION ALL SELECT id, an_x0, an_x1 FROM nn WHERE rn = 1),
       |pub AS (SELECT a.an_x0, a.an_x1, pa.p_brand AS sv
       |  FROM anon a JOIN part pa ON pa.p_partkey = a.id)""".stripMargin

  /** The FOSC extraction recomputed from first principles over the
    * weighted a<b edge relation `rel` (which `prologue` must define,
    * along with pts): per-cut CC legs, the condensed tree from each
    * label's first absorbed row, then the bottom-up stability DP
    * UNROLLED by death-cut index (along any root path death cuts
    * strictly increase, so tree height <= |cuts| and pass k reads
    * every child's value from pass k-1's accumulation) - same
    * >=-selects-the-parent tie rule as Fosc.select, exact integers
    * throughout. */
  private def sqlFosc(prologue: String, rel: String): String =
    s"""WITH RECURSIVE
         |$prologue,
         |${StabilityCuts.zipWithIndex.map { case (t, i) => slLeg(i, t, rel = rel) }
             .mkString(",\n")},
         |allc AS MATERIALIZED (${StabilityCuts.indices
             .map(i => s"SELECT $i AS ci, id, comp FROM comp$i")
             .mkString(" UNION ALL ")}),
         |szs AS (SELECT ci, comp, count(*) AS n FROM allc
         |        GROUP BY ci, comp),
         |stab AS MATERIALIZED (SELECT comp AS x, CAST(sum(n) AS BIGINT) AS stab
         |         FROM szs GROUP BY comp),
         |lab AS (SELECT DISTINCT comp AS x FROM allc),
         |pr AS (SELECT a.id AS x, a.comp AS parent, a.ci AS dci,
         |    row_number() OVER (PARTITION BY a.id ORDER BY a.ci) AS rk
         |  FROM allc a JOIN lab l ON l.x = a.id WHERE a.comp <> a.id),
         |par AS MATERIALIZED (SELECT x, parent, dci FROM pr WHERE rk = 1),
         |dp0 AS (SELECT s.x, s.stab AS sub, TRUE AS sel
         |  FROM stab s JOIN par d ON d.x = s.x AND d.dci = 0),
         |${(1 until StabilityCuts.length).map { k =>
             s"""dp$k AS (SELECT x, sub, sel FROM dp${k - 1}
                |  UNION ALL
                |  SELECT s.x,
                |    CASE WHEN s.stab >= coalesce(cs.c, 0) THEN s.stab
                |         ELSE coalesce(cs.c, 0) END AS sub,
                |    s.stab >= coalesce(cs.c, 0) AS sel
                |  FROM stab s JOIN par d ON d.x = s.x AND d.dci = $k
                |  LEFT JOIN (SELECT p.parent AS x, sum(v.sub) AS c
                |             FROM par p JOIN dp${k - 1} v ON v.x = p.x
                |             GROUP BY p.parent) cs ON cs.x = s.x)"""
               .stripMargin
           }.mkString(",\n")},
         |vr AS (SELECT x, sub, sel FROM dp${StabilityCuts.length - 1}
         |  UNION ALL
         |  SELECT s.x,
         |    CASE WHEN s.stab >= coalesce(cs.c, 0) THEN s.stab
         |         ELSE coalesce(cs.c, 0) END AS sub,
         |    s.stab >= coalesce(cs.c, 0) AS sel
         |  FROM stab s
         |  LEFT JOIN (SELECT p.parent AS x, sum(v.sub) AS c
         |             FROM par p JOIN dp${StabilityCuts.length - 1} v
         |               ON v.x = p.x
         |             GROUP BY p.parent) cs ON cs.x = s.x
         |  WHERE s.x NOT IN (SELECT x FROM par)),
         |anc(x, a) AS (SELECT x, parent FROM par
         |  UNION
         |  SELECT anc.x, p.parent FROM anc JOIN par p ON p.x = anc.a),
         |flat AS (SELECT v.x FROM vr v WHERE v.sel AND NOT EXISTS (
         |  SELECT 1 FROM anc JOIN vr va ON va.x = anc.a
         |  WHERE anc.x = v.x AND va.sel)),
         |memb AS (SELECT DISTINCT a.id, a.comp FROM allc a
         |         JOIN flat f ON f.x = a.comp)
         |SELECT p.id, CAST(coalesce(m.comp, -1) AS BIGINT) AS cluster,
         |  CAST(m.comp IS NULL AS INT) AS is_noise
         |FROM pts p LEFT JOIN memb m ON m.id = p.id
         |ORDER BY p.id""".stripMargin

  /** One recursive-CTE CC leg over the pair graph thresholded at `t` —
    * yields comp$i(id, comp) for vertices incident to an admitted edge.
    * `rel` names the weighted a<b edge relation to threshold. */
  private def slLeg(i: Int, t: Long, rel: String = "nbr"): String =
    s"""sym$i AS (SELECT src, dst FROM $rel WHERE w <= $t
       |  UNION SELECT dst, src FROM $rel WHERE w <= $t),
       |v$i AS (SELECT DISTINCT src AS id FROM sym$i),
       |walk$i(id, reach) AS (
       |  SELECT id, id FROM v$i
       |  UNION
       |  SELECT s.dst, w.reach FROM walk$i w JOIN sym$i s ON s.src = w.id),
       |comp$i AS (SELECT id, min(reach) AS comp FROM walk$i GROUP BY id)""".stripMargin

  /** SQL prologue for the mutual-reachability graph: core distances from
    * the k-th-NN rank window, then mr(src, dst, w) with w = max(core_a,
    * core_b, d) on a<b pairs whose endpoints both have core distances —
    * the same construction [[sharedMreach]] builds. */
  private def sqlMreach: String =
    s"""pts AS (SELECT p_partkey AS id, CAST(p_size AS DOUBLE) AS x0,
       |  p_retailprice AS x1 FROM part),
       |nbrall AS (SELECT a.id AS src, b.id AS dst,
       |    CAST(round((abs(a.x0-b.x0)+abs(a.x1-b.x1)) * 100) AS BIGINT)
       |      AS w
       |  FROM pts a, pts b
       |  WHERE a.id <> b.id AND abs(a.x0-b.x0)+abs(a.x1-b.x1) < $eps),
       |rkc AS (SELECT src, dst, w, row_number() OVER (
       |    PARTITION BY src ORDER BY w, dst) AS rk FROM nbrall),
       |corec AS (SELECT src AS id, w AS core_c FROM rkc
       |          WHERE rk = $minPts),
       |mr AS (SELECT n.src, n.dst, greatest(n.w, ca.core_c, cb.core_c)
       |    AS w
       |  FROM nbrall n
       |  JOIN corec ca ON ca.id = n.src
       |  JOIN corec cb ON cb.id = n.dst
       |  WHERE n.src < n.dst)""".stripMargin

  // Undirected CC by recursive min-label propagation.
  private val sqlCc =
    s"""sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
       |verts AS (SELECT DISTINCT src AS id FROM sym),
       |walk(id, reach) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT s.dst, w.reach FROM walk w JOIN sym s ON s.src = w.id),
       |comp AS (SELECT id, min(reach) AS component FROM walk GROUP BY id),
       |sizes AS (SELECT component, count(*) AS csize FROM comp
       |          GROUP BY component),
       |labels AS (SELECT p.id AS id,
       |    CASE WHEN s.csize >= $kAnon THEN c.component END AS component
       |  FROM pts p LEFT JOIN comp c ON p.id = c.id
       |  LEFT JOIN sizes s ON c.component = s.component)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // G2: DataFrame-native large-star/small-star CC on the ε-graph.
    "cc_components" -> ((s, dir) => {
      ConnectedComponents.run(epsEdges(s, dir)).orderBy("id")
    }),

    // Same graph through GraphX Pregel — independent implementation,
    // same oracle.
    "cc_graphx" -> ((s, dir) => {
      GraphAlgs.connectedComponents(s, epsEdges(s, dir)).orderBy("id")
    }),

    // Full DBSCAN labeling: per point, its cluster (= min member id) or
    // NULL for noise.
    "dbscan_labels" -> ((s, dir) => {
      sharedModel(s, dir).assignments
        .select(col("id"), col("component"), col("is_noise"))
        .orderBy("id")
    }),

    // Scalar pipeline outputs: cluster/noise counts and L1 errors
    // (the reference's eps_record row, DBSCAN.py:137).
    "dbscan_errors" -> ((s, dir) => {
      import s.implicits._
      val m = sharedModel(s, dir)
      // no-cluster configs yield noiseError = +Inf (reference semantics);
      // encode as the same -1 sentinel dbscan_sweep uses, mirrored in the
      // oracle's CASE — BigDecimal would throw on the infinity otherwise
      Seq((m.nClusters, m.nNoise,
        BigDecimal(m.clusterError).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
        if (m.noiseError.isPosInfinity) -1.0
        else BigDecimal(m.noiseError).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("n_clusters", "n_noise", "cluster_error", "noise_error")
    }),

    // G3: SCC mode (reference SCC.py:174) — border points become noise.
    // Exact SCC via the DBSCAN-graph specialization (mutual-core CC).
    "scc_components" -> ((s, dir) => {
      GraphAlgs.dbscanScc(epsEdges(s, dir)).orderBy("id")
    }),

    // Anonymization output (DBSCAN.py:103-133): members get their cluster
    // centroid, noise gets the nearest centroid (lowest component on ties).
    "dbscan_anonymize" -> ((s, dir) => {
      val m = sharedModel(s, dir)
      m.assignments.select(col("id"), col("component"),
        round(element_at(col("an_qi"), 1), 4).as("an_x0"),
        round(element_at(col("an_qi"), 2), 4).as("an_x1"))
        .orderBy("id")
    }),

    // l-diversity audit of the anonymized table (Machanavajjhala et al.
    // ICDE'06) — the standard check a privacy pipeline runs AFTER
    // k-anonymization (the reference's entire purpose, DBSCAN.py:103-133):
    // k-anonymity bounds re-identification but a class whose members all
    // share one sensitive value still leaks it. Equivalence classes are
    // the PUBLISHED quasi-identifier groups (the 4dp-rounded anonymizing
    // centroid, exactly dbscan_anonymize's output columns — noise rows
    // audit under the centroid they were published with); the sensitive
    // attribute is the part's brand. One keyed groupBy with an
    // exact distinct count over the bounded sensitive domain — scales.
    "l_diversity" -> ((s, dir) => {
      anonPublished(s, dir)
        .groupBy("an_x0", "an_x1")
        .agg(count(lit(1)).as("n"),
          countDistinct("sv").as("l_distinct"))
        .orderBy("an_x0", "an_x1")
    }),

    // t-closeness audit (Li et al. ICDE'07), the companion check: how far
    // each class's sensitive-value distribution sits from the global one.
    // For a categorical attribute the EMD under uniform ground distance
    // is the total-variation distance t = ½ Σ_v |p_c(v) − p_g(v)|, kept
    // EXACT over the common denominator n_c·N: t_ppm = (Σ_v |c_v·N −
    // g_v·n_c| · 10⁶) div (2·n_c·N), products widened to decimal(38,0)
    // (HUGEINT in the oracle) so the integers never truncate at scale.
    // Plan: class/value/global count aggs, a |classes|×|values| grid via
    // a broadcast of the bounded value table, 1-row total broadcast.
    "t_closeness" -> ((s, dir) => {
      // ONE scan of the published table: the class/value counts roll up
      // into the class sizes, the global value counts, and the total —
      // exact-integer identical to four independent scans
      val cls = anonPublished(s, dir).groupBy("an_x0", "an_x1", "sv")
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val sizes = cls.groupBy("an_x0", "an_x1").agg(sum("c").as("n_c"))
      val glob = cls.groupBy("sv").agg(sum("c").as("g"))
      val tot = glob.agg(sum("g").as("nn"))
      sizes.crossJoin(broadcast(glob))
        // cls is a checkpointed LogicalRDD (no stats) — broadcast it
        // explicitly; the contingency table is |classes|·|values| rows
        .join(broadcast(cls), Seq("an_x0", "an_x1", "sv"), "left")
        .crossJoin(broadcast(tot))
        .groupBy("an_x0", "an_x1")
        .agg(max("n_c").as("n_c"), max("nn").as("nn"),
          sum(abs(coalesce(col("c"), lit(0L)).cast("decimal(38,0)") *
              col("nn") -
            col("g").cast("decimal(38,0)") * col("n_c"))).as("t_num"))
        .select(col("an_x0"), col("an_x1"), col("n_c").as("n"),
          expr("cast((t_num * 1000000) div " +
            "(2 * cast(n_c as decimal(38,0)) * nn) as bigint)").as("t_ppm"))
        .orderBy("an_x0", "an_x1")
    }),

    // E3: constrained k-means (k-means.ipynb) — the fit is seeded-
    // iterative (DuckDB cannot replay Lloyd), but its CONTRACT is SQL:
    // every input point assigned exactly once (conservation), no more
    // clusters than requested, and the k-anonymity floor held modulo the
    // fit's documented single-deficit tolerance (k-means.ipynb:115-126;
    // the repair loop accepts ONE cluster below k — an emptied cluster
    // counts as that deficit). The oracle recomputes n_assigned from the
    // table, so conservation is cross-checked, not echoed; per-cluster
    // distributions stay pinned in ConstrainedKMeansSpec.
    "kmeans_constrained" -> ((s, dir) => {
      val sizes = sharedKmeans(s, dir).assignment
        .groupBy("cluster").agg(count(lit(1)).as("n"))
      sizes.agg(
        sum("n").cast("long").as("n_assigned"),
        (count(lit(1)) <= 8).cast("int").as("n_clusters_le_max"),
        ((lit(8) - count(lit(1))) +
          sum(when(col("n") < kAnon, 1).otherwise(0)) <= 1)
          .cast("int").as("deficits_le_1"))
    }),

    // E3's outer loops (k-means.ipynb:86-97): cluster-count range x
    // restarts, argmin-by-cost. Same invariant shape as
    // kmeans_constrained: the winner comes from the sweep grid {4, 8}
    // (which winner is cost-dependent and the single-deficit tolerance
    // may empty one cluster, so the gate pins "at most the grid max,
    // at most one cluster under k" — argmin selection + the quirk live
    // in ConstrainedKMeansSpec).
    "kmeans_sweep" -> ((s, dir) => {
      val m = graft.kmeans.ConstrainedKMeans.sweep(
        pts(s, dir), "id", "qi", clusterRange = Seq(4, 8), restarts = 2,
        kAnon = 4, seed = 42, maxLloyd = 3)
      val sizes = m.assignment.groupBy("cluster").agg(count(lit(1)).as("n"))
      sizes.agg(
        sum("n").cast("long").as("n_assigned"),
        (count(lit(1)) <= 8).cast("int").as("n_clusters_le_max"),
        (sum(when(col("n") < 4, 1).otherwise(0)) <= 1)
          .cast("int").as("deficits_le_1"))
    }),

    // S2/S3 round-trip: write the anonymized-pairs JSON and the k-means
    // parquet exactly as the reference does (DBSCAN.py:80-84,
    // k-means.ipynb:80-82), read both back, aggregate — the sink shapes
    // (_1.._n structs) go through the driver oracle, not just specs.
    "sink_roundtrip" -> ((s, dir) => {
      val m = sharedModel(s, dir)
      val km = sharedKmeans(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_sink_").toString
      graft.dbscan.Outputs.writeAnonymizedJson(m, dim = 2, s"$tmp/anon_json")
      graft.dbscan.Outputs.writeKmeansParquet(km, Seq("x0", "x1"),
        s"$tmp/kmeans_parquet")
      val j = s.read.json(s"$tmp/anon_json")
      val p = s.read.parquet(s"$tmp/kmeans_parquet")
      j.agg(count(lit(1)).as("n_json"),
          round(sum(col("pt._1")), 2).as("sum_pt_x0"),
          round(sum(col("an_pt._1")), 2).as("sum_an_x0"))
        .crossJoin(p.agg(count(lit(1)).as("n_kmeans")))
    }),

    // E1: the reference's whole entry point — ε sweep with argmin
    // selection (DBSCAN.py:157-205). Deterministic metrics (seconds
    // dropped); rows-only gate + sweep-shape specs.
    "dbscan_sweep" -> ((s, dir) => {
      import s.implicits._
      // the ε=2.0 leg is served from the shared model cache; smaller ε
      // legs are d<ε slices of the SAME cached pair set (subset property)
      // rather than fresh joins. Runner-served models are ours: the cached
      // ε=2.0 model stays persisted (it IS the cache entry), the ones
      // built here are released once the records are in.
      val built = scala.collection.mutable.ArrayBuffer.empty[DbscanModel]
      val (recs, _) = try Dbscan.sweep(pts(s, dir), "id", "qi",
        epsRange = Seq(0.5, 2.0), minPts = minPts, k = kAnon,
        runner = e =>
          if (e == eps) sharedModel(s, dir)
          else {
            val m = Dbscan.run(pts(s, dir), "id", "qi", e, minPts, kAnon, Cc,
              pairsOpt = Some(sharedPairs(s, dir).where(col("d") < e)))
            built += m
            m
          })
      finally built.foreach(_.unpersist())
      recs.map(r => (r.eps, r.nClusters, r.nNoise,
        BigDecimal(r.clusterError).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
        if (r.noiseError.isPosInfinity) -1.0
        else BigDecimal(r.noiseError).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("eps", "n_clusters", "n_noise", "cluster_error", "noise_error")
        .orderBy("eps")
    }),

    // The PRUNED-exact argmin (the >8k-cluster assign regime's kernel)
    // under the oracle, over a deterministic 1024-centroid grid big
    // enough that the triangle-inequality pruning actually engages
    // (32 coarse groups): same membership/cost contract as
    // kmeans_assign, so a pruning bug that returns any non-nearest
    // centroid hash-fails here, not just in PropertySpec.
    "assign_pruned" -> ((s, dir) => {
      val grid: IndexedSeq[(Long, Array[Double])] =
        (0 until 1024).map(j => j.toLong ->
          Array((j % 32).toDouble * 2, 900.0 + (j / 32).toDouble * 4))
      graft.dbscan.Dbscan.withPrunedNearest(pts(s, dir), "qi", grid,
          "cluster", "d")
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_members"), round(sum("d"), 2).as("cost"))
        .orderBy("cluster")
    }),

    // The DISTRIBUTED-exact assign regime past the element budget
    // (CentroidJoin: coarse-bucket probe + equi-join + min-struct — the
    // path a 100 TB fit's millions of components take, where nothing may
    // collect or broadcast) under the SAME row_number-argmin oracle and
    // grid as assign_pruned: a probe that drops any true-nearest bucket,
    // or a tiebreak drift in the min-struct, hash-fails here end to end.
    "assign_joined" -> ((s, dir) => {
      import s.implicits._
      val cents = (0 until 1024).map(j => (j.toLong,
        Array((j % 32).toDouble * 2, 900.0 + (j / 32).toDouble * 4)))
        .toDF("cluster", "centroid")
      graft.operators.CentroidJoin.assignExact(pts(s, dir), "id", "qi",
          cents, "cluster", "centroid", "cluster", "__cent", "d")
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_members"), round(sum("d"), 2).as("cost"))
        .orderBy("cluster")
    }),

    // The assignment kernel of every iterative fit, isolated under the
    // oracle: fixed frozen centroids → NearestCentroidsExpr → per-cluster
    // membership and L1 cost. Non-iterative, so SQL-expressible exactly.
    "kmeans_assign" -> ((s, dir) => {
      pts(s, dir).withColumn("nc", element_at(
          graft.functions.VecKernels.nearest_centroids(
            col("qi"), FrozenCentroids, 1, cosine = false), 1))
        .select(col("id"), col("nc.cluster").as("cluster"), col("nc.d").as("d"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_members"), round(sum("d"), 2).as("cost"))
        .orderBy("cluster")
    }),

    // MLlib pipeline interop (the BASELINE.json "DataFrame + MLlib"
    // framing): assemble the same points into MLlib vectors and run
    // spark.ml KMeans — demonstrates the engine coexists with MLlib.
    // Invariant gate (seeded-iterative like the fits above): every point
    // labeled once (n_assigned cross-checked against the oracle's own
    // count(*) of the table), labels inside [0, k), and all 8 centroids
    // alive — k-means|| init over thousands of spread points never
    // collapses a cluster at these SFs, and seed 42 pins the fit.
    "mllib_kmeans" -> ((s, dir) => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val data = pts(s, dir)
        .select(col("id"), array_to_vector(col("qi")).as("features"))
      val model = new KMeans().setK(8).setSeed(42L).setMaxIter(5)
        .fit(data)
      model.transform(data)
        .agg(count(lit(1)).cast("long").as("n_assigned"),
          countDistinct("prediction").cast("long").as("n_clusters"),
          (min("prediction") >= 0 && max("prediction") <= 7)
            .cast("int").as("labels_valid"))
    }),

    // The engine AS an MLlib pipeline stage (round 14): a spark.ml
    // Pipeline of [VectorAssembler (MLlib) -> GraftDbscan (graft
    // Estimator)] fit + transform — same labels as dbscan_labels, but
    // produced through the Estimator/Model surface, so the Pipeline
    // composition itself is under the exact recursive-CTE oracle. The
    // fitted PipelineModel is memoized per (session, dir) like the
    // engine's own sharedModel (a real user fits once, transforms many).
    "ml_pipeline" -> ((s, dir) => {
      sharedMlPipeline(s, dir).transform(mlInput(s, dir))
        .select(col("id"), col("component"),
          col("component").isNull.as("is_noise"))
        .orderBy("id")
    }),

    // A directly-constructed GraftKMeansModel (the stateless scoring
    // path: fixed centroid matrix, no fitted assignment) riding a
    // Pipeline after VectorAssembler — kmeans_assign's exact oracle, but
    // through the Model.transform surface.
    "ml_kmeans_model" -> ((s, dir) => {
      import org.apache.spark.ml.Pipeline
      import org.apache.spark.ml.feature.VectorAssembler
      val assembler = new VectorAssembler()
        .setInputCols(Array("x0", "x1")).setOutputCol("features")
      val model = new graft.ml.GraftKMeansModel("frozen",
          FrozenCentroids.toIndexedSeq)
        .setIdCol("id").setFeaturesCol("features").setPredictionCol("cluster")
      val input = mlInput(s, dir)
      val out = new Pipeline().setStages(Array(assembler, model))
        .fit(input).transform(input)
      // decode the assigned centroid to recompute d with the same abs/add
      // order as the kernel (and the oracle) — bit-identical doubles
      val cents = array(FrozenCentroids.sortBy(_._1).map { case (_, c) =>
        array(c.map(lit(_)): _*)
      }: _*)
      out.withColumn("c", element_at(cents, col("cluster") + 1))
        .withColumn("d", abs(col("x0") - element_at(col("c"), 1)) +
          abs(col("x1") - element_at(col("c"), 2)))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_members"), round(sum("d"), 2).as("cost"))
        .orderBy("cluster")
    }),

    // G5 done right: the reference's abandoned BFS cluster expansion
    // (DBSCAN-checkpoint.ipynb cell 6 — a driver-global visited-set queue
    // walk that crashes on its own saved output) as a distributed
    // frontier fixpoint over the same ε-graph. Seeds are the graph's
    // local-minimum vertices (deterministic, one aggregation — each
    // component's root always qualifies), hops the multi-source BFS
    // distance. Oracle: recursive-CTE shortest-hop walk.
    "bfs_hops" -> ((s, dir) => {
      val e = epsEdges(s, dir)
      Traversals.bfsHops(e, Traversals.localMinSeeds(e), maxHops = BfsMaxHops)
        .orderBy("id")
    }),

    // Reciprocity of the DIRECTED ε-graph (core→neighbor): the fraction
    // of edges whose reverse also exists — non-trivial here exactly
    // because core→border edges are one-way (the border point lacks
    // minPts neighbors), so the ppm is a density-structure signal, not
    // a constant. One keyed self-semi-join on the reversed edge set;
    // exact integer ppm.
    "reciprocity" -> ((s, dir) => {
      val e = epsEdges(s, dir).select("src", "dst")
        .where(col("src") =!= col("dst")).distinct()
      val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      val recip = e.join(rev, Seq("src", "dst"), "left_semi")
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(recip.agg(count(lit(1)).as("n_recip")))
        .select(col("n_edges"), col("n_recip"),
          when(col("n_edges") > 0,
            expr("(1000000 * n_recip) div n_edges")).otherwise(0L)
            .as("recip_ppm"))
    }),

    // Harmonic centrality from a FIXED-SIZE deterministic seed sample
    // (Boldi-Vigna seed-sampled estimator — the form that scales,
    // since all-pairs distances don't): Σ_seeds 1/d as exact integer
    // ppm over the seeded multi-source BFS, seeds = the HarmonicSeeds
    // smallest local-min vertices (TakeOrdered, parallel). The
    // per-(seed, id) state is k·V, independent of graph density.
    // Completes the centrality family next to pagerank/ppr/
    // eigencentrality/kcore.
    "harmonic_centrality" -> ((s, dir) => {
      val e = epsEdges(s, dir)
      val seeds = Traversals.localMinSeeds(e).orderBy("id")
        .limit(HarmonicSeeds)
      Traversals.harmonicCentrality(e, seeds, maxHops = HarmonicRadius)
        .orderBy("id")
    }),

    // Per-vertex triangle counts on the ε-graph — the local clustering
    // signal DBSCAN's density test approximates. Degree-ordered wedge
    // join (each triangle enumerated once from its lowest-ordered
    // corner); oracle: a<b<c three-way self-join.
    "triangles" -> ((s, dir) => {
      Traversals.triangles(epsEdges(s, dir)).orderBy("id")
    }),

    // Fixed-iteration PageRank on the directed ε-graph (core→neighbor):
    // density-weighted point centrality. Exactly 5 power-iteration
    // rounds so the oracle can unroll the same rounds in SQL; both
    // engines round the final rank to 6dp.
    "pagerank" -> ((s, dir) => {
      Traversals.pageRank(epsEdges(s, dir), iters = PrIters,
          damping = PrDamping)
        .select(col("id"), round(col("pr"), 6).as("pr"))
        .orderBy("id")
    }),

    // Personalized PageRank / random walk with restart: the teleport
    // lands on a deterministic seed set (id % 17 == 0) instead of
    // everywhere, scoring each point's graph proximity to the seeds —
    // seed-expansion selection over the ε-graph. Same 5 unrolled rounds
    // and 6dp rounding discipline as pagerank.
    "ppr_scores" -> ((s, dir) => {
      val edges = epsEdges(s, dir)
      val verts = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
      Traversals.personalizedPageRank(edges,
          verts.where(col("id") % PprSeedMod === 0),
          iters = PrIters, damping = PrDamping)
        .select(col("id"), round(col("pr"), 6).as("pr"))
        .orderBy("id")
    }),

    // Boruvka minimum spanning forest of the ε-pair graph — the
    // single-linkage dendrogram backbone (HDBSCAN's skeleton) next to
    // DBSCAN's flat labeling, weights = exact centi-L1. The oracle
    // recomputes every output column independently: n_vertices via
    // recursive-CTE CC, n_edges as the forest invariant size−1, min_w
    // as the component's global lightest edge (cut property: ALWAYS in
    // the MSF). Edge-weight exactness is pinned by MstSpec against a
    // local Kruskal.
    "mst_forest" -> ((s, dir) => {
      val f = sharedMst(s, dir)
      val nv = f.labels.groupBy("comp")
        .agg(count(lit(1)).as("n_vertices"))
      val fe = f.edges.groupBy("comp")
        .agg(count(lit(1)).as("n_edges"), min("w").as("min_w"))
      nv.join(fe, "comp")
        .select(col("comp").as("component"), col("n_vertices"),
          col("n_edges"), col("min_w"))
        .orderBy("component")
    }),

    // Single-linkage flat clustering (the dendrogram cut the MSF exists
    // for, Campello et al. PAKDD'13; DBSCAN.py:161-172 is the ε-cut
    // special case): clusters at threshold t are the components of
    // forest edges with w ≤ t, which by the MST minimax-path property
    // equal the components of the FULL ε-pair graph thresholded at t —
    // so the cut walks V−1 forest edges instead of the pair set. Both
    // cuts run in ONE batched union-CC fixpoint via vertex-id
    // namespacing (the dbscan_sweep trick); labels are min member ids,
    // vertices isolated at the cut label themselves. The oracle
    // recomputes each cut's labels from the raw pair graph by
    // recursive CTE — forest vs pair-graph equivalence is therefore
    // oracle-checked, not assumed (and spec-pinned in MstSpec).
    "single_linkage" -> ((s, dir) => {
      val f = sharedMst(s, dir)
      val cuts = Seq(SlCutLo, SlCutHi)
      val off = f.labels.agg(max("id")).head().getLong(0) + 1
      val cutLit = array(cuts.map(lit(_)): _*)
      val edges = f.edges
        .select(col("a"), col("b"), col("w"),
          posexplode(cutLit).as(Seq("ci", "cut")))
        .where(col("w") <= col("cut"))
        .select((col("ci") * off + col("a")).as("src"),
          (col("ci") * off + col("b")).as("dst"))
      val comp = ConnectedComponents.run(edges)
        .select((col("id") % off).as("id"),
          expr(s"CAST(id DIV ${off}L AS INT)").as("ci"),
          (col("component") % off).as("component"))
      val verts = f.labels.select(col("id"),
        explode(sequence(lit(0), lit(cuts.length - 1))).as("ci"))
      verts.join(comp, Seq("ci", "id"), "left")
        .groupBy("id")
        .agg(
          max(when(col("ci") === 0,
            coalesce(col("component"), col("id")))).as("c_lo"),
          max(when(col("ci") === 1,
            coalesce(col("component"), col("id")))).as("c_hi"))
        .orderBy("id")
    }),

    // HDBSCAN-style cluster stability over the cut sweep (Campello et
    // al. PAKDD'13's excess-of-mass, discretized to the StabilityCuts
    // grid and kept in exact integers): a cluster is a min-id-labeled
    // component of the thresholded forest; its label persists while it
    // absorbs larger-min-id clusters and dies when a smaller-min-id one
    // absorbs it, so per label the sweep yields how many cuts it lived
    // (n_cuts), where it was born (birth_cut), and Σ sizes over its
    // lifetime (sum_sizes — the integer stability mass; max_size its
    // final extent). Singletons don't score, as in HDBSCAN. One batched
    // union-CC over 8 × (V−1) forest edges — the sweep never touches
    // the pair set.
    "hdbscan_stability" -> ((s, dir) => {
      val cutLit = array(StabilityCuts.map(lit(_)): _*)
      val sizes = sharedStabComp(s, dir).groupBy("ci", "component")
        .agg(count(lit(1)).as("n"))
      sizes.groupBy(col("component").as("cluster"))
        .agg(count(lit(1)).as("n_cuts"),
          min(element_at(cutLit, col("ci") + 1)).as("birth_cut"),
          sum("n").as("sum_sizes"),
          max("n").as("max_size"))
        .orderBy("cluster")
    }),

    // HDBSCAN flat-cluster extraction (FOSC, Campello et al. PAKDD'13
    // §4) — the final step the stability sweep exists for: pick the
    // non-overlapping cluster set maximizing total stability and answer
    // "which cluster is each point in" (DBSCAN.py:172-179 is the
    // single-cut special case; FoscSpec pins that degenerate
    // equivalence). The condensed tree is read off the SAME memoized
    // cut-sweep component table as hdbscan_stability: labels are min
    // member ids, so point x belongs to cluster x for its whole life and
    // the absorbing label at x's death cut IS the tree parent — one
    // per-label window over the label rows, no new graph work. The
    // stability table and parent edges are O(#clusters) driver rows
    // (bounded in Fosc.select); the selection DP runs on the driver; the
    // flat labeling is one broadcast semi-join of the per-cut memberships
    // against the selected antichain — every point gets its unique
    // selected ancestor (antichain ∩ root path ≤ 1) or noise.
    "hdbscan_extract" -> ((s, dir) =>
      foscExtract(s, sharedStabComp(s, dir), pts(s, dir).select(col("id")))),

    // The same extraction over the MUTUAL-REACHABILITY sweep — true
    // HDBSCAN end to end (core distances → mreach MSF → stability sweep
    // → FOSC flat labels): non-core points never enter the mreach graph,
    // so they label noise exactly as HDBSCAN's density model prescribes.
    "mreach_extract" -> ((s, dir) =>
      foscExtract(s, sharedMreachComp(s, dir), pts(s, dir).select(col("id")))),

    // GLOSH outlier scores (Campello et al., TKDD 2015 §6 — hdbscan's
    // outlier_scores_), discretized to the same memoized cut sweep and
    // kept in exact integers: a point's density is 1/attach_cut (the
    // first cut where it joins any component = its leaf cluster), the
    // cluster's peak density is 1/dense_cut (the earliest attach cut
    // over the leaf label's subtree members — points ever labeled y are
    // exactly y's subtree by the min-id merge rule), and
    // score = 1 − λ(p)/λ_max(C) = 1 − dense_cut/attach_cut as ppm via
    // floor division. Points isolated at every cut score the 1e6
    // maximum with attach_cut −1. Plan: per-point min/first windows and
    // one per-label min over the V-bounded sweep table — no new graph
    // work, everything keyed.
    "hdbscan_outliers" -> ((s, dir) => {
      val comp = sharedStabComp(s, dir)
      val cutLit = array(StabilityCuts.map(lit(_)): _*)
      val wp = Window.partitionBy("id").orderBy("ci")
      val attach = comp.groupBy("id").agg(min("ci").as("aci"))
      val leaf = comp.withColumn("rk", row_number().over(wp))
        .where(col("rk") === 1).select(col("id"), col("component").as("leaf"))
      val minAtt = comp.join(attach, "id")
        .groupBy(col("component").as("leaf")).agg(min("aci").as("mci"))
      val scored = leaf.join(attach, "id").join(minAtt, "leaf")
        .select(col("id"),
          element_at(cutLit, col("aci") + 1).as("attach_cut"),
          element_at(cutLit, col("mci") + 1).as("dense_cut"))
        .select(col("id"), col("attach_cut"),
          (lit(1000000L) -
            expr("(1000000 * dense_cut) div attach_cut")).as("score_ppm"))
      pts(s, dir).select(col("id"))
        .join(scored, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("attach_cut"), lit(-1L)).as("attach_cut"),
          coalesce(col("score_ppm"), lit(1000000L)).as("score_ppm"))
        .orderBy("id")
    }),

    // Deterministic DeepWalk/node2vec corpus generation: from every
    // id % RwSeedMod == 0 vertex, RwSteps hops where the "random" next
    // hop is the poly_hash argmin out-edge (hash keyed by position, dst
    // AND step, so revisits re-draw) — the graph-embedding training-
    // corpus op, bit-reproducible across engines so the full walk set is
    // under the value oracle. Border vertices (no out-edges) stay put.
    "rand_walks" -> ((s, dir) => {
      val edges = epsEdges(s, dir)
      val verts = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
      Traversals.deterministicWalks(edges,
          verts.where(col("id") % RwSeedMod === 0), steps = RwSteps)
        .orderBy("walk", "step")
    }),

    // Synchronous label propagation (3 fixed rounds, most-frequent
    // neighbor label, ties to the smallest): deterministic community
    // detection, pure integer counting — no float in the whole gate.
    "lpa_communities" -> ((s, dir) => {
      sharedLpa(s, dir).orderBy("id")
    }),

    // Newman modularity (Newman & Girvan 2004) of the LPA communities,
    // kept in EXACT integers: with two_m = |sym| (directed edge count),
    // each community contributes q_num = two_m·e2 − dsum² where e2
    // counts its directed intra-community edges and dsum its degree sum;
    // Q = Σ q_num / two_m² — the partition-quality score community
    // detection is tuned by, emitted as per-community integer rows so
    // the float never exists. Tiny-key aggregations over the labeled
    // edge list; every shuffle keyed, the global edge count a 1-row
    // broadcast.
    "modularity" -> ((s, dir) => {
      val sym = Traversals.symmetrize(epsEdges(s, dir))
      val lab = sharedLpa(s, dir).select(col("id"), col("label"))
      val m2df = sym.agg(count(lit(1)).as("two_m"))
      val intra = sym
        .join(lab.select(col("id").as("src"), col("label").as("lab_s")), "src")
        .join(lab.select(col("id").as("dst"), col("label").as("lab_d")), "dst")
        .where(col("lab_s") === col("lab_d"))
        .groupBy(col("lab_s").as("label")).agg(count(lit(1)).as("e2"))
      val deg = sym.groupBy("src").agg(count(lit(1)).as("d"))
        .join(lab.select(col("id").as("src"), col("label")), "src")
        .groupBy("label").agg(count(lit(1)).as("n_nodes"), sum("d").as("dsum"))
      deg.join(intra, Seq("label"), "left")
        .crossJoin(broadcast(m2df))
        .select(col("label"), col("n_nodes"),
          coalesce(col("e2"), lit(0L)).as("e2"), col("dsum"),
          (col("two_m") * coalesce(col("e2"), lit(0L))
            - col("dsum") * col("dsum")).as("q_num"),
          col("two_m"))
        .orderBy("label")
    }),

    // k-core peeling, 6 fixed rounds at k=4: the degree-pruned backbone
    // of the ε-graph. Round-bounded contract (chains peel one link per
    // round); the oracle unrolls the same 6 peels.
    "kcore" -> ((s, dir) => {
      Traversals.kCore(epsEdges(s, dir), k = KCoreK, rounds = KCoreRounds)
        .orderBy("id")
    }),

    // Link prediction on the ε-graph: top non-adjacent distance-2 pairs
    // by (common neighbors, resource-allocation ppm) — both exact
    // integers, so the cut is deterministic under the full
    // (cn desc, ra_ppm desc, id) tiebreak and TakeOrdered keeps the
    // top-N parallel. Oracle = the same wedge enumeration in SQL.
    "link_predict" -> ((s, dir) => {
      Traversals.linkPredict(epsEdges(s, dir))
        .orderBy(col("cn").desc, col("ra_ppm").desc, col("id_a"),
          col("id_b"))
        .limit(LinkTopN)
    }),

    // Eigenvector centrality (power iteration, EigenIters rounds) on the
    // ε-graph: the walk-count iteration is pure Long arithmetic (x_k(v) =
    // k-walks ending at v), so the only float in the gate is the final
    // max-normalization — a single IEEE division both engines replay
    // bit-equally, then 6dp. Completes the centrality family next to
    // degree/pagerank/ppr with a measure that weighs neighbors by their
    // own centrality instead of splitting mass.
    "eigencentrality" -> ((s, dir) => {
      Traversals.eigenCentrality(epsEdges(s, dir), iters = EigenIters)
        .select(col("id"), col("walks"), round(col("score"), 6).as("score"))
        .orderBy("id")
    }),

    // Local clustering coefficient (Watts-Strogatz) per ε-graph vertex:
    // triangle density around each point — the transitivity signal next
    // to the global triangles/modularity gates. Exact integer ppm
    // (2000000·tri div deg·(deg−1)), so no float exists anywhere.
    "clustering_coeff" -> ((s, dir) => {
      Traversals.clusteringCoeff(epsEdges(s, dir)).orderBy("id")
    }),

    // HITS hubs/authorities on the DIRECTED core→neighbor ε-graph —
    // the one centrality here that uses the orientation (cores emit,
    // neighbors receive): exact integer alternating-walk counts, floats
    // only in the two final max-normalizations, like eigencentrality.
    "hits_scores" -> ((s, dir) => {
      Traversals.hits(epsEdges(s, dir), iters = HitsIters)
        .select(col("id"), col("auth_walks"), col("hub_walks"),
          round(col("auth_score"), 6).as("auth_score"),
          round(col("hub_score"), 6).as("hub_score"))
        .orderBy("id")
    }),

    // HDBSCAN core distance per point (k-th-NN distance, k = minPts,
    // within the ε-ball) — the density radius mutual-reachability and
    // density-based outlier scores are built from. One ε-ball-bounded
    // rank window over the memoized pair set; exact centi-L1.
    "core_distance" -> ((s, dir) => {
      coreDistances(s, dir).orderBy("id")
    }),

    // The HDBSCAN minimum spanning forest proper: Boruvka over
    // MUTUAL-REACHABILITY weights max(core(a), core(b), d(a,b)) —
    // mst_forest's metric-space sibling (Campello et al. PAKDD'13 §3).
    // Same tie-invariant per-component outputs as mst_forest: size via
    // CC of the restricted graph, edge count as the tree invariant,
    // min_w as the component's lightest mutual-reachability edge (cut
    // property). The oracle recomputes core distances, the restricted
    // graph, AND the components from scratch.
    "mreach_mst" -> ((s, dir) => {
      val f = sharedMreach(s, dir)
      val nv = f.labels.groupBy("comp")
        .agg(count(lit(1)).as("n_vertices"))
      val fe = f.edges.groupBy("comp")
        .agg(count(lit(1)).as("n_edges"), min("w").as("min_w"))
      nv.join(fe, "comp")
        .select(col("comp").as("component"), col("n_vertices"),
          col("n_edges"), col("min_w"))
        .orderBy("component")
    }),

    // HDBSCAN stability over the MUTUAL-REACHABILITY dendrogram — the
    // pipeline endpoint (core → mreach MSF → excess-of-mass sweep,
    // Campello et al. PAKDD'13 end to end): same 8-cut batched union-CC
    // as hdbscan_stability but over the mreach forest, whose cuts are
    // the algorithm's real λ levels. One fixpoint over 8 × (V−1)
    // namespaced forest edges; the oracle recomputes every cut's labels
    // from the raw mutual-reachability graph, so the forest-cut
    // equivalence is oracle-checked here too.
    "mreach_stability" -> ((s, dir) => {
      val cutLit = array(StabilityCuts.map(lit(_)): _*)
      val sizes = sharedMreachComp(s, dir).groupBy("ci", "component")
        .agg(count(lit(1)).as("n"))
      sizes.groupBy(col("component").as("cluster"))
        .agg(count(lit(1)).as("n_cuts"),
          min(element_at(cutLit, col("ci") + 1)).as("birth_cut"),
          sum("n").as("sum_sizes"),
          max("n").as("max_size"))
        .orderBy("cluster")
    }),

    // k-NN density-ratio outlier score (the LOF-shaped filter training
    // corpora run before clustering, kept integer-exact: LOF proper
    // averages reciprocal reachability densities — floats — while the
    // ratio of mean neighbor core distance to own core distance is the
    // same signal as exact ppm): > 1e6 means the point sits in a
    // sparser region than its neighbors. Neighbors without a core
    // distance (non-core points) don't score, matching HDBSCAN's
    // density model; ties at distance 0 (duplicate-valued points) make
    // core_c = 0 → NULL, never a division error.
    "density_outliers" -> ((s, dir) => {
      val core = coreDistances(s, dir)
      val knn = knnCenti(s, dir).select(col("id"), col("nbr"))
      knn.join(core.select(col("id").as("nbr"),
          col("core_c").as("nbr_core")), Seq("nbr"))
        .groupBy("id")
        .agg(count(lit(1)).as("n_scored"),
          sum("nbr_core").as("sum_nbr_core"))
        .join(core, Seq("id"))
        .select(col("id"), col("core_c"), col("n_scored"),
          when(col("core_c") > 0,
            expr("(1000000 * sum_nbr_core) div (n_scored * core_c)"))
            .as("dens_ratio_ppm"))
        .orderBy("id")
    }),

    // Seed-sampled stress centrality (Shimbel 1953; σ recursion from
    // Brandes 2001) — the betweenness-family member that stays in EXACT
    // integers: stress(v) = Σ_{s<t seeds} σ_st(v), the number of
    // seed-pair shortest paths THROUGH v, computed as σ_sv·σ_vt summed
    // over seed pairs with d_sv + d_vt = d_st (radius-bounded, like
    // harmonic_centrality's estimator — exact betweenness needs the
    // rational σ_sv·σ_vt/σ_st dependency accumulation, whose division
    // no cross-engine hash survives; stress is its integer sibling).
    // One σ-BFS fixpoint (state (seed, id, hops, sigma)), one id-keyed
    // self-join of the σ table, and a broadcast-sized seed-pair
    // distance table. Oracle: three σ layers unrolled + the same join.
    "stress_centrality" -> ((s, dir) => {
      val e = epsEdges(s, dir)
      val nonSelf = e.where(col("src") =!= col("dst"))
      val verts = nonSelf.select(col("src").as("id"))
        .union(nonSelf.select(col("dst").as("id"))).distinct()
      val sig = Traversals.seededSigma(e,
        verts.where(col("id") % StressSeedMod === 0),
        maxHops = StressRadius)
      val a = sig.select(col("seed").as("s"), col("id"),
        col("hops").as("d1"), col("sigma").as("g1"))
      val b = sig.select(col("seed").as("t"), col("id"),
        col("hops").as("d2"), col("sigma").as("g2"))
      val mid = a.join(b, Seq("id")).where(col("s") < col("t"))
      val sp = sig
        .where(col("id") % StressSeedMod === 0 && col("seed") < col("id"))
        .select(col("seed").as("s"), col("id").as("t"),
          col("hops").as("dst_d"))
      mid.join(broadcast(sp), Seq("s", "t"))
        .where(col("d1") + col("d2") === col("dst_d") &&
          col("id") =!= col("s") && col("id") =!= col("t"))
        .groupBy("id")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("g1") * col("g2")).as("stress"))
        .orderBy("id")
    }),

    // Round-bounded k-truss peel (Cohen 2008) on the ε-graph: edges whose
    // triangle support within the surviving set stays ≥ k−2 — the
    // cohesive backbone one notch stronger than kcore (every truss edge
    // sits in k−2 triangles of the truss). Each round is one
    // degree-ordered triangle enumeration + an edge-keyed support count;
    // the edge set only shrinks. Oracle: the same two peels unrolled.
    "ktruss" -> ((s, dir) => {
      Traversals.kTruss(epsEdges(s, dir), k = KTrussK, rounds = KTrussRounds)
        .orderBy("a", "b")
    }))

  /** One sweep leg as a self-contained derived table: the dbscan_errors
    * pipeline at a given ε plus the eps column and the sweep's -1
    * noise-infinity sentinel. */
  private def sweepLegSql(e: Double): String =
    s"""(WITH RECURSIVE
       |${sqlGraphFor(e)},
       |$sqlCc,
       |cents AS (SELECT l.component, avg(p.x0) AS c0, avg(p.x1) AS c1
       |  FROM labels l JOIN pts p ON l.id = p.id
       |  WHERE l.component IS NOT NULL GROUP BY l.component),
       |cerr AS (SELECT coalesce(sum(abs(p.x0-c.c0)+abs(p.x1-c.c1)), 0)
       |    AS cluster_error
       |  FROM labels l JOIN pts p ON l.id = p.id
       |  JOIN cents c ON l.component = c.component),
       |nerr AS (SELECT coalesce(sum(md), 0) AS noise_error FROM (
       |  SELECT min(abs(p.x0-c.c0)+abs(p.x1-c.c1)) AS md
       |  FROM labels l JOIN pts p ON l.id = p.id, cents c
       |  WHERE l.component IS NULL GROUP BY l.id))
       |SELECT CAST($e AS DOUBLE) AS eps,
       |  (SELECT count(*) FROM cents) AS n_clusters,
       |  (SELECT count(*) FROM labels WHERE component IS NULL) AS n_noise,
       |  round((SELECT cluster_error FROM cerr), 2) AS cluster_error,
       |  CASE WHEN (SELECT count(*) FROM cents) = 0
       |         AND (SELECT count(*) FROM labels
       |              WHERE component IS NULL) > 0
       |       THEN -1.0
       |       ELSE round((SELECT noise_error FROM nerr), 2)
       |  END AS noise_error)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // The seeded-iterative fits can't be replayed by DuckDB, but their
    // contracts can: the oracle recomputes n_assigned from the table
    // itself (conservation is cross-checked, not echoed back) and pins
    // the k-anonymity / liveness invariants the fit guarantees.
    "kmeans_constrained" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_assigned,
        |  CAST(1 AS INT) AS n_clusters_le_max,
        |  CAST(1 AS INT) AS deficits_le_1 FROM part""".stripMargin,
    "kmeans_sweep" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_assigned,
        |  CAST(1 AS INT) AS n_clusters_le_max,
        |  CAST(1 AS INT) AS deficits_le_1 FROM part""".stripMargin,
    "mllib_kmeans" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_assigned,
        |  CAST(8 AS BIGINT) AS n_clusters,
        |  CAST(1 AS INT) AS labels_valid FROM part""".stripMargin,
    // pruned-exact argmin over the deterministic 1024-centroid grid —
    // identical contract to kmeans_assign's oracle; the grid is
    // generated from the same integer formulas on both sides so the
    // doubles are bit-equal
    "assign_pruned" ->
      """WITH pts AS (SELECT p_partkey AS id, CAST(p_size AS DOUBLE) AS x0,
        |    p_retailprice AS x1 FROM part),
        |cents AS (SELECT CAST(j AS BIGINT) AS cluster,
        |    CAST(j % 32 AS DOUBLE) * 2 AS c0,
        |    900.0 + CAST(j // 32 AS DOUBLE) * 4 AS c1
        |  FROM range(0, 1024) t(j)),
        |asg AS (SELECT p.id, c.cluster,
        |    abs(p.x0 - c.c0) + abs(p.x1 - c.c1) AS d,
        |    row_number() OVER (PARTITION BY p.id
        |      ORDER BY abs(p.x0 - c.c0) + abs(p.x1 - c.c1), c.cluster)
        |      AS rn
        |  FROM pts p CROSS JOIN cents c)
        |SELECT cluster, count(*) AS n_members, round(sum(d), 2) AS cost
        |FROM asg WHERE rn = 1 GROUP BY cluster ORDER BY cluster""".stripMargin,
    // identical argmin contract through the distributed probe join
    "assign_joined" ->
      """WITH pts AS (SELECT p_partkey AS id, CAST(p_size AS DOUBLE) AS x0,
        |    p_retailprice AS x1 FROM part),
        |cents AS (SELECT CAST(j AS BIGINT) AS cluster,
        |    CAST(j % 32 AS DOUBLE) * 2 AS c0,
        |    900.0 + CAST(j // 32 AS DOUBLE) * 4 AS c1
        |  FROM range(0, 1024) t(j)),
        |asg AS (SELECT p.id, c.cluster,
        |    abs(p.x0 - c.c0) + abs(p.x1 - c.c1) AS d,
        |    row_number() OVER (PARTITION BY p.id
        |      ORDER BY abs(p.x0 - c.c0) + abs(p.x1 - c.c1), c.cluster)
        |      AS rn
        |  FROM pts p CROSS JOIN cents c)
        |SELECT cluster, count(*) AS n_members, round(sum(d), 2) AS cost
        |FROM asg WHERE rn = 1 GROUP BY cluster ORDER BY cluster""".stripMargin,
    // assignment = argmin L1 distance, ties to the lowest cluster id —
    // the row_number tiebreak mirrors the kernel's (d, cluster) order;
    // the distance expression is written in the kernel's summation order
    // so the doubles are bit-equal
    "kmeans_assign" ->
      s"""WITH pts AS (SELECT p_partkey AS id, CAST(p_size AS DOUBLE) AS x0,
         |    p_retailprice AS x1 FROM part),
         |$sqlFrozenCents,
         |asg AS (SELECT p.id, c.cluster,
         |    abs(p.x0 - c.c0) + abs(p.x1 - c.c1) AS d,
         |    row_number() OVER (PARTITION BY p.id
         |      ORDER BY abs(p.x0 - c.c0) + abs(p.x1 - c.c1), c.cluster)
         |      AS rn
         |  FROM pts p CROSS JOIN cents0 c)
         |SELECT cluster, count(*) AS n_members, round(sum(d), 2) AS cost
         |FROM asg WHERE rn = 1 GROUP BY cluster ORDER BY cluster""".stripMargin,
    // Model.transform over the frozen matrix = the assignment kernel —
    // same oracle as kmeans_assign
    "ml_kmeans_model" ->
      s"""WITH pts AS (SELECT p_partkey AS id, CAST(p_size AS DOUBLE) AS x0,
         |    p_retailprice AS x1 FROM part),
         |$sqlFrozenCents,
         |asg AS (SELECT p.id, c.cluster,
         |    abs(p.x0 - c.c0) + abs(p.x1 - c.c1) AS d,
         |    row_number() OVER (PARTITION BY p.id
         |      ORDER BY abs(p.x0 - c.c0) + abs(p.x1 - c.c1), c.cluster)
         |      AS rn
         |  FROM pts p CROSS JOIN cents0 c)
         |SELECT cluster, count(*) AS n_members, round(sum(d), 2) AS cost
         |FROM asg WHERE rn = 1 GROUP BY cluster ORDER BY cluster""".stripMargin,
    // E1's whole sweep, value-checked: one derived-table leg per ε,
    // UNION ALL'd — upgraded from rows-only once the per-ε pipeline SQL
    // existed for dbscan_errors
    "dbscan_sweep" -> Seq(0.5, 2.0).map(sweepLegSql)
      .mkString("SELECT * FROM ", "\nUNION ALL\nSELECT * FROM ",
        "\nORDER BY eps"),
    "cc_components" ->
      s"""WITH RECURSIVE
         |$sqlGraph,
         |$sqlCc
         |SELECT id, component FROM comp ORDER BY id""".stripMargin,
    "cc_graphx" ->
      s"""WITH RECURSIVE
         |$sqlGraph,
         |$sqlCc
         |SELECT id, component FROM comp ORDER BY id""".stripMargin,
    "dbscan_labels" ->
      s"""WITH RECURSIVE
         |$sqlGraph,
         |$sqlCc
         |SELECT id, component, component IS NULL AS is_noise
         |FROM labels ORDER BY id""".stripMargin,
    // the Pipeline surface must reproduce the engine's labels exactly —
    // same oracle as dbscan_labels
    "ml_pipeline" ->
      s"""WITH RECURSIVE
         |$sqlGraph,
         |$sqlCc
         |SELECT id, component, component IS NULL AS is_noise
         |FROM labels ORDER BY id""".stripMargin,
    "dbscan_errors" ->
      s"""WITH RECURSIVE
         |$sqlGraph,
         |$sqlCc,
         |cents AS (SELECT l.component, avg(p.x0) AS c0, avg(p.x1) AS c1,
         |    count(*) AS n
         |  FROM labels l JOIN pts p ON l.id = p.id
         |  WHERE l.component IS NOT NULL GROUP BY l.component),
         |cerr AS (SELECT coalesce(sum(abs(p.x0-c.c0)+abs(p.x1-c.c1)), 0)
         |    AS cluster_error
         |  FROM labels l JOIN pts p ON l.id = p.id
         |  JOIN cents c ON l.component = c.component),
         |nerr AS (SELECT coalesce(sum(md), 0) AS noise_error FROM (
         |  SELECT min(abs(p.x0-c.c0)+abs(p.x1-c.c1)) AS md
         |  FROM labels l JOIN pts p ON l.id = p.id, cents c
         |  WHERE l.component IS NULL GROUP BY l.id))
         |SELECT (SELECT count(*) FROM cents) AS n_clusters,
         |  (SELECT count(*) FROM labels WHERE component IS NULL) AS n_noise,
         |  round((SELECT cluster_error FROM cerr), 2) AS cluster_error,
         |  CASE WHEN (SELECT count(*) FROM cents) = 0
         |         AND (SELECT count(*) FROM labels
         |              WHERE component IS NULL) > 0
         |       THEN -1.0
         |       ELSE round((SELECT noise_error FROM nerr), 2)
         |  END AS noise_error""".stripMargin,
    "dbscan_anonymize" ->
      s"""WITH RECURSIVE
         |$sqlGraph,
         |$sqlCc,
         |cents AS (SELECT l.component, avg(p.x0) AS c0, avg(p.x1) AS c1
         |  FROM labels l JOIN pts p ON l.id = p.id
         |  WHERE l.component IS NOT NULL GROUP BY l.component),
         |members AS (SELECT l.id, l.component,
         |    round(c.c0, 4) AS an_x0, round(c.c1, 4) AS an_x1
         |  FROM labels l JOIN cents c ON l.component = c.component),
         |nn AS (SELECT l.id, c.component,
         |    round(c.c0, 4) AS an_x0, round(c.c1, 4) AS an_x1,
         |    row_number() OVER (PARTITION BY l.id
         |      ORDER BY abs(p.x0 - c.c0) + abs(p.x1 - c.c1), c.component)
         |      AS rn
         |  FROM labels l JOIN pts p ON l.id = p.id, cents c
         |  WHERE l.component IS NULL)
         |SELECT id, component, an_x0, an_x1 FROM members
         |UNION ALL
         |SELECT id, NULL AS component, an_x0, an_x1 FROM nn WHERE rn = 1
         |ORDER BY id""".stripMargin,
    // the privacy audits recompute the published table from first
    // principles (same CTE skeleton as dbscan_anonymize), then group by
    // the published centroid pair and read the sensitive distribution
    "l_diversity" ->
      s"""WITH RECURSIVE
         |$sqlGraph,
         |$sqlCc,
         |$sqlAnonPub
         |SELECT an_x0, an_x1, CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(DISTINCT sv) AS BIGINT) AS l_distinct
         |FROM pub GROUP BY an_x0, an_x1 ORDER BY an_x0, an_x1""".stripMargin,
    // exact total-variation EMD: per-(class, value) counts against the
    // |classes|×|values| grid, products in HUGEINT (Spark decimal(38,0)),
    // floor-div ppm on all-nonnegative numerators
    "t_closeness" ->
      s"""WITH RECURSIVE
         |$sqlGraph,
         |$sqlCc,
         |$sqlAnonPub,
         |cls AS (SELECT an_x0, an_x1, sv, CAST(count(*) AS BIGINT) AS c
         |  FROM pub GROUP BY an_x0, an_x1, sv),
         |szs AS (SELECT an_x0, an_x1, CAST(count(*) AS BIGINT) AS n_c
         |  FROM pub GROUP BY an_x0, an_x1),
         |gdist AS (SELECT sv, CAST(count(*) AS BIGINT) AS g FROM pub
         |  GROUP BY sv),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM pub),
         |grid AS (SELECT s.an_x0, s.an_x1, s.n_c, gl.sv, gl.g,
         |    coalesce(c.c, 0) AS c
         |  FROM szs s CROSS JOIN gdist gl
         |  LEFT JOIN cls c ON c.an_x0 = s.an_x0 AND c.an_x1 = s.an_x1
         |    AND c.sv = gl.sv),
         |num AS (SELECT an_x0, an_x1, max(n_c) AS n_c, max(t.nn) AS nn,
         |    sum(abs(CAST(c AS HUGEINT) * t.nn - CAST(g AS HUGEINT) * n_c))
         |      AS t_num
         |  FROM grid, tot t GROUP BY an_x0, an_x1)
         |SELECT an_x0, an_x1, CAST(n_c AS BIGINT) AS n,
         |  CAST((t_num * 1000000) // (2 * CAST(n_c AS HUGEINT) * nn)
         |    AS BIGINT) AS t_ppm
         |FROM num ORDER BY an_x0, an_x1""".stripMargin,
    // reproduces the JSON sink's content (pt + anonymizing centroid per
    // point, reference output/combine.json) and the k-means parquet's row
    // count, aggregated — the round-trip is lossless (shortest-roundtrip
    // double repr), so the sums equal the pipeline's own
    "sink_roundtrip" ->
      s"""WITH RECURSIVE
         |$sqlGraph,
         |$sqlCc,
         |cents AS (SELECT l.component, avg(p.x0) AS c0, avg(p.x1) AS c1
         |  FROM labels l JOIN pts p ON l.id = p.id
         |  WHERE l.component IS NOT NULL GROUP BY l.component),
         |members AS (SELECT c.c0 FROM labels l
         |  JOIN cents c ON l.component = c.component),
         |nn AS (SELECT l.id, c.c0,
         |    row_number() OVER (PARTITION BY l.id
         |      ORDER BY abs(p.x0 - c.c0) + abs(p.x1 - c.c1), c.component)
         |      AS rn
         |  FROM labels l JOIN pts p ON l.id = p.id, cents c
         |  WHERE l.component IS NULL),
         |an AS (SELECT c0 FROM members
         |  UNION ALL SELECT c0 FROM nn WHERE rn = 1)
         |SELECT (SELECT count(*) FROM pts) AS n_json,
         |  round((SELECT sum(x0) FROM pts), 2) AS sum_pt_x0,
         |  round((SELECT sum(c0) FROM an), 2) AS sum_an_x0,
         |  (SELECT count(*) FROM pts) AS n_kmeans""".stripMargin,
    "scc_components" ->
      s"""WITH RECURSIVE
         |$sqlGraph,
         |everts AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM edges UNION SELECT dst FROM edges)),
         |reach(a, b) AS (
         |  SELECT id, id FROM everts
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
         |scc AS (SELECT r1.a AS id, min(r1.b) AS component
         |  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
         |  GROUP BY r1.a)
         |SELECT id, component FROM scc ORDER BY id""".stripMargin,
    // distinct non-loop directed edges; reciprocated iff the reversed
    // pair exists
    "reciprocity" ->
      s"""WITH
         |$sqlGraph,
         |de AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM de),
         |r AS (SELECT CAST(count(*) AS BIGINT) AS n_recip FROM de a
         |  WHERE EXISTS (SELECT 1 FROM de b
         |    WHERE b.src = a.dst AND b.dst = a.src))
         |SELECT n_edges, n_recip,
         |  CAST(CASE WHEN n_edges > 0
         |    THEN (1000000 * n_recip) // n_edges ELSE 0 END AS BIGINT)
         |    AS recip_ppm
         |FROM t, r""".stripMargin,
    // per-(seed, id) shortest hops via the same recursive walk, then
    // Σ 1000000 // hops over hops >= 1
    "harmonic_centrality" ->
      s"""WITH RECURSIVE
         |$sqlGraph,
         |sym AS (SELECT src, dst FROM edges WHERE src <> dst
         |        UNION SELECT dst, src FROM edges WHERE src <> dst),
         |seeds AS (SELECT src AS id FROM sym GROUP BY src
         |          HAVING min(dst) > src
         |          ORDER BY src LIMIT $HarmonicSeeds),
         |walk(seed, id, hops) AS (
         |  SELECT id, id, 0 FROM seeds
         |  UNION
         |  SELECT w.seed, s.dst, w.hops + 1 FROM walk w
         |  JOIN sym s ON s.src = w.id
         |  WHERE w.hops < $HarmonicRadius),
         |d AS (SELECT seed, id, min(hops) AS hops FROM walk
         |  GROUP BY seed, id)
         |SELECT id, CAST(count(*) AS BIGINT) AS n_seeds_reached,
         |  CAST(sum(1000000 // hops) AS BIGINT) AS h_ppm
         |FROM d WHERE hops > 0 GROUP BY id ORDER BY id""".stripMargin,
    "bfs_hops" ->
      s"""WITH RECURSIVE
         |$sqlGraph,
         |sym AS (SELECT src, dst FROM edges WHERE src <> dst
         |        UNION SELECT dst, src FROM edges WHERE src <> dst),
         |seeds AS (SELECT src AS id FROM sym GROUP BY src
         |          HAVING min(dst) > src),
         |walk(id, hops) AS (
         |  SELECT id, 0 FROM seeds
         |  UNION
         |  SELECT s.dst, w.hops + 1 FROM walk w JOIN sym s ON s.src = w.id
         |  WHERE w.hops < $BfsMaxHops)
         |SELECT id, CAST(min(hops) AS INT) AS hops FROM walk
         |GROUP BY id ORDER BY id""".stripMargin,
    "triangles" ->
      s"""WITH
         |$sqlGraph,
         |ce AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |       FROM edges WHERE src <> dst),
         |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |  FROM ce e1 JOIN ce e2 ON e2.a = e1.b
         |  JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b),
         |pv AS (SELECT id, count(*) AS n_tri FROM
         |  (SELECT unnest([u, v, w]) AS id FROM tri) GROUP BY id),
         |verts AS (SELECT a AS id FROM ce UNION SELECT b FROM ce)
         |SELECT v.id, CAST(coalesce(pv.n_tri, 0) AS BIGINT) AS n_tri
         |FROM verts v LEFT JOIN pv USING (id) ORDER BY v.id""".stripMargin,
    "pagerank" -> sqlPagerank,
    "ppr_scores" -> sqlPpr,
    "lpa_communities" -> sqlLpa,
    "modularity" -> sqlModularity,
    "kcore" -> sqlKcore,
    "eigencentrality" -> sqlEigen,
    "hits_scores" -> sqlHits,
    // the hdbscan_stability sweep recomputed from the raw
    // mutual-reachability graph (sqlMreach + one CC leg per cut)
    "mreach_stability" ->
      s"""WITH RECURSIVE
         |$sqlMreach,
         |${StabilityCuts.zipWithIndex.map { case (t, i) =>
               slLeg(i, t, rel = "mr") }.mkString(",\n")},
         |${StabilityCuts.zipWithIndex.map { case (t, i) =>
               s"size$i AS (SELECT comp, count(*) AS n, $t AS cut FROM comp$i GROUP BY comp)"
             }.mkString(",\n")},
         |allsz AS (${StabilityCuts.indices
             .map(i => s"SELECT * FROM size$i").mkString(" UNION ALL ")})
         |SELECT comp AS cluster, CAST(count(*) AS BIGINT) AS n_cuts,
         |  CAST(min(cut) AS BIGINT) AS birth_cut,
         |  CAST(sum(n) AS BIGINT) AS sum_sizes,
         |  CAST(max(n) AS BIGINT) AS max_size
         |FROM allsz GROUP BY comp ORDER BY cluster""".stripMargin,
    // k-NN list + core table from the same rank window; NULL (never a
    // divide error) on zero core distance
    "density_outliers" ->
      s"""WITH $sqlMreach,
         |knn AS (SELECT src AS id, dst AS nbr FROM rkc
         |        WHERE rk <= $minPts),
         |sc AS (SELECT k.id, count(*) AS n_scored,
         |    CAST(sum(c.core_c) AS BIGINT) AS sum_nbr_core
         |  FROM knn k JOIN corec c ON c.id = k.nbr GROUP BY k.id)
         |SELECT s.id, c.core_c, CAST(s.n_scored AS BIGINT) AS n_scored,
         |  CAST(CASE WHEN c.core_c = 0 THEN NULL
         |    ELSE (1000000 * s.sum_nbr_core) // (s.n_scored * c.core_c)
         |    END AS BIGINT) AS dens_ratio_ppm
         |FROM sc s JOIN corec c USING (id) ORDER BY s.id""".stripMargin,
    // the k-th-NN rank window over the both-directions ε-ball; distances
    // are exact centi multiples, so the double order and the centi-long
    // order agree
    "core_distance" ->
      s"""WITH pts AS (SELECT p_partkey AS id, CAST(p_size AS DOUBLE) AS x0,
         |  p_retailprice AS x1 FROM part),
         |nbrall AS (SELECT a.id AS src, b.id AS dst,
         |    CAST(round((abs(a.x0-b.x0)+abs(a.x1-b.x1)) * 100) AS BIGINT)
         |      AS w
         |  FROM pts a, pts b
         |  WHERE a.id <> b.id AND abs(a.x0-b.x0)+abs(a.x1-b.x1) < $eps),
         |rk AS (SELECT src, w, row_number() OVER (
         |    PARTITION BY src ORDER BY w, dst) AS rk FROM nbrall)
         |SELECT src AS id, w AS core_c FROM rk WHERE rk = $minPts
         |ORDER BY id""".stripMargin,
    // core distances, the mutual-reachability graph, and the components
    // all recomputed from scratch; the invariants are tie-independent of
    // which MSF boruvka picked (size via CC, edge count = size − 1,
    // min_w by the cut property)
    "mreach_mst" ->
      s"""WITH RECURSIVE
         |pts AS (SELECT p_partkey AS id, CAST(p_size AS DOUBLE) AS x0,
         |  p_retailprice AS x1 FROM part),
         |nbrall AS (SELECT a.id AS src, b.id AS dst,
         |    CAST(round((abs(a.x0-b.x0)+abs(a.x1-b.x1)) * 100) AS BIGINT)
         |      AS w
         |  FROM pts a, pts b
         |  WHERE a.id <> b.id AND abs(a.x0-b.x0)+abs(a.x1-b.x1) < $eps),
         |rk AS (SELECT src, dst, w, row_number() OVER (
         |    PARTITION BY src ORDER BY w, dst) AS rk FROM nbrall),
         |core AS (SELECT src AS id, w AS core_c FROM rk
         |         WHERE rk = $minPts),
         |g AS (SELECT n.src, n.dst, greatest(n.w, ca.core_c, cb.core_c)
         |    AS w
         |  FROM nbrall n
         |  JOIN core ca ON ca.id = n.src
         |  JOIN core cb ON cb.id = n.dst
         |  WHERE n.src < n.dst),
         |sym AS (SELECT src, dst FROM g UNION SELECT dst, src FROM g),
         |verts AS (SELECT DISTINCT src AS id FROM sym),
         |walk(id, reach) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT s.dst, w.reach FROM walk w JOIN sym s ON s.src = w.id),
         |comp AS (SELECT id, min(reach) AS comp FROM walk GROUP BY id),
         |sizes AS (SELECT comp, count(*) AS n FROM comp GROUP BY comp),
         |minw AS (SELECT c.comp, min(gg.w) AS min_w
         |  FROM g gg JOIN comp c ON c.id = gg.src GROUP BY c.comp)
         |SELECT s.comp AS component, CAST(s.n AS BIGINT) AS n_vertices,
         |  CAST(s.n - 1 AS BIGINT) AS n_edges, m.min_w
         |FROM sizes s JOIN minw m ON m.comp = s.comp
         |ORDER BY component""".stripMargin,
    // three σ layers unrolled (layer d = neighbor-sum of layer d−1,
    // NOT EXISTS against shallower layers = the BFS predecessor
    // property), then the same middle join as the Spark side
    "stress_centrality" ->
      s"""WITH
         |$sqlGraph,
         |sym AS (SELECT src, dst FROM edges WHERE src <> dst
         |        UNION SELECT dst, src FROM edges WHERE src <> dst),
         |verts AS (SELECT DISTINCT src AS id FROM sym),
         |g0 AS (SELECT id AS seed, id, 0 AS hops, CAST(1 AS BIGINT) AS sigma
         |       FROM verts WHERE id % $StressSeedMod = 0),
         |g1 AS (SELECT f.seed, e.dst AS id, 1 AS hops,
         |    CAST(sum(f.sigma) AS BIGINT) AS sigma
         |  FROM g0 f JOIN sym e ON e.src = f.id
         |  WHERE NOT EXISTS (SELECT 1 FROM g0 p
         |    WHERE p.seed = f.seed AND p.id = e.dst)
         |  GROUP BY f.seed, e.dst),
         |g2 AS (SELECT f.seed, e.dst AS id, 2 AS hops,
         |    CAST(sum(f.sigma) AS BIGINT) AS sigma
         |  FROM g1 f JOIN sym e ON e.src = f.id
         |  WHERE NOT EXISTS (SELECT 1 FROM g0 p
         |      WHERE p.seed = f.seed AND p.id = e.dst)
         |    AND NOT EXISTS (SELECT 1 FROM g1 p
         |      WHERE p.seed = f.seed AND p.id = e.dst)
         |  GROUP BY f.seed, e.dst),
         |g3 AS (SELECT f.seed, e.dst AS id, 3 AS hops,
         |    CAST(sum(f.sigma) AS BIGINT) AS sigma
         |  FROM g2 f JOIN sym e ON e.src = f.id
         |  WHERE NOT EXISTS (SELECT 1 FROM g0 p
         |      WHERE p.seed = f.seed AND p.id = e.dst)
         |    AND NOT EXISTS (SELECT 1 FROM g1 p
         |      WHERE p.seed = f.seed AND p.id = e.dst)
         |    AND NOT EXISTS (SELECT 1 FROM g2 p
         |      WHERE p.seed = f.seed AND p.id = e.dst)
         |  GROUP BY f.seed, e.dst),
         |sg AS (SELECT * FROM g0 UNION ALL SELECT * FROM g1
         |       UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3),
         |sp AS (SELECT seed AS s, id AS t, hops AS dst_d FROM sg
         |       WHERE id % $StressSeedMod = 0 AND seed < id)
         |SELECT a.id,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(a.sigma * b.sigma) AS BIGINT) AS stress
         |FROM sg a
         |JOIN sg b ON b.id = a.id AND a.seed < b.seed
         |JOIN sp ON sp.s = a.seed AND sp.t = b.seed
         |  AND a.hops + b.hops = sp.dst_d
         |WHERE a.id <> a.seed AND a.id <> b.seed
         |GROUP BY a.id ORDER BY a.id""".stripMargin,
    // two peels unrolled; u<v<w in the a<b edge set, so the three side
    // pairs are already canonical
    "ktruss" ->
      s"""WITH
         |$sqlGraph,
         |ce0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |        FROM edges WHERE src <> dst),
         |t1 AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |  FROM ce0 e1 JOIN ce0 e2 ON e2.a = e1.b
         |  JOIN ce0 e3 ON e3.a = e1.a AND e3.b = e2.b),
         |s1 AS (SELECT a, b, count(*) AS sup FROM (
         |    SELECT u AS a, v AS b FROM t1
         |    UNION ALL SELECT u AS a, w AS b FROM t1
         |    UNION ALL SELECT v AS a, w AS b FROM t1) GROUP BY a, b),
         |ce1 AS (SELECT a, b FROM s1 WHERE sup >= ${KTrussK - 2}),
         |t2 AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |  FROM ce1 e1 JOIN ce1 e2 ON e2.a = e1.b
         |  JOIN ce1 e3 ON e3.a = e1.a AND e3.b = e2.b),
         |s2 AS (SELECT a, b, count(*) AS sup FROM (
         |    SELECT u AS a, v AS b FROM t2
         |    UNION ALL SELECT u AS a, w AS b FROM t2
         |    UNION ALL SELECT v AS a, w AS b FROM t2) GROUP BY a, b)
         |SELECT a, b, sup FROM s2 WHERE sup >= ${KTrussK - 2}
         |ORDER BY a, b""".stripMargin,
    "rand_walks" -> sqlRandWalks,
    // forest structure from first principles: sizes via recursive CC
    // over the a<b pair graph, edge count as the tree invariant, min_w
    // as the component's lightest edge (the cut property guarantees the
    // MSF contains it)
    "mst_forest" ->
      s"""WITH RECURSIVE
         |pts AS (SELECT p_partkey AS id, CAST(p_size AS DOUBLE) AS x0,
         |  p_retailprice AS x1 FROM part),
         |nbr AS (SELECT a.id AS src, b.id AS dst,
         |    CAST(round((abs(a.x0-b.x0)+abs(a.x1-b.x1)) * 100) AS BIGINT)
         |      AS w
         |  FROM pts a, pts b
         |  WHERE a.id < b.id AND abs(a.x0-b.x0)+abs(a.x1-b.x1) < $eps),
         |sym AS (SELECT src, dst FROM nbr UNION SELECT dst, src FROM nbr),
         |verts AS (SELECT DISTINCT src AS id FROM sym),
         |walk(id, reach) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT s.dst, w.reach FROM walk w JOIN sym s ON s.src = w.id),
         |comp AS (SELECT id, min(reach) AS comp FROM walk GROUP BY id),
         |sizes AS (SELECT comp, count(*) AS n FROM comp GROUP BY comp),
         |minw AS (SELECT c.comp, min(n.w) AS min_w
         |  FROM nbr n JOIN comp c ON c.id = n.src GROUP BY c.comp)
         |SELECT s.comp AS component, CAST(s.n AS BIGINT) AS n_vertices,
         |  CAST(s.n - 1 AS BIGINT) AS n_edges, m.min_w
         |FROM sizes s JOIN minw m ON m.comp = s.comp
         |ORDER BY component""".stripMargin,
    // both cuts recomputed from the RAW pair graph (not the forest), so
    // the MSF minimax-path equivalence the Spark side relies on is
    // itself under the oracle
    "single_linkage" ->
      s"""WITH RECURSIVE
         |$sqlNbrW,
         |${slLeg(0, SlCutLo)},
         |${slLeg(1, SlCutHi)},
         |verts AS (SELECT DISTINCT src AS id FROM
         |  (SELECT src FROM nbr UNION SELECT dst AS src FROM nbr))
         |SELECT v.id, coalesce(c0.comp, v.id) AS c_lo,
         |  coalesce(c1.comp, v.id) AS c_hi
         |FROM verts v LEFT JOIN comp0 c0 USING (id)
         |LEFT JOIN comp1 c1 USING (id)
         |ORDER BY id""".stripMargin,
    "hdbscan_stability" ->
      s"""WITH RECURSIVE
         |$sqlNbrW,
         |${StabilityCuts.zipWithIndex.map { case (t, i) => slLeg(i, t) }
             .mkString(",\n")},
         |${StabilityCuts.zipWithIndex.map { case (t, i) =>
               s"size$i AS (SELECT comp, count(*) AS n, $t AS cut FROM comp$i GROUP BY comp)"
             }.mkString(",\n")},
         |allsz AS (${StabilityCuts.indices
             .map(i => s"SELECT * FROM size$i").mkString(" UNION ALL ")})
         |SELECT comp AS cluster, CAST(count(*) AS BIGINT) AS n_cuts,
         |  CAST(min(cut) AS BIGINT) AS birth_cut,
         |  CAST(sum(n) AS BIGINT) AS sum_sizes,
         |  CAST(max(n) AS BIGINT) AS max_size
         |FROM allsz GROUP BY comp ORDER BY cluster""".stripMargin,
    // the FOSC extraction recomputed from first principles: per-cut CC
    // legs over the RAW pair graph, the condensed tree from each label's
    // first absorbed row, then the bottom-up stability DP UNROLLED by
    // death-cut index (along any root path death cuts strictly increase,
    // so tree height ≤ |cuts| and pass k can read every child's value
    // from pass k−1's accumulation) — same ≥-selects-the-parent tie rule
    // as Fosc.select, all in exact integers
    // driver-side DP on the Spark side, chained-CTE DP here - both read
    // the same condensed tree, so the flat labels are hash-exact
    "hdbscan_extract" -> sqlFosc(sqlNbrW, "nbr"),
    // true HDBSCAN: the same extraction over the mutual-reachability
    // relation (non-core points are absent from mr, hence noise)
    "mreach_extract" -> sqlFosc(sqlMreach, "mr"),
    // GLOSH from first principles: attach cut per point (min ci of its
    // sweep rows), leaf label (first row by ci), subtree peak density
    // (min attach over members ever carrying the leaf label), same
    // floor-div ppm as the Spark side
    "hdbscan_outliers" ->
      s"""WITH RECURSIVE
         |$sqlNbrW,
         |${StabilityCuts.zipWithIndex.map { case (t, i) => slLeg(i, t) }
             .mkString(",\n")},
         |allc AS MATERIALIZED (${StabilityCuts.indices
             .map(i => s"SELECT $i AS ci, id, comp FROM comp$i")
             .mkString(" UNION ALL ")}),
         |cutv(ci, cut) AS (VALUES ${StabilityCuts.zipWithIndex
             .map { case (t, i) => s"($i, $t)" }.mkString(", ")}),
         |att AS (SELECT id, min(ci) AS aci FROM allc GROUP BY id),
         |fl AS (SELECT id, comp AS leaf FROM (
         |    SELECT id, comp, row_number() OVER (PARTITION BY id
         |      ORDER BY ci) AS rk FROM allc) WHERE rk = 1),
         |ma AS (SELECT a.comp AS leaf, min(t.aci) AS mci
         |  FROM allc a JOIN att t ON t.id = a.id GROUP BY a.comp),
         |sc AS (SELECT f.id, ca.cut AS attach_cut,
         |    1000000 - (1000000 * cm.cut) // ca.cut AS score_ppm
         |  FROM fl f JOIN att t ON t.id = f.id
         |  JOIN ma m ON m.leaf = f.leaf
         |  JOIN cutv ca ON ca.ci = t.aci
         |  JOIN cutv cm ON cm.ci = m.mci)
         |SELECT p.id, CAST(coalesce(s.attach_cut, -1) AS BIGINT)
         |    AS attach_cut,
         |  CAST(coalesce(s.score_ppm, 1000000) AS BIGINT) AS score_ppm
         |FROM pts p LEFT JOIN sc s ON s.id = p.id
         |ORDER BY p.id""".stripMargin,
    // same degree-agg + triangle enumeration as the triangles oracle,
    // coefficient as exact integer ppm via // (0 when deg < 2)
    "clustering_coeff" ->
      s"""WITH
         |$sqlGraph,
         |ce AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |       FROM edges WHERE src <> dst),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM
         |  (SELECT a AS id FROM ce UNION ALL SELECT b FROM ce) GROUP BY id),
         |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |  FROM ce e1 JOIN ce e2 ON e2.a = e1.b
         |  JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b),
         |pv AS (SELECT id, count(*) AS n_tri FROM
         |  (SELECT unnest([u, v, w]) AS id FROM tri) GROUP BY id)
         |SELECT d.id, d.deg,
         |  CAST(coalesce(pv.n_tri, 0) AS BIGINT) AS n_tri,
         |  CAST(CASE WHEN d.deg < 2 THEN 0
         |    ELSE (2000000 * coalesce(pv.n_tri, 0)) // (d.deg * (d.deg - 1))
         |    END AS BIGINT) AS coeff_ppm
         |FROM deg d LEFT JOIN pv USING (id) ORDER BY d.id""".stripMargin,
    // wedge enumeration per center with ordered tips, pair aggregation,
    // anti-join against the edge set — RA summed as exact integer ppm
    // (1000000 // deg), so the top-N cut can't be flipped by float order
    "link_predict" ->
      s"""WITH
         |$sqlGraph,
         |ce AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |       FROM edges WHERE src <> dst),
         |sym AS (SELECT a AS id, b AS nbr FROM ce
         |  UNION ALL SELECT b, a FROM ce),
         |deg AS (SELECT id, count(*) AS deg FROM sym GROUP BY id),
         |wed AS (SELECT s1.nbr AS a, s2.nbr AS b, d.deg
         |  FROM sym s1 JOIN sym s2 ON s1.id = s2.id AND s1.nbr < s2.nbr
         |  JOIN deg d ON d.id = s1.id),
         |sc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cn,
         |    CAST(sum(1000000 // deg) AS BIGINT) AS ra_ppm
         |  FROM wed GROUP BY a, b),
         |nonadj AS (SELECT sc.a, sc.b, sc.cn, sc.ra_ppm FROM sc
         |  LEFT JOIN ce ON sc.a = ce.a AND sc.b = ce.b
         |  WHERE ce.a IS NULL)
         |SELECT a AS id_a, b AS id_b, cn, ra_ppm FROM nonadj
         |ORDER BY cn DESC, ra_ppm DESC, id_a, id_b LIMIT $LinkTopN""".stripMargin)

  /** Label propagation unrolled to LpaIters legs — neighbor-label
    * delivery, (vertex, label) count, argmax by (count desc, label asc)
    * per round. Integer-exact; MATERIALIZED for the same reason as
    * [[sqlPagerank]]. */
  /** The LPA CTE body (sym view + l0 + unrolled legs) shared by the
    * lpa_communities and modularity oracles. */
  private def sqlLpaLegs: String = {
    val legs = (1 to LpaIters).map(t =>
      s"""m$t AS (SELECT s.dst AS id, l.lab FROM sym s
         |  JOIN l${t - 1} l ON l.id = s.src),
         |c$t AS (SELECT id, lab, count(*) AS cnt FROM m$t GROUP BY id, lab),
         |l$t AS MATERIALIZED (SELECT id, lab FROM (
         |    SELECT id, lab, row_number() OVER (PARTITION BY id
         |      ORDER BY cnt DESC, lab) AS rn FROM c$t)
         |  WHERE rn = 1)""".stripMargin).mkString(",\n")
    s"""sym AS MATERIALIZED (SELECT src, dst FROM edges WHERE src <> dst
       |  UNION SELECT dst, src FROM edges WHERE src <> dst),
       |l0 AS (SELECT DISTINCT src AS id, src AS lab FROM sym),
       |$legs""".stripMargin
  }

  private def sqlLpa: String =
    s"""WITH
       |$sqlGraph,
       |$sqlLpaLegs
       |SELECT id, lab AS label FROM l$LpaIters ORDER BY id""".stripMargin

  /** Integer modularity over the LPA partition — same legs, then
    * per-community directed-intra-edge and degree-sum aggregates. */
  private def sqlModularity: String =
    s"""WITH
       |$sqlGraph,
       |$sqlLpaLegs,
       |lab AS (SELECT id, lab FROM l$LpaIters),
       |gm AS (SELECT count(*) AS two_m FROM sym),
       |intra AS (SELECT ls.lab AS label, count(*) AS e2
       |  FROM sym s JOIN lab ls ON s.src = ls.id
       |  JOIN lab ld ON s.dst = ld.id
       |  WHERE ls.lab = ld.lab GROUP BY 1),
       |deg AS (SELECT l.lab AS label, count(*) AS n_nodes,
       |    sum(dd.d) AS dsum
       |  FROM (SELECT src, count(*) AS d FROM sym GROUP BY src) dd
       |  JOIN lab l ON dd.src = l.id GROUP BY 1)
       |SELECT d.label, CAST(d.n_nodes AS BIGINT) AS n_nodes,
       |  CAST(coalesce(i.e2, 0) AS BIGINT) AS e2,
       |  CAST(d.dsum AS BIGINT) AS dsum,
       |  CAST(gm.two_m * coalesce(i.e2, 0) - d.dsum * d.dsum AS BIGINT)
       |    AS q_num,
       |  CAST(gm.two_m AS BIGINT) AS two_m
       |FROM deg d LEFT JOIN intra i ON d.label = i.label, gm
       |ORDER BY d.label""".stripMargin

  /** k-core peeling unrolled to KCoreRounds legs — degree filter + two
    * endpoint semi-restrictions per round. */
  private def sqlKcore: String = {
    val legs = (1 to KCoreRounds).map(t =>
      s"""k$t AS (SELECT src AS id FROM e${t - 1} GROUP BY src
         |  HAVING count(*) >= $KCoreK),
         |e$t AS MATERIALIZED (SELECT e.src, e.dst FROM e${t - 1} e
         |  JOIN k$t a ON e.src = a.id JOIN k$t b ON e.dst = b.id)""".stripMargin)
      .mkString(",\n")
    s"""WITH
       |$sqlGraph,
       |e0 AS MATERIALIZED (SELECT src, dst FROM edges WHERE src <> dst
       |  UNION SELECT dst, src FROM edges WHERE src <> dst),
       |$legs
       |SELECT src AS id, count(*) AS deg FROM e$KCoreRounds
       |GROUP BY src ORDER BY id""".stripMargin
  }

  /** Eigencentrality unrolled to EigenIters integer walk-count legs —
    * one neighbor-sum per round, then the single max-normalization. */
  private def sqlEigen: String = {
    val legs = (1 to EigenIters).map(t =>
      s"""x$t AS MATERIALIZED (SELECT s.dst AS id, sum(x.w) AS w
         |  FROM sym s JOIN x${t - 1} x ON x.id = s.src
         |  GROUP BY s.dst)""".stripMargin).mkString(",\n")
    s"""WITH
       |$sqlGraph,
       |sym AS MATERIALIZED (SELECT src, dst FROM edges WHERE src <> dst
       |  UNION SELECT dst, src FROM edges WHERE src <> dst),
       |x0 AS (SELECT DISTINCT src AS id, CAST(1 AS BIGINT) AS w FROM sym),
       |$legs,
       |mx AS (SELECT max(w) AS m FROM x$EigenIters)
       |SELECT id, CAST(w AS BIGINT) AS walks,
       |  round(CAST(w AS DOUBLE) / CAST(m AS DOUBLE), 6) AS score
       |FROM x$EigenIters, mx ORDER BY id""".stripMargin
  }

  /** HITS unrolled to HitsIters (a ← Aᵀh, h ← A·a) legs over the DIRECTED
    * edge list — sink/source vertices kept via LEFT JOIN coalesce 0,
    * exactly like the engine's vertex-keyed left joins; floats only in
    * the two final max-normalizations. */
  private def sqlHits: String = {
    val legs = (1 to HitsIters).map(t =>
      s"""a$t AS (SELECT v.id, CAST(coalesce(s.w, 0) AS BIGINT) AS aw
         |  FROM verts v LEFT JOIN (
         |    SELECT e.dst AS id, sum(h.hw) AS w FROM e0 e
         |    JOIN h${t - 1} h ON h.id = e.src GROUP BY e.dst) s USING (id)),
         |h$t AS (SELECT v.id, CAST(coalesce(s.w, 0) AS BIGINT) AS hw
         |  FROM verts v LEFT JOIN (
         |    SELECT e.src AS id, sum(a.aw) AS w FROM e0 e
         |    JOIN a$t a ON a.id = e.dst GROUP BY e.src) s USING (id))""".stripMargin)
      .mkString(",\n")
    s"""WITH
       |$sqlGraph,
       |e0 AS MATERIALIZED (SELECT src, dst FROM edges WHERE src <> dst),
       |verts AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
       |h0 AS (SELECT id, CAST(1 AS BIGINT) AS hw FROM verts),
       |$legs,
       |m AS (SELECT (SELECT max(aw) FROM a$HitsIters) AS ma,
       |  (SELECT max(hw) FROM h$HitsIters) AS mh)
       |SELECT a.id, a.aw AS auth_walks, h.hw AS hub_walks,
       |  round(CAST(a.aw AS DOUBLE) / CAST(m.ma AS DOUBLE), 6) AS auth_score,
       |  round(CAST(h.hw AS DOUBLE) / CAST(m.mh AS DOUBLE), 6) AS hub_score
       |FROM a$HitsIters a JOIN h$HitsIters h USING (id), m
       |ORDER BY a.id""".stripMargin
  }

  /** The hash-argmin walk unrolled to RwSteps legs — candidate out-edges
    * with the PolyHash draw, per-walk argmin by (h, dst), stay-put via
    * LEFT JOIN coalesce; hash input mirrors the engine's
    * concat_ws(":", id, dst, step) byte for byte. */
  private def sqlRandWalks: String = {
    def h(t: Int) = TextQueries.sqlPolyHash(
      s"CAST(w.id AS VARCHAR) || ':' || CAST(e.dst AS VARCHAR) || ':$t'")
    val legs = (1 to RwSteps).map(t =>
      s"""c$t AS (SELECT w.walk, e.dst, ${h(t)} AS h
         |  FROM w${t - 1} w JOIN ce e ON e.src = w.id),
         |p$t AS (SELECT walk, dst FROM (SELECT walk, dst,
         |    row_number() OVER (PARTITION BY walk ORDER BY h, dst) AS rn
         |  FROM c$t) WHERE rn = 1),
         |w$t AS MATERIALIZED (SELECT w.walk, coalesce(p.dst, w.id) AS id
         |  FROM w${t - 1} w LEFT JOIN p$t p ON p.walk = w.walk)""".stripMargin)
      .mkString(",\n")
    val union = (1 to RwSteps)
      .map(t => s"UNION ALL SELECT walk, $t AS step, id FROM w$t")
      .mkString("\n  ")
    s"""WITH
       |$sqlGraph,
       |ce AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges
       |  WHERE src <> dst),
       |verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |w0 AS MATERIALIZED (SELECT id AS walk, id FROM verts
       |  WHERE id % $RwSeedMod = 0),
       |$legs
       |SELECT walk, step, id FROM (
       |  SELECT walk, 0 AS step, id FROM w0
       |  $union
       |) ORDER BY walk, step""".stripMargin
  }

  /** The PageRank power iteration unrolled to PrIters explicit legs —
    * contribution sum, dangling mass, rank update per round, mirroring
    * [[graft.graph.Traversals.pageRank]]'s arithmetic term for term.
    * MATERIALIZED pins DuckDB's default CTE inlining: without it every
    * leg re-evaluates the cartesian ε-join prologue (measured 18.7 s →
    * 0.15 s at sf0.01). */
  private def sqlPagerank: String = {
    val d = PrDamping
    val legs = (1 to PrIters).map(t =>
      s"""c$t AS (SELECT e.dst AS id, sum(p.r / o.c) AS contrib
         |  FROM ce e JOIN r${t - 1} p ON p.id = e.src
         |  JOIN outdeg o ON o.src = e.src
         |  GROUP BY e.dst),
         |dg$t AS (SELECT coalesce(sum(r), 0) AS dm FROM r${t - 1} dd
         |  WHERE NOT EXISTS (SELECT 1 FROM outdeg o WHERE o.src = dd.id)),
         |r$t AS MATERIALIZED (SELECT v.id,
         |    (1.0 - $d) / (SELECT n FROM nn) + $d * (coalesce(c.contrib, 0)
         |      + (SELECT dm FROM dg$t) / (SELECT n FROM nn)) AS r
         |  FROM verts v LEFT JOIN c$t c ON c.id = v.id)""".stripMargin)
      .mkString(",\n")
    s"""WITH
       |$sqlGraph,
       |ce AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges
       |  WHERE src <> dst),
       |verts AS MATERIALIZED (SELECT src AS id FROM ce
       |  UNION SELECT dst FROM ce),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM verts),
       |outdeg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS c
       |  FROM ce GROUP BY src),
       |r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS r FROM verts),
       |$legs
       |SELECT id, round(r, 6) AS pr FROM r$PrIters ORDER BY id""".stripMargin
  }

  /** [[sqlPagerank]] with the teleport restricted to the seed set —
    * seed flag on the vertex CTE, (1−d)/|S| and the dangling restart
    * CASE-gated exactly as the engine's flag column is. */
  private def sqlPpr: String = {
    val d = PrDamping
    val legs = (1 to PrIters).map(t =>
      s"""c$t AS (SELECT e.dst AS id, sum(p.r / o.c) AS contrib
         |  FROM ce e JOIN r${t - 1} p ON p.id = e.src
         |  JOIN outdeg o ON o.src = e.src
         |  GROUP BY e.dst),
         |dg$t AS (SELECT coalesce(sum(r), 0) AS dm FROM r${t - 1} dd
         |  WHERE NOT EXISTS (SELECT 1 FROM outdeg o WHERE o.src = dd.id)),
         |r$t AS MATERIALIZED (SELECT v.id,
         |    (CASE WHEN v.s = 1 THEN (1.0 - $d) / (SELECT n FROM ns)
         |      ELSE 0.0 END)
         |    + $d * (coalesce(c.contrib, 0)
         |      + CASE WHEN v.s = 1
         |          THEN (SELECT dm FROM dg$t) / (SELECT n FROM ns)
         |          ELSE 0.0 END) AS r
         |  FROM sverts v LEFT JOIN c$t c ON c.id = v.id)""".stripMargin)
      .mkString(",\n")
    s"""WITH
       |$sqlGraph,
       |ce AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges
       |  WHERE src <> dst),
       |verts AS MATERIALIZED (SELECT src AS id FROM ce
       |  UNION SELECT dst FROM ce),
       |sverts AS MATERIALIZED (SELECT id,
       |  CASE WHEN id % $PprSeedMod = 0 THEN 1 ELSE 0 END AS s FROM verts),
       |ns AS MATERIALIZED (SELECT count(*) AS n FROM sverts WHERE s = 1),
       |outdeg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS c
       |  FROM ce GROUP BY src),
       |r0 AS (SELECT id, CASE WHEN s = 1 THEN 1.0 / (SELECT n FROM ns)
       |    ELSE 0.0 END AS r FROM sverts),
       |$legs
       |SELECT id, round(r, 6) AS pr FROM r$PrIters ORDER BY id""".stripMargin
  }
}
