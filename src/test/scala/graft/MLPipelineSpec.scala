package graft

import graft.ml.{GraftDbscan, GraftDbscanModel, GraftKMeans, GraftKMeansModel}
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins for the spark.ml Estimator/Model surface: the wrappers must be
  * THIN (fit ≡ the engine's own fit, label for label), transform must
  * keep the fitted labels exactly and fall back to the engine's
  * nearest-centroid rule only for unseen ids, and the whole PipelineModel
  * must survive MLWritable save/load.
  */
class MLPipelineSpec extends GraftSuite {
  import spark.implicits._

  private val Eps = 2.0
  private val MinPts = 4

  private def points: DataFrame =
    graft.core.Tables.table(spark, sf0001, "part")
      .select(col("p_partkey").as("id"),
        col("p_size").cast("double").as("x0"),
        col("p_retailprice").cast("double").as("x1"))

  private def assembled: DataFrame =
    new VectorAssembler().setInputCols(Array("x0", "x1"))
      .setOutputCol("features").transform(points)

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.resolve("model").toString
  }

  test("GraftDbscan.fit == Dbscan.run, label for label") {
    val viaMl = new GraftDbscan().setIdCol("id").setFeaturesCol("features")
      .setEps(Eps).setMinPts(MinPts)
      .fit(assembled)
    val engine = graft.dbscan.Dbscan.run(
      points.select(col("id"),
        graft.functions.Distances.pack(col("x0"), col("x1")).as("qi")),
      "id", "qi", Eps, MinPts, MinPts)
    val got = viaMl.transform(assembled)
      .select(col("id"), col("prediction")).as[(Long, Option[Long])]
      .collect().toMap
    val want = engine.assignments.select(col("id"), col("component"))
      .as[(Long, Option[Long])].collect().toMap
    assert(got == want, "pipeline labels diverge from the engine's")
    assert(viaMl.nClusters == engine.nClusters &&
      viaMl.nNoise == engine.nNoise)
    engine.unpersist(); viaMl.release()
  }

  test("unseen ids get the engine's nearest-centroid rule; noise stays null") {
    val model = new GraftDbscan().setIdCol("id").setFeaturesCol("features")
      .setEps(Eps).setMinPts(MinPts).fit(assembled)
    assert(model.nNoise > 0, "no noise points — fallback test is vacuous")
    // an unseen id at an existing point's coordinates must land in that
    // point's cluster when the point is a cluster member
    val member = model.transform(assembled)
      .where(col("prediction").isNotNull)
      .select("x0", "x1", "prediction").head()
    val unseen = Seq((9999999L, member.getDouble(0), member.getDouble(1)))
      .toDF("id", "x0", "x1")
    val out = model.transform(
      new VectorAssembler().setInputCols(Array("x0", "x1"))
        .setOutputCol("features").transform(unseen))
      .select("prediction").as[Option[Long]].head()
    assert(out.contains(member.getLong(2)),
      s"unseen copy of a member got $out, member has ${member.getLong(2)}")
    // fitted noise ids keep their null label (NOT nearest-centroid)
    val noiseNulls = model.transform(assembled)
      .join(model.assignments.where(col("component").isNull).select("id"), "id")
      .where(col("prediction").isNotNull).count()
    assert(noiseNulls == 0, "a fitted noise row was re-labeled by fallback")
    model.release()
  }

  test("GraftKMeans.fit == ConstrainedKMeans.fit on fitted ids") {
    val viaMl = new GraftKMeans().setIdCol("id").setFeaturesCol("features")
      .setK(8).setKAnon(4).setSeed(7L).setMaxLloyd(5)
      .fit(assembled)
    val engine = graft.kmeans.ConstrainedKMeans.fit(
      points.select(col("id"),
        graft.functions.Distances.pack(col("x0"), col("x1")).as("qi")),
      "id", "qi", 8, 4, 7L, maxLloyd = 5)
    val got = viaMl.transform(assembled)
      .select(col("id"), col("prediction")).as[(Long, Int)].collect().toMap
    val want = engine.assignment.select(col("id"), col("cluster"))
      .as[(Long, Int)].collect().toMap
    assert(got == want, "pipeline clusters diverge from the engine's")
    assert(viaMl.cost == engine.cost && viaMl.lloydIters == engine.lloydIters)
    engine.unpersist(); viaMl.release()
  }

  test("models round-trip through MLWritable save/load") {
    val dm = new GraftDbscan().setIdCol("id").setFeaturesCol("features")
      .setPredictionCol("component").setEps(Eps).setMinPts(MinPts)
      .fit(assembled)
    val dPath = tmpDir("graft-dbscan-model")
    dm.write.overwrite().save(dPath)
    val dm2 = GraftDbscanModel.load(dPath)
    assert(dm2.uid == dm.uid && dm2.getPredictionCol == "component" &&
      dm2.nClusters == dm.nClusters && dm2.nNoise == dm.nNoise &&
      dm2.centroids.map(_._1) == dm.centroids.map(_._1))
    val before = dm.transform(assembled)
      .select("id", "component").as[(Long, Option[Long])].collect().toSet
    val after = dm2.transform(assembled)
      .select("id", "component").as[(Long, Option[Long])].collect().toSet
    assert(after == before, "loaded dbscan model transforms differently")
    dm.release()

    val km = new GraftKMeansModel("frozen",
      IndexedSeq(0 -> Array(10.0, 900.0), 1 -> Array(40.0, 920.0)))
      .setIdCol("id").setFeaturesCol("features")
    val kPath = tmpDir("graft-kmeans-model")
    km.write.overwrite().save(kPath)
    val km2 = GraftKMeansModel.load(kPath)
    assert(km2.uid == "frozen" && km2.assignmentOpt.isEmpty &&
      km2.centroids.map(_._2.toSeq) == km.centroids.map(_._2.toSeq))
    val b2 = km.transform(assembled).select("id", "prediction")
      .as[(Long, Int)].collect().toSet
    val a2 = km2.transform(assembled).select("id", "prediction")
      .as[(Long, Int)].collect().toSet
    assert(a2 == b2, "loaded kmeans model transforms differently")
  }

  test("a whole PipelineModel with a graft stage saves and loads") {
    val pipe = new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(Array("x0", "x1"))
        .setOutputCol("features"),
      new GraftDbscan().setIdCol("id").setFeaturesCol("features")
        .setPredictionCol("component").setEps(Eps).setMinPts(MinPts)))
    val pm = pipe.fit(points)
    val path = tmpDir("graft-pipeline-model")
    pm.write.overwrite().save(path)
    val pm2 = PipelineModel.load(path)
    assert(pm2.stages.length == 2 &&
      pm2.stages(1).isInstanceOf[GraftDbscanModel])
    val before = pm.transform(points)
      .select("id", "component").as[(Long, Option[Long])].collect().toSet
    val after = pm2.transform(points)
      .select("id", "component").as[(Long, Option[Long])].collect().toSet
    assert(after == before, "loaded PipelineModel transforms differently")
    pm.stages(1).asInstanceOf[GraftDbscanModel].release()
    // the unfitted Pipeline (estimator stages) round-trips too
    val ePath = tmpDir("graft-pipeline")
    pipe.write.overwrite().save(ePath)
    val pipe2 = Pipeline.load(ePath)
    val st = pipe2.getStages(1).asInstanceOf[GraftDbscan]
    assert(st.getOrDefault(st.eps) == Eps &&
      st.getOrDefault(st.minPts) == MinPts)
  }

  test("dbscan transform: pruned argmin == exhaustive nearest_centroids scan") {
    // transform scores unfitted rows with the triangle-inequality-pruned
    // exact argmin; an exhaustive nearest_centroids scan over the same
    // matrix (ties → lowest component id) is the oracle, and the plan
    // must hold NO rows x k join
    val model = new GraftDbscan().setIdCol("id").setFeaturesCol("features")
      .setEps(Eps).setMinPts(MinPts).fit(assembled)
    assert(model.centroids.nonEmpty)
    val qi = assembled.withColumn("qi",
      graft.functions.Distances.pack(col("x0"), col("x1")))
    val comps = model.centroids.map(_._1)
    val exhaustive = qi.withColumn("nc", element_at(
        graft.functions.VecKernels.nearest_centroids(col("qi"),
          model.centroids.indices.map(i => i -> model.centroids(i)._2), 1,
          cosine = false), 1))
      .select("id", "nc.cluster").as[(Long, Int)].collect()
      .map { case (id, i) => id -> comps(i) }.toMap
    val fitted = model.assignments.select("id", "component")
      .as[(Long, Option[Long])].collect().toMap
    val out = model.transform(assembled)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pruned path still materializes rows x k:\n$plan")
    assert(plan.contains("pruned_nearest"), "pruned kernel not in the plan")
    val labels = out.select("id", "prediction").as[(Long, Option[Long])]
      .collect().toMap
    // fitted ids keep their DBSCAN label; only unfitted ids are argmin'd
    assert(labels == fitted, "transform changed a fitted id's label")
    // unseen rows: the pruned argmin agrees with the exhaustive scan
    val unseen = assembled.select(col("x0"), col("x1"))
      .withColumn("id", monotonically_increasing_id() + 9000000L)
    val viaPruned = model.transform(
      new VectorAssembler().setInputCols(Array("x0", "x1"))
        .setOutputCol("features").transform(unseen))
      .select("x0", "x1", "prediction").as[(Double, Double, Option[Long])]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val byPoint = assembled.select("id", "x0", "x1").as[(Long, Double, Double)]
      .collect().map(r => (r._2, r._3) -> Option(exhaustive(r._1))).toMap
    assert(viaPruned == byPoint, "pruned argmin diverged from the exhaustive scan")
    model.release()
  }

  test("feature column coercion: vector, array<double>, array<float> agree") {
    val km = new GraftKMeansModel("frozen",
      IndexedSeq(0 -> Array(10.0, 900.0), 1 -> Array(40.0, 920.0)))
      .setIdCol("id").setFeaturesCol("features")
    val viaVec = km.transform(assembled)
      .select("id", "prediction").as[(Long, Int)].collect().toSet
    val viaArr = km.transform(points.withColumn("features",
        graft.functions.Distances.pack(col("x0"), col("x1"))))
      .select("id", "prediction").as[(Long, Int)].collect().toSet
    val viaFloat = km.transform(points.withColumn("features",
        graft.functions.Distances.pack(col("x0"), col("x1"))
          .cast("array<float>")))
      .select("id", "prediction").as[(Long, Int)].collect().toSet
    assert(viaVec == viaArr, "vector vs array<double> labels diverge")
    // float rounding may flip exact ties only; on this corpus none exist
    assert(viaFloat == viaArr, "array<float> coercion diverged")
    // a non-numeric features column is rejected loudly
    val bad = intercept[IllegalArgumentException] {
      km.transform(points.withColumn("features", lit("nope")))
    }
    assert(bad.getMessage.contains("featuresCol"))
  }

  test("above the element budget, fit builds a TABLE-backed model that " +
      "transforms identically and round-trips") {
    val base = new GraftDbscan().setIdCol("id").setFeaturesCol("features")
      .setEps(Eps).setMinPts(MinPts).fit(assembled)
    val want = base.transform(assembled)
      .select("id", "prediction").as[(Long, Option[Long])].collect().toSet
    val est = new GraftDbscan().setIdCol("id").setFeaturesCol("features")
      .setEps(Eps).setMinPts(MinPts)
    est.maxModelClusters = 0 // any fit now exceeds the "cap"
    val dfModel = est.fit(assembled)
    assert(dfModel.centroidsDf.isDefined && dfModel.centroids.isEmpty,
      "forced-low cap did not produce the table-backed store")
    val out = dfModel.transform(assembled)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"table-backed transform materializes rows x k:\n$plan")
    val got = out.select("id", "prediction")
      .as[(Long, Option[Long])].collect().toSet
    assert(got == want, "table-backed labels diverge from the collected path")
    // the probe join really scores UNSEEN rows (nearest-centroid rule)
    val member = base.transform(assembled)
      .where(col("prediction").isNotNull)
      .select("x0", "x1", "prediction").head()
    val unseen = new VectorAssembler().setInputCols(Array("x0", "x1"))
      .setOutputCol("features").transform(
        Seq((8888888L, member.getDouble(0), member.getDouble(1)))
          .toDF("id", "x0", "x1"))
    assert(dfModel.transform(unseen).select("prediction")
      .as[Option[Long]].head().contains(member.getLong(2)))
    // ONE on-disk layout: a table-backed save loads table-backed under a
    // forced-low budget and transforms the same
    val p = tmpDir("graft-dbscan-table-model")
    dfModel.write.overwrite().save(p)
    val saved = graft.dbscan.Dbscan.assignElementBudget
    try {
      graft.dbscan.Dbscan.assignElementBudget = 1L
      val m2 = GraftDbscanModel.load(p)
      assert(m2.centroidsDf.isDefined && m2.centroids.isEmpty)
      val got2 = m2.transform(assembled).select("id", "prediction")
        .as[(Long, Option[Long])].collect().toSet
      assert(got2 == want, "loaded table-backed model transforms differently")
    } finally graft.dbscan.Dbscan.assignElementBudget = saved
    // and the SAME files load collected under the real budget
    val m3 = GraftDbscanModel.load(p)
    assert(m3.centroidsDf.isEmpty && m3.centroids.nonEmpty)
    base.release(); dfModel.release()
  }

  test("kmeans model storage is independent of the released engine model") {
    // fit releases the engine's localCheckpoint blocks; the wrapper's
    // assignment must be its OWN checkpoint leaf (not a select whose only
    // lineage leaf is the engine's freed blocks) so transform survives
    val km = new GraftKMeans().setIdCol("id").setFeaturesCol("features")
      .setK(8).setKAnon(4).setSeed(7L).setMaxLloyd(5).fit(assembled)
    assert(graft.core.LineageCut.backingRdd(km.assignmentOpt.get).isDefined,
      "fitted assignment is not checkpoint-leaf-backed")
    assert(km.transform(assembled).where(col("prediction").isNotNull)
      .count() > 0)
    km.release()
  }

  test("release() is terminal for a fitted kmeans model, with a clear error") {
    val km = new GraftKMeans().setIdCol("id").setFeaturesCol("features")
      .setK(8).setKAnon(4).setSeed(7L).setMaxLloyd(5).fit(assembled)
    km.release()
    val e = intercept[IllegalStateException] { km.transform(assembled) }
    assert(e.getMessage.contains("release()d") &&
      e.getMessage.contains("re-fit"), s"unhelpful error: ${e.getMessage}")
    val e2 = intercept[IllegalStateException] {
      km.write.overwrite().save(tmpDir("graft-km-released"))
    }
    assert(e2.getMessage.contains("save"))
  }

  test("release() on a disk-loaded kmeans model is a no-op, not terminal") {
    val km = new GraftKMeans().setIdCol("id").setFeaturesCol("features")
      .setK(8).setKAnon(4).setSeed(7L).setMaxLloyd(5).fit(assembled)
    val path = tmpDir("graft-km-reload")
    km.write.overwrite().save(path)
    km.release()
    val loaded = GraftKMeansModel.load(path)
    val before = loaded.transform(assembled)
      .select("id", "prediction").as[(Long, Int)].collect().toSet
    loaded.release() // parquet-backed: harmless
    val after = loaded.transform(assembled)
      .select("id", "prediction").as[(Long, Int)].collect().toSet
    assert(before == after && before.nonEmpty)
  }

  test("release() through a copy() reaches every sibling, both directions") {
    // copies share the fitted assignment's checkpoint blocks, so the
    // terminal flag must be SHARED state: releasing either sibling has
    // to turn the other's transform into the clear IllegalStateException
    // (not a scheduler-level missing-block failure). Pipeline and
    // CrossValidator call copy() routinely, so a stale snapshot here
    // resurfaces the exact bug the flag was introduced to prevent.
    val km = new GraftKMeans().setIdCol("id").setFeaturesCol("features")
      .setK(8).setKAnon(4).setSeed(7L).setMaxLloyd(5).fit(assembled)
    val sibling = km.copy(org.apache.spark.ml.param.ParamMap.empty)
    km.release()
    val e = intercept[IllegalStateException] { sibling.transform(assembled) }
    assert(e.getMessage.contains("release()d"),
      s"copy missed the original's release: ${e.getMessage}")
    // and the reverse order: a copy's release must flag the original
    val km2 = new GraftKMeans().setIdCol("id").setFeaturesCol("features")
      .setK(8).setKAnon(4).setSeed(7L).setMaxLloyd(5).fit(assembled)
    km2.copy(org.apache.spark.ml.param.ParamMap.empty).release()
    val e2 = intercept[IllegalStateException] { km2.transform(assembled) }
    assert(e2.getMessage.contains("release()d"),
      s"original missed the copy's release: ${e2.getMessage}")
  }
}
