package graft.ml

import graft.dbscan.Dbscan
import graft.kmeans.ConstrainedKMeans
import org.apache.hadoop.fs.Path
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.param._
import org.apache.spark.ml.util._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** spark.ml `Pipeline` surface over the engine's clustering fits — the
  * "Spark DataFrame + MLlib pipeline" idiom the reference's stack names
  * (BASELINE notes; spark_notebook.py drives MLlib KMeans the same way):
  * [[GraftDbscan]] and [[GraftKMeans]] are `Estimator` stages composable
  * with any MLlib stage (`VectorAssembler`, scalers, `KMeans`, …) inside
  * `new Pipeline().setStages(...)`, and their fitted [[GraftDbscanModel]] /
  * [[GraftKMeansModel]] are `Model`s with MLWritable persistence, so a
  * whole `PipelineModel` save/load round-trips.
  *
  * The wrappers are THIN by design: fitting delegates to the existing
  * engines ([[graft.dbscan.Dbscan.run]], [[graft.kmeans.ConstrainedKMeans
  * .fit]]) — no dataflow is re-implemented, so everything the engine pins
  * (grid-blocked ε-join, large-star/small-star CC, the codegen argmin
  * kernel) is what a Pipeline user gets.
  *
  * Transform semantics (both models): a row whose id was seen at fit time
  * gets its FITTED label (DBSCAN component / constrained-k-means cluster —
  * exact, including the repair loop's non-nearest placements); an unseen
  * row gets the nearest-centroid label under the engine's shared argmin
  * rule (L1, ties to the lowest cluster id — the same rule the DBSCAN
  * noise-assign applies), or null when the fit produced no clusters. The
  * join is id-keyed and the argmin is a narrow codegen projection, so
  * transform scales like the engine's own assign paths.
  *
  * Features may ride as `array<double>`, `array<float>`, or an MLlib
  * `Vector` (what `VectorAssembler` emits) — coerced once at the boundary.
  */
private[ml] trait GraftClusterParams extends Params {

  final val featuresCol: Param[String] = new Param[String](this, "featuresCol",
    "features column: array<double>, array<float>, or spark.ml Vector")
  final val idCol: Param[String] = new Param[String](this, "idCol",
    "unique row id column (castable to long)")
  final val predictionCol: Param[String] = new Param[String](this, "predictionCol",
    "output cluster label column")

  setDefault(featuresCol -> "features", idCol -> "id",
    predictionCol -> "prediction")

  final def getFeaturesCol: String = $(featuresCol)
  final def getIdCol: String = $(idCol)
  final def getPredictionCol: String = $(predictionCol)

  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setIdCol(v: String): this.type = set(idCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  /** Coerce the features column to `array<double>` (the engine's vector
    * representation). */
  protected def featuresAsArray(schema: StructType): Column =
    schema($(featuresCol)).dataType match {
      case dt if dt == SQLDataTypes.VectorType =>
        vector_to_array(col($(featuresCol)), "float64")
      case ArrayType(DoubleType, _) => col($(featuresCol))
      case ArrayType(FloatType, _) => col($(featuresCol)).cast("array<double>")
      case t => throw new IllegalArgumentException(
        s"featuresCol ${$(featuresCol)} must be array<double>, array<float> " +
          s"or an ml Vector, got $t")
    }

  protected def validateAndTransformSchema(schema: StructType,
                                           labelType: DataType): StructType = {
    featuresAsArray(schema) // type check
    require(schema.fieldNames.contains($(idCol)),
      s"idCol ${$(idCol)} missing from ${schema.fieldNames.mkString(",")}")
    require(!schema.fieldNames.contains($(predictionCol)),
      s"output column ${$(predictionCol)} already exists")
    schema.add(StructField($(predictionCol), labelType, nullable = true))
  }
}

/** Tiny JSON metadata writer/reader for the fitted models — the public
  * counterpart of spark.ml's (package-private) DefaultParamsWriter, using
  * the json4s shipped on the Spark classpath. Layout matches MLlib
  * convention: `path/metadata` (single-line JSON), data frames as parquet
  * subdirectories. */
private[ml] object ModelIO {
  import org.json4s._
  import org.json4s.jackson.JsonMethods._

  def writeMetadata(path: String, spark: SparkSession, uid: String,
                    clazz: String, params: Map[String, JValue],
                    extra: Map[String, JValue]): Unit = {
    // class/timestamp/sparkVersion/uid/paramMap/defaultParamMap is the
    // exact field set spark.ml's DefaultParamsReader.parseMetadata
    // requires — Pipeline.load parses every stage's metadata through it
    // to discover the stage class before dispatching to our Reader
    val json = compact(render(JObject(
      ("class" -> JString(clazz)) ::
        ("timestamp" -> JLong(System.currentTimeMillis())) ::
        ("sparkVersion" -> JString(spark.version)) ::
        ("uid" -> JString(uid)) ::
        ("paramMap" -> JObject(params.toList)) ::
        ("defaultParamMap" -> JObject(Nil)) ::
        extra.toList: _*)))
    import spark.implicits._
    spark.createDataset(Seq(json)).coalesce(1)
      .write.mode("overwrite").text(new Path(path, "metadata").toString)
  }

  def readMetadata(path: String, spark: SparkSession): JValue =
    parse(spark.read.text(new Path(path, "metadata").toString)
      .head().getString(0))

  def strParam(meta: JValue, name: String): String = {
    implicit val fmt: Formats = DefaultFormats
    (meta \ "paramMap" \ name).extract[String]
  }
}

/** DBSCAN as a spark.ml `Estimator`. Params: [[eps]] (ε-radius, L1),
  * [[minPts]] (weighted neighborhood threshold, self-inclusive), and
  * [[kAnon]] (components below this distinct-member count dissolve to
  * noise; defaults to minPts when unset — the reference's usual k).
  * `fit` delegates to [[graft.dbscan.Dbscan.run]]. */
class GraftDbscan(override val uid: String)
  extends Estimator[GraftDbscanModel] with GraftClusterParams
    with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("graftDbscan"))

  final val eps: DoubleParam = new DoubleParam(this, "eps",
    "neighborhood radius (L1, strict <)", ParamValidators.gt(0))
  final val minPts: IntParam = new IntParam(this, "minPts",
    "core-point weighted neighbor threshold (self-inclusive)",
    ParamValidators.gtEq(1))
  final val kAnon: IntParam = new IntParam(this, "kAnon",
    "k-anonymity floor: components with fewer distinct members dissolve " +
      "to noise (defaults to minPts)", ParamValidators.gtEq(1))

  setDefault(eps -> 0.5, minPts -> 4)

  def setEps(v: Double): this.type = set(eps, v)
  def setMinPts(v: Int): this.type = set(minPts, v)
  def setKAnon(v: Int): this.type = set(kAnon, v)

  override def fit(dataset: Dataset[_]): GraftDbscanModel = {
    transformSchema(dataset.schema)
    val df = dataset.toDF()
    val pts = df.select(col($(idCol)).cast("long").as("id"),
      featuresAsArray(df.schema).as("qi"))
    val k = if (isSet(kAnon)) $(kAnon) else $(minPts)
    val m = Dbscan.run(pts, "id", "qi", $(eps), $(minPts), k)
    val model = new GraftDbscanModel(uid,
      m.assignments.select(col("id"), col("component")),
      m.centroids.select(col("component"), col("centroid"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toIndexedSeq,
      m.nClusters, m.nNoise)
    // the wrapper keeps only (id, component) + the collected centroids;
    // release the engine model's persisted frames so a Pipeline fit
    // doesn't leak cached blocks (the assignment select is materialized
    // into its own cache first)
    val assignments = model.assignments.cache()
    assignments.count()
    m.unpersist()
    copyValues(model).setParent(this)
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema, LongType)

  override def copy(extra: ParamMap): GraftDbscan = defaultCopy(extra)
}

object GraftDbscan extends DefaultParamsReadable[GraftDbscan]

/** Fitted DBSCAN pipeline stage: `transform` appends [[predictionCol]]
  * (the component id, null for noise). Fitted ids get their exact DBSCAN
  * label; unseen ids get the nearest-centroid component (the engine's
  * noise-assign rule), null when the fit had no clusters.
  *
  * The centroid matrix is driver-collected (`centroids`, ascending by
  * component id) and unseen rows take the exhaustive argmin kernel over
  * it, like the engine's noise assign. `release()` frees only the
  * fitted-assignment cache, so transform keeps working. */
class GraftDbscanModel private[ml] (override val uid: String,
                                    @transient val assignments: DataFrame,
                                    val centroids: IndexedSeq[(Long, Array[Double])],
                                    val nClusters: Long,
                                    val nNoise: Long)
  extends Model[GraftDbscanModel] with GraftClusterParams with MLWritable {

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema)
    val df = dataset.toDF()
    val in = df.withColumn("__qi", featuresAsArray(df.schema))
    val asg = assignments.select(col("id").as("__fit_id"),
      col("component").as("__fit_comp"))
    val joined = in.join(asg,
      in(($(idCol))).cast("long") === asg("__fit_id"), "left")
    // the engine's noise-assign rule: the exhaustive argmin kernel over
    // the driver-held matrix, one narrow projection instead of a
    // broadcast crossJoin's rows x k candidate blow-up
    val withNearest =
      if (centroids.isEmpty) joined.withColumn("__nn_comp", lit(null).cast("long"))
      else Dbscan.withNearest(joined, "__qi", centroids, "__nn_comp", "__nn_d")
    withNearest
      .withColumn($(predictionCol),
        when(col("__fit_id").isNotNull, col("__fit_comp"))
          .otherwise(col("__nn_comp")))
      .drop("__qi", "__fit_id", "__fit_comp", "__nn_comp", "__nn_d")
  }

  /** Release the cached fitted-assignment blocks (mirrors the engine
    * models' unpersist). After this, transform still works — the
    * assignment plan recomputes from lineage. */
  def release(): Unit = assignments.unpersist()

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema, LongType)

  override def copy(extra: ParamMap): GraftDbscanModel =
    copyValues(new GraftDbscanModel(uid, assignments, centroids,
      nClusters, nNoise), extra).setParent(parent)

  override def write: MLWriter = new GraftDbscanModel.Writer(this)
}

object GraftDbscanModel extends MLReadable[GraftDbscanModel] {
  import org.json4s._

  private[ml] class Writer(instance: GraftDbscanModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      ModelIO.writeMetadata(path, sparkSession, instance.uid,
        classOf[GraftDbscanModel].getName,
        Map("featuresCol" -> JString(instance.getFeaturesCol),
          "idCol" -> JString(instance.getIdCol),
          "predictionCol" -> JString(instance.getPredictionCol)),
        Map("nClusters" -> JLong(instance.nClusters),
          "nNoise" -> JLong(instance.nNoise)))
      instance.assignments.write.mode("overwrite")
        .parquet(new Path(path, "assignments").toString)
      val ss = sparkSession
      import ss.implicits._
      instance.centroids.map { case (c, arr) => (c, arr.toSeq) }
        .toDF("component", "centroid").coalesce(1)
        .write.mode("overwrite")
        .parquet(new Path(path, "centroids").toString)
    }
  }

  private class Reader extends MLReader[GraftDbscanModel] {
    override def load(path: String): GraftDbscanModel = {
      implicit val fmt: Formats = DefaultFormats
      val meta = ModelIO.readMetadata(path, sparkSession)
      val assignments = sparkSession.read
        .parquet(new Path(path, "assignments").toString)
      val centroids = sparkSession.read
        .parquet(new Path(path, "centroids").toString)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toIndexedSeq
      val m = new GraftDbscanModel((meta \ "uid").extract[String],
        assignments, centroids, (meta \ "nClusters").extract[Long],
        (meta \ "nNoise").extract[Long])
      m.set(m.featuresCol, ModelIO.strParam(meta, "featuresCol"))
        .set(m.idCol, ModelIO.strParam(meta, "idCol"))
        .set(m.predictionCol, ModelIO.strParam(meta, "predictionCol"))
    }
  }

  override def read: MLReader[GraftDbscanModel] = new Reader
  override def load(path: String): GraftDbscanModel = super.load(path)
}

/** K-member-constrained k-means as a spark.ml `Estimator`: params [[k]]
  * (cluster count), [[kAnon]] (minimum members per cluster), [[seed]],
  * [[maxLloyd]]/[[maxRepair]]. `fit` delegates to
  * [[graft.kmeans.ConstrainedKMeans.fit]]. */
class GraftKMeans(override val uid: String)
  extends Estimator[GraftKMeansModel] with GraftClusterParams
    with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("graftKMeans"))

  final val k: IntParam = new IntParam(this, "k", "number of clusters",
    ParamValidators.gtEq(1))
  final val kAnon: IntParam = new IntParam(this, "kAnon",
    "minimum members per cluster (the k-anonymity constraint)",
    ParamValidators.gtEq(1))
  final val seed: LongParam = new LongParam(this, "seed",
    "init-sample seed")
  final val maxLloyd: IntParam = new IntParam(this, "maxLloyd",
    "max Lloyd iterations", ParamValidators.gtEq(1))
  final val maxRepair: IntParam = new IntParam(this, "maxRepair",
    "max repair rounds per iteration", ParamValidators.gtEq(1))

  setDefault(k -> 8, kAnon -> 4, seed -> 42L, maxLloyd -> 20,
    maxRepair -> 100)

  def setK(v: Int): this.type = set(k, v)
  def setKAnon(v: Int): this.type = set(kAnon, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setMaxLloyd(v: Int): this.type = set(maxLloyd, v)
  def setMaxRepair(v: Int): this.type = set(maxRepair, v)

  override def fit(dataset: Dataset[_]): GraftKMeansModel = {
    transformSchema(dataset.schema)
    val df = dataset.toDF()
    val pts = df.select(col($(idCol)).cast("long").as("id"),
      featuresAsArray(df.schema).as("qi"))
    val m = ConstrainedKMeans.fit(pts, "id", "qi", $(k), $(kAnon), $(seed),
      $(maxLloyd), $(maxRepair))
    // Materialize the wrapper's (id, cluster) view into its OWN eager
    // localCheckpoint BEFORE releasing the engine model: the engine
    // assignment is itself localCheckpoint'd, so a cache over a select of
    // it has the engine's checkpoint blocks as its only lineage leaf —
    // releasing those made any later cached-partition loss (or release())
    // an unrecoverable missing-checkpoint-block failure. The checkpoint
    // also replaces the old cache+count materialization, so fit holds ONE
    // narrow (id, cluster) copy instead of cache + engine blocks.
    val asg = m.assignment.select(col("id"), col("cluster")).localCheckpoint()
    m.unpersist()
    val model = new GraftKMeansModel(uid, Some(asg),
      m.centroids.toIndexedSeq.sortBy(_._1), m.cost, m.lloydIters)
    copyValues(model).setParent(this)
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema, IntegerType)

  override def copy(extra: ParamMap): GraftKMeans = defaultCopy(extra)
}

object GraftKMeans extends DefaultParamsReadable[GraftKMeans]

/** Fitted constrained-k-means stage. Fitted ids keep their CONSTRAINED
  * cluster (the repair loop can place a point away from its nearest
  * centroid — nearest-centroid re-derivation would be wrong); unseen ids
  * get the nearest centroid (L1, ties to the lowest cluster index). A
  * model built directly from a centroid matrix (`assignmentOpt = None`)
  * is a pure stateless assigner — the 100 TB scoring path: one narrow
  * codegen projection, no join. */
class GraftKMeansModel private[ml] (override val uid: String,
                                    @transient val assignmentOpt: Option[DataFrame],
                                    val centroids: IndexedSeq[(Int, Array[Double])],
                                    val cost: Double,
                                    val lloydIters: Int)
  extends Model[GraftKMeansModel] with GraftClusterParams with MLWritable {

  /** Stateless assigner over a fixed centroid matrix. */
  def this(uid: String, centroids: IndexedSeq[(Int, Array[Double])]) =
    this(uid, None, centroids, 0.0, 0)

  /** Set when [[release]] freed checkpoint-backed assignment storage —
    * terminal, since local-checkpoint blocks have no recomputable
    * lineage. Stays false for disk-loaded (parquet-backed) models. The
    * flag is a SHARED AtomicBoolean, not a per-instance var: [[copy]]
    * hands the same cell to the copy, because copies share the same
    * checkpoint blocks — releasing either sibling (Pipeline /
    * CrossValidator call copy() routinely) must flip every holder to
    * the clear error, not leave the others to die on a scheduler-level
    * missing-block failure. */
  @transient private var releasedState =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  private def released: java.util.concurrent.atomic.AtomicBoolean = {
    // @transient: a Java-deserialized instance re-seeds a live (false)
    // cell, matching the old boolean's default
    if (releasedState == null)
      releasedState = new java.util.concurrent.atomic.AtomicBoolean(false)
    releasedState
  }

  private[ml] def requireLive(op: String): Unit =
    if (released.get) throw new IllegalStateException(
      s"GraftKMeansModel $uid was release()d: its fitted assignment was " +
        s"localCheckpoint storage with no recomputable lineage, so $op is " +
        "no longer possible. save() the model before release(), or re-fit.")

  private def nearest(qi: Column): Column =
    element_at(graft.functions.VecKernels.nearest_centroids(
      qi, centroids, 1, cosine = false), 1).getField("cluster")

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema)
    requireLive("transform")
    val df = dataset.toDF()
    val in = df.withColumn("__qi", featuresAsArray(df.schema))
    assignmentOpt match {
      case None =>
        in.withColumn($(predictionCol), nearest(col("__qi"))).drop("__qi")
      case Some(assignment) =>
        val asg = assignment.select(col("id").as("__fit_id"),
          col("cluster").as("__fit_cluster"))
        in.join(asg, in(($(idCol))).cast("long") === asg("__fit_id"), "left")
          .withColumn($(predictionCol),
            when(col("__fit_id").isNotNull, col("__fit_cluster"))
              .otherwise(nearest(col("__qi"))))
          .drop("__qi", "__fit_id", "__fit_cluster")
    }
  }

  /** Release the model's assignment storage. TERMINAL for a fitted
    * model: the assignment is eager localCheckpoint storage (deliberately
    * independent of the engine model, which fit already released), so a
    * later transform/save throws a clear [[IllegalStateException]]
    * instead of a missing-checkpoint-block error from inside the
    * scheduler. For a disk-loaded model the assignment is parquet-backed:
    * release() is a harmless no-op and transform keeps recomputing from
    * storage. Stateless (centroid-only) models are unaffected. */
  def release(): Unit = assignmentOpt.foreach { a =>
    if (graft.core.LineageCut.backingRdd(a).isDefined) released.set(true)
    graft.core.LineageCut.release(a)
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema, IntegerType)

  override def copy(extra: ParamMap): GraftKMeansModel = {
    val c = copyValues(new GraftKMeansModel(uid, assignmentOpt, centroids,
      cost, lloydIters), extra).setParent(parent)
    // copies share the same assignment blocks, so releasing ANY sibling
    // makes every sibling's transform impossible — share the cell itself
    // (a copy-time snapshot would go stale on the un-released sibling)
    c.releasedState = released
    c
  }

  override def write: MLWriter = new GraftKMeansModel.Writer(this)
}

object GraftKMeansModel extends MLReadable[GraftKMeansModel] {
  import org.json4s._

  private[ml] class Writer(instance: GraftKMeansModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      instance.requireLive("save")
      ModelIO.writeMetadata(path, sparkSession, instance.uid,
        classOf[GraftKMeansModel].getName,
        Map("featuresCol" -> JString(instance.getFeaturesCol),
          "idCol" -> JString(instance.getIdCol),
          "predictionCol" -> JString(instance.getPredictionCol)),
        Map("cost" -> JDouble(instance.cost),
          "lloydIters" -> JInt(instance.lloydIters),
          "hasAssignment" -> JBool(instance.assignmentOpt.isDefined)))
      instance.assignmentOpt.foreach(_.write.mode("overwrite")
        .parquet(new Path(path, "assignment").toString))
      val ss = sparkSession
      import ss.implicits._
      instance.centroids.map { case (c, arr) => (c, arr.toSeq) }
        .toDF("cluster", "centroid").coalesce(1)
        .write.mode("overwrite").parquet(new Path(path, "centroids").toString)
    }
  }

  private class Reader extends MLReader[GraftKMeansModel] {
    override def load(path: String): GraftKMeansModel = {
      implicit val fmt: Formats = DefaultFormats
      val meta = ModelIO.readMetadata(path, sparkSession)
      val assignmentOpt =
        if ((meta \ "hasAssignment").extract[Boolean])
          Some(sparkSession.read.parquet(new Path(path, "assignment").toString))
        else None
      val centroids = sparkSession.read
        .parquet(new Path(path, "centroids").toString)
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toIndexedSeq
      val m = new GraftKMeansModel((meta \ "uid").extract[String],
        assignmentOpt, centroids, (meta \ "cost").extract[Double],
        (meta \ "lloydIters").extract[Int])
      m.set(m.featuresCol, ModelIO.strParam(meta, "featuresCol"))
        .set(m.idCol, ModelIO.strParam(meta, "idCol"))
        .set(m.predictionCol, ModelIO.strParam(meta, "predictionCol"))
    }
  }

  override def read: MLReader[GraftKMeansModel] = new Reader
  override def load(path: String): GraftKMeansModel = super.load(path)
}
