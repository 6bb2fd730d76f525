package graft.dbscan

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's sink surface (SURVEY §2.1 S2-S4):
  *  - anonymized pairs as JSON: rows {pt: struct, an_pt: struct} where
  *    an_pt = centroid coords + the preserved label re-appended
  *    (write_to_output, DBSCAN.py:80-84; golden shape in
  *    /root/reference/output/combine.json)
  *  - k-means centroids-per-point as Parquet (k-means.ipynb:80-82)
  *  - the ε-sweep metrics CSV, driver-local, rewritten per step with a
  *    header line (outputRecord, DBSCAN.py:135-143)
  */
object Outputs {

  /** Anonymized-pairs DataFrame in the reference's JSON shape: `pt` is the
    * original quasi-identifiers + label as a struct of `_1.._n` fields,
    * `an_pt` the anonymizing centroid with the label re-appended
    * (DBSCAN.py:84 re-appends `pt[dimension]`). Noise rows with no
    * centroid (no clusters exist) are emitted with null an_pt coords,
    * matching assign_nearest's origin-vector degenerate case never being
    * written in practice. */
  def anonymizedPairs(model: DbscanModel, dim: Int,
                      labelCol: Option[String] = None): DataFrame = {
    val a = model.assignments
    val ptFields = (0 until dim).map(i =>
      element_at(col("qi"), i + 1).as(s"_${i + 1}"))
    val anFields = (0 until dim).map(i =>
      element_at(col("an_qi"), i + 1).as(s"_${i + 1}"))
    val (ptAll, anAll) = labelCol match {
      case Some(lc) => (
        ptFields :+ col(lc).as(s"_${dim + 1}"),
        anFields :+ col(lc).as(s"_${dim + 1}"))
      case None => (ptFields, anFields)
    }
    a.select(struct(ptAll: _*).as("pt"), struct(anAll: _*).as("an_pt"))
  }

  /** JSON sink, overwrite — S2 (DBSCAN.py:80-84). */
  def writeAnonymizedJson(model: DbscanModel, dim: Int, path: String,
                          labelCol: Option[String] = None): Unit =
    anonymizedPairs(model, dim, labelCol)
      .write.mode(SaveMode.Overwrite).json(path)

  /** Parquet sink, overwrite — S3 (k-means.ipynb:80-82): one row per input
    * point holding its cluster's centroid under the given column names. */
  def writeKmeansParquet(model: graft.kmeans.KMeansModel, headers: Seq[String],
                         path: String): Unit = {
    val dim = headers.length
    graft.kmeans.ConstrainedKMeans.anonymized(model, dim)
      .select((0 until dim).map(i => element_at(col("an_qi"), i + 1).as(headers(i))): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Driver-local sweep metrics CSV — S4: header + one line per ε,
    * rewritten wholesale each call like outputRecord (DBSCAN.py:135-143).
    * Deliberately plain java.nio (it is driver-local by design). */
  def writeSweepCsv(records: Seq[SweepRecord], path: String): Unit = {
    val header = "eps,number of cluster,number of noise," +
      "error within clusters,error of noise,total error,seconds"
    val lines = records.map(r =>
      s"${r.eps},${r.nClusters},${r.nNoise},${r.clusterError}," +
        s"${r.noiseError},${r.totalError},${r.seconds}")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (header +: lines).mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
