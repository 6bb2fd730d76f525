package anonbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What the checker found in one published table. `failures` is empty
  * when every check passed. */
final case class Verdict(rows: Long, groups: Long, infoLoss: Double,
                         digest: String, failures: Seq[String]) {
  def ok: Boolean = failures.isEmpty
}

/** Checks a published table read back from the files the job wrote:
  *  - one published row per input record;
  *  - every published quasi-identifier group has at least k rows (at most
  *    `allowedSmall` groups may fall short);
  *  - the information loss recomputed from the files (total L1 distance
  *    between each original and published quasi-identifier vector) matches
  *    the error the model reported, to 1e-6 relative;
  *  - a digest of the table, independent of row order and file layout, so
  *    the caller can compare jobs.
  *
  * The loss is summed in decimal arithmetic, so it does not depend on the
  * order Spark adds the rows in and repeats exactly for the same files.
  */
object Check {

  val Tolerance = 1e-6

  private val dim = Gen.QiCols.length
  private def pt(i: Int) = col(s"pt_$i")
  private def an(i: Int) = col(s"an_$i")
  private val anCols = (0 until dim).map(an)

  /** Order-independent digest: row count and the sum of per-row hashes. */
  def digest(df: DataFrame, cols: Seq[Column]): String = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")), lit(0))).head()
    s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}"
  }

  /** Checks `linked`, which pairs each published row's quasi-identifiers
    * (`an_0..`) with the original record's (`pt_0..`). */
  def verdict(linked: DataFrame, expectedRows: Long, k: Int,
              allowedSmall: Int, reported: Double,
              digestCols: Seq[Column]): Verdict = {
    val loss = (0 until dim).map(i => abs(pt(i) - an(i))).reduce(_ + _)
    val anyNull = anCols.map(_.isNull).reduce(_ || _)
    val totals = linked.agg(count(lit(1)),
      sum(when(anyNull, 1L).otherwise(0L)),
      coalesce(sum(loss.cast("decimal(38,18)")), lit(0))).head()
    val (rows, nullRows) = (totals.getLong(0), totals.getLong(1))
    val infoLoss = totals.getDecimal(2).doubleValue
    val sizes = linked.groupBy(anCols: _*).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)), sum(when(col("n") < k, 1L).otherwise(0L))).head()
    val (groups, small) =
      (sizes.getLong(0), if (sizes.isNullAt(1)) 0L else sizes.getLong(1))

    val failures = Seq(
      Option.when(rows != expectedRows)(
        s"published $rows rows for $expectedRows input records"),
      Option.when(nullRows > 0)(
        s"$nullRows published rows have no quasi-identifier value"),
      Option.when(small > allowedSmall)(
        s"$small published groups have fewer than $k rows " +
          s"(at most $allowedSmall allowed)"),
      Option.when(!(math.abs(infoLoss - reported) <=
          Tolerance * math.max(math.abs(reported), 1.0)))(
        s"information loss $infoLoss from the files differs from the " +
          s"model's $reported")).flatten
    Verdict(rows, groups, infoLoss, digest(linked, digestCols), failures)
  }

  private def pointStruct = StructType(
    (1 to dim).map(i => StructField(s"_$i", DoubleType)) :+
      StructField(s"_${dim + 1}", IntegerType))

  /** The DBSCAN JSON sink's table: each row carries the original record
    * (`pt`) and its published form (`an_pt`), label last in both. */
  def dbscanJson(spark: SparkSession, path: String, expectedRows: Long,
                 k: Int, reported: Double): Verdict = {
    val schema = StructType(Seq(StructField("pt", pointStruct),
      StructField("an_pt", pointStruct)))
    val label = s"_${dim + 1}"
    val linked = spark.read.schema(schema).json(path).select(
      (0 until dim).map(i => col(s"pt._${i + 1}").as(s"pt_$i")) ++
        (0 until dim).map(i => col(s"an_pt._${i + 1}").as(s"an_$i")) :+
        col(s"pt.$label").as("label") :+ col(s"an_pt.$label").as("an_label"): _*)
    val v = verdict(linked, expectedRows, k, allowedSmall = 0, reported,
      linked.columns.toSeq.map(col))
    val relabeled = linked.where(!(col("label") <=> col("an_label"))).count()
    if (relabeled == 0) v
    else v.copy(failures = v.failures :+
      s"$relabeled published rows changed the preserved label")
  }

  /** The k-means sinks: `published` holds one centroid row per input
    * record (the reference's Parquet shape, no record key); `linkage`
    * holds (id, an_qi) so the loss can be recomputed against `input`.
    * The published rows must be exactly the linkage's centroids. At most
    * one group may be short of k — the reference's tolerated deficit that
    * ConstrainedKMeans keeps. */
  def kmeans(spark: SparkSession, published: String, linkage: String,
             input: DataFrame, expectedRows: Long, k: Int,
             reported: Double): Verdict = {
    val linked = spark.read.parquet(linkage).join(input, "id").select(
      Gen.QiCols.zipWithIndex.map { case (c, i) =>
        col(c).cast("double").as(s"pt_$i") } ++
        (0 until dim).map(i => element_at(col("an_qi"), i + 1).as(s"an_$i")): _*)
    val v = verdict(linked, expectedRows, k, allowedSmall = 1, reported,
      anCols)
    val pub = spark.read.parquet(published)
    val pubDigest = digest(pub, Gen.Headers.map(col))
    if (pubDigest == v.digest) v
    else v.copy(digest = pubDigest, failures = v.failures :+
      s"published table $pubDigest differs from the assignment ${v.digest}")
  }
}
