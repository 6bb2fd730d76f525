package anonbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded microdata shaped like the reference's `data10k_6attr.csv`: six
  * integer quasi-identifiers in the observed ranges of FIXTURES.md §1 plus
  * a preserved label 1..5.
  *
  * Every value is a hash of (seed, row index, column index), so a row
  * depends on nothing else: not on the partition count, the task that
  * computes it, or the rows around it.
  */
object Gen {

  /** (column, lowest value, highest value), both ends inclusive. */
  val Columns: Seq[(String, Int, Int)] = Seq(
    ("x0", 15, 90),  // age
    ("x1", 130, 190), // height
    ("x2", 30, 100), // weight
    ("x3", 2, 23),   // blood_sugar_level
    ("x4", 0, 5),    // child
    ("x5", 0, 20),   // exercise_hours
    ("label", 1, 5)) // preserved attribute

  /** The quasi-identifier columns, in order. */
  val QiCols: Seq[String] = Columns.map(_._1).filterNot(_ == "label")

  /** The reference's k-means output header (k-means.ipynb). */
  val Headers: Seq[String] = Seq("age", "height", "weight",
    "blood_sugar_level", "child", "exercise_hours")

  /** Uniform in lo..hi, drawn from a hash of (seed, row id, column). */
  private def value(seed: Long, j: Int, lo: Int, hi: Int): Column =
    (pmod(xxhash64(lit(seed), col("id"), lit(j)), lit((hi - lo + 1).toLong)) +
      lo).cast("int")

  /** `rows` rows (id, x0..x5, label), ids 0 until rows, spread over
    * `numParts` partitions. */
  def points(spark: SparkSession, seed: Long, rows: Long,
             numParts: Int): DataFrame =
    spark.range(0, rows, 1, numParts).select(col("id") +:
      Columns.zipWithIndex.map { case ((name, lo, hi), j) =>
        value(seed, j, lo, hi).as(name)
      }: _*)
}
