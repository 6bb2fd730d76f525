package graft

import graft.functions.{BucketProbeIndex, Distances}
import graft.operators.CentroidJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The distributed-exact assign join ([[CentroidJoin.assignExact]]) must
  * reproduce the broadcast-crossJoin min-struct argmin it replaces —
  * same labels, bit-equal distances, same tie/NaN/null semantics — while
  * its plan contains neither a CartesianProduct nor a
  * BroadcastNestedLoopJoin. The crossJoin oracle here IS the old
  * fallback's plan, verbatim. */
class CentroidJoinSpec extends GraftSuite {
  import spark.implicits._

  private def centDf(cents: Seq[(Long, Array[Double])]): DataFrame =
    cents.toDF("cc", "cent")

  /** The replaced broadcast-crossJoin branch, with the operator's
    * null-query masking applied (null qi → null cc/d). */
  private def oracle(queries: DataFrame, cents: DataFrame): DataFrame =
    queries.crossJoin(cents)
      .select(col("id"), struct(
        Distances.l1(col("qi"), col("cent")).as("d"),
        col("cc"), col("cent")).as("s"))
      .groupBy("id").agg(min("s").as("s"))
      .select(col("id"),
        when(col("s.d").isNotNull, col("s.cc")).as("cc"),
        col("s.d").as("d"))

  private def joined(queries: DataFrame, cents: DataFrame,
                     coarse: Int = 0): DataFrame =
    CentroidJoin.assignExact(queries, "id", "qi", cents, "cc", "cent",
        "cc", "cent_out", "d", coarseOverride = coarse)
      .select(col("id"), col("cc"), col("d"))

  private def assertEqual(got: DataFrame, want: DataFrame): Unit = {
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"joined result diverged from the crossJoin oracle:\n" +
        s"extra: ${got.exceptAll(want).collect().take(5).mkString("; ")}\n" +
        s"missing: ${want.exceptAll(got).collect().take(5).mkString("; ")}")
  }

  private def randQueries(n: Int, dim: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextDouble() * 100))).toDF("id", "qi")
  }

  test("random corpus: joined == crossJoin min-struct, several coarse sizes") {
    val rnd = new scala.util.Random(7)
    val cents = centDf((0 until 64).map(j =>
      j.toLong -> Array.fill(3)(rnd.nextDouble() * 100)))
    val qs = randQueries(200, 3, seed = 11)
    for (m <- Seq(0, 1, 4, 200)) // default √k, degenerate 1, mid, > k
      assertEqual(joined(qs, cents, m), oracle(qs, cents))
  }

  test("clustered corpus: pruning engages and stays exact") {
    val rnd = new scala.util.Random(13)
    // 16 tight blobs of 32 centroids each
    val cents = centDf((0 until 512).map { j =>
      val blob = j % 16
      j.toLong -> Array(blob * 50.0 + rnd.nextGaussian(),
        (blob % 4) * 50.0 + rnd.nextGaussian())
    })
    val qs = randQueries(150, 2, seed = 17)
    assertEqual(joined(qs, cents), oracle(qs, cents))
  }

  test("duplicate centroids tie to the lowest component id") {
    val shared = Array(5.0, 5.0)
    val cents = centDf(Seq(9L -> shared, 3L -> shared, 7L -> Array(80.0, 80.0)))
    val qs = Seq((0L, Array(5.0, 5.0)), (1L, Array(6.0, 4.0))).toDF("id", "qi")
    val got = joined(qs, cents, coarse = 2).orderBy("id").collect()
    assert(got.map(_.getLong(1)).toSeq === Seq(3L, 3L))
    assertEqual(joined(qs, cents, 2), oracle(qs, cents))
  }

  test("ragged and null queries follow the crossJoin contract") {
    val cents = centDf((0 until 10).map(j =>
      j.toLong -> Array(j * 10.0, j * 10.0, j * 10.0)))
    val qs = Seq(
      (0L, Some(Array(11.0, 12.0, 9.0))),
      (1L, Some(Array(41.0))),          // ragged short: tail ignored
      (2L, Some(Array.empty[Double])),  // empty: every distance 0, lowest cc
      (3L, None)                        // null: null outputs
    ).toDF("id", "qi")
    val got = joined(qs, cents, coarse = 3)
    assertEqual(got, oracle(qs, cents))
    val nullRow = got.where(col("id") === 3).head()
    assert(nullRow.isNullAt(1) && nullRow.isNullAt(2))
  }

  test("NaN queries and NaN centroids keep min-struct semantics") {
    val cents = centDf(Seq(
      0L -> Array(Double.NaN, 1.0), // NaN centroid loses to any finite d
      4L -> Array(10.0, 10.0),
      2L -> Array(50.0, 50.0)))
    val qs = Seq(
      (0L, Array(11.0, 9.0)),
      (1L, Array(Double.NaN, 3.0)), // NaN query → lowest cc overall
      (2L, Array(49.0, 52.0))).toDF("id", "qi")
    val got = joined(qs, cents, coarse = 2)
    assertEqual(got, oracle(qs, cents))
    val byId = got.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(0L).getLong(1) === 4L)
    assert(byId(1L).getLong(1) === 0L) // ties on NaN d → lowest cc
    assert(byId(2L).getLong(1) === 2L)
  }

  test("plan has no CartesianProduct and no BroadcastNestedLoopJoin") {
    val rnd = new scala.util.Random(23)
    val cents = centDf((0 until 100).map(j =>
      j.toLong -> Array.fill(2)(rnd.nextDouble() * 10)))
    val plan = joined(randQueries(50, 2, 29), cents)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("uniform centroid length is enforced loudly") {
    val cents = centDf(Seq(0L -> Array(1.0, 2.0), 1L -> Array(3.0)))
    val e = intercept[IllegalArgumentException] {
      joined(randQueries(5, 2, 31), cents).collect()
    }
    assert(e.getMessage.contains("uniform length"))
  }

  test("probe index: NaN query probes all live buckets, dead stay out") {
    val idx = new BucketProbeIndex(
      flat = Array(0.0, 0.0, 100.0, 100.0, 50.0, 50.0),
      radii = Array(1.0, 1.0, 1.0),
      live = Array(true, true, false), dim = 2)
    def probe(xs: Double*): Seq[Int] = {
      val a = org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(xs.toArray)
      val out = idx.probe(a)
      (0 until out.numElements()).map(out.getInt)
    }
    assert(probe(Double.NaN, 0.0) === Seq(0, 1)) // all live, never dead
    assert(probe(0.5, 0.5) === Seq(0))           // own bucket only
    assert(probe(50.0, 50.0) === Seq(0, 1))      // midpoint probes both live
  }
}
