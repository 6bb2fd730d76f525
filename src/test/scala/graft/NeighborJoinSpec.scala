package graft

import graft.functions.Distances
import graft.operators.NeighborJoin
import org.apache.spark.sql.functions._

class NeighborJoinSpec extends GraftSuite {
  import spark.implicits._

  private def randomPoints(n: Int, dims: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dims)(rnd.nextInt(100).toDouble)))
      .toDF("id", "pt")
  }

  test("grid join finds exactly the cartesian pairs (2-dim)") {
    val df = randomPoints(300, 2, seed = 7).cache()
    val eps = 8.0
    val grid = NeighborJoin.epsJoinGrid(df, "id", "pt", eps)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val cross = EpsJoinOracle.epsJoinCross(df, "pt", eps)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(grid == cross)
    assert(grid.nonEmpty)
    // neighborhood includes self
    assert((0L until 300L).forall(i => grid.contains((i, i))))
  }

  test("grid join matches cartesian on 6-dim points with blockDims=3") {
    val df = randomPoints(200, 6, seed = 13).cache()
    val eps = 40.0
    val grid = NeighborJoin.epsJoinGrid(df, "id", "pt", eps, blockDims = 3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val cross = EpsJoinOracle.epsJoinCross(df, "pt", eps)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(grid == cross)
  }

  test("strict < predicate: boundary-distance pairs excluded") {
    val df = Seq((1L, Array(0.0, 0.0)), (2L, Array(3.0, 0.0)))
      .toDF("id", "pt")
    // L1 distance is exactly 3.0 — strict < 3.0 excludes the pair
    val got = NeighborJoin.epsJoinGrid(df, "id", "pt", 3.0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L), (2L, 2L)))
  }

  test("negative coordinates handled by floor-based cells") {
    val df = Seq(
      (1L, Array(-0.5, -0.5)), (2L, Array(0.5, 0.5)), (3L, Array(-10.0, -10.0)))
      .toDF("id", "pt")
    val got = NeighborJoin.epsJoinGrid(df, "id", "pt", 3.0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)) && got.contains((2L, 1L)))
    assert(!got.exists(p => p._1 == 3L ^ p._2 == 3L))
  }

  test("l1 column function matches scala reference") {
    val a = Array(1.0, 5.0, -2.0); val b = Array(4.0, 1.0, 0.0)
    val got = Seq((a, b)).toDF("a", "b")
      .select(Distances.l1(col("a"), col("b"))).as[Double].head()
    assert(got == a.zip(b).map { case (x, y) => math.abs(x - y) }.sum)
  }
}
