package graft

import graft.functions.Distances
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference-faithful O(n²) ε-join (DBSCAN.py:161): crossJoin +
  * θ-filter, with every column prefixed `a_` / `b_` like
  * [[graft.operators.NeighborJoin.epsJoinGrid]]'s output. The oracle the
  * grid join is checked against. */
object EpsJoinOracle {
  def epsJoinCross(df: DataFrame, ptCol: String, eps: Double): DataFrame = {
    val cols = df.columns.toSeq
    val a = df.select(cols.map(c => col(c).as(s"a_$c")): _*)
    val b = df.select(cols.map(c => col(c).as(s"b_$c")): _*)
    a.crossJoin(b).where(Distances.l1(col(s"a_$ptCol"), col(s"b_$ptCol")) < eps)
  }
}
