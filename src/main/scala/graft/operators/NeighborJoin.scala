package graft.operators

import graft.functions.Distances
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ε-neighborhood similarity self-join.
  *
  * The reference computes this as `rdd.cartesian(rdd).filter(dist < eps)`
  * (DBSCAN.py:161) — an O(n²) cartesian product with a θ-filter. That is the
  * single scalability cliff of the reference (its 2 GB VM OOM'd on 10k rows,
  * hs_err_pid*.log).
  *
  * The cartesian form is the specs' semantics oracle; the engine uses
  * **grid-cell blocking**: bucket each point by `floor(x_i / eps)` on up to
  * `blockDims` leading dimensions, replicate one side to the 3^blockDims
  * neighboring cells, equi-join on the cell key (hash join, shuffle on the
  * key — no cartesian), then apply the exact L1 predicate. Any pair with
  * L1 distance < eps differs by < eps per coordinate, hence by at most 1
  * cell per blocked dimension, so the candidate set is complete.
  *
  * At 100 TB the equi-join shuffles both sides by cell id; cell population
  * is bounded by data density, not dataset size, and AQE handles skewed
  * cells. `blockDims` caps replication at 3^blockDims (default 2 → 9×).
  */
object NeighborJoin {

  /** All 3^k offset vectors in {-1,0,1}^k. */
  private def offsets(k: Int): Seq[Seq[Int]] =
    if (k == 0) Seq(Seq.empty)
    else for (rest <- offsets(k - 1); o <- -1 to 1) yield o +: rest

  /** Cell id per blocked dimension: floor(x_i / eps). */
  private def cellCols(pt: Column, eps: Double, blockDims: Int): Seq[Column] =
    (0 until blockDims).map(i => floor(element_at(pt, i + 1) / eps).cast("long"))

  /** Pairs (a.*, b.*) with L1(a.pt, b.pt) < eps, via grid blocking.
    *
    * Input must have an id column `idCol` and an `array<double>` column
    * `ptCol`; every input column comes back twice, prefixed `a_` / `b_`.
    * Self-pairs (a == a) are included — the reference's neighborhood
    * includes the point itself (dist(p,p)=0 < eps), which is what makes
    * `|N_ε(p)| >= minPts` the classic DBSCAN core test.
    *
    * @param distCol when set, the exact L1 distance is kept as this output
    *   column. Because L1 < ε' ⟹ L1 < ε for every ε' ≤ ε, the ε-pair set
    *   of ANY smaller radius is a `where(distCol < ε')` filter over this
    *   result — sweeps compute the join once at max(ε) and slice it per ε
    *   instead of re-shuffling per radius.
    */
  def epsJoinGrid(df: DataFrame, idCol: String, ptCol: String, eps: Double,
                  blockDims: Int = 2, distCol: Option[String] = None): DataFrame = {
    require(eps > 0, "eps must be positive")
    val dims = math.max(1, blockDims)
    val cols = df.columns.toSeq

    val left = df.select(
      cols.map(c => col(c).as(s"a_$c")) :+
        array(cellCols(col(ptCol), eps, dims): _*).as("a_cell"): _*)

    // Replicate the right side into each of its 3^dims neighboring cells so
    // a plain equi-join on the shifted cell key finds every candidate pair.
    val offs = offsets(dims).map(o => array(o.map(lit(_)): _*))
    val right = df.select(
      cols.map(c => col(c).as(s"b_$c")) :+
        explode(array(offs: _*)).as("off") :+
        array(cellCols(col(ptCol), eps, dims): _*).as("cell0"): _*)
      .select(cols.map(c => col(s"b_$c")) :+
        zip_with(col("cell0"), col("off"), (c, o) => c + o).as("b_cell"): _*)

    val joined = left.join(right, col("a_cell") === col("b_cell"))
    val d = Distances.l1(col(s"a_$ptCol"), col(s"b_$ptCol"))
    distCol match {
      case None => joined.where(d < eps).drop("a_cell", "b_cell")
      case Some(dc) => joined.withColumn(dc, d)
        .where(col(dc) < eps).drop("a_cell", "b_cell")
    }
  }

  /** Per-point ε-neighbor count (self included): the first half of the DBSCAN
    * core-point test (DBSCAN.py:161, `minPts` filter at P3 in SURVEY §2.2).
    */
  def neighborCounts(df: DataFrame, idCol: String, ptCol: String, eps: Double,
                     blockDims: Int = 2): DataFrame =
    epsJoinGrid(df, idCol, ptCol, eps, blockDims)
      .groupBy(col(s"a_$idCol").as(idCol))
      .agg(count(lit(1)).as("n_neighbors"))
}
