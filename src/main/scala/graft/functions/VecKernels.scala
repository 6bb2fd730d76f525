package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expressions for the hot vector kernels (L1 distance,
  * dot product) over `array<double>` columns.
  *
  * The `zip_with`/`aggregate` higher-order forms in [[Distances]] allocate
  * a lambda frame per element and fall out of whole-stage codegen; these
  * compile to a single static-call over the underlying ArrayData, turning
  * the ε-join filter and cosine scoring into tight primitive loops (the
  * summation order is identical, so results are bit-equal and the DuckDB
  * oracles are unaffected).
  */
object VecKernels {

  /** Σ |a_i - b_i| over the common prefix length. */
  def l1(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += math.abs(a.getDouble(i) - b.getDouble(i)); i += 1 }
    acc
  }

  /** Σ a_i · b_i over the common prefix length. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  def l1_dist(a: Column, b: Column): Column =
    ColumnBridge.column(L1DistExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(DotExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  // ------------------------------------------------ sign-band LSH kernel

  /** Deterministic per-band plane seed: base golden-ratio constant scaled
    * by band index (wrapping Long arithmetic). */
  val SignBandBaseSeed = 0x9E3779B97F4A7C15L
  def bandSeed(base: Long, band: Int): Long = base * (band + 1)

  /** xorshift64* hyperplane matrix, flat [band][bit][dim] — the exact
    * generator of [[graft.operators.SimilaritySearch.signBucket]], so the
    * declarative single-band form cross-checks this kernel bit-for-bit. */
  def planeMatrix(bands: Int, bits: Int, dim: Int, baseSeed: Long): Array[Double] = {
    val out = new Array[Double](bands * bits * dim)
    var b = 0
    while (b < bands) {
      var s = bandSeed(baseSeed, b)
      var idx = b * bits * dim
      val end = idx + bits * dim
      while (idx < end) {
        s ^= (s << 13); s ^= (s >>> 7); s ^= (s << 17)
        out(idx) = s * 2.685821657736338e-19
        idx += 1
      }
      b += 1
    }
    out
  }

  /** All `bands` sign-band keys of one vector in a single pass: band b's
    * key packs `bits` sign bits of projections onto its hyperplanes.
    * Summation order matches [[dot]] so signs are bit-identical to the
    * declarative form. */
  def signBands(vec: ArrayData, planes: Array[Double], bands: Int, bits: Int,
                dim: Int): ArrayData = {
    val n = math.min(vec.numElements(), dim)
    val out = new Array[Long](bands)
    var b = 0
    var off = 0
    while (b < bands) {
      var key = 0L
      var j = 0
      while (j < bits) {
        var acc = 0.0
        var i = 0
        while (i < n) { acc += vec.getDouble(i) * planes(off + i); i += 1 }
        if (acc >= 0) key |= (1L << j)
        off += dim
        j += 1
      }
      out(b) = key
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Column of `array<long>` band keys (one element per band). */
  def sign_bands(vec: Column, dim: Int, bits: Int, bands: Int,
                 baseSeed: Long = SignBandBaseSeed): Column =
    ColumnBridge.column(SignBandsExpr(ColumnBridge.expression(vec),
      baseSeed, bands, bits, dim))

  // ------------------------------------------- sorted-set intersect kernel

  /** |A ∩ B| for two ascending-sorted long arrays, by linear merge — no
    * per-row hash-set allocation (Spark's array_intersect builds a boxed
    * set per call, which dominates candidate-verify loops at millions of
    * pairs). */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Column form of [[sortedIntersectCount]]; both inputs MUST be sorted
    * ascending (e.g. via sort_array). */
  def sorted_intersect_count(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCountExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  // ------------------------------------------- nearest-centroid kernel

  /** Top-`k` centroids for one vector, ascending by (d, cluster) where d is
    * the L1 distance or the negated cosine. Ties go to the lowest cluster
    * id — the Python-2 dict-iteration quirk the fold form also preserves.
    * Arithmetic orders match [[l1]] / [[dot]] exactly, so results are
    * bit-equal to the declarative forms. */
  def topCentroids(vec: ArrayData, ids: Array[Int], flat: Array[Double],
                   dim: Int, cosine: Boolean, k: Int): ArrayData = {
    val m = ids.length
    val kk = math.min(k, m)
    val bestD = new Array[Double](kk)
    val bestC = new Array[Int](kk)
    var cnt = 0
    val n = math.min(vec.numElements(), dim)
    var c = 0
    while (c < m) {
      val off = c * dim
      var d = 0.0
      if (cosine) {
        var dab = 0.0; var daa = 0.0; var dbb = 0.0
        var i = 0
        while (i < n) {
          val a = vec.getDouble(i); val b = flat(off + i)
          dab += a * b; daa += a * a; dbb += b * b; i += 1
        }
        val denom = math.sqrt(daa) * math.sqrt(dbb)
        d = if (denom == 0.0) 0.0 else -(dab / denom)
      } else {
        var i = 0
        while (i < n) { d += math.abs(vec.getDouble(i) - flat(off + i)); i += 1 }
      }
      val cid = ids(c)
      // insertion into the sorted top-k
      var pos = cnt
      while (pos > 0 && (d < bestD(pos - 1) ||
          (d == bestD(pos - 1) && cid < bestC(pos - 1)))) pos -= 1
      if (pos < kk) {
        val last = math.min(cnt, kk - 1)
        var j = last
        while (j > pos) { bestD(j) = bestD(j - 1); bestC(j) = bestC(j - 1); j -= 1 }
        bestD(pos) = d; bestC(pos) = cid
        if (cnt < kk) cnt += 1
      }
      c += 1
    }
    val rows = new Array[Any](cnt)
    var r = 0
    while (r < cnt) {
      rows(r) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](bestC(r), bestD(r)))
      r += 1
    }
    new GenericArrayData(rows)
  }

  /** Column of the `k` nearest centroids as `array<struct<cluster,d>>`,
    * ascending by (d, cluster). The centroid matrix rides along as a
    * codegen reference object — expression-tree size is O(1) in the number
    * of centroids, so nlist can be 64k without hitting the JVM 64KB
    * codegen method limit that literal-folded centroids do. At k = 1 this
    * is the engine's one L1 argmin: the k-means assign, the DBSCAN noise
    * assign ([[graft.dbscan.Dbscan.withNearest]]), the ML transforms and
    * [[graft.operators.CentroidJoin]]'s bucketing. */
  def nearest_centroids(vec: Column, cents: Seq[(Int, Array[Double])], k: Int,
                        cosine: Boolean): Column = {
    val sorted = cents.sortBy(_._1)
    val ids = sorted.map(_._1).toArray
    val dim = sorted.head._2.length
    val flat = new Array[Double](ids.length * dim)
    var c = 0
    while (c < ids.length) {
      System.arraycopy(sorted(c)._2, 0, flat, c * dim, dim)
      c += 1
    }
    ColumnBridge.column(NearestCentroidsExpr(ColumnBridge.expression(vec),
      ids, flat, dim, cosine, k))
  }

  // ------------------------------------ distributed-assign bucket probe

  /** `array<int>` of the coarse-bucket ids a query must scan for its
    * EXACT nearest centroid ([[BucketProbeIndex]]) — the probe side of
    * the collect-free assign join ([[graft.operators.CentroidJoin]]):
    * only the m ≈ √k coarse centers + radii ride the plan; the full
    * centroid matrix stays a distributed table the caller equi-joins on
    * the emitted bucket ids. */
  def bucket_probe(vec: Column, index: BucketProbeIndex): Column =
    ColumnBridge.column(BucketProbeExpr(ColumnBridge.expression(vec), index))
}

case class L1DistExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def toString: String = s"l1_dist($left, $right)"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.l1(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecKernels.l1($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Sign-band LSH keys with the hyperplane matrix carried as a codegen
  * reference object — expression-tree size stays O(1) regardless of
  * bands×bits×dim (the literal-array form would inline thousands of
  * doubles into the plan and fall out of codegen past the 64KB limit).
  *
  * The case class carries only the deterministic GENERATOR parameters
  * (seed, bands, bits, dim), not the matrix itself: an `Array[Double]`
  * field compares by REFERENCE, so canonicalization-based
  * `ReuseExchange` on the (band, key) self-join only held while both
  * join sides shared one in-memory instance (true inside
  * [[graft.operators.SimilaritySearch.cosinePairsLsh]], fragile
  * everywhere else — two independently built `sign_bands` columns, or
  * an instance cloned through serialization, compared unequal and would
  * re-run the banding scan + shuffle). Scalar fields make the equality
  * structural, so the exchange is built once in every composition. The
  * matrix is re-derived lazily per (de)serialized instance — ~20 KB of
  * xorshift output, negligible once per executor. */
case class SignBandsExpr(child: Expression, baseSeed: Long,
                         bands: Int, bits: Int, dim: Int)
    extends UnaryExpression {
  @transient private lazy val planes: Array[Double] =
    VecKernels.planeMatrix(bands, bits, dim, baseSeed)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def toString: String = s"sign_bands($child, $bands x $bits)"
  protected override def nullSafeEval(v: Any): Any =
    VecKernels.signBands(v.asInstanceOf[ArrayData], planes, bands, bits, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("signPlanes", planes, "double[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.VecKernels.signBands($v, $pRef, $bands, $bits, $dim)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def toString: String = s"sorted_intersect_count($left, $right)"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecKernels.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Top-k nearest centroids (L1 or cosine) with the centroid matrix as a
  * codegen reference object; see [[VecKernels.nearest_centroids]].
  *
  * The centroid matrix is TRAINED data (not derivable from a seed like
  * [[SignBandsExpr]]), so the arrays stay as fields — but case-class
  * equality on `Array` fields is by reference, which defeats
  * canonicalization (`semanticEquals`, `ReuseExchange`, subexpression
  * elimination) across analyzer-cloned or independently built instances.
  * Equality and hashCode are overridden to compare array CONTENTS via
  * `java.util.Arrays` (primitive-fast, no boxing). */
case class NearestCentroidsExpr(child: Expression, ids: Array[Int],
                                flat: Array[Double], dim: Int,
                                cosine: Boolean, k: Int)
    extends UnaryExpression {
  override def equals(other: Any): Boolean = other match {
    case o: NearestCentroidsExpr =>
      child == o.child && dim == o.dim && cosine == o.cosine && k == o.k &&
        java.util.Arrays.equals(ids, o.ids) &&
        java.util.Arrays.equals(flat, o.flat)
    case _ => false
  }
  override def hashCode(): Int = {
    var h = child.hashCode()
    h = h * 31 + java.util.Arrays.hashCode(ids)
    h = h * 31 + java.util.Arrays.hashCode(flat)
    h = h * 31 + dim
    h = h * 31 + (if (cosine) 1 else 0)
    h * 31 + k
  }
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("d", DoubleType, nullable = false))),
    containsNull = false)
  override def toString: String = s"nearest_centroids($child, ${ids.length}, top$k)"
  protected override def nullSafeEval(v: Any): Any =
    VecKernels.topCentroids(v.asInstanceOf[ArrayData], ids, flat, dim, cosine, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("centroidIds", ids, "int[]")
    val flatRef = ctx.addReferenceObj("centroidFlat", flat, "double[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.VecKernels.topCentroids($v, $idsRef, $flatRef, $dim, $cosine, $k)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Coarse-bucket probe table for the DISTRIBUTED-exact nearest-centroid
  * assign join ([[graft.operators.CentroidJoin.assignExact]]): m coarse
  * centers (flat, row-major, every row exactly `dim` long) with the L1
  * radius of each bucket (max member distance to its center; `live(g)`
  * false marks a bucket that received no centroids and must never be
  * probed). It holds only the O(√k·dim) COARSE summary — the k-row
  * centroid matrix itself stays distributed.
  *
  * Exactness (L1, zip-to-common-prefix semantics): for a query q with
  * effective length n = min(|q|, dim) and any centroid c of length dim in
  * bucket g, dₙ(q,c) ≥ dₙ(q,center_g) − d_dim(c,center_g) ≥ dg − radius_g,
  * and the bucket's nearest member satisfies dₙ(q,member) ≤ dg + radius_g.
  * So ub = min over live g of (dg + radius_g) bounds the true minimum from
  * above, and every bucket whose lower bound does not PROVABLY exceed ub
  * (NaN comparisons are false, so NaN-poisoned centers/radii stay probed,
  * and a NaN-bearing query probes every live bucket) is emitted — the
  * downstream min-struct over the probed members is therefore the exact
  * global argmin with the broadcast-crossJoin branch's tie semantics.
  * Radii are computed over the full dim, so for a ragged (short) query
  * they over-estimate the truncated-subspace radius and the skip stays
  * exact — pruning just engages less. Centroids MUST be uniformly `dim`
  * long — [[graft.operators.CentroidJoin]] enforces that loudly, because
  * a centroid SHORTER than the query would flip the bound's direction. */
final class BucketProbeIndex(val flat: Array[Double], val radii: Array[Double],
                             val live: Array[Boolean], val dim: Int)
    extends Serializable {
  val m: Int = radii.length
  require(m > 0 && flat.length == m * dim && live.length == m,
    s"BucketProbeIndex: ${radii.length} radii, ${live.length} live flags, " +
      s"${flat.length} values, dim $dim")

  /** Candidate bucket ids for `vec`, ascending. Called from generated
    * code. Never empty for a NaN-free query: the ub-defining bucket's own
    * lower bound is dg − r ≤ dg + r = ub. */
  def probe(vec: ArrayData): ArrayData = {
    val n = math.min(vec.numElements(), dim)
    val x = new Array[Double](n)
    var qNaN = false
    var i = 0
    while (i < n) {
      val xi = vec.getDouble(i); x(i) = xi
      if (xi != xi) qNaN = true
      i += 1
    }
    val out = Array.newBuilder[Int]
    if (qNaN) {
      // every distance is NaN: the min-struct answer is the lowest
      // component id overall, which can live in any bucket
      var g = 0
      while (g < m) { if (live(g)) out += g; g += 1 }
    } else {
      val dg = new Array[Double](m)
      var ub = Double.PositiveInfinity
      var g = 0
      while (g < m) {
        if (live(g)) {
          var d = 0.0; var i2 = 0
          while (i2 < n) { d += math.abs(x(i2) - flat(g * dim + i2)); i2 += 1 }
          dg(g) = d
          val cand = d + radii(g)
          if (cand < ub) ub = cand // NaN cand fails the <, never tightens
        }
        g += 1
      }
      g = 0
      while (g < m) {
        // keep unless the bound PROVABLY exceeds ub — equality keeps the
        // bucket (an equal bound can hide an equal-distance lower id),
        // NaN bounds compare false and stay probed
        if (live(g) && !(dg(g) - radii(g) > ub)) out += g
        g += 1
      }
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out.result())
  }
}

/** Candidate-bucket probe; see [[VecKernels.bucket_probe]] and
  * [[BucketProbeIndex]]. Equality/hashCode compare the index's array
  * CONTENTS (reference equality would defeat `semanticEquals` across
  * analyzer-cloned instances — same reasoning as [[NearestCentroidsExpr]]). */
case class BucketProbeExpr(child: Expression, index: BucketProbeIndex)
    extends UnaryExpression {
  override def equals(other: Any): Boolean = other match {
    case o: BucketProbeExpr =>
      child == o.child && index.dim == o.index.dim &&
        java.util.Arrays.equals(index.flat, o.index.flat) &&
        java.util.Arrays.equals(index.radii, o.index.radii) &&
        java.util.Arrays.equals(index.live, o.index.live)
    case _ => false
  }
  override def hashCode(): Int = {
    var h = child.hashCode()
    h = h * 31 + java.util.Arrays.hashCode(index.flat)
    h = h * 31 + java.util.Arrays.hashCode(index.radii)
    h * 31 + index.dim
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def toString: String = s"bucket_probe($child, ${index.m})"
  protected override def nullSafeEval(v: Any): Any =
    index.probe(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idxRef = ctx.addReferenceObj("bucketProbeIndex", index,
      classOf[BucketProbeIndex].getName)
    defineCodeGen(ctx, ev, v => s"$idxRef.probe($v)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class DotExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def toString: String = s"dot_product($left, $right)"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecKernels.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}
