package org.apache.spark.sql.graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, LongType}

/** Broadcast IVF centroid table for the per-row nearest-cell kernel
  * ([[NearestCell]]) — r17, the assignment-shape rewrite behind
  * `graft.sim.Similarity.assignCells`.
  *
  * Why this exists (measured, SCALE_r17 §3b): the former plan shape —
  * broadcast-join the centroid table against every vector, then
  * `groupBy(id).agg(min_by(struct(cell, v), struct(d, cell)))` — is
  * partial-aggregatable, but the grouping key (the vector id) is
  * UNIQUE, so the partial aggregate reduces the candidate expansion
  * map-side and then still exchanges one full copy of every VECTOR
  * through the hash aggregate; the two-level route adds a second such
  * exchange, and every candidate row materializes a
  * `struct(d, cell, v)` copy inside the min_by state. At the 2M ×
  * dim-64 decade corpus (488 cells, two-level: ~44 candidate structs
  * × 536 B per vector ≈ 24 GB through the aggregate operators) the
  * join arm measured 53.5 s with 832 MB of compressed shuffle write
  * vs 3.3 s / 3.8 kB for this path, paired in one session
  * (SCALE_r17 §3b) — for what is per-row arithmetic. This kernel
  * evaluates the SAME argmin as one scalar expression per row — no
  * join, no exchange, no aggregate; the assignment becomes map-only
  * and fuses into whole-stage codegen above the scan.
  *
  * Exactness (term-for-term with the join form, which remains in
  * `Similarity.assignCellsJoin` as the streaming/oversized arm and
  * the spec comparison arm):
  *  - distance: `dot(v,v) + dot(c,c) - 2.0*dot(v,c)`, each dot the
  *    sequential left fold over `min(len)` elements with null
  *    elements read as NaN — the exact [[DotProduct]] operation
  *    sequence ([[CellIndex.dot]] mirrors it; `dot(c,c)` is
  *    precomputed per centroid, bit-identical because the fold is
  *    deterministic).
  *  - comparison: [[SQLOrderingUtil.compareDoubles]] (Spark's SQL
  *    double ordering: NaN equals NaN and sorts last, -0.0 == 0.0) on
  *    `(d, cell)` lexicographically — min_by's interpreted struct
  *    ordering. Iteration ascends cell ids with strict improvement,
  *    so all-equal distances (including the all-NaN degenerate row)
  *    resolve to the LOWEST cell — the same row min_by picks when
  *    every ordering key compares equal (and the same row it picks
  *    for a null-d group, where nulls sort first and tie on cell).
  *  - two-level (ncells > TwoLevelGate): route to the nearest of the
  *    first-`nsuper` centroids (tie to lowest super), refine among
  *    the centroids TAGGED to that super (tag = argmin over supers,
  *    tie lowest — precomputed here with the same fold and
  *    comparator). With nsuper = ncells this reduces to the flat
  *    argmin, the same seam-free equivalence the join form proves.
  */
final class CellIndex(
    val cent: Array[Array[Double]], // centroid vectors, index = cell id
    val cc: Array[Double],          // dot(c,c) per centroid (precomputed fold)
    val nsuper: Int,                // 0 = single-level flat argmin
    val tag: Array[Int])            // centroid -> super tag (two-level only)
    extends Serializable {

  /** members(s) = ascending cell ids tagged to super s (two-level). */
  @transient lazy val members: Array[Array[Int]] = {
    val bs = Array.fill(nsuper)(Array.newBuilder[Int])
    var i = 0
    while (i < tag.length) { bs(tag(i)) += i; i += 1 }
    bs.map(_.result()) // builder preserves ascending insertion order
  }

  def nearest(v: ArrayData): Long = {
    val dv = CellIndex.dotV(v)
    if (nsuper == 0) best(v, dv, null) // flat scan over all cells
    else {
      // route: argmin over supers 0..nsuper-1 (cells are their own
      // first-k centroids, so super s IS centroid s)
      var s = 0
      var bd = CellIndex.dist(v, dv, cent(0), cc(0))
      var i = 1
      while (i < nsuper) {
        val d = CellIndex.dist(v, dv, cent(i), cc(i))
        if (SQLOrderingUtil.compareDoubles(d, bd) < 0) { s = i; bd = d }
        i += 1
      }
      best(v, dv, members(s))
    }
  }

  /** argmin over `among` (null = all cells), ascending ids, strict
    * improvement under the SQL double ordering — lowest id wins ties.
    */
  private def best(v: ArrayData, dv: Double, among: Array[Int]): Long = {
    val n = if (among == null) cent.length else among.length
    var bc = if (among == null) 0 else among(0)
    var bd = CellIndex.dist(v, dv, cent(bc), cc(bc))
    var i = 1
    while (i < n) {
      val c = if (among == null) i else among(i)
      val d = CellIndex.dist(v, dv, cent(c), cc(c))
      if (SQLOrderingUtil.compareDoubles(d, bd) < 0) { bc = c; bd = d }
      i += 1
    }
    bc.toLong
  }
}

object CellIndex {
  /** The [[DotProduct]] fold over an ArrayData and a plain array. */
  private def dot(v: ArrayData, c: Array[Double]): Double = {
    val n = math.min(v.numElements(), c.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (v.isNullAt(i)) Double.NaN else v.getDouble(i)
      acc += xv * c(i)
      i += 1
    }
    acc
  }

  private[graft] def dotV(v: ArrayData): Double = {
    val n = v.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (v.isNullAt(i)) Double.NaN else v.getDouble(i)
      acc += xv * xv
      i += 1
    }
    acc
  }

  private def dotA(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** dv + cc - 2*dot(v,c): Vec.sqDist's exact association. */
  private[graft] def dist(v: ArrayData, dv: Double, c: Array[Double],
      ccv: Double): Double = dv + ccv - 2.0 * dot(v, c)

  /** Build from collected centroids (index = cell id, already
    * renumbered dense by the caller). `twoLevel` mirrors the
    * assignCells gate; the centroid→super tag is the same argmin
    * (ties to the lowest super) the join form computes — EXCEPT that
    * a super's own centroid always tags to ITSELF (the self-tag
    * invariant, r17): squared distance is mathematically >= 0, but
    * the FP fold can evaluate a near-identical pair's distance a few
    * ulp NEGATIVE — beating the exact-zero self distance — and a
    * constructed ulp-perturbed seed (SimilaritySpec's degenerate
    * corpus) produced a super with NO tagged members, which this
    * kernel answered with a crash and the join/oracle forms with a
    * silently DROPPED row for every vector routed there (near-dup
    * seed regions are this engine's primary workload, so the
    * degenerate seed is not hypothetical). With the self-tag pinned
    * (mirrored in the join arm's min_by priority field and the
    * oracle CTE), every routable super is nonempty by construction;
    * non-degenerate tags (strictly positive cross distances) are
    * unchanged.
    */
  def build(cent: Array[Array[Double]], twoLevel: Boolean): CellIndex = {
    val cc = cent.map(c => dotA(c, c))
    if (!twoLevel || cent.isEmpty)
      new CellIndex(cent, cc, 0, Array.emptyIntArray)
    else {
      val nsuper = math.ceil(math.sqrt(cent.length.toDouble)).toInt
      val tag = Array.tabulate(cent.length) { ci =>
        if (ci < nsuper) ci // self-tag invariant
        else {
          val dv = dotA(cent(ci), cent(ci))
          var s = 0
          var bd = dv + cc(0) - 2.0 * dotA(cent(ci), cent(0))
          var i = 1
          while (i < nsuper) {
            val d = dv + cc(i) - 2.0 * dotA(cent(ci), cent(i))
            if (SQLOrderingUtil.compareDoubles(d, bd) < 0) { s = i; bd = d }
            i += 1
          }
          s
        }
      }
      new CellIndex(cent, cc, nsuper, tag)
    }
  }
}

/** `NearestCell(v)` — the cell id of the nearest broadcast centroid
  * (see [[CellIndex]] for the exact semantics). Null input resolves
  * like the join form's null-distance group: all comparisons equal →
  * lowest candidate cell (NOT null-out — the join form assigns such
  * rows, it does not drop them).
  *
  * CodegenFallback, the [[ClosestCatalogProbe]] rationale and price: the
  * per-row work IS the candidate distance loop, which generated code
  * could not meaningfully improve, and the projection holding the call
  * is left out of whole-stage codegen.
  */
case class NearestCell(child: Expression, bc: Broadcast[CellIndex])
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "nearest_cell"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) NearestCell.nullVector(bc.value)
    else bc.value.nearest(v.asInstanceOf[ArrayData])
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCell =
    copy(child = newChild)
}

object NearestCell {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.classic.ExpressionUtils

  /** The join form's result for a NULL vector: every distance is null,
    * nulls compare equal, min_by ties down the candidate list — the
    * lowest cell overall (single-level) or the lowest member of super
    * 0's tag group (two-level; super 0 wins the all-null route tie).
    */
  def nullVector(idx: CellIndex): Long =
    if (idx.nsuper == 0) 0L
    else idx.members(0)(0).toLong

  def apply(v: Column, bc: Broadcast[CellIndex]): Column =
    ExpressionUtils.column(NearestCell(ExpressionUtils.expression(v), bc))
}
