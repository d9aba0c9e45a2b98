package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** Membership of a long key in a sorted, disjoint set of [lo, hi] ranges
  * as a NATIVE codegen'd binary search — O(log n) per row with constant
  * generated-code size, regardless of range count.
  *
  * Why not a `z BETWEEN a AND b OR ...` disjunction: an n-term Or tree
  * costs O(n) comparisons PER ROW and its generated method grows with n —
  * measured 4.1 s for a 256-range covering over a cached 600k-row scan
  * (~13 µs/row, interpreted-eval territory once the method blows past JIT
  * limits) vs 0.45 s at 16 ranges. Curve-range coverings of multi-geometry
  * stored reads routinely want HUNDREDS of ranges (finer covering =
  * smaller superset = less downstream refine work), so the membership
  * test must not be linear in the covering size, nor spell the covering
  * into the generated source (no two queries would share a compiled
  * class). This expression probes a driver-built
  * `long[]` (flattened [lo0,hi0,lo1,hi1,...], referenced via
  * `ctx.addReferenceObj` — never serialized into the generated source) in
  * ~log2(n) steps inside whole-stage codegen.
  *
  * Not translatable to a parquet data-source filter: stored reads skip
  * whole files whose manifest Z span meets no range ([[meets]], in
  * [[graft.table.SnapshotStore]]'s planner) and probe the rows of the
  * files they keep ([[graft.geo.GeoCols.zCoveringPredicate]]).
  */
case class ZRangeContains(child: Expression, bounds: Array[Long])
  extends UnaryExpression {

  require(bounds.length % 2 == 0, "bounds must be flattened [lo,hi] pairs")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_z_in_ranges requires a bigint key, got $t")
  }

  override def dataType: DataType = BooleanType

  override def prettyName: String = "graft_z_in_ranges"

  // the array rides in the expression tree; equality/explain stay sane
  // with a value-based summary rather than array identity
  override def toString: String =
    s"$prettyName($child, ranges=${bounds.length / 2})"

  // Array[Long] gets identity equals from the case class, which would
  // make two probes over the same covering compare unequal — defeating
  // canonicalization-based reuse (semanticEquals, ReuseExchange, CSE)
  // that the plain BETWEEN disjunction gets for free
  override def equals(other: Any): Boolean = other match {
    case z: ZRangeContains =>
      child == z.child && java.util.Arrays.equals(bounds, z.bounds)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(bounds)

  override protected def nullSafeEval(input: Any): Any =
    ZRangeContains.contains(bounds, input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arr = ctx.addReferenceObj("zrBounds", bounds, "long[]")
    nullSafeCodeGen(ctx, ev, z => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      val idx = ctx.freshName("idx")
      s"""
         |int $lo = 0, $hi = $arr.length / 2 - 1, $idx = -1;
         |while ($lo <= $hi) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  if ($arr[2 * $mid] <= $z) { $idx = $mid; $lo = $mid + 1; }
         |  else $hi = $mid - 1;
         |}
         |${ev.value} = $idx >= 0 && $z <= $arr[2 * $idx + 1];
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ZRangeContains =
    copy(child = newChild)
}

object ZRangeContains {
  /** The probe's flattened [lo0,hi0,lo1,hi1,...] layout of sorted,
    * disjoint ranges. */
  def bounds(ranges: Seq[(Long, Long)]): Array[Long] =
    ranges.iterator.flatMap(r => Iterator(r._1, r._2)).toArray

  /** Interpreted twin of the generated search (used by nullSafeEval and
    * directly testable). */
  def contains(bounds: Array[Long], z: Long): Boolean = meets(bounds, z, z)

  /** Does [lo, hi] meet some range? Only the greatest range starting at
    * or below `hi` can (later ones start past `hi`, earlier ones end
    * before it does) — the file-level twin of the row probe. */
  def meets(bounds: Array[Long], lo: Long, hi: Long): Boolean = {
    var l = 0
    var h = bounds.length / 2 - 1
    var idx = -1
    while (l <= h) {
      val mid = (l + h) >>> 1
      if (bounds(2 * mid) <= hi) { idx = mid; l = mid + 1 }
      else h = mid - 1
    }
    idx >= 0 && lo <= bounds(2 * idx + 1)
  }
}
