package graft.functions

import graft.geo.{CellId, MBR, Poly, Shape}
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}
import org.apache.spark.unsafe.Platform

/** The ids of the boxes or polygons containing the point (`left`, `right`)
  * = (lat, lon), as an `array<int>` — the filter-and-refine step of the
  * spatial joins (an MBR prune, then the exact test; RStarTree.java:426)
  * for any number of shapes in one codegen'd expression. `explode` of it
  * is the join: one scan, no join operator, no broadcast, no exchange.
  *
  * Filter: the point's grid cell at the index's resolution, looked up by
  * binary search in the driver-built [[ShapeHits.Index]]. Refine: each
  * candidate's own `contains` ([[MBR.contains]] / [[Poly.contains]],
  * bit-identical to the oracle SQL). The index rides by reference
  * (`ctx.addReferenceObj`, as [[RowDeleted]]'s vectors do), so joins over
  * other shapes or at another resolution share one generated source. A
  * null coordinate gives null (no row under `explode`); a NaN one is in no
  * shape. */
case class ShapeHits(left: Expression, right: Expression, index: ShapeHits.Index)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes double lat/lon, got ${left.dataType}/${right.dataType}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "graft_shape_hits"

  override def toString: String = s"$prettyName($left, $right, $index)"

  override protected def nullSafeEval(lat: Any, lon: Any): Any =
    index.hits(lat.asInstanceOf[Double], lon.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("shapeIndex", index, classOf[ShapeHits.Index].getName)
    defineCodeGen(ctx, ev, (lat, lon) => s"$idx.hits($lat, $lon)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression)
      : ShapeHits = copy(left = newLeft, right = newRight)
}

object ShapeHits {

  /** Shapes by grid cell at resolution `r`: `cells` sorted, `cands(i)` the
    * shapes (positions in `shapes`, ascending) whose covering holds
    * `cells(i)`, and `rest` the shapes tested at every point (a covering
    * over the cell budget) — the candidates of a point whose cell is in
    * no covering. */
  final class Index private[functions] (ids: Array[Int], shapes: Array[Shape], r: Int,
                                        cells: Array[Long], cands: Array[Array[Int]],
                                        rest: Array[Int]) extends Serializable {

    override def toString: String = s"shapes=${shapes.length}, r=$r"

    /** Ids of the shapes containing (lat, lon), in shape order; the one
      * shared empty array when there are none. */
    def hits(lat: Double, lon: Double): ArrayData = {
      val k = java.util.Arrays.binarySearch(cells,
        CellId.cellY(lat, r) * CellId.n(r) + CellId.cellX(lon, r))
      val cand = if (k >= 0) cands(k) else rest
      var out: Array[Int] = null
      var m = 0
      var i = 0
      while (i < cand.length) {
        val s = cand(i)
        if (shapes(s).contains(lat, lon)) {
          if (out == null) out = new Array[Int](cand.length - i)
          out(m) = ids(s)
          m += 1
        }
        i += 1
      }
      if (m == 0) Empty else UnsafeArrayData.fromPrimitiveArray(out, Platform.INT_ARRAY_OFFSET, m, 4)
    }
  }

  private val Empty: ArrayData = UnsafeArrayData.fromPrimitiveArray(Array.emptyIntArray)

  /** The index of `shapes` at resolution `r`: each shape's exact covering
    * ([[CellId.cover]] for a box, [[CellId.coverPoly]] for a polygon), or
    * the every-point list when that covering passes `maxCells`. */
  def index(shapes: Seq[(Int, Shape)], r: Int, maxCells: Long): Index = {
    val covers = shapes.map {
      case (_, b: MBR) => if (CellId.coverCount(b, r) > maxCells) None else Some(CellId.cover(b, r))
      case (_, p: Poly) => Some(CellId.coverPoly(p, r)).filter(_.size <= maxCells)
    }
    val (mapped, always) = shapes.indices.partition(covers(_).isDefined)
    val byCell = mapped.flatMap(i => covers(i).get.map(_ -> i)).groupMap(_._1)(_._2)
    val cells = byCell.keys.toArray.sorted
    new Index(shapes.map(_._1).toArray, shapes.map(_._2).toArray, r, cells,
      cells.map(c => (byCell(c) ++ always).sorted.toArray), always.toArray)
  }

  /** The hit ids of the point (`lat`, `lon`), cast to double. */
  def of(lat: Column, lon: Column, index: Index): Column =
    GraftColumnBridge.column(ShapeHits(GraftColumnBridge.expression(lat.cast(DoubleType)),
      GraftColumnBridge.expression(lon.cast(DoubleType)), index))
}
