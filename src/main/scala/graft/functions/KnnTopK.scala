package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Exact per-query k nearest points of a kNN join, as one Spark
  * aggregate: each partition keeps, per query, its k best `(d², id)`
  * candidates (the partial result, ≤ |Q|·k per partition); the final
  * aggregate merges the partials by the same order and emits
  * `array<struct<q_id int, rank long, id long, d2 double>>` for `inline`.
  * The top k of the union of per-partition top ks is the global top k, so
  * the merge is exact — the partial/final split of a distributed kNN join,
  * with no Window, no sort and no exchange by query.
  *
  * Without `q` a row is offered to every query (the dense join). With `q`,
  * the position of one query in `queries` (a row per candidate query, as
  * `explode` of [[ShapeHits]] over one box per query gives), the row is
  * offered to that query only (the pruned joins).
  *
  * Order: d² = (lat − qlat)² + (lon − qlon)² ascending, then id — the
  * (d², id) order of the window formulation. A row with a null lat, lon,
  * id or q, or at NaN distance, is no one's neighbour. Inputs are read
  * from the row's primitive slots when they are plain columns (the usual
  * case), so no value is boxed. */
case class KnnTopK(lat: Expression, lon: Expression, id: Expression, q: Option[Expression],
                   queries: KnnTopK.Queries, k: Int,
                   mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KnnTopK.Slots] {

  require(k >= 1, s"k must be >= 1, got $k")

  override def children: Seq[Expression] = Seq(lat, lon, id) ++ q

  override def checkInputDataTypes(): TypeCheckResult =
    if (lat.dataType == DoubleType && lon.dataType == DoubleType && id.dataType == LongType &&
        q.forall(_.dataType == IntegerType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes (double, double, bigint[, int]), got ${children.map(_.dataType)}")

  override def nullable: Boolean = false

  override def dataType: DataType = KnnTopK.ResultType

  override def prettyName: String = "graft_knn_topk"

  // what plans print, partial and final alike: no buffer offsets
  override protected def flatArguments: Iterator[Any] =
    Iterator(lat, lon, id) ++ q ++ Iterator(queries, s"k=$k")

  override def createAggregationBuffer(): KnnTopK.Slots = new KnnTopK.Slots(queries, k)

  /** Input ordinals when every child is a bound column, else null. */
  @transient private lazy val ordinals: Array[Int] =
    if (children.forall(_.isInstanceOf[BoundReference]))
      children.map(_.asInstanceOf[BoundReference].ordinal).toArray
    else null

  override def update(buf: KnnTopK.Slots, row: InternalRow): KnnTopK.Slots = {
    val o = ordinals
    if (o != null) {
      if (!row.isNullAt(o(0)) && !row.isNullAt(o(1)) && !row.isNullAt(o(2))) {
        if (o.length == 3) buf.offerPoint(row.getDouble(o(0)), row.getDouble(o(1)), row.getLong(o(2)))
        else if (!row.isNullAt(o(3)))
          buf.offerTo(row.getInt(o(3)), row.getDouble(o(0)), row.getDouble(o(1)), row.getLong(o(2)))
      }
    } else {
      val v = children.map(_.eval(row))
      if (!v.contains(null)) {
        val (la, lo, i) = (v(0).asInstanceOf[Double], v(1).asInstanceOf[Double], v(2).asInstanceOf[Long])
        if (q.isEmpty) buf.offerPoint(la, lo, i) else buf.offerTo(v(3).asInstanceOf[Int], la, lo, i)
      }
    }
    buf
  }

  override def merge(buf: KnnTopK.Slots, other: KnnTopK.Slots): KnnTopK.Slots = {
    buf.mergeFrom(other)
    buf
  }

  override def eval(buf: KnnTopK.Slots): Any = buf.ranked

  override def serialize(buf: KnnTopK.Slots): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): KnnTopK.Slots =
    KnnTopK.Slots.fromBytes(bytes, queries, k)

  override def withNewMutableAggBufferOffset(o: Int): KnnTopK = copy(mutableAggBufferOffset = o)

  override def withNewInputAggBufferOffset(o: Int): KnnTopK = copy(inputAggBufferOffset = o)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KnnTopK =
    copy(lat = c(0), lon = c(1), id = c(2), q = q.map(_ => c(3)))
}

object KnnTopK {

  val ResultType: ArrayType = ArrayType(StructType(Seq(
    StructField("q_id", IntegerType, nullable = false),
    StructField("rank", LongType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("d2", DoubleType, nullable = false))), containsNull = false)

  /** The query points, by position: id, lat, lon. */
  final class Queries(val ids: Array[Int], val lat: Array[Double], val lon: Array[Double])
    extends Serializable {
    def size: Int = ids.length
    override def toString: String = s"queries=$size"
  }

  /** Per query, up to k `(d², id)` slots, flat (query q owns
    * `[q·k, q·k + size(q))`); once full, `worst(q)` is its greatest slot,
    * so a candidate that is not better costs one comparison. NaN never
    * enters a slot. */
  final class Slots(qs: Queries, k: Int) {
    private val nq = qs.size
    private val d2s = new Array[Double](nq * k)
    private val ids = new Array[Long](nq * k)
    private val size = new Array[Int](nq)
    private val worst = new Array[Int](nq)

    def offerPoint(la: Double, lo: Double, id: Long): Unit = {
      var q = 0
      while (q < nq) {
        val dla = la - qs.lat(q)
        val dlo = lo - qs.lon(q)
        offer(q, dla * dla + dlo * dlo, id)
        q += 1
      }
    }

    /** Offers the point to query `q` alone. */
    def offerTo(q: Int, la: Double, lo: Double, id: Long): Unit = {
      val dla = la - qs.lat(q)
      val dlo = lo - qs.lon(q)
      offer(q, dla * dla + dlo * dlo, id)
    }

    def offer(q: Int, d2: Double, id: Long): Unit =
      if (size(q) < k) {
        if (d2 == d2) {
          val s = q * k + size(q)
          d2s(s) = d2; ids(s) = id
          size(q) += 1
          if (size(q) == k) recomputeWorst(q)
        }
      } else {
        val w = worst(q)
        if (d2 < d2s(w) || (d2 == d2s(w) && id < ids(w))) {
          d2s(w) = d2; ids(w) = id
          recomputeWorst(q)
        }
      }

    private def recomputeWorst(q: Int): Unit = {
      var w = q * k
      var i = w + 1
      while (i < q * k + k) {
        if (d2s(i) > d2s(w) || (d2s(i) == d2s(w) && ids(i) > ids(w))) w = i
        i += 1
      }
      worst(q) = w
    }

    def mergeFrom(o: Slots): Unit = {
      var q = 0
      while (q < nq) {
        var i = q * k
        while (i < q * k + o.size(q)) { offer(q, o.d2s(i), o.ids(i)); i += 1 }
        q += 1
      }
    }

    /** (q_id, rank, id, d²) rows, per query in (d², id) order. */
    def ranked: ArrayData = {
      val out = new Array[Any](size.sum)
      var n = 0
      var q = 0
      while (q < nq) {
        val order = (q * k until q * k + size(q)).sortWith { (a, b) =>
          d2s(a) < d2s(b) || (d2s(a) == d2s(b) && ids(a) < ids(b))
        }
        var r = 0
        while (r < order.length) {
          out(n) = InternalRow(qs.ids(q), (r + 1).toLong, ids(order(r)), d2s(order(r)))
          n += 1
          r += 1
        }
        q += 1
      }
      new GenericArrayData(out)
    }

    /** size(q) then its (d², id) slots, query by query. */
    def toBytes: Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(4 * nq + 16 * size.sum)
      var q = 0
      while (q < nq) {
        b.putInt(size(q))
        var i = q * k
        while (i < q * k + size(q)) { b.putDouble(d2s(i)).putLong(ids(i)); i += 1 }
        q += 1
      }
      b.array()
    }
  }

  object Slots {
    def fromBytes(bytes: Array[Byte], qs: Queries, k: Int): Slots = {
      val s = new Slots(qs, k)
      val b = java.nio.ByteBuffer.wrap(bytes)
      var q = 0
      while (q < qs.size) {
        var n = b.getInt()
        while (n > 0) { s.offer(q, b.getDouble(), b.getLong()); n -= 1 }
        q += 1
      }
      s
    }
  }

  /** `array<struct<q_id, rank, id, d2>>` of the k nearest of `queries`
    * among the points (`lat`, `lon`, `id`): double, double, bigint columns;
    * `q`, an int column, names the one query each row is offered to. */
  def of(lat: Column, lon: Column, id: Column, queries: Queries, k: Int,
         q: Option[Column] = None): Column = {
    def e(c: Column) = GraftColumnBridge.expression(c)
    GraftColumnBridge.column(
      KnnTopK(e(lat), e(lon), e(id), q.map(e), queries, k).toAggregateExpression())
  }
}
