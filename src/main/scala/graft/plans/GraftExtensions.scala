package graft.plans

import graft.geo.GeoCols
import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** SparkSessionExtensions registration: exposes the engine's core scalar
  * surface to plain SQL (`spark.sql("SELECT graft_cell(lat, lon, 6) ...")`)
  * so a SQL-only user of the reference can switch without the Scala API.
  *
  * The geo functions ARE the [[graft.geo.GeoCols]] Columns over the
  * argument expressions — one spelling, so SQL and the Column API agree
  * on every row (the grid clamp at lat=90 / lon=180 included); they are
  * built-in expression trees, so codegen, pushdown, and constant folding
  * apply unchanged (SURVEY.md §4.3: no custom Rule/Strategy needed).
  * `graft_dot` is the one custom Expression ([[graft.functions.VecDot]]):
  * built-ins can only express a dot product through interpreted HOF
  * lambdas, which is exactly the case the extension ladder reserves for a
  * native codegen'd Expression.
  *
  * Usage: `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def resOf(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"resolution must be an integer literal, got $other")
  }

  /** A [[GeoCols]] builder over argument expressions, each cast to `t`. */
  private def geo(args: Seq[Expression], t: DataType)(f: Seq[Column] => Column): Expression =
    GraftColumnBridge.expression(f(args.map(a => GraftColumnBridge.column(Cast(a, t)))))

  /** The function registrations, exposed so they can also be installed on
    * an already-running session ([[GraftExtensions.install]]) — e.g. a
    * shared test session or a REPL where the builder has already fired. */
  def registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    def info(name: String, usage: String) =
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
        "", "", "", "math_funcs", "", "", "built-in")
    Seq(
      (FunctionIdentifier("graft_cell"),
        info("graft_cell", "graft_cell(lat, lon, res) - row-major grid cell id"),
        (args: Seq[Expression]) => {
          require(args.length == 3, "graft_cell(lat, lon, res)")
          val r = resOf(args(2))
          geo(args.take(2), DoubleType)(c => GeoCols.cellCol(c(0), c(1), r))
        }),
      (FunctionIdentifier("graft_d2"),
        info("graft_d2", "graft_d2(lat, lon, qlat, qlon) - squared planar degree distance"),
        (args: Seq[Expression]) => {
          require(args.length == 4, "graft_d2(lat, lon, qlat, qlon)")
          geo(args, DoubleType)(c => GeoCols.d2Cols(c(0), c(1), c(2), c(3)))
        }),
      (FunctionIdentifier("graft_lat"),
        info("graft_lat", "graft_lat(phash) - derived latitude from the 64-bit phash"),
        (args: Seq[Expression]) => {
          require(args.length == 1, "graft_lat(phash)")
          geo(args, LongType)(c => GeoCols.geoFromPhashLat(c(0)))
        }),
      (FunctionIdentifier("graft_lon"),
        info("graft_lon", "graft_lon(phash) - derived longitude from the 64-bit phash"),
        (args: Seq[Expression]) => {
          require(args.length == 1, "graft_lon(phash)")
          geo(args, LongType)(c => GeoCols.geoFromPhashLon(c(0)))
        }),
      // range membership for stored-read coverings: O(log n) codegen'd
      // binary search over a driver-built bounds array — an n-term
      // BETWEEN disjunction is O(n) per row and measured seconds at a few
      // hundred ranges ([[graft.functions.ZRangeContains]])
      (FunctionIdentifier("graft_z_in_ranges"),
        info("graft_z_in_ranges",
          "graft_z_in_ranges(z, array<bigint>) - binary-search membership in flattened [lo,hi] key ranges"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "graft_z_in_ranges(z, bounds)")
          require(args(1).foldable,
            "graft_z_in_ranges bounds must be a literal array")
          // cast to array<bigint> before eval: a bare array(1, 2) literal
          // is array<int> and toLongArray would throw a raw CCE otherwise
          val ad = Cast(args(1), org.apache.spark.sql.types.ArrayType(LongType))
            .eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          require(ad != null && !(0 until ad.numElements()).exists(ad.isNullAt),
            "graft_z_in_ranges bounds must be non-null bigint values")
          val bounds = ad.toLongArray()
          // the binary search is only correct over sorted disjoint pairs
          // (CellId.mergeRanges output) — reject anything else here or a
          // SQL caller gets silent false negatives, not an error
          require(bounds.length % 2 == 0 &&
            (1 until bounds.length).forall(i => bounds(i - 1) <= bounds(i)) &&
            (2 until bounds.length by 2).forall(i => bounds(i - 1) < bounds(i)),
            "graft_z_in_ranges bounds must be ascending disjoint [lo,hi] pairs")
          graft.functions.ZRangeContains(Cast(args(0), LongType), bounds)
        }),
      // the one other genuinely custom Expression (codegen'd primitive
      // loop — HOF lambdas run interpreted and dominate ANN scans
      // otherwise)
      (FunctionIdentifier("graft_dot"),
        info("graft_dot", "graft_dot(array<double>, array<double>) - codegen'd dot product"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "graft_dot(a, b)")
          graft.functions.VecDot(
            Cast(args(0), org.apache.spark.sql.types.ArrayType(DoubleType)),
            Cast(args(1), org.apache.spark.sql.types.ArrayType(DoubleType)))
        }))
  }

  override def apply(ext: SparkSessionExtensions): Unit =
    registrations.foreach(ext.injectFunction)
}

object GraftExtensions {
  /** Register the graft_* SQL functions a live session lacks. Functions
    * already there are left as they are: every store opened on a session
    * installs, and re-registering would replace (and log a warning for)
    * each function every time. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    new GraftExtensions().registrations.foreach { case (id, inf, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, inf, builder)
    }
  }
}
