package graft.geo

import graft.functions.Param
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Catalyst-friendly spatial Column expressions. Everything here composes
  * built-in expressions (arithmetic, floor, CASE) and graft's codegen'd
  * leaves ([[Param]], [[graft.functions.ZRangeContains]]) — no UDFs, no
  * closures — so plans stay inside whole-stage codegen. Per-query values
  * (box corners, cell bounds, query points) enter as [[Param]]s, never
  * literals, which would recompile a stage on every query; constants of
  * the resolution `r` alone stay literals (`r` takes a few values).
  *
  * Every formula has a character-for-character SQL twin in
  * [[graft.oracle.OracleSql]]; both are pure IEEE-double arithmetic over
  * the same inputs, so Spark and DuckDB produce bit-identical values.
  */
object GeoCols {

  /** Row-major grid cell id at resolution r — the global partition key.
    * Distributed analog of the reference's per-node MBR prune
    * (RStarTree.java:426): filters on this column prune parquet row groups
    * and partitions. */
  def cellCol(lat: Column, lon: Column, r: Int): Column =
    cellYIdx(lat, r) * lit(CellId.n(r)) + cellXIdx(lon, r)

  /** Clamped grid row index of a latitude Column — the Column twin of
    * [[CellId.cellY]]. Building block for coverings of rectangle-valued
    * ROWS (the MBR-intersection join), where the box corners live in
    * columns rather than plan literals. */
  def cellYIdx(lat: Column, r: Int): Column =
    clampIdx(floor((lat + lit(90.0)) / lit(CellId.latStep(r))), r)

  /** Clamped grid column index of a longitude Column ([[CellId.cellX]]). */
  def cellXIdx(lon: Column, r: Int): Column =
    clampIdx(floor((lon + lit(180.0)) / lit(CellId.lonStep(r))), r)

  /** Clamp a grid index into [0, 2^r − 1] — mirrors [[CellId.cellY]]/
    * [[CellId.cellX]] (and the oracle SQL twin), so a point exactly at
    * lat=90 or lon=180 (legal user input on a stored table) lands in the
    * edge cell that driver-computed covering sets actually contain. */
  private def clampIdx(idx: Column, r: Int): Column =
    least(greatest(idx, lit(0L)), lit(CellId.n(r) - 1))

  /** Morton (Z-order) id at resolution r — the clustering key for bulk
    * packing. Pure bit-twiddling on built-in expressions (shiftleft / and /
    * or), codegen-compatible. */
  def zCol(lat: Column, lon: Column, r: Int): Column = {
    val y = cellYIdx(lat, r)
    val x = cellXIdx(lon, r)
    def spread(v: Column): Column = {
      var c = v.bitwiseAND(lit(0xFFFFFFFFL))
      c = (c.bitwiseOR(shiftleft(c, 16))).bitwiseAND(lit(0x0000FFFF0000FFFFL))
      c = (c.bitwiseOR(shiftleft(c, 8))).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      c = (c.bitwiseOR(shiftleft(c, 4))).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      c = (c.bitwiseOR(shiftleft(c, 2))).bitwiseAND(lit(0x3333333333333333L))
      c = (c.bitwiseOR(shiftleft(c, 1))).bitwiseAND(lit(0x5555555555555555L))
      c
    }
    shiftleft(spread(y), 1).bitwiseOR(spread(x))
  }

  /** STR (Sort-Tile-Recursive) packing key: latitude STRIP index at
    * `stripRes` in the high 32 bits, fine longitude index at `fineRes` in
    * the low bits — range-partitioning on it reproduces STR's two-level
    * sort (primary by one axis into √(n/fanout)-ish strips, secondary by
    * the other axis within each strip) as ONE key, so the same
    * repartitionByRange + sortWithinPartitions pack serves all three
    * curves. Primary axis is lat, mirroring the reference's coords[0]
    * bulk-load sort (RStarTree.java:177) — STR is that sort plus the
    * within-strip secondary order it lacks. */
  def strCol(lat: Column, lon: Column, stripRes: Int, fineRes: Int): Column =
    shiftleft(cellYIdx(lat, stripRes), 32).bitwiseOR(cellXIdx(lon, fineRes))

  /** Append a Hilbert-curve clustering key column ([[CellId.hilbertD]]
    * twin) — the alternative bulk-load packing key the north star names
    * next to STR. A DataFrame-level builder rather than a single Column:
    * the xy2d walk mutates (x, y) each level, and materializing the
    * working coords as named per-level columns keeps every level's
    * expressions evaluated ONCE inside whole-stage codegen (a single
    * nested Column would re-expand the mutated coords ~6× per level —
    * the janino-blowup shape). Spark's CollapseProject keeps the
    * projections separate because the per-level conditionals are
    * non-cheap; bit-parity with the JVM walk is spec-pinned. */
  def withHilbert(df: org.apache.spark.sql.DataFrame, lat: Column, lon: Column,
                  r: Int, out: String): org.apache.spark.sql.DataFrame = {
    val n = CellId.n(r)
    var cur = df
      .withColumn("__hx", cellXIdx(lon, r))
      .withColumn("__hy", cellYIdx(lat, r))
      .withColumn("__hd", lit(0L))
    for (i <- r - 1 to 0 by -1) {
      val s = 1L << i
      val rx = shiftright(col("__hx"), i).bitwiseAND(lit(1L))
      val ry = shiftright(col("__hy"), i).bitwiseAND(lit(1L))
      val d = col("__hd") + lit(s * s) * (lit(3L) * rx).bitwiseXOR(ry)
      // rot: when ry==0, complement on rx==1 then swap axes
      val nx = when(ry === 1L, col("__hx"))
        .otherwise(when(rx === 1L, lit(n - 1) - col("__hy")).otherwise(col("__hy")))
      val ny = when(ry === 1L, col("__hy"))
        .otherwise(when(rx === 1L, lit(n - 1) - col("__hx")).otherwise(col("__hx")))
      cur = cur.withColumns(Map("__hd" -> d, "__hx" -> nx, "__hy" -> ny))
    }
    cur.withColumn(out, col("__hd")).drop("__hd", "__hx", "__hy")
  }

  /** One clustering curve: how a `(lat, lon, …)` frame gets its `__z` key
    * at resolution r, and which key ranges cover a box. The two must agree
    * bit-for-bit or a stored read's covering stops covering its rows. */
  private final case class Curve(key: (DataFrame, Int) => DataFrame,
                                 ranges: (MBR, Int, Int) => Seq[(Long, Long)])

  /** STR strip resolution: 2^(r/2) lat strips, the fixed-key stand-in for
    * STR's √(n/fanout) strip count; the within-strip lon index runs at
    * [[CellId.MaxRes]]. */
  private def strStripRes(r: Int): Int = math.max(1, r / 2)

  /** The three packings the north star names ("STR/Hilbert-curve bulk-load
    * packing"): Morton (default), Hilbert (consecutive key values
    * grid-adjacent → tightest file bounds, fewest covering ranges) and STR
    * (lat strips, lon-ordered within — the classic packed-R-tree layout).
    * Content is curve-independent; only file bounds and coverings differ. */
  private val curves = scala.collection.immutable.ListMap(
    "z" -> Curve((df, r) => df.withColumn("__z", zCol(col("lat"), col("lon"), r)),
      (b, r, m) => CellId.zRangesForMbr(b, r, m)),
    "hilbert" -> Curve((df, r) => withHilbert(df, col("lat"), col("lon"), r, "__z"),
      (b, r, m) => CellId.hilbertRangesForMbr(b, r, m)),
    "str" -> Curve((df, r) => df.withColumn("__z",
        strCol(col("lat"), col("lon"), strStripRes(r), CellId.MaxRes)),
      (b, r, m) => CellId.strRangesForMbr(b, strStripRes(r), CellId.MaxRes, m)))

  /** The curve names [[withCurveKey]] and [[curveRanges]] accept. */
  val CurveNames: Seq[String] = curves.keys.toSeq

  private def curveOf(name: String): Curve = curves.getOrElse(name,
    throw new IllegalArgumentException(
      s"unknown clustering curve '$name' (want ${CurveNames.mkString(" | ")})"))

  /** `df` with its `__z` clustering key for `curve` at resolution `r`. */
  def withCurveKey(df: DataFrame, curve: String, r: Int): DataFrame =
    curveOf(curve).key(df, r)

  /** At most `maxRanges` sorted key ranges of `curve` at resolution `r`
    * covering box `b` — the twin of [[withCurveKey]]'s key. */
  def curveRanges(curve: String, b: MBR, r: Int, maxRanges: Int): Seq[(Long, Long)] =
    curveOf(curve).ranges(b, r, maxRanges)

  /** Covering predicate for a stored read's key column: membership of the
    * MATERIALIZED Morton column (a stored table's `__z` sort key) in the
    * covering, as the O(log n) binary-search probe
    * [[graft.functions.ZRangeContains]] at any range count. Its generated
    * code holds the ranges by reference, so every covering shares one
    * compiled class. It does not push to parquet: the store skips files
    * by their manifest Z span against the same covering
    * ([[graft.table.SnapshotStore.read]]). Ranges must be sorted and
    * disjoint ([[CellId.mergeRanges]] output).
    *
    * The probe column is built DIRECTLY from the
    * [[graft.functions.ZRangeContains]] expression — not through the
    * `graft_z_in_ranges` SQL registration, which resolves at analysis
    * time against the DataFrame's session and would make this public API
    * fail on any session without [[graft.plans.GraftExtensions]]
    * installed (the registration stays, for SQL-text users). */
  def zCoveringPredicate(zc: Column, ranges: Seq[(Long, Long)]): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.ZRangeContains(
      GraftColumnBridge.expression(zc), graft.functions.ZRangeContains.bounds(ranges)))
  }

  /** Covering-region prune as a rectangle in grid coordinates: four
    * comparisons on two small floor expressions — the computed-column twin
    * of [[zCoveringPredicate]] (a cell box [y0..y1]×[x0..x1] IS the
    * covering of any lat/lon box or ring union, so no Morton arithmetic is
    * needed until the key is materialized). */
  def cellBoxPredicate(lat: Column, lon: Column, r: Int,
                       y0: Long, y1: Long, x0: Long, x1: Long): Column = {
    // same clamped indices as cellCol/zCol — the lat=90/lon=180 edge
    // contract is defined once
    val y = cellYIdx(lat, r)
    val x = cellXIdx(lon, r)
    y >= Param.of(y0) && y <= Param.of(y1) && x >= Param.of(x0) && x <= Param.of(x1)
  }

  /** Inclusive box containment — MBR.java:57-64 semantics. */
  def inBox(lat: Column, lon: Column, b: MBR): Column =
    lat >= Param.of(b.minLat) && lat <= Param.of(b.maxLat) &&
    lon >= Param.of(b.minLon) && lon <= Param.of(b.maxLon)

  /** Squared planar degree-space distance — MBR.java:67-79 / the serial
    * kNN metric (Benchmark.java:425-430). Squared (sqrt-free) so ordering
    * and pruning are exact. */
  def d2(lat: Column, lon: Column, qLat: Double, qLon: Double): Column =
    d2Cols(lat, lon, Param.of(qLat), Param.of(qLon))

  def d2Cols(lat: Column, lon: Column, qLat: Column, qLon: Column): Column =
    (lat - qLat) * (lat - qLat) + (lon - qLon) * (lon - qLon)

  /** Derive deterministic (lat, lon) from a 64-bit phash — keeps the stored
    * image table at the exact 7-column `input_hint` shape while giving every
    * row a reproducible point. High 32 bits → lat, low 32 → lon. */
  def geoFromPhashLat(phash: Column): Column =
    (shiftrightunsigned(phash, 32) % lit(180000L)) / lit(1000.0) - lit(90.0)

  def geoFromPhashLon(phash: Column): Column =
    (phash.bitwiseAND(lit(0xFFFFFFFFL)) % lit(360000L)) / lit(1000.0) - lit(180.0)
}
