package graft.ops

import graft.data.Fixtures
import graft.functions.{KnnTopK, ShapeHits}
import graft.geo.{CellId, GeoCols, MBR, Poly, Shape}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Spatial operators over a point DataFrame with columns (id, lat, lon).
  *
  * Design (SURVEY.md §2 ops #9–#14, §4.3): all paths are declarative
  * Column expressions Catalyst can push down and codegen; the grid cell id
  * is the global pruning/partitioning key (the distributed replacement for
  * the reference's MBR subtree prune, RStarTree.java:426). At 100 TB the
  * input is a stored table whose files carry cell-range stats (see
  * [[graft.table.SnapshotStore]]) so the same cell conjuncts prune files;
  * here points are derived on the fly and the conjuncts prune row groups
  * after scan.
  */
object SpatialOps {

  /** Sentinel for "resolve the resolution adaptively" — every pruning-only
    * op defaults to it. Callers with an oracle-pinned or stored-layout r
    * pass it explicitly. */
  val AutoRes: Int = -1

  /** Expected rows per covering cell the adaptive pick aims for: the
    * candidate-join granularity knob. 64 keeps refine fan-in small while
    * the covering-budget guard bounds broadcast/enumeration size. At 10¹²
    * rows this resolves to the MaxRes-capped fine grid — the distributed
    * analog of the reference growing tree depth with data
    * (RStarTree.java:205-222). */
  val TargetRowsPerCell: Long = 64L

  /** Upper bound on the total covering-cell count a single query's
    * geometry may enumerate/broadcast (and one shape's [[shapeHits]] map). */
  val MaxCoverCells: Long = 4096L

  /** Plan-time row estimate with ZERO scans or actions: Catalyst's
    * size-in-bytes statistic over the optimized plan, divided by the
    * schema's default row width. Order-of-magnitude accuracy is enough —
    * the adaptive resolution moves one level per 4× row change. Stored
    * tables have an exact manifest count ([[graft.table.SnapshotStore
    * .totalRows]]); callers holding one pass r (or a hint) explicitly. */
  def estimateRows(df: DataFrame): Long = {
    // streaming frames cannot be planned as a batch (optimizedPlan would
    // throw) and their size is unbounded anyway: treat them as infinite —
    // the covering budget alone then picks the resolution
    if (df.isStreaming) return Long.MaxValue
    val width = math.max(1, df.schema.map(_.dataType.defaultSize).sum)
    val stats = df.queryExecution.optimizedPlan.stats
    // Catalyst stats are BigInt and exceed Long.MaxValue for join plans of
    // stat-less relations; a raw .toLong WRAPS, clamping the estimate to 1
    // and giving the COARSEST grid to exactly the largest inputs — cap
    // instead of truncating
    def capped(b: BigInt): Long = b.min(BigInt(Long.MaxValue)).toLong
    stats.rowCount.map(capped)
      .getOrElse(capped(stats.sizeInBytes / width))
      .max(1L)
  }

  /** Resolve the covering resolution for a query: refine with data size
    * (rows-per-cell target), then coarsen until the query geometry's total
    * covering stays inside the enumeration budget. Results are r-invariant
    * for every op that uses this (pruning + exact refine), proven in spec;
    * only the plan shape changes. */
  def resolveRes(points: DataFrame, geoms: Seq[MBR], rOverride: Int,
                 target: Long = TargetRowsPerCell,
                 coverBudget: Long = MaxCoverCells): Int =
    if (rOverride >= 0) rOverride
    else pickRes(estimateRows(points), geoms, target, coverBudget)

  /** Stored-table resolution pick: the snapshot manifest carries an EXACT
    * live-row count (zero scans — [[graft.table.SnapshotStore.totalRows]]),
    * so queries over a stored table skip the size-in-bytes estimate:
    * {{{
    * val r = SpatialOps.resolveRes(store, boxes.map(_._2))
    * SpatialOps.boxJoin(store.read(Some(box))._1, boxes, r)
    * }}} */
  def resolveRes(store: graft.table.SnapshotStore, geoms: Seq[MBR]): Int =
    pickRes(store.totalRows, geoms)

  /** Pure core of [[resolveRes]] — unit-testable without a SparkSession. */
  def pickRes(rowEstimate: Long, geoms: Seq[MBR],
              target: Long = TargetRowsPerCell,
              coverBudget: Long = MaxCoverCells): Int = {
    var r = CellId.pickResolution(rowEstimate, target)
    while (r > 0 && geoms.map(CellId.coverCount(_, r)).sum > coverBudget) r -= 1
    r
  }

  def withCell(points: DataFrame, r: Int): DataFrame =
    points.withColumn("cell", GeoCols.cellCol(col("lat"), col("lon"), r))

  /** Box range query (op #9): exact inclusive predicate + covering-cell
    * conjunct. The cell conjunct is redundant for correctness but is the
    * scale path: on a cell-clustered stored table it prunes files/row
    * groups before the scan. */
  def rangeBox(points: DataFrame, b: MBR, r: Int = AutoRes): DataFrame = {
    val rr = resolveRes(points, Seq(b), r)
    points.filter(GeoCols.cellBoxPredicate(col("lat"), col("lon"), rr,
        CellId.cellY(b.minLat, rr), CellId.cellY(b.maxLat, rr),
        CellId.cellX(b.minLon, rr), CellId.cellX(b.maxLon, rr)))
      .filter(GeoCols.inBox(col("lat"), col("lon"), b))
      .select(col("id"), col("lat"), col("lon"))
  }

  /** Serial-baseline range scan (op #12): the same predicate with pruning
    * disabled — the degenerate plan the reference times in
    * Benchmark.java:331-380. */
  def rangeBoxSerial(points: DataFrame, b: MBR): DataFrame =
    points.filter(GeoCols.inBox(col("lat"), col("lon"), b))
      .select(col("id"), col("lat"), col("lon"))

  /** Point lookup by id range (op #3): Catalyst pushes the id predicate to
    * the scan — the engine analog of DataFile.readRecord. */
  def pointLookup(points: DataFrame, lo: Long, hi: Long): DataFrame =
    points.filter(col("id") >= lo && col("id") <= hi)
      .select(col("id"), col("lat"), col("lon"))

  /** Tile assignment (north-rule raster↔vector op): every row → exactly one
    * cell at resolution r. Deterministic, partitioning-independent. */
  def tileAssign(points: DataFrame, r: Int = Fixtures.TileRes): DataFrame =
    withCell(points, r).select(col("id"), col("cell"))

  /** Per-tile histogram: partial+final hash aggregate (map-side combine is
    * free from Spark); the skew-detection input for salting decisions. */
  def tileHistogram(points: DataFrame, r: Int = Fixtures.TileRes): DataFrame =
    withCell(points, r).groupBy("cell").agg(count(lit(1)).as("cnt"))

  /** Tile pyramid: per-cell counts at EVERY resolution 0..rMax — the
    * multi-resolution raster rollup a tile server precomputes. ONE pass
    * over the data builds the finest histogram (≤ 4^rMax rows); each of its
    * cells explodes into its rMax + 1 ancestors, (y >> s)·n(r) + (x >> s)
    * with s = rMax − r, and ONE aggregate sums every level: two exchanges
    * at any rMax. Output: (r, cell, cnt). */
  def tilePyramid(points: DataFrame, rMax: Int = Fixtures.TileRes): DataFrame = {
    val y = shiftright(col("cell"), rMax)
    val x = col("cell").bitwiseAND(lit(CellId.n(rMax) - 1))
    val ancestors = (0 to rMax).map { r =>
      val s = rMax - r
      struct(lit(r).as("r"),
        (shiftright(y, s) * lit(CellId.n(r)) + shiftright(x, s)).as("cell"))
    }
    tileHistogram(points, rMax)
      .select(explode(array(ancestors: _*)).as("a"), col("cnt"))
      .groupBy(col("a.r").as("r"), col("a.cell").as("cell"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Brute-force kNN (op #13): d² sort + limit — Spark plans
    * TakeOrderedAndProject (per-partition top-k, driver merge), already the
    * scalable plan. Deterministic (d², id) tie-break (the reference's PQ
    * tie order is nondeterministic, so parity compares distance multisets). */
  def knnSerial(points: DataFrame, qLat: Double, qLon: Double, k: Int): DataFrame = {
    val d2 = GeoCols.d2(col("lat"), col("lon"), qLat, qLon)
    val ranked = points.withColumn("d2", d2)
      .orderBy(col("d2"), col("id"))
      .limit(k)
    // rank assigned after the top-k so the window sees only k rows
    ranked.withColumn("rank",
      row_number().over(Window.orderBy(col("d2"), col("id"))).cast("long"))
      .select(col("rank"), col("id"), col("lat"), col("lon"), col("d2"))
  }

  /** Expanding-ring kNN (op #10): the distributed Hjaltason–Samet
    * equivalent. Probe growing square rings of cells around the query until
    * the kth candidate distance is provably below the unprobed-region lower
    * bound (ring guarantee), then emit the exact top-k from the probed set.
    * Driver-side iteration over plain Catalyst plans — no custom Strategy;
    * each probe is a cell-pruned filter + TakeOrderedAndProject.
    */
  def knnRing(points: DataFrame, qLat: Double, qLon: Double, k: Int,
              rOverride: Int = AutoRes): DataFrame = {
    val r = resolveRes(points, Seq.empty, rOverride)
    val zPts = points
      .withColumn("d2", GeoCols.d2(col("lat"), col("lon"), qLat, qLon))
    val qy = CellId.cellY(qLat, r); val qx = CellId.cellX(qLon, r)
    val hi = CellId.n(r) - 1
    val minStep = math.min(CellId.latStep(r), CellId.lonStep(r))
    // predicate for the cell box of half-width w around the query cell —
    // a four-comparison rectangle check, never an O(w²) IN list
    def boxPred(w: Long): Column = GeoCols.cellBoxPredicate(col("lat"), col("lon"), r,
      math.max(0L, qy - w), math.min(hi, qy + w),
      math.max(0L, qx - w), math.min(hi, qx + w))

    // geometric half-width growth: ≤ log2(2^r) probe jobs total (vs one
    // job per ring), each a cell-pruned filter + TakeOrderedAndProject
    var w = 1L
    var done = false
    while (!done && w < hi) {
      val top = zPts.filter(boxPred(w)).orderBy(col("d2"), col("id")).limit(k)
        .agg(count(lit(1)).as("n"), max(col("d2")).as("dk")).collect()(0)
      val n = top.getLong(0)
      val dk = if (top.isNullAt(1)) Double.MaxValue else top.getDouble(1)
      // unprobed points sit ≥ w cell-steps away from the query point
      val guarantee = w * minStep
      if (n >= k && dk < guarantee * guarantee) done = true
      else w *= 2
    }
    val cand = if (w >= hi) zPts else zPts.filter(boxPred(w))
    cand.orderBy(col("d2"), col("id")).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("d2"), col("id"))).cast("long"))
      .select(col("rank"), col("id"), col("lat"), col("lon"), col("d2"))
  }

  /** Radius sweep (Benchmark.java:126-154 as a query): counts of points
    * inside square boxes of growing half-width around a center — ONE scan,
    * conditional aggregates (the reference re-scans per radius × 100 reps).
    * Output: a single row, one count per radius. */
  def radiusSweep(points: DataFrame, cLat: Double, cLon: Double,
                  radii: Seq[Double]): DataFrame = {
    val aggs = radii.zipWithIndex.map { case (rr, i) =>
      sum(when(GeoCols.inBox(col("lat"), col("lon"),
        MBR(cLat - rr, cLon - rr, cLat + rr, cLon + rr)), 1L).otherwise(0L))
        .as(s"cnt_$i")
    }
    points.agg(aggs.head, aggs.tail: _*)
  }

  /** 2-D skyline, minimize (lat, lon) (op #11/#14). Two-phase
    * skyline-of-skylines: a PER-PARTITION local sweep prunes to a small
    * candidate set with ZERO shuffles of the input (each partition sorts
    * and sweeps its own rows — any point dominated within a partition is
    * dominated globally), then the exact sweep runs on the few survivors.
    * The sweep-vs-dominance equivalence mirrors RStarTree.java:527-543.
    *
    * r6 optimization (measured): the round-1 formulation paid a distinct
    * (full shuffle) plus a hash-bucketed window (second full shuffle)
    * before any pruning. Both are redundant: the sweep itself drops
    * duplicates (an equal (lat, lon) never satisfies the strict
    * lon < min-so-far test), and a storage partition prunes at least as
    * well as a random hash bucket — so the local phase is a
    * sortWithinPartitions + per-partition running-min kernel with no
    * exchange at all. */
  def skyline(points: DataFrame): DataFrame = {
    import points.sparkSession.implicits._
    def sweep(df: DataFrame, w: org.apache.spark.sql.expressions.WindowSpec): DataFrame =
      df.withColumn("__m", min(col("lon")).over(
          w.orderBy(col("lat"), col("lon"))
            .rowsBetween(Window.unboundedPreceding, -1)))
        .filter(col("__m").isNull || col("lon") < col("__m"))
        .drop("__m")
    val local = points.select(col("lat"), col("lon"))
      .sortWithinPartitions(col("lat"), col("lon"))
      .as[(Double, Double)]
      .mapPartitions { it =>
        // running strict-min sweep over (lat, lon)-sorted rows: keep a row
        // iff its lon is strictly below every earlier lon — the exact
        // per-bucket window filter of the old formulation, kernel-form
        var m = Double.MaxValue
        var first = true
        it.filter { case (_, lon) =>
          val keep = first || lon < m
          first = false
          if (lon < m) m = lon
          keep
        }
      }
      .toDF("lat", "lon")
    sweep(local, Window.partitionBy()) // survivors are few → single task is fine
  }

  /** [[zonalStats]]' polygon ids. */
  private val PolyIdSchema = StructType(Seq(StructField("poly_id", IntegerType, false)))

  /** Multi-box spatial join (the de-facto join in Benchmark.java:101-118):
    * `(box_id, id)` for every point inside a box, by the [[shapeHits]]
    * filter-and-refine kernel — one fused scan, no join operator, no
    * broadcast, no exchange. A point has one cell and its candidate boxes
    * are distinct, so no dedup is needed; rows with a null lat/lon match
    * nothing. */
  def boxJoin(points: DataFrame, boxes: Seq[(Int, MBR)],
              rOverride: Int = AutoRes): DataFrame = {
    val r = resolveRes(points, boxes.map(_._2), rOverride)
    points.select(shapeHits(boxes, r).as("box_id"), col("id"))
  }

  /** `explode` of [[ShapeHits]] over `shapes` at resolution r: one row per
    * shape the point (lat, lon) lies in. Filter: the point's grid cell
    * against a driver-built map from covering cell ([[CellId.cover]] /
    * [[CellId.coverPoly]]) to shapes; a shape covering more than
    * [[MaxCoverCells]] cells is tested at every row. Refine: the shape's
    * own `contains` on the candidates only. The index rides by reference,
    * so joins over other shapes reuse the compiled stage, and the generated
    * code does not grow with the shape count (one Column predicate per
    * polygon passed HotSpot's 8000-byte JIT limit at three polygons). */
  private def shapeHits(shapes: Seq[(Int, Shape)], r: Int): Column =
    explode(ShapeHits.of(col("lat"), col("lon"), ShapeHits.index(shapes, r, MaxCoverCells)))

  /** MBR-intersection join — the R-tree SPATIAL JOIN, with RECTANGLE sets
    * on BOTH sides: the reference's `MBR.overlaps` test (MBR.java:47, the
    * predicate its range query applies per index node, RStarTree.java:426)
    * lifted to a first-class distributed operator. PBSM shape: each
    * rectangle replicates to every grid cell its box overlaps (a 2-D
    * `sequence` explode — bounded, since [[resolveRectRes]] matches the
    * cell edge to the larger side's MEAN rect edge and caps the sampled
    * max rect at [[MaxCoverCells]]), the two sides EQUI-join on the cell (a
    * hash-partitioned shuffle join — never a cartesian), the exact
    * closed-box overlap predicate refines, and the REFERENCE-POINT rule
    * deduplicates with zero extra shuffles: a qualifying pair is emitted
    * only in the one cell containing the intersection's lower-left corner
    * (that corner lies inside both rects, so its cell is in both covers —
    * each pair meets there exactly once). Scale: shuffle volume =
    * replication factor × input, and [[resolveRectRes]] keeps the factor
    * single-digit by matching cell edge to the measured mean rect edge;
    * output ∝ true result size; hot cells split by AQE skew-join on the
    * equi-key. */
  def mbrJoin(a: DataFrame, b: DataFrame,
              rOverride: Int = AutoRes): DataFrame = {
    require(rOverride == AutoRes ||
      (rOverride >= 0 && rOverride <= CellId.MaxRes),
      s"rOverride must be AutoRes or in [0, ${CellId.MaxRes}], got $rOverride")
    val r = if (rOverride != AutoRes) rOverride else resolveRectRes(a, b)
    rectCover(a, "a", r).join(rectCover(b, "b", r),
        col("a_cell") === col("b_cell"))
      .filter(rectOverlapAndRef(r))
      .select(col("a_id"), col("b_id"))
  }

  /** Grid-cell cover of a rect side for the PBSM joins: prefix the columns,
    * 2-D `sequence` explode over the clamped cell-index ranges, cell id. */
  private def rectCover(df: DataFrame, p: String, r: Int): DataFrame =
    df.select(col("id").as(s"${p}_id"),
        col("minlat").as(s"${p}_minlat"), col("minlon").as(s"${p}_minlon"),
        col("maxlat").as(s"${p}_maxlat"), col("maxlon").as(s"${p}_maxlon"))
      .select(col("*"), explode(sequence(
        GeoCols.cellYIdx(col(s"${p}_minlat"), r),
        GeoCols.cellYIdx(col(s"${p}_maxlat"), r))).as(s"${p}_y"))
      .select(col("*"), explode(sequence(
        GeoCols.cellXIdx(col(s"${p}_minlon"), r),
        GeoCols.cellXIdx(col(s"${p}_maxlon"), r))).as(s"${p}_x"))
      .withColumn(s"${p}_cell",
        col(s"${p}_y") * lit(CellId.n(r)) + col(s"${p}_x"))

  /** Post-cell-join refine for the PBSM joins: exact closed-box overlap +
    * the reference-point rule (emit only in the cell holding the
    * intersection's lower-left corner). */
  private def rectOverlapAndRef(r: Int): Column = {
    val refCell =
      GeoCols.cellYIdx(greatest(col("a_minlat"), col("b_minlat")), r) *
        lit(CellId.n(r)) +
        GeoCols.cellXIdx(greatest(col("a_minlon"), col("b_minlon")), r)
    col("a_minlat") <= col("b_maxlat") &&
      col("b_minlat") <= col("a_maxlat") &&
      col("a_minlon") <= col("b_maxlon") &&
      col("b_minlon") <= col("a_maxlon") &&
      col("a_cell") === refCell
  }

  /** Skew-aware MBR-intersection join — hot-cell salting of the rect×rect
    * shuffle join, where BOTH sides are row-borne so the hot-cell
    * replication must itself be a plan (a conditional `explode`, not a
    * driver-side Seq). Side a's hot-cell cover rows get a deterministic
    * salt (xxhash64(a_id) — reproducible), side b's hot-cell cover rows
    * replicate across all salts; cold cells keep salt 0, so there is NO
    * blowup off the hot set. Exactly-once survives salting: a pair's
    * reference cell is unique, and within it the a-row carries exactly one
    * salt, which side b's replication is guaranteed to cover. Output is
    * identical to [[mbrJoin]] (spec-proven on a hotspot cloud); AQE's
    * skew split handles residual imbalance. Hot cells come from the hint
    * (write-time stats — zero extra scans) or one histogram pass over EACH
    * side's cover (a b-only hot cell is real skew too). Mechanism
    * asymmetry to know: salting splits a hot cell's a×b work product
    * F ways, but the effective parallelism in a cell is bounded by the
    * number of a rows there — pass the heavier side as `a`. */
  def mbrJoinSalted(a: DataFrame, b: DataFrame,
                    rOverride: Int = AutoRes, saltFactor: Int = 8,
                    hotThreshold: Double = 0.05,
                    hotCells: Option[(Int, Set[Long])] = None): DataFrame = {
    validateSaltArgs(rOverride, saltFactor, hotCells)
    val r = hotCells.map(_._1).getOrElse(
      if (rOverride != AutoRes) rOverride else resolveRectRes(a, b))
    val ca = rectCover(a, "a", r)
    val cb = rectCover(b, "b", r)
    // Hint-free skew detection in ONE action (r6 optimization; the
    // round-5 ADVICE flagged this path at ~3 cover scans per side):
    // both sides' cover histograms ride one side-tagged union, each
    // side's total joins back as a broadcast 2-row aggregate, and only
    // the hot cells reach the driver. The per-side thresholds are
    // exactly [[hotCellsFromHistogram]]'s semantics — a b-only hot cell
    // is real skew too.
    val hot: Set[Long] = hotCells.map(_._2).getOrElse {
      val histBoth = ca.select(col("a_cell").as("cell"), lit(0).as("side"))
        .unionAll(cb.select(col("b_cell").as("cell"), lit(1).as("side")))
        .groupBy(col("side"), col("cell")).agg(count(lit(1)).as("cnt"))
      // per-side totals as a broadcast 2-row aggregate joined back —
      // distributed at any histogram size (no single-task window)
      val tots = histBoth.groupBy(col("side")).agg(sum(col("cnt")).as("tot"))
      histBoth.join(broadcast(tots), "side")
        .filter(col("cnt") > col("tot") * lit(hotThreshold))
        .select(col("cell")).distinct()
        .collect().map(_.getLong(0)).toSet
    }
    val saltedA = ca.withColumn("a_salt",
      saltCol(col("a_id"), col("a_cell"), hot, saltFactor))
    val saltedB =
      if (hot.isEmpty) cb.withColumn("b_salt", lit(0))
      else cb.select(col("*"), explode(
        when(col("b_cell").isInCollection(hot),
          sequence(lit(0), lit(saltFactor - 1)))
          .otherwise(array(lit(0)))).as("b_salt"))
    saltedA.join(saltedB,
        col("a_cell") === col("b_cell") && col("a_salt") === col("b_salt"))
      .filter(rectOverlapAndRef(r))
      .select(col("a_id"), col("b_id"))
  }

  /** Shared argument guard for the salted joins. A write-time hot-cell
    * hint carries the resolution it was keyed at — cell ids from different
    * resolutions coincide numerically, so a mismatched hint would salt
    * random cells and skip the genuinely hot one: the hint's r WINS and
    * must agree with an explicit rOverride. saltFactor < 1 would NULL the
    * salt key (non-ANSI pmod) and silently drop every hot-cell pair; an
    * out-of-range rOverride would feed CellId bit-shifts garbage. */
  private def validateSaltArgs(rOverride: Int, saltFactor: Int,
                               hotCells: Option[(Int, Set[Long])]): Unit = {
    require(saltFactor >= 1, s"saltFactor must be >= 1, got $saltFactor")
    require(rOverride == AutoRes ||
      (rOverride >= 0 && rOverride <= CellId.MaxRes),
      s"rOverride must be AutoRes or in [0, ${CellId.MaxRes}], got $rOverride")
    require(hotCells.forall(h => rOverride < 0 || h._1 == rOverride),
      s"hot-cell hint keyed at r=${hotCells.get._1} but rOverride=$rOverride")
  }

  /** Deterministic per-row salt for the salted joins: hash bucket in hot
    * cells, 0 in cold ones (no blowup off the hot set). */
  private def saltCol(idCol: Column, cellCol: Column, hot: Set[Long],
                      saltFactor: Int): Column =
    if (hot.isEmpty) lit(0)
    else when(cellCol.isInCollection(hot),
      pmod(xxhash64(idCol), lit(saltFactor)).cast("int")).otherwise(lit(0))

  /** Adaptive grid pick for RECTANGLE-valued sides — the [[resolveRes]]
    * analog when the geometry lives in rows rather than plan literals.
    * Because the edge distribution is data, the pick deliberately runs
    * ONE narrow aggregate over a side-tagged union at plan-construction
    * time (one tiny job — the one place the zero-action pick convention
    * of [[estimateRows]] cannot apply; the join itself rescans
    * everything, so the stats pass is negligible). Stats stay PER SIDE
    * (grouped by the tag): a pooled sample would let one side's
    * distribution mask the other's. The pick is the finest r whose cell edge still covers the
    * LARGER side's mean edge — replication blows up only when cell edge ≪
    * rect edge, so the coarser of the two per-side picks bounds
    * replication to ~4 cells/rect on BOTH sides (the smaller side's rects
    * land in ~1 cell; selectivity coarsens, exactness never — results are
    * r-invariant, spec-pinned). An outlier guard then coarsens until the
    * observed MAX edge covers ≤ [[MaxCoverCells]] cells, so one
    * near-world-spanning rect cannot explode the cover. */
  private[graft] def resolveRectRes(a: DataFrame, b: DataFrame): Int = {
    // per-side (meanLat, meanLon, maxLat, maxLon) edge stats from ONE
    // action: a side-tagged union aggregated by side. One narrow
    // aggregate replaces the two per-side jobs of round 5 (each action's
    // driver planning cost matched its execution at bench scale), and the
    // max is now computed over the FULL side rather than a 65536-row
    // partition-order prefix — the round-5 ADVICE blind spot where a
    // world-spanning rect beyond the prefix escaped the outlier guard
    // and exploded the 2-D sequence cover. Full-side narrow aggregates
    // are negligible next to the join's own rescan (method doc above).
    def edges(df: DataFrame, side: Int): DataFrame =
      df.select(lit(side).as("side"),
        (col("maxlat") - col("minlat")).as("elat"),
        (col("maxlon") - col("minlon")).as("elon"))
    val stats = edges(a, 0).unionAll(edges(b, 1))
      .groupBy(col("side"))
      .agg(avg(col("elat")), avg(col("elon")),
        max(col("elat")), max(col("elon")))
      .collect().toSeq
      .map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    if (stats.isEmpty) return Fixtures.MbrJoinRes // both sides empty
    val eLat = math.max(stats.map(_._1).max, 1e-9)
    val eLon = math.max(stats.map(_._2).max, 1e-9)
    var r = 0
    while (r < CellId.MaxRes &&
      CellId.latStep(r + 1) >= eLat && CellId.lonStep(r + 1) >= eLon) r += 1
    // outlier guard: a span of length L crosses at most floor(L/step)+2
    // cells per axis — coarsen until the sampled max rect stays inside the
    // pickRes cover budget
    val mLat = stats.map(_._3).max
    val mLon = stats.map(_._4).max
    def worstCover(rr: Int): Long =
      (math.floor(mLat / CellId.latStep(rr)).toLong + 2L) *
        (math.floor(mLon / CellId.lonStep(rr)).toLong + 2L)
    while (r > 0 && worstCover(r) > MaxCoverCells) r -= 1
    r
  }

  /** Point-in-polygon join (north-rule op): `(poly_id, id)` for every
    * point inside a polygon ([[Poly.contains]], bit-identical to the oracle
    * SQL), by the [[shapeHits]] kernel [[boxJoin]] runs: one fused scan
    * at any polygon count, no join, no exchange. Rows with a null lat/lon
    * match nothing; a null id is kept. */
  def pipJoin(points: DataFrame, polys: Seq[(Int, Poly)],
              rOverride: Int = AutoRes): DataFrame = {
    val r = resolveRes(points, polys.map(_._2.bbox), rOverride)
    points.select(shapeHits(polys, r).as("poly_id"), col("id").cast("long").as("id"))
  }

  /** Polygon rasterization (vector→raster — the inverse of [[tileAssign]],
    * closing the north rule's raster↔vector pair in both directions):
    * every cell at resolution r whose CENTER lies inside the polygon.
    * ONE `spark.range` enumerates every polygon's bbox cell box back to
    * back (candidate count = summed bbox area in cells — independent of any
    * data table's size); a per-partition kernel finds each candidate's
    * polygon by binary search over the driver-built prefix offsets, derives
    * its (y, x) and keeps it when [[Poly.contains]] holds at the cell
    * center (same IEEE op order as the oracle SQL). Zero shuffles, zero
    * scans, one plan at any polygon count. Output: (poly_id, cell) with
    * row-major cell ids. */
  def rasterize(spark: org.apache.spark.sql.SparkSession,
                polys: Seq[(Int, Poly)],
                r: Int = Fixtures.RasterRes): DataFrame = {
    import spark.implicits._
    val pids = polys.map(_._1).toArray
    val shapes = polys.map(_._2).toArray
    val boxes = shapes.map { p =>
      val b = p.bbox
      val (y0, x0) = (CellId.cellY(b.minLat, r), CellId.cellX(b.minLon, r))
      (y0, x0, CellId.cellX(b.maxLon, r) - x0 + 1, CellId.cellY(b.maxLat, r) - y0 + 1)
    }
    val y0s = boxes.map(_._1); val x0s = boxes.map(_._2); val nxs = boxes.map(_._3)
    // offs(i) = first candidate of polygon i; every bbox holds >= 1 cell
    val offs = boxes.scanLeft(0L)((o, b) => o + b._3 * b._4)
    spark.range(offs.last).as[Long]
      .mapPartitions { it =>
        val (n, latStep, lonStep) = (CellId.n(r), CellId.latStep(r), CellId.lonStep(r))
        it.flatMap { k =>
          val h = java.util.Arrays.binarySearch(offs, k)
          val i = if (h >= 0) h else -h - 2
          val rem = k - offs(i)
          val y = y0s(i) + rem / nxs(i); val x = x0s(i) + rem % nxs(i)
          val cLat = (y.toDouble + 0.5) * latStep - 90.0
          val cLon = (x.toDouble + 0.5) * lonStep - 180.0
          if (shapes(i).contains(cLat, cLon)) Iterator.single((pids(i), y * n + x))
          else Iterator.empty
        }
      }
      .toDF("poly_id", "cell")
  }

  /** Zonal statistics (raster↔vector analytics): per-polygon aggregates of
    * the points inside — count, exact integer id-sum, and the bounding
    * range of matched coordinates. The [[shapeHits]] kernel finds the points
    * and each polygon's rows collapse map-side into one partial-aggregate
    * row, so the shuffle carries ONE row per polygon per partition. The
    * literal polygon list left-joins back: exactly one output row per
    * polygon (empty zones surface with cnt=0 and null extrema, matching the
    * SQL aggregate contract). */
  def zonalStats(points: DataFrame, polys: Seq[(Int, Poly)],
                 rOverride: Int = AutoRes): DataFrame = {
    val r = resolveRes(points, polys.map(_._2.bbox), rOverride)
    val agged = points.select(shapeHits(polys, r).as("poly_id"), col("id").cast("long").as("id"),
        col("lat").cast("double").as("lat"), col("lon").cast("double").as("lon"))
      .groupBy(col("poly_id"))
      .agg(count(lit(1)).as("cnt"), sum(col("id")).as("sum_id"),
        min(col("lat")).as("min_lat"), max(col("lat")).as("max_lat"),
        min(col("lon")).as("min_lon"), max(col("lon")).as("max_lon"))
    OpUtil.localFrame(points.sparkSession, PolyIdSchema, polys.map(p => Row(p._1)))
      .join(broadcast(agged), Seq("poly_id"), "left")
      .select(col("poly_id"), coalesce(col("cnt"), lit(0L)).as("cnt"),
        col("sum_id"), col("min_lat"), col("max_lat"),
        col("min_lon"), col("max_lon"))
  }

  /** [[boxJoin]] with the salted joins' argument checks: boxJoin has no
    * shuffle, so no reducer holds a hot cell and there is nothing to salt.
    * It runs at the hint's r, or else `rOverride` (its rows do not depend
    * on r); `saltFactor` is only checked and `hotThreshold` unused. */
  def boxJoinSalted(points: DataFrame, boxes: Seq[(Int, MBR)],
                    rOverride: Int = AutoRes, saltFactor: Int = 8,
                    hotThreshold: Double = 0.05,
                    hotCells: Option[(Int, Set[Long])] = None): DataFrame = {
    validateSaltArgs(rOverride, saltFactor, hotCells)
    boxJoin(points, boxes, hotCells.map(_._1).getOrElse(rOverride))
  }

  /** Derive the salted-join hot-cell set from a per-cell histogram (a
    * [[tileHistogram]] output): the query-time twin of
    * [[graft.table.SnapshotStore.hotCells]]. Schema contract: `cell` must be LongType
    * and `cnt` any numeric type (explicitly cast to long for the total, so
    * a double-counted histogram degrades to truncation, never a cast
    * error). The threshold filter runs IN SPARK — only the ≤ 1/hotThreshold
    * hot cells ever reach the driver, never the full histogram (at fine
    * resolutions that is up to 4^MaxRes rows) — and the total joins back
    * as a broadcast 1-row aggregate, so the whole derivation is ONE
    * action (it was two narrow aggregates through round 5; each action's
    * driver-side planning cost matched its execution at bench scale). */
  def hotCellsFromHistogram(hist: DataFrame, hotThreshold: Double = 0.05): Set[Long] = {
    val h = hist.select(col("cell"), col("cnt").cast("long").as("cnt"))
    // total as a broadcast 1-row aggregate joined back — distributed at
    // any histogram size (a global window would funnel the histogram
    // through one task); an empty histogram yields tot = null, the
    // comparison is null ⇒ no row survives ⇒ empty set
    val tot = h.agg(sum(col("cnt")).as("tot"))
    h.crossJoin(broadcast(tot))
      .filter(col("cnt") > col("tot") * lit(hotThreshold))
      .select(col("cell")).collect().map(_.getLong(0)).toSet
  }

  /** Dense kNN join (the documented baseline): every |Q|·N distance is
    * computed, `(q_id, rank, id)` for each query's k nearest points by
    * (d², id). One aggregate ([[KnnTopK]]): each partition keeps per query
    * its k best candidates in flat primitive slots (the partial result,
    * ≤ |Q|·k rows' worth), the final aggregate merges them exactly, and
    * `inline` emits the ranked rows — the shuffle carries one buffer per
    * partition; no Window, no sort. Rows with a null lat, lon or id (and
    * rows at NaN distance) are no one's neighbour; k < 1 is refused. */
  def knnJoinAgg(points: DataFrame, queries: Seq[(Int, Double, Double)],
                 k: Int): DataFrame =
    knnTopK(points, queries, k, None).drop("d2")

  /** `(q_id, rank, id, d2)`: each query's k nearest points by (d², id), by
    * one [[KnnTopK]] aggregate. With `boxes` = (one box per query, in
    * query order; a resolution), a point is offered only to the queries
    * whose box holds it: `explode` of [[ShapeHits]] over the boxes, with
    * query positions as ids, names them (the [[boxJoin]] kernel, so the
    * box test is [[MBR.contains]]). Without, it is offered to every query.
    * Each task holds |Q|·k slots either way. */
  private[graft] def knnTopK(points: DataFrame, queries: Seq[(Int, Double, Double)], k: Int,
                             boxes: Option[(Seq[MBR], Int)]): DataFrame = {
    val qs = new KnnTopK.Queries(queries.map(_._1).toArray,
      queries.map(_._2).toArray, queries.map(_._3).toArray)
    val q = boxes.map { case (bs, r) => shapeHits(bs.zipWithIndex.map(_.swap), r).as("q") }
    points.select(q.toSeq ++ Seq(col("lat").cast("double").as("lat"),
        col("lon").cast("double").as("lon"), col("id").cast("long").as("id")): _*)
      .agg(KnnTopK.of(col("lat"), col("lon"), col("id"), qs, k, q.map(_ => col("q"))).as("top"))
      .select(inline(col("top")))
  }

  /** Ring-pruned kNN join (the scale path for large query sets): instead
    * of |Q|·N candidate pairs, each query ranks only the points inside the
    * box `(rings + 1)·max(latStep, lonStep)` around it, which holds every
    * cell within `rings` Chebyshev rings of the query's cell — one
    * [[knnTopK]] aggregate, collected once (≤ |Q|·k rows). EXACT when a
    * query has >= k candidates whose kth distance is below the ring
    * guarantee (rings·minStep: a point outside the rings is no nearer), as
    * the collected rows are checked; the few queries that fail it
    * (none, on non-degenerate data at sane `rings`) are answered by the
    * dense [[knnJoinAgg]]. Each task holds |Q|·k slots, as in
    * [[knnJoinAgg]]. Rows with a null lat, lon or id are no one's
    * neighbour; k < 1 is refused. */
  def knnJoinPruned(points: DataFrame, queries: Seq[(Int, Double, Double)],
                    k: Int, rOverride: Int = AutoRes, rings: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val r = resolveRes(points, Seq.empty, rOverride)
    val h = (rings + 1) * math.max(CellId.latStep(r), CellId.lonStep(r))
    val top = knnTopK(points, queries, k, Some((queries.map { case (_, qla, qlo) =>
      MBR(qla - h, qlo - h, qla + h, qlo + h) }, r)))
    val rows = top.collect()
    // each query is checked, not just those with candidates: a query whose
    // box holds no point has no row and must fall back too
    val guarantee = rings * math.min(CellId.latStep(r), CellId.lonStep(r))
    val byQ = rows.groupBy(_.getInt(0))
    val bad = queries.filter { case (qid, _, _) =>
      byQ.get(qid).forall(rs => rs.length < k || rs.map(_.getDouble(3)).max >= guarantee * guarantee)
    }
    val badIds = bad.map(_._1).toSet
    val exact = OpUtil.localFrame(points.sparkSession, top.schema,
      rows.filterNot(row => badIds.contains(row.getInt(0))).toSeq).drop("d2")
    if (bad.isEmpty) exact else exact.unionAll(knnJoinAgg(points, bad, k))
  }

  /** ε-distance join: all (probe, point) pairs within planar distance
    * `eps` — the spatial self-join the grid makes feasible at scale.
    * Resolution is chosen so one cell step ≥ eps, hence every partner of
    * a probe lies in the probe's 3×3 cell neighborhood: the probe side
    * explodes to ≤ 9 (cell, probe) rows, equi-joins the point side on its
    * single cell (one shuffle on a compact key, never all-pairs), then
    * the exact d² ≤ eps² refine runs on neighbors only. The probe subset
    * (id % probeMod == 0) is the oracle-checkable slice, as in
    * [[graft.ops.AnnOps.nearDupPairs]]; self-pairs are excluded. */
  def distanceJoin(points: DataFrame, eps: Double, probeMod: Int,
                   rOverride: Int = -1,
                   broadcastProbes: Boolean = true): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    // FINEST r whose cell step still covers eps in one ring (the
    // descending scan returns the largest qualifying r): maximum pruning
    // while the 3x3 neighborhood still guarantees every eps-pair
    val r =
      if (rOverride >= 0) rOverride
      else (CellId.MaxRes to 0 by -1).find(rr =>
        math.min(CellId.latStep(rr), CellId.lonStep(rr)) >= eps).getOrElse(0)
    val pts = withCell(points, r)
    val probes = pts.filter(pmod(col("id"), lit(probeMod)) === 0)
      .select(col("id").as("a_id"), col("lat").as("alat"), col("lon").as("alon"),
        col("cell").as("acell"))
    val hi = CellId.n(r) - 1
    // 3×3 neighborhood as cell ids: cell + {-1,0,1}·(n, 1) offsets, clipped
    // (SQL `/` is fractional — floor-cast for integer row index)
    val y = floor(col("acell") / lit(CellId.n(r))).cast("long")
    val x = pmod(col("acell"), lit(CellId.n(r)))
    val neighbors = array((for (dy <- -1 to 1; dx <- -1 to 1) yield {
      val ny = y + lit(dy.toLong); val nx = x + lit(dx.toLong)
      when(ny >= 0 && ny <= hi && nx >= 0 && nx <= hi, ny * lit(CellId.n(r)) + nx)
        .otherwise(lit(-1L))
    }): _*)
    val exploded = probes.withColumn("ncell", explode(neighbors))
      .filter(col("ncell") >= 0)
    val d2 = GeoCols.d2Cols(col("lat"), col("lon"), col("alat"), col("alon"))
    // default: hint the probe side (a slice × 9 — small by contract) so
    // the corpus never becomes the build side at real scale; callers with
    // a LARGE probe slice pass broadcastProbes=false and get a shuffle
    // join on the cell key instead of a forced over-limit broadcast
    val probeSide = if (broadcastProbes) broadcast(exploded) else exploded
    probeSide.join(pts, col("cell") === col("ncell"))
      .filter(col("a_id") =!= col("id"))
      .withColumn("d2", d2)
      .filter(col("d2") <= lit(eps * eps))
      .select(col("a_id"), col("id").as("b_id"), col("d2"))
  }

  /** Reference bulk-load packing (ops #7/#8): global sort by first
    * coordinate only (RStarTree.java:177 — deliberately NOT STR, to match
    * the reference), slabs of exactly `fanout` (RStarTree.java:189-200),
    * per-leaf MBR + count.
    *
    * PARITY-ONLY, single-task by construction: the unpartitioned
    * `Window.orderBy` below funnels every row through one task — the
    * exact price of the reference's global 1-D sort semantics, pinned
    * here so the oracle can check them. NEVER the production bulk load:
    * the engine path is [[graft.index.GlobalIndex.build]]'s
    * range-partitioned Z/Hilbert/STR pack (one distributed exchange,
    * per-partition packing), which scales with partitions. Run this op
    * only at oracle-fixture sizes. */
  def bulkloadLeaves(points: DataFrame, fanout: Int = Fixtures.PackFanout): DataFrame = {
    val w = Window.orderBy(col("lat"), col("id"))
    points.withColumn("leaf", ((row_number().over(w) - 1) / fanout).cast("long"))
      .groupBy("leaf").agg(
        count(lit(1)).as("cnt"),
        min(col("lat")).as("minlat"), max(col("lat")).as("maxlat"),
        min(col("lon")).as("minlon"), max(col("lon")).as("maxlon"))
  }

  /** Distributed index summary (op #4): per-coarse-cell root MBR +
    * cardinality — the broadcastable global-index payload
    * ([[graft.index.GlobalIndex]]), computed as one hash aggregate. */
  def indexSummary(points: DataFrame, r: Int): DataFrame =
    points.withColumn("grp", GeoCols.cellCol(col("lat"), col("lon"), r))
      .groupBy("grp").agg(
        count(lit(1)).as("cnt"),
        min(col("lat")).as("minlat"), max(col("lat")).as("maxlat"),
        min(col("lon")).as("minlon"), max(col("lon")).as("maxlon"))
}
