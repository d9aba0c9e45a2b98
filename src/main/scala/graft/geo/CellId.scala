package graft.geo

/** Hierarchical cell codec over WGS84 degree space.
  *
  * Two encodings of the same (y, x) grid square at resolution r
  * (a 2^r × 2^r grid over lat ∈ [−90, 90] × lon ∈ [−180, 180]):
  *
  *  - '''grid id''' — row-major `y * 2^r + x`. Trivially expressible in
  *    ANSI SQL (floor arithmetic), so every oracle-checked query output
  *    uses grid ids.
  *  - '''Morton (Z-order) id''' — bit-interleave of (y, x). Used internally
  *    for data clustering (`repartitionByRange` + `sortWithinPartitions`
  *    on the Z id groups spatially-near rows into the same parquet row
  *    groups → min/max stats prune like the reference's MBR subtree prune,
  *    RStarTree.java:426) and for compact covering ranges.
  *
  * This replaces the reference's IndexFile page hierarchy
  * (IndexFile.java:37-95): the grid is the *global* index — a cell id is a
  * key Catalyst can hash/range partition on — while the per-partition
  * MBR hierarchy lives in [[graft.index.LocalRTree]].
  *
  * Resolutions 0..15 (grid ids fit comfortably in a Long up to r=30;
  * 15 → 32768² cells ≈ 1 km grid, ample for the 10¹²-row design point:
  * pick r so that rows/cell ≈ 10⁴–10⁶ via [[pickResolution]]).
  */
object CellId {

  val MaxRes = 15

  def n(r: Int): Long = 1L << r
  def latStep(r: Int): Double = 180.0 / (1L << r)
  def lonStep(r: Int): Double = 360.0 / (1L << r)

  private def clamp(v: Long, hi: Long): Long = if (v < 0) 0 else if (v > hi) hi else v

  def cellY(lat: Double, r: Int): Long = clamp(math.floor((lat + 90.0) / latStep(r)).toLong, n(r) - 1)
  def cellX(lon: Double, r: Int): Long = clamp(math.floor((lon + 180.0) / lonStep(r)).toLong, n(r) - 1)

  /** Row-major grid id. The unclamped floor arithmetic matches
    * [[graft.geo.GeoCols.cellCol]] and the oracle SQL exactly for in-range
    * coordinates; clamping only matters at the lat=+90/lon=+180 edge which
    * derived test points never hit. */
  def grid(lat: Double, lon: Double, r: Int): Long =
    cellY(lat, r) * n(r) + cellX(lon, r)

  def gridY(cell: Long, r: Int): Long = cell / n(r)
  def gridX(cell: Long, r: Int): Long = cell % n(r)

  /** Parent cell one level coarser (quad-tree hierarchy). */
  def parent(cell: Long, r: Int): Long = {
    val y = gridY(cell, r) >> 1
    val x = gridX(cell, r) >> 1
    y * n(r - 1) + x
  }

  /** The four child cells one level finer. */
  def children(cell: Long, r: Int): Seq[Long] = {
    val y = gridY(cell, r) << 1
    val x = gridX(cell, r) << 1
    for (dy <- 0 to 1; dx <- 0 to 1) yield (y + dy) * n(r + 1) + (x + dx)
  }

  /** MBR of a cell (closed box; shares edges with neighbors — containment
    * checks on cell boundaries must use the grid id, not the MBR). */
  def mbr(cell: Long, r: Int): MBR = {
    val y = gridY(cell, r); val x = gridX(cell, r)
    MBR(y * latStep(r) - 90.0, x * lonStep(r) - 180.0,
        (y + 1) * latStep(r) - 90.0, (x + 1) * lonStep(r) - 180.0)
  }

  /** All cells intersecting a closed box — the covering set used for
    * partition pruning (distributed analog of RStarTree.java:426's subtree
    * prune). Exact: a point is in the box ⇒ its cell is in the covering. */
  def cover(box: MBR, r: Int): Seq[Long] = {
    val y0 = cellY(box.minLat, r); val y1 = cellY(box.maxLat, r)
    val x0 = cellX(box.minLon, r); val x1 = cellX(box.maxLon, r)
    for (y <- y0 to y1; x <- x0 to x1) yield y * n(r) + x
  }

  /** |cover(box, r)| from pure arithmetic — no enumeration. Drives the
    * covering-budget guard in adaptive resolution picks. */
  def coverCount(box: MBR, r: Int): Long = {
    val ys = cellY(box.maxLat, r) - cellY(box.minLat, r) + 1
    val xs = cellX(box.maxLon, r) - cellX(box.minLon, r) + 1
    ys * xs
  }

  /** Exact polygon covering: bbox cover refined by true cell∩polygon
    * intersection — a concave polygon's notch cells drop out of the
    * covering entirely, so they never reach the per-row refine filter. */
  def coverPoly(p: Poly, r: Int): Seq[Long] =
    cover(p.bbox, r).filter(c => p.intersectsBox(mbr(c, r)))

  /** Cells in the square ring at Chebyshev distance `k` around `cell`
    * (k=0 → the cell itself). Drives the expanding-ring kNN search. */
  def ring(cell: Long, r: Int, k: Long): Seq[Long] = {
    val cy = gridY(cell, r); val cx = gridX(cell, r)
    val hi = n(r) - 1
    if (k == 0) Seq(cell)
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      var x = cx - k
      while (x <= cx + k) { // top + bottom rows
        if (x >= 0 && x <= hi) {
          if (cy - k >= 0) out += (cy - k) * n(r) + x
          if (cy + k <= hi) out += (cy + k) * n(r) + x
        }
        x += 1
      }
      var y = cy - k + 1
      while (y <= cy + k - 1) { // left + right columns
        if (y >= 0 && y <= hi) {
          if (cx - k >= 0) out += y * n(r) + (cx - k)
          if (cx + k <= hi) out += y * n(r) + (cx + k)
        }
        y += 1
      }
      out.toSeq
    }
  }

  // ---- Morton (Z-order) — internal clustering key ----

  /** Spread the low 32 bits of v so bit i lands at position 2i. */
  private def spread(v: Long): Long = {
    var x = v & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8))  & 0x00FF00FF00FF00FFL
    x = (x | (x << 4))  & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2))  & 0x3333333333333333L
    x = (x | (x << 1))  & 0x5555555555555555L
    x
  }

  private def squash(v: Long): Long = {
    var x = v & 0x5555555555555555L
    x = (x | (x >> 1))  & 0x3333333333333333L
    x = (x | (x >> 2))  & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x >> 4))  & 0x00FF00FF00FF00FFL
    x = (x | (x >> 8))  & 0x0000FFFF0000FFFFL
    x = (x | (x >> 16)) & 0xFFFFFFFFL
    x
  }

  def morton(y: Long, x: Long): Long = (spread(y) << 1) | spread(x)
  def mortonY(z: Long): Long = squash(z >> 1)
  def mortonX(z: Long): Long = squash(z)

  def z(lat: Double, lon: Double, r: Int): Long = morton(cellY(lat, r), cellX(lon, r))

  /** Ascending, disjoint Morton (Z) ranges covering the cell box
    * [y0..y1] × [x0..x1] at resolution r, via quadtree descent — O(box
    * perimeter) ranges WITHOUT enumerating the box's cells, so a
    * 1000×1000-cell covering compiles to a few hundred BETWEEN conjuncts
    * instead of a 10⁶-literal IN list. This is the predicate shape that
    * prunes a Z-clustered stored table's files/row groups (the manifest
    * and parquet stats index __z, [[graft.table.SnapshotStore]]).
    *
    * If descent yields more than `maxRanges`, adjacent ranges are
    * coalesced smallest-gap-first — the result is a superset covering, so
    * it stays a valid pruning predicate (exact refine always follows). */
  def zRangesForBox(y0: Long, y1: Long, x0: Long, x1: Long, r: Int,
                    maxRanges: Int = 512): Seq[(Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def emit(lo: Long, hi: Long): Unit =
      if (out.nonEmpty && out.last._2 + 1 == lo)
        out(out.length - 1) = (out.last._1, hi)
      else out += ((lo, hi))
    def rec(level: Int, y: Long, x: Long): Unit = {
      val shift = r - level
      val cy0 = y << shift; val cy1 = cy0 + (1L << shift) - 1
      val cx0 = x << shift; val cx1 = cx0 + (1L << shift) - 1
      if (cy1 < y0 || cy0 > y1 || cx1 < x0 || cx0 > x1) ()          // disjoint
      else if (cy0 >= y0 && cy1 <= y1 && cx0 >= x0 && cx1 <= x1) {  // contained
        val zb = morton(y, x) << (2 * shift)
        emit(zb, zb + (1L << (2 * shift)) - 1)
      } else {
        // children visited in ascending-Z order (y bit is the higher bit)
        rec(level + 1, 2 * y, 2 * x);     rec(level + 1, 2 * y, 2 * x + 1)
        rec(level + 1, 2 * y + 1, 2 * x); rec(level + 1, 2 * y + 1, 2 * x + 1)
      }
    }
    if (y1 >= y0 && x1 >= x0) rec(0, 0, 0)
    coalesceToBudget(out, maxRanges)
  }

  /** Coalesce a sorted disjoint covering across its SMALLEST gaps until at
    * most `maxRanges` ranges remain. The result spans the input, so it
    * stays a valid pruning predicate (a superset — exact refine always
    * follows). The ONE budget implementation behind both quadtree curve
    * coverings and [[mergeRanges]]: a drift between per-curve copies would
    * silently diverge their covering semantics. */
  private def coalesceToBudget(
      out: scala.collection.mutable.ArrayBuffer[(Long, Long)],
      maxRanges: Int): Seq[(Long, Long)] =
    if (out.size <= maxRanges) out.toSeq
    else {
      val gaps = out.sliding(2).map(p => p(1)._1 - p(0)._2).toArray.sorted
      val cut = gaps(out.size - maxRanges - 1)
      val merged = scala.collection.mutable.ArrayBuffer(out.head)
      var budgetLeft = out.size - maxRanges
      out.drop(1).foreach { nxt =>
        val gap = nxt._1 - merged.last._2
        if (gap <= cut && budgetLeft > 0) {
          merged(merged.length - 1) = (merged.last._1, nxt._2); budgetLeft -= 1
        } else merged += nxt
      }
      merged.toSeq
    }

  /** Z ranges covering the cells intersecting a lat/lon box. */
  def zRangesForMbr(b: MBR, r: Int, maxRanges: Int = 512): Seq[(Long, Long)] =
    zRangesForBox(cellY(b.minLat, r), cellY(b.maxLat, r),
      cellX(b.minLon, r), cellX(b.maxLon, r), r, maxRanges)

  /** Merge an ARBITRARY collection of [lo,hi] key ranges — the union of
    * per-geometry coverings for a multi-box stored read — into a sorted,
    * disjoint covering of at most `maxRanges` ranges: sort, fold
    * overlapping/adjacent neighbors, then coalesce across the smallest
    * gaps (same coarsening as [[zRangesForBox]]). The output covers the
    * input union, so it stays a valid PRUNING predicate (a superset —
    * exact refine always follows); capping the count keeps the pushed
    * disjunction a few hundred BETWEENs regardless of geometry count. */
  def mergeRanges(ranges: Seq[(Long, Long)],
                  maxRanges: Int = 512): Seq[(Long, Long)] = {
    if (ranges.isEmpty) return Seq.empty
    val sorted = ranges.sortBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer(sorted.head)
    sorted.drop(1).foreach { nxt =>
      val (llo, lhi) = out.last
      if (nxt._1 <= lhi || nxt._1 == lhi + 1)
        out(out.length - 1) = (llo, math.max(lhi, nxt._2))
      else out += nxt
    }
    coalesceToBudget(out, maxRanges)
  }

  // ---- Hilbert curve — alternative clustering key ----
  //
  // The north star names "STR/Hilbert-curve bulk-load packing" explicitly.
  // Hilbert improves on Morton for clustering: CONSECUTIVE curve positions
  // are always grid neighbors (Chebyshev distance 1 — proven in spec),
  // where the Z curve jumps across the grid at quadrant seams, so
  // Hilbert-clustered files get tighter lat/lon bounding boxes and fewer
  // covering ranges per query box. Same quadtree recursion as Morton, so
  // the same file/row-group pruning machinery applies via
  // [[hilbertRangesForBox]].

  /** Hilbert curve position of grid cell (y, x) at resolution r — the
    * classic iterative xy2d walk: consume one (rx, ry) quadrant bit pair
    * per level, accumulate s²·((3rx)⊕ry), rotate/reflect the frame. */
  def hilbertD(y: Long, x: Long, r: Int): Long = {
    val n = 1L << r
    var xx = x; var yy = y
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((xx & s) > 0) 1L else 0L
      val ry = if ((yy & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      // rotate: complement is full-width (n−1−v ≡ bitwise ¬v in r bits);
      // bits ≥ s are scrambled but never read again
      if (ry == 0) {
        if (rx == 1) { xx = n - 1 - xx; yy = n - 1 - yy }
        val t = xx; xx = yy; yy = t
      }
      s >>= 1
    }
    d
  }

  def hilbert(lat: Double, lon: Double, r: Int): Long =
    hilbertD(cellY(lat, r), cellX(lon, r), r)

  /** Ascending, disjoint Hilbert ranges covering the cell box
    * [y0..y1] × [x0..x1] at resolution r — the Hilbert twin of
    * [[zRangesForBox]], O(box perimeter) via quadtree descent. The frame
    * state (swap + per-axis complement) tracks xy2d's rotations, so each
    * quadrant's curve interval is computed without enumerating cells;
    * children are visited in ascending curve order. Budget coalescing as
    * in [[zRangesForBox]] (superset covering stays a valid prune). */
  def hilbertRangesForBox(y0: Long, y1: Long, x0: Long, x1: Long, r: Int,
                          maxRanges: Int = 512): Seq[(Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def emit(lo: Long, hi: Long): Unit =
      if (out.nonEmpty && out.last._2 + 1 == lo)
        out(out.length - 1) = (out.last._1, hi)
      else out += ((lo, hi))
    // state: working coords (xw, yw) relate to quadrant-local grid coords
    // (xl, yl) by xw = cx ⊕ (sw ? yl : xl), yw = cy ⊕ (sw ? xl : yl)
    def rec(level: Int, y: Long, x: Long, base: Long,
            sw: Boolean, cx: Boolean, cy: Boolean): Unit = {
      val shift = r - level
      val cy0 = y << shift; val cy1 = cy0 + (1L << shift) - 1
      val cx0 = x << shift; val cx1 = cx0 + (1L << shift) - 1
      if (cy1 < y0 || cy0 > y1 || cx1 < x0 || cx0 > x1) ()          // disjoint
      else if (cy0 >= y0 && cy1 <= y1 && cx0 >= x0 && cx1 <= x1)    // contained
        emit(base, base + (1L << (2 * shift)) - 1)
      else {
        // children in ascending curve order: q = (3·bx) ⊕ by
        var q = 0
        while (q < 4) {
          val bx = if (q == 2 || q == 3) 1 else 0                   // invert q → (bx, by)
          val by = if (q == 1 || q == 2) 1 else 0
          // grid-frame child bits from working-frame (bx, by)
          val dx = (if (sw) by ^ (if (cy) 1 else 0) else bx ^ (if (cx) 1 else 0)).toLong
          val dy = (if (sw) bx ^ (if (cx) 1 else 0) else by ^ (if (cy) 1 else 0)).toLong
          // child state = rot(bx, by) ∘ current
          var nsw = sw; var ncx = cx; var ncy = cy
          if (by == 0) {
            if (bx == 1) { ncx = !ncx; ncy = !ncy }
            val t = ncx; ncx = ncy; ncy = t; nsw = !nsw
          }
          rec(level + 1, 2 * y + dy, 2 * x + dx,
            base + q.toLong * (1L << (2 * (shift - 1))), nsw, ncx, ncy)
          q += 1
        }
      }
    }
    if (y1 >= y0 && x1 >= x0) rec(0, 0, 0, 0L, sw = false, cx = false, cy = false)
    coalesceToBudget(out, maxRanges)
  }

  /** Hilbert ranges covering the cells intersecting a lat/lon box. */
  def hilbertRangesForMbr(b: MBR, r: Int, maxRanges: Int = 512): Seq[(Long, Long)] =
    hilbertRangesForBox(cellY(b.minLat, r), cellY(b.maxLat, r),
      cellX(b.minLon, r), cellX(b.maxLon, r), r, maxRanges)

  /** STR-key ranges covering a lat/lon box ([[graft.geo.GeoCols.strCol]]
    * layout: lat-strip index at `stripRes` in the high 32 bits, fine lon
    * index at `fineRes` low). One range per overlapping strip — the STR
    * twin of the Z/Hilbert coverings; over budget, adjacent strips merge
    * pairwise into spanning SUPERSET ranges (valid for pruning — exact
    * refine always follows). */
  def strRangesForMbr(b: MBR, stripRes: Int, fineRes: Int,
                      maxRanges: Int = 512): Seq[(Long, Long)] = {
    val y0 = cellY(b.minLat, stripRes); val y1 = cellY(b.maxLat, stripRes)
    val x0 = cellX(b.minLon, fineRes); val x1 = cellX(b.maxLon, fineRes)
    val out = (y0 to y1).map(y => ((y << 32) | x0, (y << 32) | x1))
    if (out.size <= maxRanges) out
    else out.grouped(math.ceil(out.size.toDouble / maxRanges).toInt)
      .map(g => (g.head._1, g.last._2)).toSeq
  }

  /** Choose a resolution so the expected rows-per-cell lands near
    * `targetRowsPerCell` — the adaptive-resolution pick from the north
    * star. At 10¹² rows and target 10⁵, this lands at r≈12. */
  def pickResolution(totalRows: Long, targetRowsPerCell: Long): Int = {
    var r = 0
    while (r < MaxRes && totalRows / ((1L << r) * (1L << r)) > targetRowsPerCell) r += 1
    r
  }
}
