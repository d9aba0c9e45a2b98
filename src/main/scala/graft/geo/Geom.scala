package graft.geo

/** A region a point can lie in: a box or a polygon. The spatial joins
  * ([[graft.functions.ShapeHits]]) hold either kind in one index and
  * refine a candidate with its own exact test. */
sealed trait Shape extends Serializable {
  def contains(lat: Double, lon: Double): Boolean
}

/** Planar geometry in raw WGS84 degree space.
  *
  * Semantics mirror the reference's MBR algebra exactly
  * (`/root/reference/src/MBR.java:27-100`): inclusive containment bounds
  * (MBR.java:57-64), planar Euclidean distance in degree space — NOT
  * haversine (MBR.java:67-79), coordinates ordered (lat, lon) per
  * OSMParser.java:65. Pure Scala, no Spark dependency: used by the
  * per-partition local index, driver-side planning, and test oracles.
  */
final case class MBR(minLat: Double, minLon: Double, maxLat: Double, maxLon: Double)
  extends Shape {

  /** MBR.java:27-33 */
  def area: Double = (maxLat - minLat) * (maxLon - minLon)

  /** MBR.java:82-88 (perimeter/2 — the R* split objective) */
  def margin: Double = (maxLat - minLat) + (maxLon - minLon)

  /** Inclusive on all four bounds — MBR.java:57-64 via RStarTree.java:429. */
  def contains(lat: Double, lon: Double): Boolean =
    lat >= minLat && lat <= maxLat && lon >= minLon && lon <= maxLon

  /** MBR.java:47-54 (closed-box intersection test). */
  def overlaps(o: MBR): Boolean =
    minLat <= o.maxLat && maxLat >= o.minLat &&
    minLon <= o.maxLon && maxLon >= o.minLon

  /** MBR.java:91-100 */
  def union(o: MBR): MBR = MBR(
    math.min(minLat, o.minLat), math.min(minLon, o.minLon),
    math.max(maxLat, o.maxLat), math.max(maxLon, o.maxLon))

  /** MBR.java:41-44 */
  def enlargement(o: MBR): Double = union(o).area - area

  /** Squared minimum distance point→box, planar degree space — MBR.java:67-79.
    * Kept squared: sqrt is monotone, so all pruning/ordering works on d². */
  def minDistSq(lat: Double, lon: Double): Double = {
    val dLat = if (lat < minLat) minLat - lat else if (lat > maxLat) lat - maxLat else 0.0
    val dLon = if (lon < minLon) minLon - lon else if (lon > maxLon) lon - maxLon else 0.0
    dLat * dLat + dLon * dLon
  }

  /** Squared maximum distance point→box (distance to the farthest corner) —
    * the kNN seed upper bound: every point inside the box is within this. */
  def maxDistSq(lat: Double, lon: Double): Double = {
    val dLat = math.max(math.abs(lat - minLat), math.abs(lat - maxLat))
    val dLon = math.max(math.abs(lon - minLon), math.abs(lon - maxLon))
    dLat * dLat + dLon * dLon
  }

  def extend(lat: Double, lon: Double): MBR = MBR(
    math.min(minLat, lat), math.min(minLon, lon),
    math.max(maxLat, lat), math.max(maxLon, lon))
}

object MBR {
  /** Degenerate point MBR — every leaf entry in the reference is one
    * (RStarTree.java:43,183: min == max). */
  def point(lat: Double, lon: Double): MBR = MBR(lat, lon, lat, lon)

  val empty: MBR = MBR(Double.MaxValue, Double.MaxValue, Double.MinValue, Double.MinValue)
}

/** Simple polygon (convex or concave, non-self-intersecting).
  * `ring` is the vertex list in order, (lat, lon), NOT closed (no repeated
  * first vertex). The reference only has boxes; polygons generalize the
  * range predicate per the north rule (point-in-polygon joins).
  */
final case class Poly(ring: IndexedSeq[(Double, Double)]) extends Shape {
  require(ring.length >= 3, "polygon needs >= 3 vertices")

  lazy val bbox: MBR =
    ring.foldLeft(MBR.empty) { case (m, (la, lo)) => m.extend(la, lo) }

  /** Even–odd (ray crossing / PNPOLY) point-in-polygon test. Treat lon as
    * x and lat as y. The arithmetic sequence here MUST stay identical to
    * the SQL generated by [[graft.oracle.OracleSql.polyContainsSql]] — both
    * are the same IEEE double expression per edge, so results are
    * bit-identical between the engine's polygon kernels and DuckDB.
    */
  def contains(lat: Double, lon: Double): Boolean = {
    val px = lon; val py = lat
    var inside = false
    var i = 0
    var j = ring.length - 1
    while (i < ring.length) {
      val (yi, xi) = ring(i)
      val (yj, xj) = ring(j)
      if (((yi > py) != (yj > py)) &&
          (px < (xj - xi) * (py - yi) / (yj - yi) + xi)) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** Exact polygon–box intersection test (used to tighten covering-cell
    * sets from bbox covers to true covers — a concave polygon's notch
    * cells prune away entirely instead of reaching the refine filter).
    * True iff a vertex lies in the box, a box corner lies in the polygon,
    * or any edge pair crosses. Conservative on boundary touches. */
  def intersectsBox(b: MBR): Boolean = {
    if (!bbox.overlaps(b)) return false
    if (ring.exists { case (la, lo) => b.contains(la, lo) }) return true
    if (contains(b.minLat, b.minLon) || contains(b.minLat, b.maxLon) ||
        contains(b.maxLat, b.minLon) || contains(b.maxLat, b.maxLon)) return true
    // edge-vs-box-edge crossing
    val corners = Array(
      (b.minLat, b.minLon), (b.minLat, b.maxLon),
      (b.maxLat, b.maxLon), (b.maxLat, b.minLon))
    var i = 0
    var j = ring.length - 1
    while (i < ring.length) {
      var c = 0
      while (c < 4) {
        if (Poly.segmentsIntersect(ring(i), ring(j), corners(c), corners((c + 1) % 4)))
          return true
        c += 1
      }
      j = i
      i += 1
    }
    false
  }
}

object Poly {
  private def orient(a: (Double, Double), b: (Double, Double), c: (Double, Double)): Int = {
    val v = (b._2 - a._2) * (c._1 - a._1) - (b._1 - a._1) * (c._2 - a._2)
    if (v > 0) 1 else if (v < 0) -1 else 0
  }

  private def onSeg(a: (Double, Double), b: (Double, Double), p: (Double, Double)): Boolean =
    math.min(a._1, b._1) <= p._1 && p._1 <= math.max(a._1, b._1) &&
    math.min(a._2, b._2) <= p._2 && p._2 <= math.max(a._2, b._2)

  /** Standard closed-segment intersection (collinear overlaps count). */
  def segmentsIntersect(p1: (Double, Double), p2: (Double, Double),
                        q1: (Double, Double), q2: (Double, Double)): Boolean = {
    val o1 = orient(p1, p2, q1); val o2 = orient(p1, p2, q2)
    val o3 = orient(q1, q2, p1); val o4 = orient(q1, q2, p2)
    if (o1 != o2 && o3 != o4) true
    else (o1 == 0 && onSeg(p1, p2, q1)) || (o2 == 0 && onSeg(p1, p2, q2)) ||
         (o3 == 0 && onSeg(q1, q2, p1)) || (o4 == 0 && onSeg(q1, q2, p2))
  }
}
