package graft

import graft.data.{Fixtures, Points}
import graft.geo.{GeoCols, MBR}
import graft.ops.SpatialOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Operator ≡ brute-force oracle equivalence on sf0.001 (the latent oracle
  * the reference computes but never asserts — Benchmark.java:107-117 times
  * serial vs indexed and discards both result lists; we assert them). */
class SpatialOpsSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"
  lazy val pts = Points(spark, dir).cache()
  lazy val rows: Array[(Long, Double, Double)] =
    pts.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))

  /** Window-form dense kNN join — the reference the production kernels
    * ([[SpatialOps.knnJoinAgg]], [[SpatialOps.knnJoinPruned]]) are
    * compared against: the query set broadcast-crossed with every point,
    * per-query top-k by a (d², id)-ordered row_number window. */
  private def knnJoin(points: DataFrame, queries: Seq[(Int, Double, Double)],
                      k: Int): DataFrame = {
    import points.sparkSession.implicits._
    val q = queries.toDF("q_id", "qlat", "qlon")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(GeoCols.d2Cols(col("lat"), col("lon"), col("qlat"), col("qlon")), col("id"))
    points.crossJoin(broadcast(q))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("id"))
  }

  test("rangeBox (pruned) == brute-force inclusive filter") {
    for ((_, b) <- Fixtures.boxes) {
      val got = SpatialOps.rangeBox(pts, b).select("id").collect().map(_.getLong(0)).toSet
      val exp = rows.filter { case (_, la, lo) => b.contains(la, lo) }.map(_._1).toSet
      assert(got == exp, s"box $b")
    }
  }

  test("knnRing == knnSerial == in-memory top-k (deterministic tie-break)") {
    val (qla, qlo) = Fixtures.knnPoint
    val k = Fixtures.knnK
    val exp = rows.map { case (id, la, lo) =>
      (id, (la - qla) * (la - qla) + (lo - qlo) * (lo - qlo))
    }.sortBy { case (id, d2) => (d2, id) }.take(k).map(_._1).toSeq
    val serial = SpatialOps.knnSerial(pts, qla, qlo, k)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    val ring = SpatialOps.knnRing(pts, qla, qlo, k)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(serial == exp)
    assert(ring == exp)
  }

  test("knnRing across several query points and ks") {
    for ((qla, qlo, k) <- Seq((0.0, 0.0, 1), (-80.0, 170.0, 10), (45.5, -120.25, 100))) {
      val exp = rows.map { case (id, la, lo) =>
        (id, (la - qla) * (la - qla) + (lo - qlo) * (lo - qlo))
      }.sortBy { case (id, d2) => (d2, id) }.take(k).map(_._1).toSeq
      val got = SpatialOps.knnRing(pts, qla, qlo, k)
        .orderBy("rank").collect().map(_.getLong(1)).toSeq
      assert(got == exp, s"q=($qla,$qlo) k=$k")
    }
  }

  test("knnRing randomized: 20 seeded query points x random k == in-memory top-k") {
    val r0 = new scala.util.Random(7)
    for (_ <- 1 to 20) {
      val qla = r0.nextDouble() * 180 - 90
      val qlo = r0.nextDouble() * 360 - 180
      val k = 1 + r0.nextInt(40)
      val exp = rows.map { case (id, la, lo) =>
        (id, (la - qla) * (la - qla) + (lo - qlo) * (lo - qlo))
      }.sortBy { case (id, d2) => (d2, id) }.take(k).map(_._1).toSeq
      val got = SpatialOps.knnRing(pts, qla, qlo, k)
        .orderBy("rank").collect().map(_.getLong(1)).toSeq
      assert(got == exp, s"q=($qla,$qlo) k=$k")
    }
  }

  test("rangeBox randomized: 20 seeded boxes == brute filter") {
    val r0 = new scala.util.Random(11)
    for (_ <- 1 to 20) {
      val la0 = r0.nextDouble() * 170 - 90
      val lo0 = r0.nextDouble() * 340 - 180
      val b = MBR(la0, lo0, la0 + r0.nextDouble() * 30, lo0 + r0.nextDouble() * 60)
      val got = SpatialOps.rangeBox(pts, b).select("id").collect().map(_.getLong(0)).toSet
      val exp = rows.filter { case (_, la, lo) => b.contains(la, lo) }.map(_._1).toSet
      assert(got == exp, s"box $b")
    }
  }

  test("skyline == O(n^2) dominance oracle (Benchmark.java:508-515)") {
    val dpts = rows.map { case (_, la, lo) => (la, lo) }.distinct
    val exp = dpts.filter { p =>
      !dpts.exists(q => q._1 <= p._1 && q._2 <= p._2 && (q._1 < p._1 || q._2 < p._2))
    }.toSet
    val got = SpatialOps.skyline(pts).collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(got == exp)
  }

  test("boxJoin == nested-loop oracle (multiset: input rows can repeat)") {
    def counts[T](xs: Seq[T]): Map[T, Int] = xs.groupBy(identity).view.mapValues(_.size).toMap
    val got = SpatialOps.boxJoin(pts, Fixtures.boxes)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val exp = for {
      (bid, b) <- Fixtures.boxes
      (id, la, lo) <- rows if b.contains(la, lo)
    } yield (bid, id)
    // exact multiset equality: the covering-cell join introduces no
    // duplication beyond input-row multiplicity (one cell per point)
    assert(counts(got) == counts(exp))
  }

  test("pipJoin == Poly.contains oracle; concave handled") {
    val got = SpatialOps.pipJoin(pts, Fixtures.polys)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val exp = (for {
      (pid, p) <- Fixtures.polys
      (id, la, lo) <- rows if p.contains(la, lo)
    } yield (pid, id)).toSet
    assert(got == exp)
    assert(exp.exists(_._1 == Fixtures.polyConcave._1), "concave poly matched no points")
  }

  test("mbrJoin == in-memory all-pairs overlap (reference-point dedup exact)") {
    // mod=10 at sf0.001 → 600 rects/side, ~90 expected pairs: dense enough
    // that a duplicate emission or a dropped boundary pair cannot hide
    val ra = graft.data.Rects.derive(pts, 0, mod = 10)
    val rb = graft.data.Rects.derive(pts, 1, mod = 10)
    def rects(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val (as, bs) = (rects(ra), rects(rb))
    val exp = (for {
      (ai, aminlat, aminlon, amaxlat, amaxlon) <- as
      (bi, bminlat, bminlon, bmaxlat, bmaxlon) <- bs
      if aminlat <= bmaxlat && bminlat <= amaxlat &&
         aminlon <= bmaxlon && bminlon <= amaxlon
    } yield (ai, bi)).toSeq
    val got = SpatialOps.mbrJoin(ra, rb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(exp.nonEmpty, "fixture produced no overlapping pairs")
    // sorted SEQ equality = multiset equality: a pair emitted in two
    // cover cells (broken reference-point rule) fails here, a distinct()
    // could not have hidden it
    assert(got.sorted == exp.sorted)
  }

  test("mbrJoin: corner-touching boxes pair exactly once across cell seams") {
    import spark.implicits._
    val a = Seq((1L, 0.0, 0.0, 10.0, 10.0), (2L, 50.0, 50.0, 60.0, 60.0))
      .toDF("id", "minlat", "minlon", "maxlat", "maxlon").repartition(2)
    val b = Seq(
      (7L, 10.0, 10.0, 20.0, 20.0),  // touches rect 1 at the single corner (10,10)
      (8L, -5.0, -5.0, 0.5, 0.5),    // overlaps rect 1 across the lat/lon=0 cell seam
      (9L, 80.0, 80.0, 89.0, 99.0))  // disjoint from both
      .toDF("id", "minlat", "minlon", "maxlat", "maxlon").repartition(2)
    val got = SpatialOps.mbrJoin(a, b, rOverride = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == Seq((1L, 7L), (1L, 8L)))
  }

  test("mbrJoin is r-invariant; adaptive pick matches cell edge to rect edge") {
    val ra = graft.data.Rects.derive(pts, 0, mod = 10)
    val rb = graft.data.Rects.derive(pts, 1, mod = 10)
    // mean edge ≈ 1.96° lat / 1.92° lon → finest cell edge covering it is
    // r=6 (2.81° × 5.625°); the pick must not drift with the data order
    assert(SpatialOps.resolveRectRes(ra, rb) == 6)
    def run(r: Int) = SpatialOps.mbrJoin(ra, rb, r)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
    val adaptive = SpatialOps.mbrJoin(ra, rb)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
    assert(run(5) == adaptive && run(8) == adaptive)
    // ONE empty side: the pick comes from the other side's stats (normal
    // path), the join is empty, no failure
    val empty = ra.filter(col("id") < 0)
    assert(SpatialOps.resolveRectRes(empty, rb) ==
           SpatialOps.resolveRectRes(rb, rb))
    assert(SpatialOps.mbrJoin(empty, rb).count() == 0)
    // BOTH sides empty: the MbrJoinRes fallback branch proper
    assert(SpatialOps.resolveRectRes(empty, empty) == Fixtures.MbrJoinRes)
    assert(SpatialOps.mbrJoin(empty, empty).count() == 0)
  }

  test("mbrJoin adaptive pick is per-side sampled and outlier-guarded") {
    import spark.implicits._
    // 1000 tiny rects (0.5° edges) plus ONE near-world-spanning outlier:
    // the mean-edge pick alone chooses r=7 (1.41° cells) and the outlier
    // would explode to ~128×129 ≈ 16.5k cover cells; the max-edge guard
    // must coarsen until it fits MaxCoverCells (4096) → r=5 (33² = 1089)
    val tiny = Seq.tabulate(1000) { i =>
      val la = -80.0 + (i % 160); val lo = -170.0 + (i % 340)
      (i.toLong, la, lo, la + 0.5, lo + 0.5)
    }
    val world = Seq((9999L, -89.0, -179.0, 89.0, 179.0))
    val a = (tiny ++ world).toDF("id", "minlat", "minlon", "maxlat", "maxlon")
      .repartition(4)
    val b = Seq((1L, 10.0, 10.0, 11.0, 11.0), (2L, -50.0, 30.0, -49.0, 31.0))
      .toDF("id", "minlat", "minlon", "maxlat", "maxlon").repartition(2)
    val r = SpatialOps.resolveRectRes(a, b)
    assert(r == 5, s"expected the outlier guard to coarsen to 5, got $r")
    // order of sides must not change the pick (per-side stats, no pooled
    // partition-order sample bias)
    assert(SpatialOps.resolveRectRes(b, a) == r)
    // the join through the guarded pick is still exact — verify against an
    // in-memory brute force
    val got = SpatialOps.mbrJoin(a, b)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
    val av = (tiny ++ world)
    val bv = Seq((1L, 10.0, 10.0, 11.0, 11.0), (2L, -50.0, 30.0, -49.0, 31.0))
    val exp = (for {
      (ai, alat0, alon0, alat1, alon1) <- av
      (bi, blat0, blon0, blat1, blon1) <- bv
      if alat0 <= blat1 && blat0 <= alat1 && alon0 <= blon1 && blon0 <= alon1
    } yield (ai, bi)).sorted
    assert(got == exp)
  }

  test("mbrJoinSalted == mbrJoin on a skewed (hotspot) rect cloud") {
    import org.apache.spark.sql.functions._
    val skewed = graft.data.Synth.imagePoints(
        graft.data.Synth.table(spark, 600, seed = 42L, hotspotFrac = 0.4).toDF())
      .withColumn("id", xxhash64(col("image_id")))
      .select("id", "lat", "lon").cache()
    val ra = graft.data.Rects.derive(skewed, 0, mod = 10)
    val rb = graft.data.Rects.derive(skewed, 1, mod = 10)
    val r = SpatialOps.resolveRectRes(ra, rb)
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
    val base = norm(SpatialOps.mbrJoin(ra, rb, r))
    assert(base.nonEmpty)
    // auto path: hot cells from one histogram pass over side a's cover
    assert(norm(SpatialOps.mbrJoinSalted(ra, rb, r)) == base)
    // hint path: pin the hotspot's cell as hot so the salting branch
    // (a-side hashed salt, b-side conditional-explode replication) is
    // KNOWN to engage — 40% of rects center on one cell
    val hotCell = skewed.groupBy(graft.geo.GeoCols.cellCol(
        col("lat"), col("lon"), r).as("c")).count()
      .orderBy(desc("count")).collect()(0).getLong(0)
    assert(norm(SpatialOps.mbrJoinSalted(ra, rb, r,
      hotCells = Some((r, Set(hotCell))))) == base)
    // salted plan is still an equi-join, never a cartesian
    val plan = SpatialOps.mbrJoinSalted(ra, rb, r,
      hotCells = Some((r, Set(hotCell))))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // mismatched hint resolution must be refused, not silently mis-salted
    intercept[IllegalArgumentException] {
      SpatialOps.mbrJoinSalted(ra, rb, r + 1, hotCells = Some((r, Set(hotCell))))
    }
    // saltFactor < 1 would NULL the salt key (non-ANSI pmod) and silently
    // drop every hot-cell pair — refused up front
    intercept[IllegalArgumentException] {
      SpatialOps.mbrJoinSalted(ra, rb, saltFactor = 0)
    }
    // out-of-range resolutions feed CellId bit-shifts garbage — refused in
    // both the salted and plain joins (negative non-sentinel AND too-fine)
    intercept[IllegalArgumentException] { SpatialOps.mbrJoin(ra, rb, -2) }
    intercept[IllegalArgumentException] {
      SpatialOps.mbrJoinSalted(ra, rb, rOverride = graft.geo.CellId.MaxRes + 1)
    }
    // empty histogram → empty hot set (not an NPE on the null sum)
    assert(SpatialOps.hotCellsFromHistogram(
      SpatialOps.tileHistogram(skewed.filter(col("id").isNull), r)) == Set.empty)
    skewed.unpersist()
  }

  test("mbrJoin plans a cell equi-join, never a cartesian") {
    val ra = graft.data.Rects.derive(pts, 0, mod = 10)
    val rb = graft.data.Rects.derive(pts, 1, mod = 10)
    val plan = SpatialOps.mbrJoin(ra, rb).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("boxJoinSalted == boxJoin on a skewed (hotspot) cloud") {
    import org.apache.spark.sql.functions._
    val skewed = graft.data.Synth.imagePoints(
        graft.data.Synth.table(spark, 600, seed = 42L, hotspotFrac = 0.4).toDF())
      .withColumn("id", xxhash64(col("image_id")))
      .select("id", "lat", "lon").cache()
    // box set includes the hot cell's box: derive it from the hot phash point
    val hot = skewed.groupBy(graft.geo.GeoCols.cellCol(col("lat"), col("lon"),
        Fixtures.JoinRes).as("c")).count().orderBy(desc("count")).collect()(0)
    val hotMbr = graft.geo.CellId.mbr(hot.getLong(0), Fixtures.JoinRes)
    val boxes = Fixtures.boxes :+ (99 -> hotMbr)
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(t => t).toSeq
    val plain = norm(SpatialOps.boxJoin(skewed, boxes))
    val salted = norm(SpatialOps.boxJoinSalted(skewed, boxes, saltFactor = 4,
      hotThreshold = 0.05))
    assert(salted == plain)
    assert(plain.count(_._1 == 99) >= 200, "hot box should match the hotspot mass")
  }

  test("knnJoin == per-query in-memory top-k") {
    val got = knnJoin(pts, Fixtures.knnQueries, Fixtures.knnJoinK)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val exp = (for {
      (qid, qla, qlo) <- Fixtures.knnQueries
      ranked = rows.map { case (id, la, lo) =>
        (id, (la - qla) * (la - qla) + (lo - qlo) * (lo - qlo))
      }.sortBy { case (id, d2) => (d2, id) }.take(Fixtures.knnJoinK)
      ((id, _), i) <- ranked.zipWithIndex
    } yield (qid, (i + 1).toLong, id)).toSet
    assert(got.toSet == exp)
  }

  test("knnJoinAgg (bounded-heap partial top-k) == knnJoin") {
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(t => t).toSeq
    assert(norm(SpatialOps.knnJoinAgg(pts, Fixtures.knnQueries, Fixtures.knnJoinK)) ==
           norm(knnJoin(pts, Fixtures.knnQueries, Fixtures.knnJoinK)))
    // k larger than some partitions' candidate counts (buffer underfill path)
    assert(norm(SpatialOps.knnJoinAgg(pts, Fixtures.knnQueries.take(2), 137)) ==
           norm(knnJoin(pts, Fixtures.knnQueries.take(2), 137)))
  }

  test("knnJoinPruned == knnJoin (with fallback exactness guarantee)") {
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(t => t).toSeq
    assert(norm(SpatialOps.knnJoinPruned(pts, Fixtures.knnQueries, Fixtures.knnJoinK)) ==
           norm(knnJoin(pts, Fixtures.knnQueries, Fixtures.knnJoinK)))
    // force the fallback path: k large enough that 2 rings can't satisfy it
    assert(norm(SpatialOps.knnJoinPruned(pts, Fixtures.knnQueries.take(3), 200)) ==
           norm(knnJoin(pts, Fixtures.knnQueries.take(3), 200)))
  }

  test("knnJoinPruned falls back for queries with ZERO ring candidates") {
    // points confined to one corner; one query sits in empty space at a
    // fine resolution — its ring cells hold no points, so it never appears
    // in the pruned inner join and MUST come from the dense fallback
    import spark.implicits._
    val corner = (1 to 50).map(i => (i.toLong, 0.1 * i, 0.05 * i)).toDF("id", "lat", "lon")
    val queries = Seq((0, 1.0, 1.0), (1, 80.0, 170.0)) // q1 is the outlier
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(t => t).toSeq
    val got = norm(SpatialOps.knnJoinPruned(corner, queries, 3, rOverride = 10, rings = 1))
    val exp = norm(knnJoin(corner, queries, 3))
    assert(got == exp)
    assert(got.count(_._1 == 1) == 3, "outlier query must still return k rows")
  }

  test("boxJoinSalted with precomputed (write-time) hot cells == boxJoin") {
    val hist = SpatialOps.tileHistogram(pts, Fixtures.JoinRes)
    val hot = SpatialOps.hotCellsFromHistogram(hist, hotThreshold = 0.01)
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(t => t).toSeq
    assert(norm(SpatialOps.boxJoinSalted(pts, Fixtures.boxes,
             hotCells = Some((Fixtures.JoinRes, hot)))) ==
           norm(SpatialOps.boxJoin(pts, Fixtures.boxes, Fixtures.JoinRes)))
    // empty hot set (uniform data) degenerates to the plain join
    assert(norm(SpatialOps.boxJoinSalted(pts, Fixtures.boxes,
             hotCells = Some((Fixtures.JoinRes, Set.empty[Long])))) ==
           norm(SpatialOps.boxJoin(pts, Fixtures.boxes)))
    // a hint keyed at a different resolution than an explicit pin is refused
    intercept[IllegalArgumentException] {
      SpatialOps.boxJoinSalted(pts, Fixtures.boxes, rOverride = 4,
        hotCells = Some((Fixtures.JoinRes, hot)))
    }
  }

  test("adaptive resolution IS the default: auto r refines with scale, coarsens on budget") {
    // the default path picks r from the plan-stats row estimate — finer at
    // 100x the rows (the reference grows tree depth with data,
    // RStarTree.java:205-222), never past the covering-cell budget
    val geoms = Fixtures.boxes.map(_._2)
    val rSmall = SpatialOps.pickRes(6000L, geoms)
    val rBig = SpatialOps.pickRes(600000L * 100, geoms)
    assert(rBig > rSmall, s"auto resolution must refine with scale: $rSmall vs $rBig")
    assert(geoms.map(graft.geo.CellId.coverCount(_, rBig)).sum <= SpatialOps.MaxCoverCells)
    // without a geometry budget the pick is rows-per-cell alone
    assert(SpatialOps.pickRes(1000000000000L, Seq.empty) == graft.geo.CellId.MaxRes)
    // the estimate is plan-time only (no scan) and lands in a sane octave
    val est = SpatialOps.estimateRows(pts)
    assert(est > 100 && est < 10000000L, s"estimate off the rails: $est")
    // default-path outputs == oracle-pinned-path outputs (r-invariance on
    // the REAL default, not just two explicit picks)
    def norm2(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(t => t).toSeq
    assert(norm2(SpatialOps.boxJoin(pts, Fixtures.boxes)) ==
           norm2(SpatialOps.boxJoin(pts, Fixtures.boxes, Fixtures.JoinRes)))
    assert(norm2(SpatialOps.pipJoin(pts, Fixtures.polys)) ==
           norm2(SpatialOps.pipJoin(pts, Fixtures.polys, Fixtures.JoinRes)))
    val bAuto = SpatialOps.rangeBox(pts, Fixtures.boxes.head._2)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val bPinned = SpatialOps.rangeBox(pts, Fixtures.boxes.head._2, Fixtures.JoinRes)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(bAuto == bPinned)
  }

  test("adaptive resolution: pickResolution-chosen r differs by scale, results don't") {
    val n1 = rows.length.toLong            // sf0.001 ≈ 6k rows
    val n2 = n1 * 100                      // the 100× scale-up design check
    val r1 = graft.geo.CellId.pickResolution(n1, 64)
    val r2 = graft.geo.CellId.pickResolution(n2, 64)
    assert(r2 > r1, s"resolution should refine with scale: r1=$r1 r2=$r2")
    for (r <- Seq(r1, r2); (_, b) <- Fixtures.boxes.take(3)) {
      val got = SpatialOps.rangeBox(pts, b, r).select("id").collect().map(_.getLong(0)).toSet
      val exp = rows.filter { case (_, la, lo) => b.contains(la, lo) }.map(_._1).toSet
      assert(got == exp, s"box $b at r=$r")
    }
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(t => t).toSeq
    assert(norm(SpatialOps.boxJoin(pts, Fixtures.boxes, r1)) ==
           norm(SpatialOps.boxJoin(pts, Fixtures.boxes, r2)))
    def normP(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(t => t).toSeq
    assert(normP(SpatialOps.pipJoin(pts, Fixtures.polys, r1)) ==
           normP(SpatialOps.pipJoin(pts, Fixtures.polys, r2)))
  }

  test("tilePyramid: rollup-on-aggregates == direct per-level histograms") {
    val got = SpatialOps.tilePyramid(pts, 5).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(t => t).toSeq
    val exp = (0 to 5).flatMap { r =>
      rows.groupBy { case (_, la, lo) => graft.geo.CellId.grid(la, lo, r) }
        .map { case (c, xs) => (r, c, xs.length.toLong) }
    }.sortBy(t => t)
    assert(got == exp)
    // level 0 is the global count
    assert(got.filter(_._1 == 0).map(_._3).sum == rows.length)
  }

  test("distanceJoin == brute all-pairs within eps (multiset; neighborhood is sound)") {
    def counts[T](xs: Seq[T]): Map[T, Int] = xs.groupBy(identity).view.mapValues(_.size).toMap
    for (eps <- Seq(0.5, 2.0)) {
      val got = SpatialOps.distanceJoin(pts, eps, Fixtures.distProbeMod)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val exp = for {
        (a, ala, alo) <- rows if a % Fixtures.distProbeMod == 0
        (b, bla, blo) <- rows if a != b
        if (bla - ala) * (bla - ala) + (blo - alo) * (blo - alo) <= eps * eps
      } yield (a, b)
      assert(counts(got) == counts(exp.toSeq), s"eps=$eps")
      assert(exp.nonEmpty, s"fixture produced no pairs at eps=$eps")
    }
    // a coarse override must give identical output (r only prunes)
    val a = SpatialOps.distanceJoin(pts, 0.5, Fixtures.distProbeMod)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = SpatialOps.distanceJoin(pts, 0.5, Fixtures.distProbeMod, rOverride = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(counts(a) == counts(b))
  }

  test("tile assignment is total, single-cell, and parallelism-invariant") {
    val a4 = SpatialOps.tileAssign(pts, Fixtures.TileRes).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(t => t).toSeq
    val a1 = SpatialOps.tileAssign(pts.repartition(13), Fixtures.TileRes).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(t => t).toSeq
    assert(a4 == a1)                       // partitioning-independent
    assert(a4.length == rows.length)       // total
    // each (id, lat, lon) gets exactly the codec's cell
    val expected = rows.map { case (id, la, lo) =>
      (id, graft.geo.CellId.grid(la, lo, Fixtures.TileRes))
    }.sortBy(t => t).toSeq
    assert(a4 == expected)
  }

  test("indexSummary equals per-group min/max/count") {
    val got = SpatialOps.indexSummary(pts, 3).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    val exp = rows.groupBy { case (_, la, lo) => graft.geo.CellId.grid(la, lo, 3) }
      .map { case (g, rs) =>
        g -> (rs.length.toLong, rs.map(_._2).min, rs.map(_._2).max, rs.map(_._3).min, rs.map(_._3).max)
      }
    assert(got == exp)
  }

  test("bulkload packing: slabs of 50 by lat (RStarTree.java:177,189-200)") {
    val leaves = SpatialOps.bulkloadLeaves(pts).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n = rows.length
    assert(leaves.map(_._2).sum == n)
    val full = leaves.dropRight(1)
    assert(full.forall(_._2 == Fixtures.PackFanout))
    // leaves are lat-ordered slabs: max(lat) of leaf i <= min(lat) of leaf i+1
    val mbrs = SpatialOps.bulkloadLeaves(pts).orderBy("leaf").collect()
      .map(r => (r.getDouble(2), r.getDouble(3)))
    for (i <- 0 until mbrs.length - 1)
      assert(mbrs(i)._2 <= mbrs(i + 1)._1 + 1e-12)
  }

  test("rasterize == brute cell-center enumeration (JVM Poly.contains)") {
    import graft.geo.CellId
    // the fixtures plus 32 scattered stars: one plan enumerates every
    // polygon's bbox cell box, so polygon boundaries in the shared range
    // must map each candidate back to the right polygon
    val polys = Fixtures.polys ++ SpatialOpsSpec.stars(32, seed = 29)
    for (r <- Seq(Fixtures.RasterRes, Fixtures.RasterRes + 3)) {
      val got = SpatialOps.rasterize(spark, polys, r)
        .collect().map(x => (x.getInt(0), x.getLong(1))).toSeq
      val exp = for {
        (pid, p) <- polys
        b = p.bbox
        y <- CellId.cellY(b.minLat, r) to CellId.cellY(b.maxLat, r)
        x <- CellId.cellX(b.minLon, r) to CellId.cellX(b.maxLon, r)
        cLat = (y + 0.5) * CellId.latStep(r) - 90.0
        cLon = (x + 0.5) * CellId.lonStep(r) - 180.0
        if p.contains(cLat, cLon)
      } yield (pid, y * CellId.n(r) + x)
      assert(got.sorted == exp.sorted, s"r=$r")
      // every polygon rasterizes to at least one cell
      assert(got.map(_._1).toSet == polys.map(_._1).toSet, s"r=$r")
    }
  }

  test("rasterize area converges: center-sampled cell area ~ polygon area as r grows") {
    import graft.geo.CellId
    // center sampling is a Riemann sum of the polygon indicator: cell
    // count x cell area must approach the true polygon area (shoelace)
    // as the raster refines — the property that makes the raster usable
    // as a coverage mask at any zoom level
    for ((_, p) <- Fixtures.polys) {
      val ring = p.ring
      val shoelace = math.abs(ring.indices.map { i =>
        val (y1, x1) = ring(i); val (y2, x2) = ring((i + 1) % ring.length)
        x1 * y2 - x2 * y1
      }.sum) / 2.0
      for (r <- Seq(Fixtures.RasterRes, Fixtures.RasterRes + 2)) {
        val cells = SpatialOps.rasterize(spark, Seq(1 -> p), r).count()
        val area = cells * CellId.latStep(r) * CellId.lonStep(r)
        val tol = if (r == Fixtures.RasterRes) 0.15 else 0.05
        assert(math.abs(area - shoelace) / shoelace < tol,
          s"r=$r raster area $area vs shoelace $shoelace")
      }
    }
  }

  test("zonalStats == brute per-polygon aggregates") {
    val zs = SpatialOps.zonalStats(pts, Fixtures.polys).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2)))).toMap
    for ((pid, p) <- Fixtures.polys) {
      val inside = rows.filter { case (_, la, lo) => p.contains(la, lo) }
      assert(zs(pid)._1 == inside.length, s"cnt poly $pid")
      assert(zs(pid)._2 == inside.map(_._1).sum, s"sum_id poly $pid")
    }
    assert(zs.size == Fixtures.polys.size) // one row per polygon, always
    // a polygon holding no points still gets its row, with cnt = 0
    val empty = Seq(99 -> graft.geo.Poly(Vector(
      (89.990, 179.990), (89.990, 179.999), (89.999, 179.999), (89.999, 179.990))))
    assert(SpatialOps.zonalStats(pts, empty).collect().map(_.getLong(1)).toSeq == Seq(0L))
  }

  test("pipJoin/zonalStats over many polygons == Poly.contains brute force") {
    import graft.geo.{CellId, Poly}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    // a dense cluster (3000 points in a 0.6° square) plus rows whose
    // lat/lon is null or NaN: those match nothing and must not throw; a
    // null id inside a polygon still matches, as (poly_id, null)
    val (cLat, cLon) = (12.25, -47.5)
    val cluster = (0 until 3000).map(i =>
      Row(1000000L + i, cLat + (i % 60) * 0.01, cLon + (i / 60) * 0.01))
    val odd = Seq(Row(2000001L, null, 10.0), Row(2000002L, 10.0, null),
      Row(2000003L, Double.NaN, -47.0), Row(2000004L, 12.5, Double.NaN),
      Row(2000005L, Double.NaN, Double.NaN), Row(2000006L, null, null),
      Row(null, cLat + 0.105, cLon + 0.105))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("lat", DoubleType), StructField("lon", DoubleType)))
    val all = pts.unionByName(spark.createDataFrame(
      spark.sparkContext.parallelize(cluster ++ odd, 4), schema))
    def opt[T](r: Row, i: Int)(f: Int => T): Option[T] = if (r.isNullAt(i)) None else Some(f(i))
    val allRows = all.collect().map(r =>
      (opt(r, 0)(r.getLong), opt(r, 1)(r.getDouble), opt(r, 2)(r.getDouble)))
    val overCluster = 50 -> Poly(Vector((cLat - 0.2, cLon - 0.2),
      (cLat + 0.9, cLon + 0.1), (cLat + 0.3, cLon + 0.9)))
    val big = 60 -> SpatialOpsSpec.star(20.0, 60.0, 25.0, new scala.util.Random(3))
    val empty = 99 -> Poly(Vector(
      (89.990, 179.990), (89.990, 179.999), (89.999, 179.999), (89.999, 179.990)))
    val polys = Fixtures.polys ++ SpatialOpsSpec.stars(14, seed = 17) ++
      Seq(overCluster, big, empty)
    assert(polys.size >= 16)
    // the first r where the big polygon's cover passes MaxCoverCells: it is
    // tested at every row while the small ones stay on the cell map
    val rFine = (4 to 12).find(r =>
      CellId.coverPoly(big._2, r).size > SpatialOps.MaxCoverCells).get
    assert(polys.exists(p => CellId.coverPoly(p._2, rFine).size <= SpatialOps.MaxCoverCells))
    val inside = polys.map { case (pid, p) => pid -> allRows.collect {
      case (id, Some(la), Some(lo)) if p.contains(la, lo) => (id, la, lo) }.toSeq }
    assert(inside.toMap.apply(50).size > 1000, "the cluster polygon must hold the cluster")
    assert(inside.toMap.apply(Fixtures.polyConcave._1).nonEmpty)
    val expPip = inside.flatMap { case (pid, xs) => xs.map(x => (pid, x._1)) }.sorted
    assert(expPip.contains((50, None)), "the null-id row must lie in the cluster polygon")
    val expZonal = inside.map { case (pid, xs) =>
      if (xs.isEmpty) (pid, 0L, None, None, None, None, None)
      else (pid, xs.size.toLong, Some(xs.flatMap(_._1).sum),
        Some(xs.map(_._2).min), Some(xs.map(_._2).max),
        Some(xs.map(_._3).min), Some(xs.map(_._3).max))
    }.sortBy(_._1)
    for (r <- Seq(SpatialOps.AutoRes, rFine)) {
      val pip = SpatialOps.pipJoin(all, polys, r).collect()
        .map(x => (x.getInt(0), opt(x, 1)(x.getLong))).toSeq.sorted
      assert(pip == expPip, s"pipJoin r=$r")
      val zonal = SpatialOps.zonalStats(all, polys, r).collect().map(x =>
        (x.getInt(0), x.getLong(1), opt(x, 2)(x.getLong), opt(x, 3)(x.getDouble),
          opt(x, 4)(x.getDouble), opt(x, 5)(x.getDouble), opt(x, 6)(x.getDouble)))
        .toSeq.sortBy(_._1)
      assert(zonal == expZonal, s"zonalStats r=$r")
    }
  }

  test("null coordinates match nothing: boxJoin, pipJoin, zonalStats, knnJoinAgg") {
    import graft.geo.Poly
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    // each null-coordinate row sits, by its other coordinate, inside the
    // box and polygon around (0, 10) and at the query point, so reading a
    // null as 0.0 would match it; the null-id row is at the query point too
    val nulls = Seq(Row(9000001L, null, 10.0), Row(9000002L, 0.0, null),
      Row(9000003L, null, null), Row(null, 0.0, 10.0))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("lat", DoubleType), StructField("lon", DoubleType)))
    val all = pts.unionByName(spark.createDataFrame(
      spark.sparkContext.parallelize(nulls, 2), schema))
    val box = Seq(7 -> MBR(-1.0, -1.0, 1.0, 11.0))
    val poly = Seq(8 -> Poly(Vector((-1.0, -1.0), (-1.0, 11.0), (1.0, 11.0), (1.0, -1.0))))
    val queries = Seq((0, 0.0, 10.0), (1, 0.0, 0.0))
    def pairs(df: DataFrame) = df.collect().map(r =>
      (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq.sorted
    def ranked(df: DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val nullIdHit = Seq((8, None))
    assert(pairs(SpatialOps.boxJoin(all, box)) == (pairs(SpatialOps.boxJoin(pts, box)) :+ (7, None)).sorted)
    assert(pairs(SpatialOps.pipJoin(all, poly)) == (pairs(SpatialOps.pipJoin(pts, poly)) ++ nullIdHit).sorted)
    val zonal = SpatialOps.zonalStats(all, poly).collect().map(_.getLong(1)).toSeq
    assert(zonal == SpatialOps.zonalStats(pts, poly).collect().map(_.getLong(1) + 1).toSeq)
    val knn = ranked(SpatialOps.knnJoinAgg(all, queries, 5))
    assert(knn == ranked(knnJoin(pts, queries, 5)) && knn.size == 10)
    assert(ranked(SpatialOps.knnJoinPruned(all, queries, 5)) == knn)
    // the stored join over a table holding the same rows
    val st = new graft.table.SnapshotStore(spark, tempDir("graft_null_knn").toString)
    st.append(all, "unit-all", numPartitions = 4)
    assert(ranked(graft.index.GlobalIndex.knnJoinStored(st, queries, 5)) == knn)
  }

  test("k < 1 is refused by every kNN join") {
    val st = new graft.table.SnapshotStore(spark, tempDir("graft_knn_k0").toString)
    st.append(pts, "unit-all", numPartitions = 2)
    for (k <- Seq(0, -1)) {
      intercept[IllegalArgumentException](SpatialOps.knnJoinAgg(pts, Fixtures.knnQueries, k))
      intercept[IllegalArgumentException](SpatialOps.knnJoinPruned(pts, Fixtures.knnQueries, k))
      intercept[IllegalArgumentException](
        graft.index.GlobalIndex.knnJoinStored(st, Fixtures.knnQueries, k))
    }
  }

  test("rect-res outlier guard sees the FULL side (r6: no sample-prefix blind spot)") {
    import spark.implicits._
    // 70k tiny rects followed by ONE world-spanning outlier in the LAST
    // row: the round-5 pick sampled a 65536-row partition-order prefix,
    // so an outlier past it escaped the max-edge guard and the 2-D
    // sequence cover could explode; the full-side aggregate must coarsen
    // regardless of the outlier's position
    val tiny = Seq.tabulate(70000) { i =>
      val la = -80.0 + (i % 160); val lo = -170.0 + (i % 340)
      (i.toLong, la, lo, la + 0.5, lo + 0.5)
    }
    val world = Seq((99999L, -89.0, -179.0, 89.0, 179.0))
    val a = (tiny ++ world).toDF("id", "minlat", "minlon", "maxlat", "maxlon")
      .coalesce(1) // single partition: the outlier IS past any prefix
    val b = Seq((1L, 10.0, 10.0, 11.0, 11.0))
      .toDF("id", "minlat", "minlon", "maxlat", "maxlon")
    val r = SpatialOps.resolveRectRes(a, b)
    // without the guard the 0.5-degree mean edge picks r=7; the world
    // rect must coarsen the pick until its cover fits MaxCoverCells
    assert(r <= 5, s"world-spanning outlier in the last row escaped the guard: r=$r")
  }

  test("hotCellsFromHistogram: numeric (non-long) cnt obeys the documented contract") {
    import spark.implicits._
    // double-typed counts (e.g. a histogram scaled by a weight): the
    // explicit long cast must threshold, not ClassCastException (round-5
    // ADVICE item); 96 of 100 mass on cell 7 -> only cell 7 is hot
    val hist = Seq((7L, 96.0), (8L, 2.0), (9L, 2.0)).toDF("cell", "cnt")
    assert(SpatialOps.hotCellsFromHistogram(hist, 0.05) == Set(7L))
    // and an all-zero histogram yields the empty set, not a null failure
    val zeros = Seq((1L, 0.0)).toDF("cell", "cnt")
    assert(SpatialOps.hotCellsFromHistogram(zeros, 0.05) == Set.empty)
  }
}

object SpatialOpsSpec {
  import graft.geo.Poly

  /** A seeded 8-vertex star-shaped polygon around (lat, lon): vertex k at
    * angle 2πk/8 and a random distance in [rad/2, rad]. */
  def star(lat: Double, lon: Double, rad: Double, rnd: scala.util.Random): Poly =
    Poly((0 until 8).map { k =>
      val a = 2 * math.Pi * k / 8
      val d = rad * (0.5 + 0.5 * rnd.nextDouble())
      (lat + d * math.sin(a), lon + d * math.cos(a))
    })

  /** `n` seeded 8° stars scattered over the globe, ids 100 until 100 + n. */
  def stars(n: Int, seed: Long): Seq[(Int, Poly)] = {
    val rnd = new scala.util.Random(seed)
    Seq.tabulate(n)(i => (100 + i) ->
      star(rnd.nextDouble() * 120 - 60, rnd.nextDouble() * 300 - 150, 8.0, rnd))
  }
}
