package perfbench

import graft.geo.{CellId, GeoCols, MBR, Poly}
import graft.ops.SpatialOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `tile_pipeline`: bulk passes of the headline spatial pipeline over a
  * generated point cloud.
  *
  * Why: the `ops` kernels and the shuffle do almost all the work and the
  * `table` and `index` layers none, so this is the control for store and
  * metadata changes and the workload where kernel, shuffle or skew changes
  * show.
  *
  * The input is `rows` points from `spark.range` hashed with the seed (as
  * `Synth.pointCloud` does), a seeded share of them packed into one hot
  * cell. Each pass runs, one operator per operation, a tile histogram, a
  * tile pyramid, a box join, a polygon join, a kNN join and a range box. */
final class TilePipeline(spark: SparkSession, seed: Long, smoke: Boolean) extends Workload {
  import TilePipeline._

  private val rows: Long = if (smoke) 50000L else 1000000L
  private val r0 = Gen.rng(seed, Long.MinValue)
  private val hotFrac = 0.08 + 0.02 * r0.nextDouble()
  private val hot = (Gen.uniform(r0, -60, 60), Gen.uniform(r0, -170, 170))
  private val boxes = Seq.tabulate(6)(i => i -> Gen.box(r0, 2.0 + i))
  private val polys = Seq.tabulate(4)(i => i -> star(r0))
  private val queries = Seq.tabulate(16)(i =>
    (i, Gen.uniform(r0, -80, 80), Gen.uniform(r0, -170, 170)))
  private val rangeBox = Gen.box(r0, 10.0)
  private var points: DataFrame = _
  private val results = mutable.ArrayBuffer.empty[(Int, String, Any)]

  def setup(): Unit = {
    val h = xxhash64(col("id"), lit(seed))
    val isHot = pmod(h, lit(1000000L)) < lit((hotFrac * 1000000).toLong)
    // hot points jitter over a 0.5° square inside the hot cell
    val jitter = (bits: Column, lo: Double) => lit(lo) + pmod(bits, lit(500L)) / lit(1000.0)
    points = spark.range(0, rows, 1, spark.sparkContext.defaultParallelism * 4)
      .select(col("id"),
        when(isHot, jitter(shiftright(h, 8), hot._1)).otherwise(GeoCols.geoFromPhashLat(h)).as("lat"),
        when(isHot, jitter(shiftright(h, 24), hot._2)).otherwise(GeoCols.geoFromPhashLon(h)).as("lon"))
    // warm-up: one full pass, from indices the timed loop never uses
    Kinds.indices.foreach(k => exec(-1 - k, Kinds(k), new Tracer(spark)))
    results.clear()
  }

  def kind(i: Int): String = Kinds(math.floorMod(i, Kinds.size))

  def cycle: Map[String, Int] = Kinds.map(_ -> 1).toMap

  def run(i: Int, t: Tracer): Unit = exec(i, kind(i), t)

  private def counted(t: Tracer, op: String)(plan: => DataFrame): Long = {
    val df = t.span(s"ops.$op.call")(plan)
    val n = t.span(s"ops.$op.action")(df.count())
    t.count("result.rows", n.toDouble)
    n
  }

  private def exec(i: Int, k: String, t: Tracer): Unit = {
    val res: Any = k match {
      case "tile_histogram" => counted(t, k)(SpatialOps.tileHistogram(points))
      case "tile_pyramid" => counted(t, k)(SpatialOps.tilePyramid(points))
      case "box_join" => counted(t, k)(SpatialOps.boxJoin(points, boxes))
      case "pip_join" => counted(t, k)(SpatialOps.pipJoin(points, polys))
      case "range_box" => counted(t, k)(SpatialOps.rangeBox(points, rangeBox))
      case "knn_join" =>
        val df = t.span("ops.knn_join.call")(SpatialOps.knnJoinAgg(points, queries, K))
        val got = t.span("ops.knn_join.action")(
          df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))))
        t.count("result.rows", got.length.toDouble)
        got.sortBy(x => (x._1, x._2)).toSeq.map(x => (x._1, x._3))
    }
    results += ((i, k, res))
  }

  /** Every pass must give the same result per operator, equal to a plain
    * twin: point-by-point filters and top-k scans over the same input,
    * evaluated through [[MBR]], [[Poly]] and [[CellId]] on the JVM. */
  def check(): (Set[Int], Seq[String]) = {
    import spark.implicits._
    val pts = points.select("id", "lat", "lon").as[(Long, Double, Double)]
    val (bx, pp, qs, rb, r) = (boxes, polys, queries, rangeBox, graft.data.Fixtures.TileRes)
    // one scan: per-box, per-polygon and range counts, and the finest cells
    val (counts, cells) = pts.mapPartitions { it =>
      val c = new Array[Long](bx.size + pp.size + 1)
      val cs = mutable.HashSet.empty[Long]
      it.foreach { case (_, la, lo) =>
        bx.foreach { case (b, m) => if (m.contains(la, lo)) c(b) += 1 }
        pp.foreach { case (p, g) => if (g.contains(la, lo)) c(bx.size + p) += 1 }
        if (rb.contains(la, lo)) c(c.length - 1) += 1
        cs += CellId.cellY(la, r) * CellId.n(r) + CellId.cellX(lo, r)
      }
      Iterator((c.toSeq, cs.toSeq))
    }.collect().foldLeft((Seq.fill(bx.size + pp.size + 1)(0L), Set.empty[Long])) {
      case ((a, s), (c, cs)) => (a.zip(c).map(x => x._1 + x._2), s ++ cs)
    }
    // pyramid levels r..0: parent of (y, x) is (y / 2, x / 2)
    val levels = Iterator.iterate((cells, r)) { case (cs, lv) =>
      (cs.map(c => (c / CellId.n(lv) / 2) * CellId.n(lv - 1) + (c % CellId.n(lv)) / 2), lv - 1)
    }.take(r + 1).map(_._1.size.toLong).sum
    val knn = pts.mapPartitions { it =>
      val rowsHere = it.toArray
      val ids = rowsHere.map(_._1); val la = rowsHere.map(_._2); val lo = rowsHere.map(_._3)
      qs.iterator.flatMap { case (q, a, o) =>
        Disk.topK(ids, la, lo, a, o, K).map { case (id, d2) => (q, d2, id) } }
    }.collect().groupBy(_._1).map { case (q, c) =>
      q -> c.sortBy(x => (x._2, x._3)).take(K).map(_._3).toSeq }
    val want: Map[String, Any] = Map(
      "tile_histogram" -> cells.size.toLong,
      "tile_pyramid" -> levels,
      "box_join" -> counts.take(bx.size).sum,
      "pip_join" -> counts.slice(bx.size, bx.size + pp.size).sum,
      "range_box" -> counts.last,
      "knn_join" -> qs.flatMap { case (q, _, _) => knn(q).map(id => (q, id)) })
    val wrong = results.collect { case (i, k, got) if got != want(k) => i }.toSet
    (wrong, Seq.empty)
  }

  def detail(w: Window): Map[String, Double] = {
    // a pass is one operation of each kind; its time is the sum of their medians
    val passS = Kinds.map(k => w.p(k, 0.5)).sum / 1e3
    Map("pipeline_rows_per_s" -> rows / passS, "pass_s" -> passS) ++
      Kinds.map(k => s"${k}_p50_ms" -> w.p(k, 0.5))
  }

  def state(): Map[String, Double] = Map.empty
}

object TilePipeline {
  val Kinds: IndexedSeq[String] =
    IndexedSeq("tile_histogram", "tile_pyramid", "box_join", "pip_join", "knn_join", "range_box")
  val K = 10

  /** A seeded 8-vertex star-shaped polygon of radius 8°. */
  def star(r: scala.util.Random): Poly = {
    val (la, lo) = (Gen.uniform(r, -60, 60), Gen.uniform(r, -150, 150))
    val n = 8
    val rad = 8.0
    Poly((0 until n).map { j =>
      val a = 2 * math.Pi * j / n
      val d = rad * (0.5 + 0.5 * r.nextDouble())
      (la + d * math.sin(a), lo + d * math.cos(a))
    })
  }
}
