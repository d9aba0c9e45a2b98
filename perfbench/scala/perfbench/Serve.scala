package perfbench

import graft.geo.{GeoCols, MBR}
import graft.index.GlobalIndex
import graft.ops.SpatialOps
import graft.table.SnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `serve`: read-only queries against one store built during set-up.
  *
  * Why: queries over a narrow stored table are bound by the Spark driver and by
  * metadata (manifest and sidecar parsing, planning) more than by their
  * tiny kernels, and every query re-reads the same snapshot's metadata, so
  * a metadata cache, a pruning change or a planning change shows here.
  *
  * The store holds `rows` (id, lat, lon) points hashed over the globe,
  * appended as [[Units]] globe-spanning units with a Bloom filter on `id`,
  * plus two live delete tombstones (a box and an id list). The seeded mix
  * draws one of four queries per operation: a range box, a stored kNN, a
  * multi-box join, and a key lookup with some absent keys. */
final class Serve(spark: SparkSession, seed: Long, smoke: Boolean, work: String)
    extends Workload {
  import Serve._
  import Gen._

  private val rows: Long = if (smoke) 20000L else 200000L
  private var store: SnapshotStore = _
  private var rep = 0
  private val log = mutable.ArrayBuffer.empty[(Int, Query, Any)]

  private def points: DataFrame = {
    val h = xxhash64(col("id"), lit(seed))
    spark.range(0, rows, 1, spark.sparkContext.defaultParallelism)
      .select(col("id"), GeoCols.geoFromPhashLat(h).as("lat"),
        GeoCols.geoFromPhashLon(h).as("lon"))
  }

  private val setupRnd = rng(seed, Long.MinValue)
  private val delBox = box(setupRnd, 3.0)
  private val delIds = Seq.fill(40)((setupRnd.nextLong() & Long.MaxValue) % rows).distinct

  def setup(): Unit = {
    rep += 1
    val root = s"$work/serve-$rep"
    val st = new SnapshotStore(spark, root, bloomKey = Some("id"))
    val pts = points
    (0 until Units).foreach(u => st.append(pts.filter(col("id") % Units === u), s"unit$u"))
    st.deleteWhere(GeoCols.inBox(col("lat"), col("lon"), delBox), "del-box")
    st.deleteWhere(col("id").isin(delIds: _*), "del-ids")
    if (store != null) Disk.deleteTree(s"$work/serve-${rep - 1}")
    store = st
    // warm-up: one query of each kind, from a stream the timed loop never draws
    Kinds.indices.foreach(k => exec(Int.MinValue + k, Kinds(k), new Tracer(spark)))
    log.clear()
  }

  /** Each block of four operations is a seeded order of the four kinds, so
    * every seed runs the same mix. */
  def kind(i: Int): String =
    rng(seed, -2 - i / Kinds.size).shuffle(Kinds).apply(i % Kinds.size)

  def cycle: Map[String, Int] = Kinds.map(_ -> 1).toMap

  def run(i: Int, t: Tracer): Unit = exec(i, kind(i), t)

  /** Operation `i`. Its size parameters step through their sets by the
    * block number `i / 4`, so every seed spreads its operations evenly over
    * the box sizes, k values and box counts; positions and keys are seeded. */
  private def exec(i: Int, k: String, t: Tracer): Unit = {
    val r = rng(seed, i)
    val block = math.floorMod(i / Kinds.size, 60)
    def boxOf(j: Int) = box(r, HalfSizes(math.floorMod(block + j, HalfSizes.size)))
    k match {
      case "range" =>
        val b = boxOf(0)
        val (df, kept, total) = t.span("table.read")(store.read(Some(b)))
        t.files(kept, total)
        val q = t.span("ops.range_box.call")(SpatialOps.rangeBox(df, b))
        val n = t.span("ops.range_box.action")(q.count())
        t.count("result.rows", n.toDouble)
        log += ((i, Range(b), n))
      case "knn" =>
        val (lat, lon) = (uniform(r, -90, 90), uniform(r, -180, 180))
        val k = Ks(block % Ks.size)
        val got = t.span("index.knn_stored") {
          GlobalIndex.knnStored(store, lat, lon, k).select("rank", "id", "d2")
            .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
        }.sortBy(_._1).map(x => (x._2, x._3)).toSeq
        t.count("result.rows", got.size.toDouble)
        log += ((i, Knn(lat, lon, k), got))
      case "join" =>
        val boxes = (0 until 4 + block % 5).map(boxOf)
        val (df, kept, total) = t.span("table.read_boxes")(store.readBoxes(boxes))
        t.files(kept, total)
        val q = t.span("ops.box_join.call")(
          SpatialOps.boxJoin(df, boxes.zipWithIndex.map(_.swap)))
        val n = t.span("ops.box_join.action")(q.count())
        t.count("result.rows", n.toDouble)
        log += ((i, Join(boxes), n))
      case "lookup" =>
        // 5 keys: 3 drawn from the id range (a few of them tombstoned), 2 absent
        val keys = r.shuffle(Seq.fill(3)((r.nextLong() & Long.MaxValue) % rows) ++
          Seq.fill(2)(rows + (r.nextLong() & 0xffffL)))
        val (df, kept, total) = t.span("table.lookup")(store.lookupByKey(keys))
        t.files(kept, total)
        val got = t.span("table.lookup.fetch")(df.select("id").collect().map(_.getLong(0)))
        t.count("result.rows", got.length.toDouble)
        log += ((i, Lookup(keys), got.sorted.toSeq))
    }
  }

  /** Brute force over the generated input, minus the tombstoned rows. */
  def check(): (Set[Int], Seq[String]) = {
    val all = points.collect().map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2)))
    val dead = delIds.toSet
    val live = all.filterNot { case (id, la, lo) => dead(id) || delBox.contains(la, lo) }
    val ids = live.map(_._1); val lat = live.map(_._2); val lon = live.map(_._3)
    val liveIds = ids.toSet
    def inBox(b: MBR): Int = lat.indices.count(j => b.contains(lat(j), lon(j)))
    val wrong = log.collect { case (i, q, got) if (q match {
      case Range(b) => got != inBox(b).toLong
      case Join(bs) => got != bs.map(inBox).sum.toLong
      case Lookup(keys) => got != keys.distinct.filter(liveIds).sorted
      case Knn(qa, qo, k) =>
        got != Disk.topK(ids, lat, lon, qa, qo, k)
    }) => i }.toSet
    (wrong, Seq.empty)
  }

  def detail(w: Window): Map[String, Double] = Map(
    "queries_per_s" -> w.ops / w.wallS,
    "query_p50_ms" -> Stats.pct(w.ms, 0.5),
    "query_p90_ms" -> Stats.pct(w.ms, 0.9),
    "range_p50_ms" -> w.p("range", 0.5),
    "knn_p50_ms" -> w.p("knn", 0.5),
    "join_p50_ms" -> w.p("join", 0.5),
    "lookup_p50_ms" -> w.p("lookup", 0.5))

  def state(): Map[String, Double] = Disk.tableState(store, s"$work/serve-$rep")
}

object Serve {
  val Units = 8
  val Kinds: IndexedSeq[String] = IndexedSeq("range", "knn", "join", "lookup")
  val HalfSizes: IndexedSeq[Double] = IndexedSeq(0.5, 2.0, 8.0)
  val Ks: IndexedSeq[Int] = IndexedSeq(1, 10, 25, 100)

  sealed trait Query
  final case class Range(b: MBR) extends Query
  final case class Knn(lat: Double, lon: Double, k: Int) extends Query
  final case class Join(boxes: Seq[MBR]) extends Query
  final case class Lookup(keys: Seq[Long]) extends Query

}
