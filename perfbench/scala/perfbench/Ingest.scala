package perfbench

import graft.data.Synth
import graft.geo.{GeoCols, MBR}
import graft.table.SnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `ingest`: a closed loop of writes with reads beside them.
  *
  * Why: it drives the `table` layer the opposite way from `serve`: wide
  * image rows (the `input_hint` table, `image_id` Bloom key) are appended
  * unit by unit, every few appends a box delete writes an equality
  * tombstone, and every cycle ends with compaction, snapshot expiry and
  * vacuum. Each commit makes a new snapshot between reads, so a read-path
  * metadata gain shows in `serve` and not here, while a write-path gain
  * that costs reads shows in this workload's read latency.
  *
  * A pool of [[Synth]] image rows is generated during set-up (encoding is
  * never timed); append unit `u` is the pool with `image_id` prefixed by
  * `u`, so every unit holds distinct keys over the same positions. */
final class Ingest(spark: SparkSession, seed: Long, smoke: Boolean, work: String)
    extends Workload {
  import Ingest._

  private val poolRows = if (smoke) 60 else 800
  private var pool: DataFrame = _
  private var poolPos: Array[(Double, Double)] = Array.empty
  private var store: SnapshotStore = _
  private var root: String = _
  private var rep = 0
  private var nextUnit = 0
  /** What each timed operation did, replayed by [[check]]. */
  private val log = mutable.ArrayBuffer.empty[(Int, Event)]
  private var appended = 0L
  /** Live rows after the last check's final expiry and vacuum. */
  private var finalRows = 0L

  private def unit(u: Int): DataFrame =
    pool.withColumn("image_id", concat(lit(s"u$u-"), col("image_id")))

  def setup(): Unit = {
    rep += 1
    if (pool != null) pool.unpersist(blocking = true)
    pool = Synth.imagePoints(Synth.table(spark, poolRows, seed).toDF()).persist()
    poolPos = pool.select("lat", "lon").collect().map(r => (r.getDouble(0), r.getDouble(1)))
    if (root != null) Disk.deleteTree(root)
    root = s"$work/ingest-$rep"
    store = new SnapshotStore(spark, root, bloomKey = Some("image_id"))
    log.clear(); appended = 0L
    nextUnit = 0
    (0 until BaseUnits).foreach { _ => append(new Tracer(spark)) }
    log.clear(); appended = 0L
  }

  private def append(t: Tracer): Unit = {
    val u = nextUnit; nextUnit += 1
    t.span("table.append")(store.append(unit(u), s"u$u"))
    log += ((-1, Appended(u)))
    appended += poolRows
  }

  def kind(i: Int): String = Cycle(i % Cycle.size)

  def cycle: Map[String, Int] = Cycle.groupBy(identity).map { case (k, v) => k -> v.size }

  def run(i: Int, t: Tracer): Unit = {
    val r = Gen.rng(seed, i)
    // boxes are centred on a pool position, so deletes and reads always hit
    def aroundPool(h: Double): MBR = {
      val (la, lo) = poolPos(r.nextInt(poolPos.length))
      MBR(la - h, lo - h, la + h, lo + h)
    }
    kind(i) match {
      case "append" => append(t)
      case "delete" =>
        val b = aroundPool(DeleteHalfSize)
        t.span("table.delete")(store.deleteWhere(GeoCols.inBox(col("lat"), col("lon"), b), s"del$i"))
        log += ((i, Deleted(b)))
      case "read" =>
        val b = aroundPool(ReadHalfSize)
        val (df, kept, total) = t.span("table.read")(store.read(Some(b)))
        t.files(kept, total)
        val n = t.span("table.read.fetch")(df.filter(GeoCols.inBox(col("lat"), col("lon"), b)).count())
        t.count("result.rows", n.toDouble)
        log += ((i, Read(b, n)))
      case "lookup" =>
        // 5 keys over appended units (some since deleted) plus absent ones
        val keys = Seq.fill(5) {
          val u = r.nextInt(nextUnit + 2)
          f"u$u-img${r.nextInt(poolRows)}%012d"
        }
        val (df, kept, total) = t.span("table.lookup")(store.lookupByKey(keys))
        t.files(kept, total)
        val got = t.span("table.lookup.fetch")(
          df.select("image_id").collect().map(_.getString(0)).sorted.toSeq)
        t.count("result.rows", got.size.toDouble)
        log += ((i, Lookup(keys, got)))
      case "compact" => t.span("table.compact")(store.compact())
      case "expire" => t.span("table.expire")(store.expireSnapshots(1))
      case "vacuum" => t.span("table.vacuum")(store.vacuum(0L))
    }
  }

  /** Replay the log over the pool: a delete removes the rows then live in
    * its box; reads, lookups and the final table must match the replay. */
  def check(): (Set[Int], Seq[String]) = {
    val live = mutable.Set.empty[(Int, Int)]
    val wrong = mutable.Set.empty[Int]
    def inBox(b: MBR) = live.count { case (_, j) => b.contains(poolPos(j)._1, poolPos(j)._2) }
    val base = (0 until BaseUnits).flatMap(u => poolPos.indices.map(j => (u, j)))
    live ++= base
    log.foreach {
      case (_, Appended(u)) => live ++= poolPos.indices.map(j => (u, j))
      case (_, Deleted(b)) =>
        live --= live.filter { case (_, j) => b.contains(poolPos(j)._1, poolPos(j)._2) }
      case (i, Read(b, n)) => if (inBox(b) != n) wrong += i
      case (i, Lookup(keys, got)) =>
        val want = keys.distinct.filter { k =>
          val Array(u, img) = k.drop(1).split("-img", 2)
          live((u.toInt, img.toInt))
        }.sorted
        if (want != got) wrong += i
    }
    store.expireSnapshots(1); store.vacuum(0L)
    val rows = store.read()._1.count()
    val problems =
      if (rows == live.size) Seq.empty
      else Seq(s"ingest: table holds $rows live rows, replay expects ${live.size}")
    finalRows = rows
    (wrong.toSet, problems)
  }

  def detail(w: Window): Map[String, Double] = Map(
    "ingest_rows_per_s" -> appended / w.wallS,
    "append_p50_ms" -> w.p("append", 0.5),
    "delete_p50_ms" -> w.p("delete", 0.5),
    "compact_p50_ms" -> w.p("compact", 0.5),
    "ingest_read_p50_ms" -> Stats.pct(
      w.kinds.indices.filter(i => w.kinds(i) == "read" || w.kinds(i) == "lookup").map(w.ms), 0.5),
    "store_bytes_per_row" -> Disk.bytesUnder(root).toDouble / math.max(1L, finalRows))

  def state(): Map[String, Double] = Disk.tableState(store, root)
}

object Ingest {
  val BaseUnits = 4
  val DeleteHalfSize = 4.0
  val ReadHalfSize = 10.0
  /** One cycle: two appends, a box delete, a range read and a key lookup,
    * then compaction, snapshot expiry and vacuum. */
  val Cycle: IndexedSeq[String] = IndexedSeq(
    "append", "read", "append", "delete", "lookup", "compact", "expire", "vacuum")

  sealed trait Event
  final case class Appended(u: Int) extends Event
  final case class Deleted(b: MBR) extends Event
  final case class Read(b: MBR, n: Long) extends Event
  final case class Lookup(keys: Seq[String], got: Seq[String]) extends Event
}
