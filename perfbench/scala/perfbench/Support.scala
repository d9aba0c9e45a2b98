package perfbench

import graft.table.SnapshotStore

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Filesystem and brute-force helpers shared by the workloads. */
object Disk {

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
    }
  }

  /** Bytes of every regular file under `dir`. */
  def bytesUnder(dir: String): Long = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally walk.close()
  }

  /** Live data files, their bytes, and retained snapshots of a store. */
  def tableState(store: SnapshotStore, root: String): Map[String, Double] = {
    val data = store.manifest().filter(e => e.kind == "data" && e.path.nonEmpty)
    val bytes = data.map(e => Files.size(Paths.get(SnapshotStore.normalizePath(e.path)))).sum
    val meta = Files.list(Paths.get(root, "meta"))
    val snaps = try meta.iterator().asScala.count(_.getFileName.toString.startsWith("snap-"))
      finally meta.close()
    Map("table.files_live" -> data.size.toDouble, "table.bytes_live" -> bytes.toDouble,
      "table.snapshots" -> snaps.toDouble)
  }

  /** Exact k nearest points to (qa, qo) by (d2, id), as (id, d2) pairs in
    * rank order — the same squared planar distance, in the same operand
    * order, as the engine's kNN. */
  def topK(ids: Array[Long], lat: Array[Double], lon: Array[Double],
           qa: Double, qo: Double, k: Int): Seq[(Long, Double)] = {
    val worstFirst = Ordering.by[(Double, Long), (Double, Long)](identity)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstFirst)
    var j = 0
    while (j < ids.length) {
      val d2 = (lat(j) - qa) * (lat(j) - qa) + (lon(j) - qo) * (lon(j) - qo)
      if (heap.size < k) heap.enqueue((d2, ids(j)))
      else if (worstFirst.lt((d2, ids(j)), heap.head)) {
        heap.dequeue(); heap.enqueue((d2, ids(j)))
      }
      j += 1
    }
    heap.dequeueAll[(Double, Long)].reverse.map(x => (x._2, x._1))
  }
}

/** Seeded generators: every input and every operation's parameters are
  * pure functions of the run's seed. */
object Gen {
  /** The RNG of stream position `i` under `seed`; the splitmix64 finalizer
    * decorrelates neighbouring positions (`java.util.Random` seeded with
    * consecutive values draws near-identical first values). */
  def rng(seed: Long, i: Long): scala.util.Random = {
    var z = seed * 0x9E3779B97F4A7C15L + i
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new scala.util.Random(z ^ (z >>> 31))
  }

  def uniform(r: scala.util.Random, lo: Double, hi: Double): Double =
    lo + r.nextDouble() * (hi - lo)

  /** A box of half-size `h` degrees, wholly inside the globe. */
  def box(r: scala.util.Random, h: Double): graft.geo.MBR = {
    val lat = uniform(r, -90 + h, 90 - h); val lon = uniform(r, -180 + h, 180 - h)
    graft.geo.MBR(lat - h, lon - h, lat + h, lon + h)
  }
}
