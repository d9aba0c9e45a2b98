package graft.index

import graft.geo.MBR

/** One MBR-hierarchy node summary. `level` 0 = leaf slab. */
final case class IndexNode(level: Int, minLat: Double, minLon: Double,
                           maxLat: Double, maxLon: Double, count: Long) {
  def mbr: MBR = MBR(minLat, minLon, maxLat, maxLon)
}

/** Per-partition packed R-tree summary: all levels, leaves first. Children
  * of node j at level l+1 are nodes [j·fanout, (j+1)·fanout) at level l —
  * the implicit-tree encoding a bottom-up pack guarantees. Serializable
  * and small (≈ count/fanout nodes), built once per partition and
  * broadcast via [[GlobalIndex]]. Counts are rows as written; `deleted`
  * is how many of them a stored file's deletion vector marks (0 for a
  * built index).
  */
final case class PartitionIndex(partitionId: Int, fanout: Int,
                                levels: Array[Array[IndexNode]], deleted: Long = 0L) {
  def root: IndexNode = levels.last.head
  def leaves: Array[IndexNode] = levels.head
  def count: Long = if (levels.isEmpty) 0L else root.count
}

/** Bulk pack — the distributed replacement for the reference's
  * one-node-per-page build (RStarTree.java:175-224 / IndexFile.java:37-95).
  * Input rows arrive Z-order-sorted within the partition (the engine
  * clusters with repartitionByRange(zCol) + sortWithinPartitions), so
  * slab-packing in arrival order yields low-margin nodes — the same
  * objective the reference's R* split chases (RStarTree.java:358-411),
  * achieved declaratively at layout time instead of per-insert.
  */
object LocalRTree {

  val DefaultFanout = 50 // mirror reference M (RStarTree.java:8)

  def pack(partitionId: Int, points: Iterator[(Double, Double)],
           fanout: Int = DefaultFanout): PartitionIndex = {
    // leaves: degenerate point MBRs folded into slabs of `fanout`
    val leaves = scala.collection.mutable.ArrayBuffer.empty[IndexNode]
    var curMin = MBR.empty
    var n = 0L
    while (points.hasNext) {
      val (la, lo) = points.next()
      curMin = curMin.extend(la, lo)
      n += 1
      if (n == fanout) {
        leaves += IndexNode(0, curMin.minLat, curMin.minLon, curMin.maxLat, curMin.maxLon, n)
        curMin = MBR.empty; n = 0
      }
    }
    if (n > 0)
      leaves += IndexNode(0, curMin.minLat, curMin.minLon, curMin.maxLat, curMin.maxLon, n)

    fromLeaves(partitionId, leaves.toArray, fanout)
  }

  /** Pack upper levels over an existing leaf array — shared by the
    * row-iterator pack above and the PERSISTED-summary path
    * ([[GlobalIndex.fromStore]]), whose leaves come from a stored table's
    * write-time index file instead of a live partition scan. Leaves
    * must arrive in spatial order (Z/arrival) for tight parent MBRs;
    * correctness does not depend on it. */
  def fromLeaves(partitionId: Int, leaves: Array[IndexNode],
                 fanout: Int = DefaultFanout): PartitionIndex = {
    if (leaves.isEmpty)
      return PartitionIndex(partitionId, fanout, Array(Array(
        IndexNode(0, 0, 0, 0, 0, 0L))))

    val levels = scala.collection.mutable.ArrayBuffer(leaves)
    while (levels.last.length > 1) {
      val cur = levels.last
      val up = cur.grouped(fanout).map { grp =>
        val m = grp.map(_.mbr).reduce(_ union _)
        IndexNode(levels.length, m.minLat, m.minLon, m.maxLat, m.maxLon,
          grp.map(_.count).sum)
      }.toArray
      levels += up
    }
    PartitionIndex(partitionId, fanout, levels.toArray)
  }

  /** Count of points possibly inside `box` — DFS with MBR pruning, the
    * per-partition analog of RStarTree.java:418-444's descent. */
  def candidateCount(idx: PartitionIndex, box: MBR): Long = {
    def walk(level: Int, node: Int): Long = {
      val nd = idx.levels(level)(node)
      if (!nd.mbr.overlaps(box)) 0L
      else if (nd.mbr.minLat >= box.minLat && nd.mbr.maxLat <= box.maxLat &&
               nd.mbr.minLon >= box.minLon && nd.mbr.maxLon <= box.maxLon) nd.count
      else if (level == 0) nd.count // leaf: can't refine without rows
      else {
        val lo = node * idx.fanout
        val hi = math.min(lo + idx.fanout, idx.levels(level - 1).length)
        var s = 0L; var i = lo
        while (i < hi) { s += walk(level - 1, i); i += 1 }
        s
      }
    }
    if (idx.count == 0) 0L else walk(idx.levels.length - 1, 0)
  }
}
