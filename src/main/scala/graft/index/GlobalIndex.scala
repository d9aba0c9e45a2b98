package graft.index

import graft.geo.{CellId, GeoCols, MBR}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two-level distributed index (SURVEY.md §1.5): the *global* level is
  * this driver-side/broadcast structure — per-partition packed MBR
  * hierarchies ([[PartitionIndex]]) over a Z-order-clustered Dataset; the
  * *local* level is the clustering itself (parquet row-group min/max on a
  * stored table). Together they replace the reference's single-machine
  * IndexFile page tree.
  */
final case class GlobalIndex(resolution: Int, parts: Array[PartitionIndex]) {

  /** Live rows: per partition, its count less its deleted positions —
    * what a full [[knnSeedDescent]] credits, so k > totalRows exactly when
    * the seed radius is `Double.MaxValue`. */
  def totalRows: Long = parts.map(p => math.max(0L, p.count - p.deleted)).sum

  /** Partitions whose root MBR overlaps the box — the distributed subtree
    * prune (RStarTree.java:426). */
  def prunePartitions(box: MBR): Array[Int] =
    parts.filter(p => p.count > 0 && p.root.mbr.overlaps(box)).map(_.partitionId)

  /** The partitions with rows, and their roots packed under one more
    * level: the descent starts at one root at any partition count. */
  private lazy val live: Array[PartitionIndex] = parts.filter(_.count > 0)
  private lazy val top: PartitionIndex = LocalRTree.fromLeaves(-1, live.map(_.root))

  /** Branch-and-bound kNN seed: the smallest leaf max-distance within
    * which the leaves hold >= k LIVE points. Every point of a leaf lies
    * within its maxDist, and a file whose deletion vector marks d rows
    * holds at least (rows popped from it − d) live ones among them, so the
    * radius provably contains >= k live points — a driver-side walk of the
    * broadcastable summary, no Spark job. */
  def knnSeedRadius(qLat: Double, qLon: Double, k: Int): Double =
    knnSeedDescent(qLat, qLon, k)._1

  /** [[knnSeedRadius]] by best-first descent — the reference's
    * priority-queue NN search (RStarTree.java:450-481): a queue keys
    * internal nodes by minDist and leaves by maxDist, and the descent stops
    * once the popped leaves hold k live points: Σ over files of
    * max(0, rows popped from the file − rows deleted in it). A node's
    * minDist is at most every key below it, so leaves pop in ascending
    * maxDist order and the radius is the one sorting every leaf would
    * give. With no deletes each leaf counts in full. Also returns the
    * number of nodes popped. */
  private[graft] def knnSeedDescent(qLat: Double, qLon: Double, k: Int): (Double, Int) = {
    // a node: (key, tree, level, index); tree -1 is `top`, whose leaves
    // are the roots of `live`
    val queue = new java.util.PriorityQueue[(Double, Int, Int, Int)](
      (a: (Double, Int, Int, Int), b: (Double, Int, Int, Int)) => java.lang.Double.compare(a._1, b._1))
    def push(tree: Int, level: Int, i: Int): Unit = {
      val n = (if (tree < 0) top else live(tree)).levels(level)(i)
      if (n.count > 0) queue.add((
        if (tree >= 0 && level == 0) n.mbr.maxDistSq(qLat, qLon) else n.mbr.minDistSq(qLat, qLon),
        tree, level, i))
    }
    if (live.nonEmpty) push(-1, top.levels.length - 1, 0)
    val rowsPopped = new Array[Long](live.length)
    def liveIn(tree: Int): Long = math.max(0L, rowsPopped(tree) - live(tree).deleted)
    var acc = 0L
    var popped = 0
    while (!queue.isEmpty) {
      val (key, tree, level, i) = queue.poll()
      popped += 1
      if (tree >= 0 && level == 0) {
        // the deleted rows may all sit in the leaves popped first
        val before = liveIn(tree)
        rowsPopped(tree) += live(tree).leaves(i).count
        acc += liveIn(tree) - before
        // nextUp: sqrt rounds to NEAREST, so an unpadded radius can sit half
        // an ulp BELOW the true bound — a point exactly at the slab's
        // maxDistSq then falls outside the ball box (missed candidate) and
        // rad*rad undershoots its d2 (measured: dk 39.21061000000006 vs rad²
        // 39.21060992…). One ulp up guarantees rad ≥ √bound; the bound only
        // widens, never wrong.
        if (acc >= k) return (math.nextUp(math.sqrt(key)), popped)
      } else if (tree < 0 && level == 0) push(i, live(i).levels.length - 1, 0)
      else {
        val idx = if (tree < 0) top else live(tree)
        val lo = i * idx.fanout
        (lo until math.min(lo + idx.fanout, idx.levels(level - 1).length))
          .foreach(push(tree, level - 1, _))
      }
    }
    (Double.MaxValue, popped) // fewer than k live points: caller scans everything
  }
}

object GlobalIndex {

  /** Schema of [[knnStoredPruned]]'s driver-built frame: primitive
    * columns, not nullable — what `toDF` derives for the tuples, without
    * deriving an encoder per call. */
  private val KnnSchema = StructType(Seq("rank", "id").map(StructField(_, LongType, false)) ++
    Seq("lat", "lon", "d2").map(StructField(_, DoubleType, false)))

  /** Cluster the point DataFrame by Z-order cell (ONE shuffle — the same
    * single exchange the reference's bulkLoad sort is, RStarTree.java:177,
    * but 2-D-locality-preserving instead of lat-strips) and build the
    * per-partition index summaries in a single mapPartitions pass.
    * Returns (clustered-and-cached df, index). At 10^12 rows the clustered
    * df is the stored table ([[graft.table.SnapshotStore]] persists it and
    * the summaries ride in the snapshot manifest). */
  def build(points: DataFrame, r: Int = 10, numPartitions: Int = 0,
            fanout: Int = LocalRTree.DefaultFanout,
            curve: String = "z"): (DataFrame, GlobalIndex) = {
    val spark = points.sparkSession
    import spark.implicits._
    val parts = if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    // packing key: the store's curves ([[GeoCols.withCurveKey]]). The
    // index works identically under any of them — summaries are built
    // from the clustered rows, not the key.
    val clustered = GeoCols.withCurveKey(points, curve, r)
      .repartitionByRange(parts, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .cache()
    val summaries = clustered.select(col("lat"), col("lon"))
      .as[(Double, Double)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        Iterator.single(LocalRTree.pack(pid, it, fanout))
      }(org.apache.spark.sql.Encoders.kryo[PartitionIndex])
      .collect()
      .sortBy(_.partitionId)
    (clustered, GlobalIndex(r, summaries))
  }

  /** The global index of a stored table's current snapshot, from its
    * PERSISTED per-file summaries — zero Spark jobs, no re-clustering: the
    * leaf slabs were computed inside the write tasks and ride next to the
    * manifest (SURVEY §1.5's "summaries ride in the snapshot manifest", the
    * distributed analog of the reference persisting its tree pages in
    * IndexFile.java:37-95 instead of rebuilding per process). Built once
    * per snapshot: the store's [[graft.table.SnapshotView]] holds it
    * ([[fromFiles]]). */
  def fromStore(store: graft.table.SnapshotStore): GlobalIndex = store.view().index

  /** The index over a snapshot's data `files`, their persisted leaves
    * (read from the index files its root names, one per manifest shard,
    * keyed by normalized path) and their deleted-position counts (same
    * keys; a file without a vector has none). Each file becomes one
    * PartitionIndex whose leaves are its per-cell slabs at stats
    * resolution `res`; a file with no slabs (all-null coordinates) falls
    * back to its manifest MBR as a single leaf — a coarser bound, never a
    * wrong one. */
  private[graft] def fromFiles(res: Int, files: Seq[graft.table.FileEntry],
      leavesByFile: Map[String, Seq[(Long, Long, Double, Double, Double, Double)]],
      deletedByFile: Map[String, Long]): GlobalIndex = {
    val parts = files.sortBy(_.path).zipWithIndex.map { case (e, i) =>
      val path = graft.table.SnapshotStore.normalizePath(e.path)
      val leaves = leavesByFile.get(path) match {
        case Some(ls) if ls.nonEmpty =>
          ls.sortBy(_._1).map { case (_, n, la0, la1, lo0, lo1) =>
            IndexNode(0, la0, lo0, la1, lo1, n)
          }.toArray
        case _ =>
          Array(IndexNode(0, e.minLat, e.minLon, e.maxLat, e.maxLon, e.rows))
      }
      LocalRTree.fromLeaves(i, leaves).copy(deleted = deletedByFile.getOrElse(path, 0L))
    }.toArray
    GlobalIndex(res, parts)
  }

  /** Exact kNN over a STORED table, planned from the persisted index
    * summaries: one driver-side radius bound ([[GlobalIndex.knnSeedRadius]]
    * over [[fromStore]]'s zero-scan index) → a manifest-pruned box read
    * (files wholly outside the radius never open — the file-level subtree
    * prune, RStarTree.java:426) → exact top-k. The index build cost is
    * amortized to WRITE time; the query pays only the pruned scan.
    *
    * Exact: the index credits each file only with the rows its deletion
    * vector leaves live, so the ball holds >= k live rows and the box
    * around it holds the k nearest. */
  def knnStored(store: graft.table.SnapshotStore,
                qLat: Double, qLon: Double, k: Int): DataFrame =
    knnStoredPruned(store, qLat, qLon, k)._1

  /** [[knnStored]] + the (files read, total files) of its one read, so
    * specs can assert file skipping on the query path. */
  private[graft] def knnStoredPruned(store: graft.table.SnapshotStore,
                                     qLat: Double, qLon: Double,
                                     k: Int): (DataFrame, Int, Int) = {
    // the index and the read come from ONE snapshot
    val v = store.view()
    val radius = v.index.knnSeedRadius(qLat, qLon, k)
    val (cand, kept, total) =
      if (radius == Double.MaxValue) store.readAt(v.snapshotId)
      else store.readAt(v.snapshotId, Some(MBR(qLat - radius, qLon - radius,
        qLat + radius, qLon + radius)))
    // ONE scan of the read files: collect the k rows (k is small by
    // contract) into a local relation
    val topk = cand.withColumn("d2", GeoCols.d2(col("lat"), col("lon"), qLat, qLon))
      .orderBy(col("d2"), col("id")).limit(k)
      .select(col("id"), col("lat"), col("lon"), col("d2"))
      .collect()
    (graft.ops.OpUtil.localFrame(cand.sparkSession, KnnSchema, topk.zipWithIndex.toSeq.map { case (r, i) =>
      Row((i + 1).toLong, r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)) }),
      kept, total)
  }

  /** Exact kNN JOIN over a STORED table, planned from the persisted index
    * summaries ([[knnStored]] generalized to a query SET): one driver-side
    * radius bound PER QUERY from the zero-scan [[fromStore]] index → ONE
    * multi-box manifest-pruned read over the union of the query balls
    * ([[graft.table.SnapshotStore.readBoxes]] — files disjoint from every
    * ball never open) → one [[graft.ops.SpatialOps.knnTopK]] aggregate, in
    * which a point is offered only to the queries whose ball box holds it.
    * Same output as [[graft.ops.SpatialOps.knnJoinAgg]] (q_id, rank, id);
    * each task holds |Q|·k slots, as there.
    *
    * Exact: each query's candidates are its radius box, and the seed
    * radius provably bounds the kth LIVE distance ([[knnSeedRadius]]). Rows
    * with a null lat, lon or id are no one's neighbour; k < 1 is refused. */
  def knnJoinStored(store: graft.table.SnapshotStore,
                    queries: Seq[(Int, Double, Double)], k: Int): DataFrame =
    knnJoinStoredPruned(store, queries, k)._1

  /** [[knnJoinStored]] + the (files read, total files) of its one read so
    * specs can assert file skipping on the join path. */
  private[graft] def knnJoinStoredPruned(store: graft.table.SnapshotStore,
                                         queries: Seq[(Int, Double, Double)],
                                         k: Int): (DataFrame, Int, Int) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(queries.nonEmpty, "knnJoinStored needs at least one query")
    // the index and the read come from ONE snapshot
    val v = store.view()
    val rads = queries.map { case (_, qla, qlo) => v.index.knnSeedRadius(qla, qlo, k) }
    val balls = queries.zip(rads).map { case ((_, qla, qlo), rad) =>
      MBR(qla - rad, qlo - rad, qla + rad, qlo + rad)
    }
    // fewer than k live rows in the summaries: no ball bounds anything, and
    // each query's unbounded box takes every row of the full read
    val (cand, kept, total) =
      if (rads.contains(Double.MaxValue)) store.readAt(v.snapshotId)
      else store.readBoxesAt(v.snapshotId, balls)
    val r = graft.ops.SpatialOps.resolveRes(store, balls)
    (graft.ops.SpatialOps.knnTopK(cand, queries, k, Some((balls, r)))
      .select(col("q_id"), col("rank"), col("id")), kept, total)
  }

  /** Index-seeded exact kNN: one driver-side bound from the summary, ONE
    * Spark job over the pruned cell ring (vs. the iterative probe loop of
    * SpatialOps.knnRing). Exact: the seed radius provably contains >= k
    * points and every cell within it is probed. */
  def knnIndexed(clustered: DataFrame, gi: GlobalIndex,
                 qLat: Double, qLon: Double, k: Int,
                 r: Int = graft.data.Fixtures.JoinRes): DataFrame = {
    val radius = gi.knnSeedRadius(qLat, qLon, k)
    val d2 = GeoCols.d2(col("lat"), col("lon"), qLat, qLon)
    val cand =
      if (radius == Double.MaxValue) clustered
      else {
        val minStep = math.min(CellId.latStep(r), CellId.lonStep(r))
        val w = math.ceil(radius / minStep).toLong + 1
        val qy = CellId.cellY(qLat, r); val qx = CellId.cellX(qLon, r)
        val hi = CellId.n(r) - 1
        // seed box as a rectangle predicate (4 comparisons) — never an
        // O(w²) IN list, planner-cheap at any radius/resolution; on a
        // stored table the same box prunes files via manifest Z ranges
        clustered.filter(GeoCols.cellBoxPredicate(col("lat"), col("lon"), r,
          math.max(0L, qy - w), math.min(hi, qy + w),
          math.max(0L, qx - w), math.min(hi, qx + w)))
      }
    cand.withColumn("d2", d2)
      .orderBy(col("d2"), col("id"))
      .limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(col("d2"), col("id"))).cast("long"))
      .select(col("rank"), col("id"), col("lat"), col("lon"), col("d2"))
  }
}
