package graft

import graft.data.{Fixtures, Points}
import graft.geo.MBR
import graft.index.GlobalIndex
import graft.table.{MetaJson, SnapshotStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The store's cached snapshot view: metadata is read once per snapshot,
  * every read still sees the current snapshot, and scans plan without
  * listing or Spark jobs. Metadata reads are counted at the store's one
  * `readMeta` seam, which every open under meta/ goes through (`current`,
  * `table.json`, roots, shards, stats and deletion-vector files). */
class SnapshotViewSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val pts: DataFrame = Points(spark, "/root/testdata/sf0.001").cache()

  def tmp(): String = tempDir("graft_view").toString

  /** The meta/ file names `body` opens through `st`. */
  def opened(st: SnapshotStore)(body: => Any): Seq[String] = {
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    st.onMetaRead = n => names += n
    try body finally st.onMetaRead = _ => ()
    names.toSeq
  }

  def jobsOf(group: String)(body: => Unit): Int = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  def ids(df: DataFrame): Seq[Long] = df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  /** A serve-shaped store: Bloom key, three units over several shards, two deletes. */
  def serveShaped(root: String): SnapshotStore = {
    val st = new SnapshotStore(spark, root, bloomKey = Some("id"), manifestShardRows = 3)
    (0 until 3).foreach(u =>
      st.append(pts.filter(col("id") % 3 === u), s"u-$u", numPartitions = 4))
    st.deleteWhere(graft.geo.GeoCols.inBox(col("lat"), col("lon"), MBR(10, 30, 25, 60)), "del-box")
    st.deleteWhere(col("id") % 11 === 0, "del-ids")
    st
  }

  test("a second read of an unchanged snapshot opens nothing but current") {
    val root = tmp()
    val st = serveShaped(root)
    val box = MBR(-30, -60, 30, 60)
    val (qLat, qLon) = Fixtures.knnPoint
    val probe = ids(st.read()._1).head
    def ops(s: SnapshotStore): Seq[(String, () => Any)] = Seq(
      "read" -> (() => s.read(Some(box))),
      "readBoxes" -> (() => s.readBoxes(Seq(box, MBR(40, 100, 60, 140)))),
      "lookupByKey" -> (() => s.lookupByKey(Seq(probe, -1L))),
      "knnStored" -> (() => GlobalIndex.knnStored(s, qLat, qLon, 10).collect()),
      "hotCells" -> (() => s.hotCells(4)),
      "totalRows" -> (() => s.totalRows))
    for ((name, op) <- ops(st)) {
      op()
      assert(opened(st)(op()) == Seq("current"), s"second $name")
    }
    // a new instance on the same root reads the metadata on its first call
    val fresh = new SnapshotStore(spark, root, bloomKey = Some("id"), manifestShardRows = 3)
    val (_, first) = ops(fresh).head
    val names = opened(fresh)(first())
    assert(names.contains(s"snap-${st.currentSnapshotId}") && names.exists(_.contains("-shard-")),
      s"the first read opened $names")
    assert(fresh.totalRows == st.totalRows && ids(fresh.read()._1) == ids(st.read()._1))
  }

  test("a commit by a second store instance is seen by the next read") {
    val root = tmp()
    val st = new SnapshotStore(spark, root, bloomKey = Some("id"))
    st.append(pts.filter(col("id") % 2 === 0), "u-even", numPartitions = 2)
    val before = ids(st.read()._1)
    val (qLat, qLon) = Fixtures.knnPoint
    GlobalIndex.knnStored(st, qLat, qLon, 5).collect()
    val other = new SnapshotStore(spark, root, bloomKey = Some("id"))
    other.append(pts.filter(col("id") % 2 === 1), "u-odd", numPartitions = 2)
    val all = ids(pts)
    assert(before.size < all.size)
    assert(ids(st.read()._1) == all)
    assert(st.totalRows == all.size && GlobalIndex.fromStore(st).totalRows == all.size)
    val odd = all.find(_ % 2 == 1).get
    assert(ids(st.lookupByKey(Seq(odd))._1) == Seq(odd))
    val knn = GlobalIndex.knnStored(st, qLat, qLon, 5).select("id").collect().map(_.getLong(0))
    val exp = graft.ops.SpatialOps.knnSerial(pts, qLat, qLon, 5).select("id").collect().map(_.getLong(0))
    assert(knn.toSeq == exp.toSeq)
    // and a delete by the other instance
    other.deleteWhere(col("id") === odd, "del-odd")
    assert(ids(st.read()._1) == all.filterNot(_ == odd))
  }

  test("readAt(older) returns that snapshot's rows and leaves the cached view in place") {
    val st = serveShaped(tmp())
    val cur = st.currentSnapshotId
    val now = ids(st.read()._1)
    val first = opened(st)(assert(ids(st.readAt(1)._1) == ids(pts.filter(col("id") % 3 === 0))))
    assert(first.contains("snap-1"), s"readAt(1) opened $first")
    assert(ids(st.readAt(cur - 1)._1).size > now.size, "the older snapshot lacks the last delete")
    assert(opened(st)(assert(ids(st.read()._1) == now)) == Seq("current"))
  }

  test("a delete opens each shard once") {
    val root = tmp()
    val st = new SnapshotStore(spark, root, manifestShardRows = 3)
    (0 until 3).foreach(u =>
      st.append(pts.filter(col("id") % 3 === u), s"u-$u", numPartitions = 4))
    st.deleteWhere(col("id") % 5 === 0, "del-0")
    // after a commit the view is fresh: nothing of the snapshot is parsed yet
    st.append(pts.filter(col("id") % 7 === 0).withColumn("id", col("id") + 1000000L), "u-3",
      numPartitions = 2)
    val meta = Paths.get(root, "meta")
    val shards = MetaJson.parseManifestRoot(
      Files.readString(meta.resolve(s"snap-${st.currentSnapshotId}"))).shards
    assert(shards.size > 3 && shards.exists(_.dv.nonEmpty))
    val names = opened(st)(st.deleteWhere(col("id") % 5 === 1, "del-1"))
    assert(names.filter(n => shards.exists(_.path == n)).sorted == shards.map(_.path).sorted,
      s"shard opens: $names")
    val dvs = shards.flatMap(_.dv)
    assert(names.filter(dvs.contains).sorted == dvs.sorted, s"deletion-vector opens: $names")
    val base = ids(pts).filter(i => i % 3 >= 0)
    val exp = (base.filter(_ % 5 != 0) ++ base.filter(_ % 7 == 0).map(_ + 1000000L))
      .filter(_ % 5 != 1).sorted
    assert(ids(st.read()._1) == exp)
  }

  test("a read keeping more than 32 files plans with zero Spark jobs") {
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    st.append(pts, "u-0", numPartitions = 40)
    var kept = 0
    val jobs = jobsOf("view-40") {
      val fresh = new SnapshotStore(spark, root)
      kept = fresh.read()._2
      fresh.read(Some(MBR(-90, -180, 90, 180)))
      fresh.readBoxes(Seq(MBR(-90, -180, 0, 0), MBR(0, 0, 90, 180)))
    }
    assert(kept > 32, s"only $kept files")
    assert(jobs == 0, s"planning ran $jobs Spark jobs")
    assert(ids(st.read()._1) == ids(pts))
  }

  test("a store scan is the relation spark.read resolves: same files, plan and _metadata") {
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    st.append(pts, "u-0", numPartitions = 3)
    val paths = st.manifest().map(_.path)
    val (_, _, _, pinned) = MetaJson.parseTableMeta(
      Files.readString(Paths.get(root, "meta", "table.json")))
    def relation(df: DataFrame): HadoopFsRelation = df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation] }.get
    def files(r: HadoopFsRelation) = r.location.asInstanceOf[InMemoryFileIndex].allFiles().toSeq
      .map(f => (f.getPath, f.getLen, f.getModificationTime, f match {
        case l: org.apache.hadoop.fs.LocatedFileStatus =>
          l.getBlockLocations.toSeq.map(b => (b.getHosts.toSeq, b.getOffset, b.getLength))
        case _ => Seq.empty }))
    def plan(df: DataFrame) = df.queryExecution.executedPlan.toString.replaceAll("#\\d+L?", "#")
    val ours = st.read()._1
    val theirs = spark.read.schema(pinned).parquet(paths: _*).drop("__z")
    val (a, b) = (relation(ours), relation(theirs))
    assert(a.location.getClass == b.location.getClass)
    assert(a.location.rootPaths == b.location.rootPaths)
    assert(a.partitionSchema == b.partitionSchema && a.dataSchema == b.dataSchema)
    assert(a.fileFormat.getClass == b.fileFormat.getClass && a.bucketSpec == b.bucketSpec)
    assert(files(a) == files(b))
    assert(plan(ours) == plan(theirs))
    def meta(df: DataFrame) = df.select(col("id"), col("_metadata.file_path"),
      col("_metadata.row_index")).collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(meta(ours) == meta(theirs))
  }
}
