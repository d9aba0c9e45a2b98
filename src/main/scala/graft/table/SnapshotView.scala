package graft.table

import graft.index.GlobalIndex
import org.apache.hadoop.fs.{BlockLocation, FileStatus, LocatedFileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import java.util.concurrent.ConcurrentHashMap

/** What a reader derives from one committed snapshot of a store, keyed by
  * (store root, snapshot id). The root `snap-N` and every file it names
  * are written once, under commit-unique names, and never change, so a
  * view never goes stale: a newer snapshot gets a new view.
  *
  * Each part is read from disk on its first use and kept:
  *  - the parsed root, and the table's pinned schema;
  *  - per shard: its data entries, deletion vectors and Bloom bitsets
  *    (only the shards a read plans with are parsed);
  *  - the per-file index leaves, and the [[GlobalIndex]] over them;
  *  - the statuses of the data files a scan has opened.
  *
  * A part whose file is missing fails its read, naming the file, and is
  * retried on the next use. [[SnapshotStore]] keeps the view of the last
  * snapshot it read or committed; its memory is that snapshot's metadata. */
final class SnapshotView private[table] (store: SnapshotStore, val snapshotId: Long) {

  /** The parsed root: its shard rows and folded lineage ids. */
  lazy val root: ManifestRoot =
    if (snapshotId == 0) ManifestRoot(Seq.empty, Seq.empty) else store.readRoot(snapshotId)

  /** The pinned data schema (`__z` included). */
  lazy val schema: StructType = store.pinnedSchema()

  private val entriesOf = new ConcurrentHashMap[String, Seq[FileEntry]]
  private val vectorsOf = new ConcurrentHashMap[String, Map[String, Array[Long]]]
  private val bloomOf = new ConcurrentHashMap[String, Option[(String, Int, Seq[(String, Array[Long])])]]
  private val statusOf = new ConcurrentHashMap[String, FileStatus]

  /** The data entries of shard `sm`. */
  def entries(sm: ShardMeta): Seq[FileEntry] =
    entriesOf.computeIfAbsent(sm.path, p => MetaJson.parseManifest(store.readMeta(p)))

  /** Every data entry of the snapshot. */
  def manifest: Seq[FileEntry] = root.shards.flatMap(entries)

  /** The deletion vectors of shard `sm`'s files, by normalized path. */
  def vectors(sm: ShardMeta): Map[String, Array[Long]] =
    vectorsOf.computeIfAbsent(sm.path, _ =>
      sm.dv.fold(Map.empty[String, Array[Long]])(n => MetaJson.parseDv(store.readMeta(n)).toMap))

  /** Shard `sm`'s Bloom file: (key column, probe count, bitset per file). */
  def bloom(sm: ShardMeta): Option[(String, Int, Seq[(String, Array[Long])])] =
    bloomOf.computeIfAbsent(sm.path, _ => sm.bloom.map(b => MetaJson.parseBloom(store.readMeta(b))))

  /** Per-file index leaves (cell, cnt, minLat, maxLat, minLon, maxLon),
    * keyed by normalized file path, from every shard's index file. */
  lazy val indexLeaves: Map[String, Seq[(Long, Long, Double, Double, Double, Double)]] =
    root.shards.flatMap(sm => MetaJson.parseIndex(store.readMeta(sm.index))._2).toMap

  /** The global index over the persisted leaves, each file credited with
    * the popcount of its deletion vector ([[GlobalIndex.fromFiles]]). */
  lazy val index: GlobalIndex = GlobalIndex.fromFiles(store.statsRes, manifest, indexLeaves,
    root.shards.flatMap(sm => vectors(sm).map { case (p, bits) =>
      p -> bits.map(java.lang.Long.bitCount(_).toLong).sum }).toMap)

  /** Rows written minus the positions the deletion vectors mark. */
  lazy val totalRows: Long =
    root.shards.map(sm => entries(sm).map(_.rows).sum - sm.deleted).sum

  private lazy val hadoopConf = store.spark.sessionState.newHadoopConf()

  /** A data file's status with its block locations: what Spark's own
    * listing returns for a file path (HadoopFSUtils), read once per view. */
  private def status(path: Path): FileStatus =
    statusOf.computeIfAbsent(path.toString, _ => {
      val fs = path.getFileSystem(hadoopConf)
      val f = fs.getFileStatus(path)
      val locations = fs.getFileBlockLocations(f, 0, f.getLen).map(l =>
        if (l.getClass == classOf[BlockLocation]) l
        else new BlockLocation(l.getNames, l.getHosts, l.getOffset, l.getLength))
      new LocatedFileStatus(f.getLen, f.isDirectory, f.getReplication, f.getBlockSize,
        f.getModificationTime, 0, null, null, null, null, f.getPath, locations)
    })

  /** The file index's listing: each root path is one data file of this
    * snapshot, answered from [[status]], so building the index lists,
    * globs and stats nothing and never runs a Spark job. */
  private object listing extends FileStatusCache {
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] = Some(Array(status(path)))
    def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
    def invalidateAll(): Unit = ()
  }

  /** The one way the store reads its files: `paths` (files of this
    * snapshot) under the pinned schema, as the relation
    * `spark.read.schema(schema).parquet(paths)` resolves to — an
    * `InMemoryFileIndex` under a parquet `HadoopFsRelation`, so the plan
    * and its `_metadata` columns are the same — built over [[listing]]
    * with no data-source lookup. No path gives zero rows of the schema. */
  def scan(paths: Seq[String]): DataFrame = {
    val spark = store.spark
    if (paths.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else {
      val files = new InMemoryFileIndex(spark, paths.map(new Path(_)), Map.empty, Some(schema), listing)
      spark.baseRelationToDataFrame(HadoopFsRelation(files, files.partitionSchema,
        GraftColumnBridge.asNullable(schema), None, new ParquetFileFormat, Map.empty)(spark))
    }
  }
}
