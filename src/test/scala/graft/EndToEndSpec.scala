package graft

import graft.data.{Fixtures, Synth}
import graft.geo.MBR
import graft.index.GlobalIndex
import graft.ops.SpatialOps
import graft.table.SnapshotStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The whole engine composed, image bytes end to end:
  * generate → snapshot-commit (Z-clustered) → incremental append →
  * global index build → pruned range/kNN/tile queries → payload
  * invariants on the query results. The shape a 100 TB deployment runs,
  * at deterministic small scale. */
class EndToEndSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("ingest -> snapshot -> append -> index -> query -> invariants") {
    val root = tempDir("graft_e2e").toString
    val store = new SnapshotStore(spark, root)

    // two ingest units (e.g., two upstream drops), resumable lineage
    val processed = store.resumableRun(Seq("drop-0", "drop-1")) { u =>
      val off = u.drop(5).toLong * 300
      Synth.imagePoints(Synth.table(spark, 300, seed = 21L + off).toDF())
    }
    assert(processed == Seq("drop-0", "drop-1"))

    // read back from the snapshot; build the global index over it
    val (table, _, totalFiles) = store.read()
    val pts = table.withColumn("id", xxhash64(col("image_id")))
    val (clustered, gi) = GlobalIndex.build(
      pts.select(col("id"), col("lat"), col("lon")), r = 8, numPartitions = 8)
    assert(gi.totalRows == 600)

    // plan-time adaptive resolution from manifest stats (no data scan):
    // the stored-table overload reads the exact manifest row count
    assert(store.totalRows == 600)
    val rAuto = SpatialOps.resolveRes(store, Seq(MBR(-30.0, -90.0, 30.0, 90.0)))
    assert(rAuto == SpatialOps.pickRes(600L, Seq(MBR(-30.0, -90.0, 30.0, 90.0))))
    val boxQ = SpatialOps.rangeBox(pts, MBR(-30.0, -90.0, 30.0, 90.0), rAuto)
      .select("id").collect().map(_.getLong(0)).toSet

    // pruned box query through the manifest + exact predicate
    val box = MBR(-30.0, -90.0, 30.0, 90.0)
    val (prunedDf, kept, total) = store.read(Some(box))
    assert(total == totalFiles)
    val got = prunedDf.filter(col("lat").between(box.minLat, box.maxLat) &&
        col("lon").between(box.minLon, box.maxLon))
      .select("image_id").collect().map(_.getString(0)).toSet
    val expAll = table.collect().map(r =>
      (r.getAs[String]("image_id"), r.getAs[Double]("lat"), r.getAs[Double]("lon")))
    val exp = expAll.filter { case (_, la, lo) => box.contains(la, lo) }.map(_._1).toSet
    assert(got == exp && got.nonEmpty)
    // the adaptive-resolution box query must agree with the id set
    val expIds = pts.select("id", "lat", "lon").collect()
      .filter(r => box.contains(r.getDouble(1), r.getDouble(2)))
      .map(_.getLong(0)).toSet
    assert(boxQ == expIds)

    // index-seeded exact kNN over the clustered table
    val knn = GlobalIndex.knnIndexed(clustered, gi, 0.0, 0.0, 10)
      .collect().map(_.getLong(1)).toSeq
    val idOf = pts.select("id", "lat", "lon").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val expKnn = idOf.map { case (id, la, lo) => (id, la * la + lo * lo) }
      .sortBy { case (id, d2) => (d2, id) }.take(10).map(_._1).toSeq
    assert(knn == expKnn)

    // tile assignment over the stored table is total and deterministic
    val tiles = SpatialOps.tileHistogram(pts, Fixtures.TileRes)
      .agg(sum("cnt")).collect()(0).getLong(0)
    assert(tiles == 600)

    // payload invariant AFTER the full snapshot+cluster+query chain
    val sample = table.limit(20).collect()
    for (r <- sample) {
      val dec = graft.img.Codec.decode(r.getAs[Array[Byte]]("bytes"))
      assert(graft.img.Codec.pHash64(dec) == r.getAs[Long]("phash"))
    }

    // resuming with the same units is a no-op; the table is unchanged
    val again = new SnapshotStore(spark, root)
      .resumableRun(Seq("drop-0", "drop-1"))(_ => fail("must not reprocess"))
    assert(again.isEmpty)
  }
}
