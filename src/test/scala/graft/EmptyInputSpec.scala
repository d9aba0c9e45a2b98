package graft

import graft.data.Fixtures
import graft.ops.{AnnOps, Dedup, SpatialOps, TextOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input hardening: every operator must return an empty (or
  * k-truncated) result on empty/undersized inputs, never crash — the
  * empty partition / empty table cases a 1000-executor job hits daily. */
class EmptyInputSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  lazy val noPts = Seq.empty[(Long, Double, Double)].toDF("id", "lat", "lon")
  lazy val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  lazy val noEmb = Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")

  test("spatial operators on an empty point table") {
    assert(SpatialOps.rangeBox(noPts, Fixtures.boxes.head._2).count() == 0)
    assert(SpatialOps.knnSerial(noPts, 0.0, 0.0, 5).count() == 0)
    assert(SpatialOps.knnRing(noPts, 0.0, 0.0, 5).count() == 0)
    assert(SpatialOps.skyline(noPts).count() == 0)
    assert(SpatialOps.tileHistogram(noPts).count() == 0)
    assert(SpatialOps.tilePyramid(noPts, 3).count() == 0)
    assert(SpatialOps.boxJoin(noPts, Fixtures.boxes).count() == 0)
    assert(SpatialOps.boxJoinSalted(noPts, Fixtures.boxes).count() == 0)
    assert(SpatialOps.pipJoin(noPts, Fixtures.polys).count() == 0)
    assert(SpatialOps.distanceJoin(noPts, 1.0, 2).count() == 0)
    assert(SpatialOps.knnJoinAgg(noPts, Fixtures.knnQueries.take(2), 3).count() == 0)
    assert(SpatialOps.knnJoinPruned(noPts, Fixtures.knnQueries.take(2), 3).count() == 0)
  }

  test("empty / undersized snapshot store: index and stored-kNN degenerate sanely") {
    import graft.index.GlobalIndex
    val root = tempDir("graft_empty_store").toString
    val st = new graft.table.SnapshotStore(spark, root)
    // nothing committed: the persisted index is empty, reads fail loudly
    assert(GlobalIndex.fromStore(st).totalRows == 0)
    intercept[IllegalArgumentException](
      GlobalIndex.knnStored(st, 0.0, 0.0, 5).count())
    // fewer rows than k: seed radius can't bound k points → full-scan
    // fallback returns every row, exactly ranked
    st.append(Seq((1L, 1.0, 1.0), (2L, 2.0, 2.0), (3L, 3.0, 3.0))
      .toDF("id", "lat", "lon"), "tiny", numPartitions = 1)
    val got = GlobalIndex.knnStored(st, 0.0, 0.0, 10)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(got == Seq(1L, 2L, 3L))
    // compacted down to zero rows (the snapshot holds only folded lineage
    // ids): reads answer 0 rows of the table schema until the next append
    st.deleteWhere(lit(true), "del-all")
    st.compact(numPartitions = 1)
    val (none, _, _) = st.read()
    assert(none.columns.toSeq == Seq("id", "lat", "lon") && none.count() == 0)
    assert(GlobalIndex.knnStored(st, 0.0, 0.0, 5).count() == 0)
    assert(st.lookupByKey(Seq(1L), "id")._1.count() == 0)
  }

  test("kNN with k larger than the table returns all rows, exactly ranked") {
    val three = Seq((1L, 1.0, 1.0), (2L, 2.0, 2.0), (3L, 3.0, 3.0)).toDF("id", "lat", "lon")
    assert(SpatialOps.knnSerial(three, 0.0, 0.0, 10).count() == 3)
    val ring = SpatialOps.knnRing(three, 0.0, 0.0, 10)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(ring == Seq(1L, 2L, 3L))
  }

  test("dedup/text operators on an empty documents table") {
    assert(Dedup.exact(noDocs).count() == 0)
    assert(Dedup.ngramJaccard(noDocs, 5, 0.2).count() == 0)
    assert(Dedup.minhashLsh(noDocs).count() == 0)
    assert(Dedup.simhashPairs(noDocs).count() == 0)
    assert(TextOps.tokenCount(noDocs).count() == 0)
    assert(TextOps.quality(noDocs).count() == 0)
    assert(TextOps.fingerprint(noDocs).count() == 0)
    assert(TextOps.fingerprintPairs(noDocs).count() == 0)
  }

  test("ANN operators on an empty embeddings table") {
    assert(AnnOps.cosineTopK(noEmb, Seq(0), 5).count() == 0)
    assert(AnnOps.annLsh(noEmb, Seq(0), 5).count() == 0)
    assert(AnnOps.annIvf(noEmb, Seq(0), 5).count() == 0)
  }

  test("raster/zonal/integrity/text additions: degenerate inputs never crash") {
    // polygon smaller than any cell center spacing -> empty raster, no error
    val sliver = Seq(1 -> graft.geo.Poly(Vector(
      (0.0001, 0.0001), (0.0001, 0.0002), (0.0002, 0.0002))))
    assert(SpatialOps.rasterize(spark, sliver, r = 4).count() == 0)
    // no polygons at all: an empty raster with the (poly_id, cell) schema
    val none = SpatialOps.rasterize(spark, Seq.empty)
    assert(none.count() == 0)
    assert(none.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq("poly_id" -> "int", "cell" -> "bigint"))
    // zonal over empty points keeps the one-row-per-polygon contract
    val z = SpatialOps.zonalStats(noPts, Fixtures.polys).collect()
    assert(z.length == Fixtures.polys.size && z.forall(_.getLong(1) == 0L))
    // contamination with an empty benchmark slice (no doc_id % mod == 0):
    // every doc evaluates, zero hits
    val docs = Seq((1L, "a b c d e f g"), (2L, "h i j k l m n")).toDF("doc_id", "text")
    val c = TextOps.contamination(docs, benchMod = 97L, k = 5).collect()
    assert(c.length == 2 && c.forall(_.getLong(2) == 0L))
    // repetition: docs shorter than k drop; empty table is empty
    assert(TextOps.repetition(Seq((1L, "a b")).toDF("doc_id", "text"), 3).count() == 0)
    assert(TextOps.repetition(noDocs, 3).count() == 0)
    assert(TextOps.contamination(noDocs).count() == 0)
    // integrity ops on an empty image table
    val noImgs = Seq.empty[(String, Array[Byte], Int, Int, String, String, Long)]
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    assert(graft.ops.ImageOps.pairIntegrity(noImgs).count() == 0)
    assert(graft.ops.ImageOps.transcodeQa(noImgs, noImgs).count() == 0)
  }
}
