package graft

import graft.geo.{GeoCols, MBR}
import graft.index.GlobalIndex
import graft.ops.SpatialOps
import graft.table.SnapshotStore
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Serve-path queries compile once per query SHAPE: a second query that
  * differs from a warmed one only in its constants (box, radius, k, keys,
  * query point) reuses the compiled classes. Spark caches generated
  * classes by source text, so a constant spelled into the source as a
  * literal would miss that cache on every query. */
class CompileOnceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Janino compilations (generated-class cache misses) while `q` runs. */
  def compiles(q: => Any): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    q
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("a query differing only in its constants compiles no new class") {
    val root = java.nio.file.Files.createTempDirectory("graft_compile").toString
    try {
      // the serve store's shape: globe-hashed points, a Bloom key, one
      // box delete and one id delete; one file per unit, so every box read
      // keeps every file and the plan shape is the same for each query
      val st = new SnapshotStore(spark, root, bloomKey = Some("id"))
      val h = xxhash64(col("id"), lit(7L))
      val pts = spark.range(0, 30000, 1, 2).select(col("id"),
        GeoCols.geoFromPhashLat(h).as("lat"), GeoCols.geoFromPhashLon(h).as("lon"))
      (0 until 3).foreach(u =>
        st.append(pts.filter(col("id") % 3 === u), s"unit$u", numPartitions = 1))
      st.deleteWhere(GeoCols.inBox(col("lat"), col("lon"), MBR(-10.0, -10.0, -5.0, -5.0)),
        "del-box")
      st.deleteWhere(col("id").isin(11L, 12L, 13L), "del-ids")
      def box(i: Int, half: Double) = {
        val (la, lo) = (-60.0 + 11.0 * (7 * i % 11), -150.0 + 27.0 * (5 * i % 11))
        MBR(la - half, lo - half, la + half, lo + half)
      }
      val kinds: Seq[(String, Int => Any)] = Seq(
        "read(box) + rangeBox" -> { i =>
          val b = box(i, 2.0)
          SpatialOps.rangeBox(st.read(Some(b))._1, b).count()
        },
        "readBoxes + boxJoin" -> { i =>
          val bs = (0 until 4).map(j => box(i + 2 * j, 1.0 + j))
          SpatialOps.boxJoin(st.readBoxes(bs)._1, bs.zipWithIndex.map(_.swap)).count()
        },
        "knnStored" -> { i =>
          GlobalIndex.knnStored(st, 30.0 - 50.0 * i, 100.0 - 150.0 * i, 10 + 15 * i).collect()
        },
        "knnJoinStored" -> { i =>
          val qs = (0 until 4 + 3 * i).map(q => (q, 60.0 - 11.0 * q - i, 23.0 * q - 140.0 + i))
          GlobalIndex.knnJoinStored(st, qs, 5 + i).collect()
        },
        "lookupByKey" -> { i =>
          st.lookupByKey((0 until 5).map(j => 100L + 997L * j + 31L * i) :+ (-1L - i))._1.collect()
        })
      val fresh = kinds.map { case (name, q) => q(0); name -> compiles(q(1)) }
      assert(fresh.forall(_._2 == 0), fresh)
    } finally graft.ops.OpUtil.deleteTree(java.nio.file.Paths.get(root))
  }

  test("a spatial join over other shapes, queries or resolution compiles no new class") {
    val h = xxhash64(col("id"), lit(3L))
    val pts = spark.range(0, 20000, 1, 2).select(col("id"),
      GeoCols.geoFromPhashLat(h).as("lat"), GeoCols.geoFromPhashLon(h).as("lon"))
    // call i: 3 + i boxes, 4 + i polygons, 5 + 3i queries, resolution 4 + i
    def boxes(i: Int) = (0 until 3 + i).map { j =>
      val (la, lo) = (-50.0 + 13.0 * j + i, -160.0 + 41.0 * j - i)
      j -> MBR(la, lo, la + 4.0 + j, lo + 6.0 + i)
    }
    def queries(i: Int) = (0 until 5 + 3 * i).map(q => (q, 70.0 - 9.0 * q - i, 17.0 * q - 150.0 + i))
    val kinds: Seq[(String, Int => Any)] = Seq(
      "boxJoin" -> (i => SpatialOps.boxJoin(pts, boxes(i), 4 + i).count()),
      "pipJoin" -> (i => SpatialOps.pipJoin(pts, SpatialOpsSpec.stars(4 + i, seed = i), 4 + i).count()),
      "knnJoinAgg" -> (i => SpatialOps.knnJoinAgg(pts, queries(i), 5 + i).collect()),
      "knnJoinPruned" -> (i => SpatialOps.knnJoinPruned(pts, queries(i), 5 + i).collect()))
    val fresh = kinds.map { case (name, q) => q(0); name -> compiles(q(1)) }
    assert(fresh.forall(_._2 == 0), fresh)
  }
}
