package graft

import graft.data.Points
import graft.geo.{GeoCols, MBR}
import graft.index.{GlobalIndex, LocalRTree}
import graft.table.SnapshotStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

class IndexSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"
  lazy val pts = Points(spark, dir)
  lazy val built = GlobalIndex.build(pts, r = 10, numPartitions = 8)
  lazy val rows: Array[(Long, Double, Double)] =
    built._1.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))

  test("pack builds a complete fanout hierarchy with exact counts") {
    val rng = new Random(1)
    val n = 12345
    val data = Array.fill(n)((rng.nextDouble() * 170 - 85, rng.nextDouble() * 350 - 175))
    val idx = LocalRTree.pack(0, data.sortBy(_._1).iterator, fanout = 50)
    assert(idx.count == n)
    assert(idx.leaves.map(_.count).sum == n)
    assert(idx.leaves.length == math.ceil(n / 50.0).toInt)
    assert(idx.levels.last.length == 1)
    // every level's MBR union == root MBR
    for (lvl <- idx.levels) {
      val u = lvl.map(_.mbr).reduce(_ union _)
      assert(u == idx.root.mbr)
      assert(lvl.map(_.count).sum == n.toLong)
    }
    // candidateCount is a sound upper bound and exact on full box
    val all = MBR(-90, -180, 90, 180)
    assert(LocalRTree.candidateCount(idx, all) == n)
    val box = MBR(0, 0, 10, 10)
    val exact = data.count { case (la, lo) => box.contains(la, lo) }
    assert(LocalRTree.candidateCount(idx, box) >= exact)
  }

  test("empty partition packs to a zero-count index") {
    val idx = LocalRTree.pack(3, Iterator.empty)
    assert(idx.count == 0)
    assert(LocalRTree.candidateCount(idx, MBR(-90, -180, 90, 180)) == 0)
  }

  test("global index counts match and partition prune is sound") {
    val (clustered, gi) = built
    assert(gi.totalRows == rows.length)
    for (box <- Seq(MBR(0, 0, 20, 40), MBR(-60, -100, -20, -10), MBR(80, 160, 89, 179))) {
      val keep = gi.prunePartitions(box).toSet
      // every matching row lives in a kept partition
      import org.apache.spark.sql.functions._
      val matches = clustered
        .withColumn("pid", spark_partition_id())
        .filter(col("lat") >= box.minLat && col("lat") <= box.maxLat &&
                col("lon") >= box.minLon && col("lon") <= box.maxLon)
        .select("pid").distinct().collect().map(_.getInt(0)).toSet
      assert(matches.subsetOf(keep), s"box $box: $matches not in $keep")
      assert(keep.size < gi.parts.length, s"box $box pruned nothing")
    }
  }

  test("knnSeedRadius provably contains >= k points; knnIndexed == brute force") {
    val (clustered, gi) = built
    for ((qla, qlo, k) <- Seq((12.345, -67.89, 25), (0.0, 0.0, 1), (-80.0, 170.0, 100))) {
      val radius = gi.knnSeedRadius(qla, qlo, k)
      val within = rows.count { case (_, la, lo) =>
        (la - qla) * (la - qla) + (lo - qlo) * (lo - qlo) <= radius * radius
      }
      assert(within >= k, s"seed radius $radius holds $within < $k points")
      val exp = rows.map { case (id, la, lo) =>
        (id, (la - qla) * (la - qla) + (lo - qlo) * (lo - qlo))
      }.sortBy { case (id, d2) => (d2, id) }.take(k).map(_._1).toSeq
      val got = GlobalIndex.knnIndexed(clustered, gi, qla, qlo, k)
        .orderBy("rank").collect().map(_.getLong(1)).toSeq
      assert(got == exp, s"q=($qla,$qlo) k=$k")
    }
  }

  test("hilbert-packed index: same content, exact kNN, root MBRs no wider than morton") {
    val (hClustered, hGi) = GlobalIndex.build(pts, r = 10, numPartitions = 8,
      curve = "hilbert")
    // identical multiset of rows through the alternative packing
    val hRows = hClustered.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(hRows.sorted.toSeq == rows.sorted.toSeq)
    // exact kNN through the hilbert-packed index
    val (qla, qlo, k) = (12.345, -67.89, 25)
    val exp = rows.map { case (id, la, lo) =>
      (id, (la - qla) * (la - qla) + (lo - qlo) * (lo - qlo))
    }.sortBy { case (id, d2) => (d2, id) }.take(k).map(_._1).toSeq
    val got = GlobalIndex.knnIndexed(hClustered, hGi, qla, qlo, k)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(got == exp)
    // the clustering-quality claim, measured: total root-MBR area of the
    // hilbert packing is no worse than the morton packing on this cloud
    def area(gi: GlobalIndex) = gi.parts.filter(_.count > 0).map { p =>
      (p.root.mbr.maxLat - p.root.mbr.minLat) * (p.root.mbr.maxLon - p.root.mbr.minLon)
    }.sum
    assert(area(hGi) <= area(built._2) * 1.05,
      s"hilbert root area ${area(hGi)} vs morton ${area(built._2)}")
    hClustered.unpersist(false)
  }

  test("str-packed index: same content, sound hierarchy, exact kNN") {
    // the third packing mode the north star names — lat strips with
    // lon order within (the classic STR layout, i.e. the reference's 1-D
    // bulk-load sort plus the secondary order it lacks)
    val (sClustered, sGi) = GlobalIndex.build(pts, r = 10, numPartitions = 8,
      curve = "str")
    val sRows = sClustered.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(sRows.sorted.toSeq == rows.sorted.toSeq)
    assert(sGi.totalRows == rows.length)
    for (p <- sGi.parts.filter(_.count > 0); lvl <- p.levels) {
      assert(lvl.map(_.count).sum == p.count)
      assert(lvl.map(_.mbr).reduce(_ union _) == p.root.mbr)
    }
    val (qla, qlo, k) = (12.345, -67.89, 25)
    val exp = rows.map { case (id, la, lo) =>
      (id, (la - qla) * (la - qla) + (lo - qlo) * (lo - qlo))
    }.sortBy { case (id, d2) => (d2, id) }.take(k).map(_._1).toSeq
    val got = GlobalIndex.knnIndexed(sClustered, sGi, qla, qlo, k)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(got == exp)
    intercept[IllegalArgumentException] {
      GlobalIndex.build(pts, r = 10, numPartitions = 8, curve = "peano")
    }
    sClustered.unpersist(false)
  }

  /** The radius of the full sort the descent replaces: every live leaf by
    * ascending maxDist, counts accumulated until they reach k — a file's
    * rows counting only past its deleted ones. */
  def sortRadius(gi: GlobalIndex, qLat: Double, qLon: Double, k: Int): Double = {
    val slabs = gi.parts.indices.flatMap(p => gi.parts(p).leaves.filter(_.count > 0)
      .map(l => (l.mbr.maxDistSq(qLat, qLon), l.count, p))).sortBy(_._1)
    val seen = new Array[Long](gi.parts.length)
    def live(p: Int) = math.max(0L, seen(p) - gi.parts(p).deleted)
    var acc = 0L
    slabs.find { case (_, c, p) =>
      acc -= live(p); seen(p) += c; acc += live(p)
      acc >= k
    }.fold(Double.MaxValue)(s => math.nextUp(math.sqrt(s._1)))
  }

  /** Descent radius == sort radius, bitwise, for random query points and
    * k ∈ {1, 10, 25, 100, live count + 1}; returns the popped-node counts
    * of the descents with k ≤ 100. */
  def descentEqualsSort(name: String, gi: GlobalIndex, seed: Int): Seq[Int] = {
    val rng = new Random(seed)
    val live = gi.totalRows
    (0 until 25).flatMap { _ =>
      val (qLat, qLon) = (rng.nextDouble() * 200 - 100, rng.nextDouble() * 380 - 190)
      Seq(1, 10, 25, 100, (live + 1).toInt).flatMap { k =>
        val (rad, popped) = gi.knnSeedDescent(qLat, qLon, k)
        val exp = sortRadius(gi, qLat, qLon, k)
        assert(java.lang.Double.doubleToRawLongBits(rad) == java.lang.Double.doubleToRawLongBits(exp),
          s"$name q=($qLat,$qLon) k=$k: descent $rad, sort $exp")
        assert(gi.knnSeedRadius(qLat, qLon, k) == rad)
        if (k > live) { assert(rad == Double.MaxValue); None } else Some(popped)
      }
    }
  }

  test("best-first descent radius equals the full sort's, bitwise, on built and stored indexes") {
    descentEqualsSort("built", built._2, 1)
    val st = new SnapshotStore(spark, tempDir("graft_idx").toString)
    st.append(pts, "unit-all", numPartitions = 8)
    descentEqualsSort("stored", GlobalIndex.fromStore(st), 2)
    // and under deletes, which leave the leaf counts as written and
    // credit each file with its deleted-position count
    st.deleteWhere(col("id") % 3 === 0, "del-0")
    descentEqualsSort("stored+deletes", GlobalIndex.fromStore(st), 3)
    // no live point: no radius bounds k of them
    val empty = GlobalIndex(6, Array(LocalRTree.pack(0, Iterator.empty)))
    assert(empty.knnSeedDescent(0, 0, 1) == (Double.MaxValue, 0))
  }

  test("seed radius holds >= k live points under adversarial per-file deletes (Spark-free)") {
    val rng = new Random(13)
    // 12 files of 40..400 random points, each packed in Z-ish (lat) order
    val files = Array.fill(12)(Array.fill(40 + rng.nextInt(361))(
      (rng.nextDouble() * 170 - 85, rng.nextDouble() * 350 - 175)).sortBy(_._1))
    val packed = files.indices.map(f => LocalRTree.pack(f, files(f).iterator))
    def d2(p: (Double, Double), qLat: Double, qLon: Double) =
      (p._1 - qLat) * (p._1 - qLat) + (p._2 - qLon) * (p._2 - qLon)
    var bounded = 0
    for (_ <- 0 until 40; k <- Seq(1, 10, 25, 100)) {
      val (qLat, qLon) = (rng.nextDouble() * 180 - 90, rng.nextDouble() * 360 - 180)
      // each file loses its m rows nearest the query, m anywhere in [0, rows]
      val liveRows = files.map { ps =>
        ps.sortBy(d2(_, qLat, qLon)).drop(rng.nextInt(ps.length + 1))
      }
      val gi = GlobalIndex(6, packed.zip(files.zip(liveRows)).map { case (p, (ps, lv)) =>
        p.copy(deleted = (ps.length - lv.length).toLong) }.toArray)
      val rad = gi.knnSeedRadius(qLat, qLon, k)
      val live = liveRows.flatten
      if (live.length < k) assert(rad == Double.MaxValue, s"k=$k, ${live.length} live")
      else {
        val inBall = live.count(d2(_, qLat, qLon) <= rad * rad)
        assert(rad < Double.MaxValue && inBall >= k, s"q=($qLat,$qLon) k=$k: radius $rad holds $inBall live points")
        bounded += 1
      }
      // the descent and the full sort agree under deletes too
      assert(rad == sortRadius(gi, qLat, qLon, k))
    }
    assert(bounded > 100, s"only $bounded bounded radii")
  }

  test("serve-shaped 200k-point index: descent equals sort and pops far fewer nodes than leaves") {
    // 200k hashed (id, lat, lon) points in 8 globe-spanning units of 4
    // files each — every file's root spans the globe, so the file level
    // alone prunes nothing and the descent must go below it
    val rows = 200000L
    val h = xxhash64(col("id"), lit(7L))
    val points = spark.range(0, rows, 1, 4).select(col("id"),
      GeoCols.geoFromPhashLat(h).as("lat"), GeoCols.geoFromPhashLon(h).as("lon"))
    val st = new SnapshotStore(spark, tempDir("graft_idx200k").toString, bloomKey = Some("id"))
    (0 until 8).foreach(u => st.append(points.filter(col("id") % 8 === u), s"unit$u", numPartitions = 4))
    val gi = GlobalIndex.fromStore(st)
    val leaves = gi.parts.map(_.leaves.count(_.count > 0)).sum
    assert(gi.totalRows == rows && gi.parts.length == 32 && leaves > 30000, s"$leaves leaves")
    val popped = descentEqualsSort("serve", gi, 4).sorted
    val median = popped(popped.size / 2)
    assert(popped.max < leaves / 10 && median < leaves / 50,
      s"descent popped median $median, max ${popped.max} of $leaves leaves")
  }
}
