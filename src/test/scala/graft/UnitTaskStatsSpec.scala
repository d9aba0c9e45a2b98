package graft

import graft.table.{Bloom, MetaJson, SnapshotStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The in-task unit stats (UnitTaskStats, computed inside the direct
  * write's tasks) are the only source of a unit's manifest entries and
  * stats files. This spec recomputes them with independent relational
  * expressions over the files the store actually committed — the
  * per-(file, cell) aggregate, `xxhash64` of every key folded into a
  * `Bloom.bitsFor(rows of that file)` bitset, and SQL min/max — including
  * planted null coordinates, a NaN latitude and a null Bloom key, and
  * compares documents bit-for-bit. It runs over a long key, a string key,
  * and a skewed unit whose rows all share one `__z` (one file holds
  * everything). */
class UnitTaskStatsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** The `index` or `bloom` stats document of the store's one shard, read
    * through the current root that names it. */
  private def statsDoc(base: java.nio.file.Path, kind: String): String = {
    val meta = base.resolve("store/meta")
    val cur = java.nio.file.Files.readString(meta.resolve("current")).trim
    val shards = MetaJson.parseManifestRoot(
      java.nio.file.Files.readString(meta.resolve(s"snap-$cur"))).shards
    assert(shards.length == 1, s"expected one shard, got ${shards.length}")
    val name = if (kind == "index") shards.head.index else shards.head.bloom.get
    java.nio.file.Files.readString(meta.resolve(name))
  }

  private def metaNames(base: java.nio.file.Path): Set[String] = {
    import scala.jdk.CollectionConverters._
    val ls = java.nio.file.Files.list(base.resolve("store/meta"))
    try ls.iterator().asScala.map(_.getFileName.toString).toSet finally ls.close()
  }

  /** `df` with planted rows: null lat, NaN lat, null key. */
  private def planted(): org.apache.spark.sql.DataFrame = {
    val clean = (1L to 4000L).map(i => (java.lang.Long.valueOf(i),
      java.lang.Double.valueOf((i % 173).toDouble / 2 - 43),
      java.lang.Double.valueOf((i % 361).toDouble - 180)))
    val odd = Seq(
      (java.lang.Long.valueOf(9001L), null.asInstanceOf[java.lang.Double],
        java.lang.Double.valueOf(10.0)),                         // null lat
      (java.lang.Long.valueOf(9002L), java.lang.Double.valueOf(Double.NaN),
        java.lang.Double.valueOf(11.0)),                         // NaN lat
      (null.asInstanceOf[java.lang.Long], java.lang.Double.valueOf(12.0),
        java.lang.Double.valueOf(12.0)))                         // null key
    (clean ++ odd).toDF("id", "lat", "lon")
  }

  /** Append `df` (Bloom key `id`) as one unit and check every document
    * the write produced; returns the store for follow-up checks. */
  private def checkUnit(base: java.nio.file.Path, df: org.apache.spark.sql.DataFrame,
                        expectFiles: Option[Int] = None): SnapshotStore = {
    val store = new SnapshotStore(spark, s"$base/store", bloomKey = Some("id"))
    store.append(df, "unit-all", numPartitions = 4)

    val entries = store.manifest().filter(_.path.nonEmpty)
    assert(entries.map(_.rows).sum == df.count())
    expectFiles.foreach(n => assert(entries.size == n, s"${entries.size} files"))
    val raw = spark.read.parquet(entries.map(_.path): _*)
    val res = store.statsRes

    // 1. leaves: relational per-(file, cell) aggregate over the committed files
    val expLeaves = raw.select(
        input_file_name().as("f"),
        coalesce(graft.geo.GeoCols.cellCol(col("lat"), col("lon"), res), lit(0L)).as("cell"),
        col("lat"), col("lon"))
      .filter(col("lat").isNotNull && col("lon").isNotNull &&
        !isnan(col("lat")) && !isnan(col("lon")))
      .groupBy(col("f"), col("cell"))
      .agg(count(lit(1)).as("cnt"),
        min("lat"), max("lat"), min("lon"), max("lon"))
      .collect()
      .groupBy(r => SnapshotStore.normalizePath(r.getString(0)))
      .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).sortBy(_._1).toSeq)
      .toMap
    val (idxRes, gotLeaves) = MetaJson.parseIndex(statsDoc(base, "index"))
    assert(idxRes == res)
    assert(gotLeaves.toMap.view.mapValues(_.toList).toMap ==
      expLeaves.view.mapValues(_.toList).toMap)

    // 2. hot cells: the leaf counts summed per cell across files
    val expHist = expLeaves.values.flatten
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
    val total = expHist.map(_._2).sum
    for (t <- Seq(0.0, 0.01, 0.05, 0.2))
      assert(store.hotCells(res, t) == expHist.filter(_._2 > total * t).map(_._1).toSet,
        s"hotCells at threshold $t")

    // 3. bloom: xxhash64 of EVERY row (null key → seed), folded into a
    //    bitset sized from the rows of THAT file
    val expHashes = raw.select(input_file_name().as("f"), xxhash64(col("id")).as("h"))
      .collect().groupBy(r => SnapshotStore.normalizePath(r.getString(0)))
      .view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    val (kc, k, gotBits) = MetaJson.parseBloom(statsDoc(base, "bloom"))
    assert(kc == "id" && k == Bloom.K)
    assert(gotBits.map(_._1).toSet == expHashes.keySet)
    for ((f, hs) <- expHashes) {
      val exp = new Array[Long](Bloom.bitsFor(hs.size) / 64)
      hs.foreach(Bloom.add(exp, _))
      assert(gotBits.toMap.apply(f).toSeq == exp.toSeq, s"bloom bits differ for $f")
    }

    // 4. manifest bounds: exact over non-null values; the NaN-lat file
    //    fails open on lat, everything else matches the SQL min/max
    val bounds = raw.select(input_file_name().as("f"), col("lat"), col("lon"), col("__z"))
      .groupBy("f")
      .agg(min("__z"), max("__z"),
        min(when(!isnan(col("lat")), col("lat"))), max(when(!isnan(col("lat")), col("lat"))),
        min(when(!isnan(col("lon")), col("lon"))), max(when(!isnan(col("lon")), col("lon"))),
        max(isnan(col("lat"))).as("anyNaNLat"))
      .collect().map(r => SnapshotStore.normalizePath(r.getString(0)) -> r).toMap
    for (e <- entries) {
      val r = bounds(SnapshotStore.normalizePath(e.path))
      assert(e.minZ == r.getLong(1) && e.maxZ == r.getLong(2))
      if (r.getBoolean(7)) {
        assert(e.minLat == -Double.MaxValue && e.maxLat == Double.MaxValue)
      } else {
        assert(e.minLat == r.getDouble(3) && e.maxLat == r.getDouble(4))
      }
      assert(e.minLon == r.getDouble(5) && e.maxLon == r.getDouble(6))
    }
    store
  }

  test("in-task stats equal the relational sidecar pass and exact bounds") {
    val base = java.nio.file.Files.createTempDirectory("graft_utstats_")
    val store = checkUnit(base, planted())

    // a delete writes no data file and leaves the entries and stats as
    // they are: its commit adds the new root and the shard's deletion
    // vectors, which mark exactly the matched rows' positions
    val before = metaNames(base)
    val entriesBefore = store.manifest()
    val matched = store.read()._1.filter(col("lat") > 0 && col("lon") < 0)
      .select(col("_metadata.file_path"), col("_metadata.row_index")).collect()
      .map(r => (SnapshotStore.normalizePath(r.getString(0)), r.getLong(1))).toSet
    assert(matched.nonEmpty)
    store.deleteWhere(col("lat") > 0 && col("lon") < 0, "del-box")
    assert(store.manifest() == entriesBefore)
    val Seq(sm) = MetaJson.parseManifestRoot(java.nio.file.Files.readString(base.resolve(
      s"store/meta/snap-${store.currentSnapshotId}"))).shards
    assert(metaNames(base) -- before == Set(s"snap-${store.currentSnapshotId}", sm.dv.get))
    val marked = MetaJson.parseDv(java.nio.file.Files.readString(
      base.resolve("store/meta").resolve(sm.dv.get))).flatMap { case (f, bits) =>
        (0L until bits.length * 64L).filter(i => (bits((i >>> 6).toInt) & (1L << i)) != 0)
          .map(f -> _) }.toSet
    assert(marked == matched && sm.deleted == matched.size)
    graft.ops.OpUtil.deleteTree(base)
  }

  test("in-task stats: a string Bloom key hashes exactly like xxhash64") {
    val base = java.nio.file.Files.createTempDirectory("graft_utstats_")
    val df = planted().withColumn("id", concat(lit("k"), col("id")))
    assert(df.schema("id").dataType == org.apache.spark.sql.types.StringType)
    val store = checkUnit(base, df)
    // the driver-side literal hash probes the same bits
    val (hit, _, _) = store.lookupByKey(Seq("k1234"))
    assert(hit.select("id").as[String].collect().toSeq == Seq("k1234"))
    graft.ops.OpUtil.deleteTree(base)
  }

  test("in-task stats: a skewed unit (one shared __z) lands in one exact file") {
    val base = java.nio.file.Files.createTempDirectory("graft_utstats_")
    val df = (1L to 20000L).map(i =>
      (i, 10.0 + (i % 50) * 1e-7, 20.0 + (i % 37) * 1e-7)).toDF("id", "lat", "lon")
    val store = checkUnit(base, df, expectFiles = Some(1))
    val zs = spark.read.parquet(store.manifest().map(_.path): _*)
      .select("__z").distinct().count()
    assert(zs == 1, s"$zs distinct __z values — the unit is not skewed")
    graft.ops.OpUtil.deleteTree(base)
  }
}
