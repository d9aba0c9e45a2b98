package graft

import graft.data.Points
import graft.table.{Bloom, SnapshotStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Manifest-level Bloom pruning for key point lookups: no false negatives
  * ever (the superset contract), observable file skipping, and exact
  * agreement with read()+filter under appends, deletes, and compaction. */
class BloomSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmp(): String = tempDir("graft_bloom").toString

  lazy val pts = Points(spark, "/root/testdata/sf0.001").cache()

  def norm(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double, Double)] =
    df.select("id", "lat", "lon")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq

  def freshStore(root: String): SnapshotStore = {
    val st = new SnapshotStore(spark, root, bloomKey = Some("id"))
    (0 until 3).foreach(u =>
      st.append(pts.filter(pmod(col("id"), lit(3)) === u), s"unit-$u",
        numPartitions = 4))
    st
  }

  test("bit math: planted hashes always hit; fpp stays near design point") {
    val bits = Bloom.bitsFor(10000)
    val set = new Array[Long](bits / 64)
    val planted = (0 until 10000).map(i => Bloom.hashLiteral(i.toLong))
    planted.foreach(Bloom.add(set, _))
    assert(planted.forall(Bloom.mightContain(set, _))) // no false negatives, ever
    val probes = (100000 until 200000).map(i => Bloom.hashLiteral(i.toLong))
    val fp = probes.count(Bloom.mightContain(set, _))
    assert(fp < probes.size * 0.03, s"fpp ${fp.toDouble / probes.size}") // ~0.8% design
    // the in-task builder crosses the MaxBits threshold mid-stream (buffer
    // folded into a MaxBits bitset) and still equals bitsFor(n) over all
    val n = Bloom.MaxBits / Bloom.BitsPerKey + 1000
    val hashes = (0 until n).map(i =>
      org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(i.toLong, 42L))
    val b = new Bloom.Builder
    hashes.foreach(b.add)
    val exp = new Array[Long](Bloom.bitsFor(n) / 64)
    hashes.foreach(Bloom.add(exp, _))
    assert(Bloom.bitsFor(n) == Bloom.MaxBits)
    assert(java.util.Arrays.equals(b.result(), exp))
    // and below the threshold it sizes from its own count
    val small = new Bloom.Builder
    planted.foreach(small.add)
    assert(java.util.Arrays.equals(small.result(), set))
  }

  test("lookup == read+filter for every sampled key; files pruned") {
    val st = freshStore(tmp())
    val (_, _, total) = st.read()
    assert(total == 12)
    val ids = norm(pts).map(_._1).distinct
    val sample = ids.grouped(math.max(1, ids.size / 50)).map(_.head).toSeq
    sample.foreach { id =>
      val (df, kept, tot) = st.lookupByKey(Seq(id))
      assert(tot == 12)
      assert(norm(df) == norm(pts.filter(col("id") === id)), s"id $id")
      // the id lives in ONE modulus unit; one data file holds it (plus
      // possible ~1% fp files) — far below the 12-file full scan
      assert(kept <= 3, s"id $id read $kept files")
    }
    // absent key: correct empty result; at most fp files opened
    val (none, keptNone, _) = st.lookupByKey(Seq(-424242L))
    assert(none.count() == 0 && keptNone <= 2)
    // multi-key probe unions the per-key candidates
    val three = sample.take(3)
    val (multi, keptMulti, _) = st.lookupByKey(three)
    assert(norm(multi) == norm(pts.filter(col("id").isin(three: _*))))
    assert(keptMulti <= 6)
  }

  test("two-level manifest: a key lookup parses only the bloom-hit units' shards") {
    // the per-shard Bloom files the root names: a point lookup on a
    // sharded table reads root + the HIT shards, not the full manifest —
    // O(match), with unknown coverage failing open
    val root = tmp()
    val st = new SnapshotStore(spark, root, bloomKey = Some("id"),
      manifestShardRows = 3)
    (0 until 3).foreach(u =>
      st.append(pts.filter(pmod(col("id"), lit(3)) === u), s"unit-$u",
        numPartitions = 4))
    val ids = norm(pts).map(_._1).distinct
    val probe = ids.find(_ % 3 == 0).get // lives in unit-0 only
    // shard-level skip observable through the planner's own filter
    val cur = st.currentSnapshotId
    val (_, shardMight) = st.bloomVerdicts(cur, Seq(probe), "id")
    val (loaded, total) =
      st.manifestPartial(cur, None, Some(shardMight))
    assert(total == 12)
    assert(loaded.flatMap(_._2).size < 12,
      "lookup parsed every manifest shard")
    // ...and the covered-but-not-hit skip never drops rows: result exact
    val (df, kept, tot) = st.lookupByKey(Seq(probe))
    assert(tot == 12 && kept <= 3)
    assert(norm(df) == norm(pts.filter(col("id") === probe)))
    // a unit with NO Bloom file keeps its shards loaded (fail open): a
    // bloom-less store instance appends a unit, and the lookup still
    // finds its rows
    val extra = pts.filter(col("id") % 31 === 0).withColumn("id", col("id") + 1000000L)
    new SnapshotStore(spark, root, manifestShardRows = 3)
      .append(extra, "unit-plain", numPartitions = 2)
    val plainShards = graft.table.MetaJson.parseManifestRoot(Files.readString(
      java.nio.file.Paths.get(root, "meta", s"snap-${st.currentSnapshotId}")))
      .shards.filter(_.lineages == Seq("unit-plain"))
    assert(plainShards.nonEmpty && plainShards.forall(_.bloom.isEmpty))
    val probe1 = norm(extra).head._1
    val (_, plainMight) = st.bloomVerdicts(st.currentSnapshotId, Seq(probe1), "id")
    assert(plainShards.forall(plainMight), "a bloom-less shard was skipped")
    val (df1, _, _) = st.lookupByKey(Seq(probe1))
    assert(norm(df1) == norm(extra.filter(col("id") === probe1)),
      "the bloom-less unit's rows were dropped")
  }

  test("tombstones apply to lookups; compaction refreshes sidecars") {
    val root = tmp()
    val st = freshStore(root)
    val victim = norm(pts).map(_._1).distinct.head
    st.deleteWhere(col("id") === victim, "del-0")
    assert(st.lookupByKey(Seq(victim))._1.count() == 0)
    st.compact(numPartitions = 2)
    // the compacted root names only the Bloom files its own commit wrote,
    // and they cover exactly the compacted files
    val cur = st.currentSnapshotId
    val metaP = java.nio.file.Paths.get(root, "meta")
    val shards = graft.table.MetaJson.parseManifestRoot(
      Files.readString(metaP.resolve(s"snap-$cur"))).shards
    assert(shards.nonEmpty && shards.forall(_.bloom.exists(_.startsWith(s"snap-$cur-shard-"))))
    val covered = shards.flatMap(sm => graft.table.MetaJson.parseBloom(
      Files.readString(metaP.resolve(sm.bloom.get)))._3.map(_._1))
    assert(covered.sorted == st.manifest()
      .map(e => SnapshotStore.normalizePath(e.path)).sorted)
    val survivor = norm(pts).map(_._1).distinct.apply(1)
    val (df, kept, tot) = st.lookupByKey(Seq(survivor))
    assert(tot == 2 && kept <= 2)
    assert(norm(df) == norm(pts.filter(col("id") === survivor)))
    assert(st.lookupByKey(Seq(victim))._1.count() == 0)
  }

  test("fail open: no sidecars (bloom-less store) still answers exactly") {
    val root = tmp()
    val st = new SnapshotStore(spark, root) // no bloomKey
    st.append(pts, "unit-0", numPartitions = 4)
    val id = norm(pts).map(_._1).distinct.head
    val (df, kept, tot) = st.lookupByKey(Seq(id), keyCol = "id")
    assert(kept == tot) // every file read — fail open, never wrong
    assert(norm(df) == norm(pts.filter(col("id") === id)))
    intercept[IllegalArgumentException](st.lookupByKey(Seq(id)))
  }
}
