package graft

import graft.data.{Points, Synth}
import graft.geo.MBR
import graft.table.SnapshotStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Iceberg-shaped snapshot layout: atomic commits, file pruning from
  * manifest stats, per-partition lineage + metrics, crash-resume to
  * bit-identical output (SURVEY.md §7.4/§7.6). */
class SnapshotStoreSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmp(): String = tempDir("graft_snap").toString

  lazy val pts = Points(spark, "/root/testdata/sf0.001").cache()

  /** The shard rows of the current root of the store at `root`. */
  private def shardRows(root: String): Seq[graft.table.ShardMeta] = {
    val meta = java.nio.file.Paths.get(root, "meta")
    graft.table.MetaJson.parseManifestRoot(Files.readString(
      meta.resolve("snap-" + Files.readString(meta.resolve("current")).trim))).shards
  }

  test("equality deletes: merge-on-read excludes, compact purges tombstones") {
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    st.append(pts, "unit-0", numPartitions = 4)
    val box = MBR(10.0, 30.0, 25.0, 60.0)
    val inBox = graft.geo.GeoCols.inBox(col("lat"), col("lon"), box)
    st.deleteWhere(inBox, "del-0")
    def norm(df: org.apache.spark.sql.DataFrame) = df.select("id", "lat", "lon")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
    val exp = norm(pts.filter(!inBox))
    assert(exp.nonEmpty && exp.size < pts.count())
    // merge-on-read: deletion vectors applied at read time
    val afterDelete = norm(st.read()._1)
    assert(afterDelete == exp)
    // deletion vectors present in the root until compaction...
    assert(shardRows(root).exists(_.dv.nonEmpty))
    // ...and a second delete composes
    st.deleteWhere(col("id") === exp.head._1, "del-1")
    val afterSecond = norm(st.read()._1)
    assert(afterSecond == exp.filterNot(_._1 == exp.head._1))
    // compact applies deletes copy-on-write and drops the vectors
    st.compact(numPartitions = 2)
    assert(shardRows(root).forall(_.dv.isEmpty))
    assert(norm(st.read()._1) == afterSecond)
    // delete lineage survives in the root's folded list (resumable runs skip it)
    assert(st.committedLineage.contains("del-0") && st.committedLineage.contains("del-1"))
  }

  test("one scan task crossing several files drops exactly each file's deleted rows") {
    val st = new SnapshotStore(spark, tmp())
    st.append(pts, "unit-0", numPartitions = 4)
    val dead = col("id") % 7 === 0 || col("id") % 11 === 3
    st.deleteWhere(dead, "del-0")
    def norm(df: org.apache.spark.sql.DataFrame) = df.select("id", "lat", "lon")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
    // one split for the whole table: every file is read by the one task
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try {
      val df = st.read()._1
      val files = df.inputFiles
      assert(files.length >= 2, files.toSeq)
      for (f <- files) assert(spark.read.parquet(f).filter(dead).count() > 0, s"no delete hit $f")
      assert(df.rdd.getNumPartitions == 1)
      assert(norm(df) == norm(pts.filter(!dead)))
    } finally spark.conf.unset("spark.sql.files.minPartitionNum")
  }

  test("randomized delete sequence + compact == in-memory multiset difference") {
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    st.append(pts, "unit-0", numPartitions = 4)
    val r0 = new scala.util.Random(3)
    var live = pts.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    for (i <- 0 until 4) {
      val la0 = r0.nextDouble() * 160 - 90
      val lo0 = r0.nextDouble() * 320 - 180
      val b = MBR(la0, lo0, la0 + 20 + r0.nextDouble() * 40, lo0 + 20 + r0.nextDouble() * 80)
      st.deleteWhere(graft.geo.GeoCols.inBox(col("lat"), col("lon"), b), s"del-$i")
      live = live.filterNot { case (_, la, lo) => b.contains(la, lo) }
      if (i == 2) st.compact(numPartitions = 2) // mid-sequence rewrite
      val got = st.read()._1.select("id", "lat", "lon").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
      assert(got == live.sorted, s"after delete $i")
    }
    assert(live.nonEmpty && live.size < pts.count())
  }

  test("append + read round-trips; snapshots are monotonic") {
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    assert(st.currentSnapshotId == 0)
    st.append(pts, "unit-0")
    assert(st.currentSnapshotId == 1)
    val (df, _, _) = st.read()
    assert(df.count() == pts.count())
    val back = df.select("id", "lat", "lon").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
    val orig = pts.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
    assert(back == orig)
  }

  test("manifest stats prune files for a small box; results stay exact") {
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    st.append(pts, "unit-0", numPartitions = 16)
    val box = MBR(10.0, 30.0, 25.0, 60.0)
    val (df, kept, total) = st.read(Some(box))
    assert(total == 16)
    assert(kept < total, s"pruning kept all $total files")
    val got = df.filter(col("lat").between(box.minLat, box.maxLat) &&
        col("lon").between(box.minLon, box.maxLon))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val exp = pts.filter(col("lat").between(box.minLat, box.maxLat) &&
        col("lon").between(box.minLon, box.maxLon))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == exp)
  }

  test("lineage + metrics recorded per unit") {
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    st.append(pts.limit(100), "u-a")
    st.append(pts.limit(50), "u-b")
    val m = st.manifest()
    assert(st.committedLineage == Set("u-a", "u-b"))
    assert(m.forall(_.wallMs >= 0))
    assert(m.filter(_.lineageId == "u-a").map(_.rows).sum == 100)
    assert(m.filter(_.lineageId == "u-b").map(_.rows).sum == 50)
  }

  test("crash between units + resume converges to the one-shot result") {
    def produce(u: String) = {
      val i = u.drop(5).toInt
      pts.filter(col("id") % 4 === i)
    }
    val units = (0 until 4).map(i => s"unit-$i")

    // one-shot reference run
    val oneShotRoot = tmp()
    val oneShot = new SnapshotStore(spark, oneShotRoot)
    assert(oneShot.resumableRun(units)(produce) == units)

    // crashed run: only 2 units complete
    val root = tmp()
    val st1 = new SnapshotStore(spark, root)
    st1.resumableRun(units.take(2))(produce)
    assert(st1.committedLineage == units.take(2).toSet)

    // resume with a FRESH store instance (new driver), full unit list
    val st2 = new SnapshotStore(spark, root)
    val processed = st2.resumableRun(units)(produce)
    assert(processed == units.drop(2), "resume must skip committed units")

    def dump(s: SnapshotStore) = s.read()._1.select("id", "lat", "lon")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
    assert(dump(st2) == dump(oneShot))
  }

  test("compaction: fewer files, identical content, lineage still honored") {
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    // many tiny appends → fragmented table
    for (i <- 0 until 5)
      st.append(pts.filter(col("id") % 5 === i), s"frag-$i", numPartitions = 4)
    val before = st.read()._3
    assert(before == 20)
    def dump(s: SnapshotStore) = s.read()._1.select("id", "lat", "lon")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
    val contentBefore = dump(st)
    st.compact(numPartitions = 4)
    assert(st.read()._3 == 4, "compaction must shrink the file count")
    assert(dump(st) == contentBefore, "compaction must not change content")
    // pre-compaction units stay 'committed' for resume purposes
    val again = new SnapshotStore(spark, root)
      .resumableRun((0 until 5).map(i => s"frag-$i"))(_ => fail("must not reprocess"))
    assert(again.isEmpty)
    // pruning still works on the compacted layout
    val box = graft.geo.MBR(10.0, 30.0, 25.0, 60.0)
    val (df, kept, total) = st.read(Some(box))
    assert(kept <= total)
    assert(df.count() > 0)
  }

  test("NaN coordinates: stats fail open, read(box) never silently drops rows") {
    // parquet omits double min/max stats for chunks containing NaN — the
    // manifest entry must record the full range (never a narrowed one), so
    // the file still participates in every box read (superset contract)
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    import spark.implicits._
    val box = MBR(10.0, 30.0, 25.0, 60.0)
    val good = Seq((1L, 12.0, 40.0), (2L, 20.0, 55.0), (3L, -50.0, 10.0))
    val withNaN = good ++ Seq((4L, Double.NaN, Double.NaN))
    st.append(withNaN.toDF("id", "lat", "lon"), "nan-unit", numPartitions = 1)
    // parquet dropped the lat/lon chunk stats → the entry must carry the
    // fail-open full range, not a narrowed or zero-width one
    val e = st.manifest().find(_.lineageId == "nan-unit").get
    assert(e.minLat == -Double.MaxValue && e.maxLat == Double.MaxValue,
      s"expected fail-open lat range, got (${e.minLat}, ${e.maxLat})")
    val (df, kept, total) = st.read(Some(box))
    assert(kept == total, "a stats-less file must never be pruned")
    val got = df.filter(col("lat").between(box.minLat, box.maxLat) &&
        col("lon").between(box.minLon, box.maxLon))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L), s"rows lost through NaN-polluted stats: $got")
  }

  test("null coordinates: append survives; Bloom still finds the row; stats skip it") {
    import spark.implicits._
    val st = new SnapshotStore(spark, tmp(), bloomKey = Some("id"))
    st.append(Seq((1L, Option(12.0), Option(40.0)),
        (2L, Option.empty[Double], Option.empty[Double]))
      .toDF("id", "lat", "lon"), "u-0", numPartitions = 1)
    assert(st.read()._1.count() == 2)
    // the stats pass must not drop the null row's key from the Bloom
    // filter (that would be a false negative on lookup)...
    val (df, _, _) = st.lookupByKey(Seq(2L))
    assert(df.select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // ...while the index summaries count only rows that live in a cell
    assert(graft.index.GlobalIndex.fromStore(st).totalRows == 1)
  }

  test("commit debris wedges no append; vacuum reclaims it once its id is decided") {
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    st.append(pts.limit(100), "u-0", numPartitions = 2)
    // a writer that crashed before linking snap-2 left its temporary root,
    // a shard and a hint temp; one racing toward snap-3 left a shard. All
    // are old: no step of the protocol looks at a file's age
    val metaP = java.nio.file.Paths.get(root, "meta")
    val debris2 = Seq("snap-2-root-deadbeef.json", "snap-2-shard-0-deadbeef.json",
      "snap-2-hint-deadbeef").map(metaP.resolve)
    val debris3 = metaP.resolve("snap-3-shard-0-deadbeef.json")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10 * 60 * 1000)
    (debris2 :+ debris3).foreach { p =>
      Files.writeString(p, graft.table.MetaJson.manifestJson(Seq.empty))
      Files.setLastModifiedTime(p, old)
    }
    // nothing is named snap-2, so the next append links it
    assert(st.append(pts.limit(50), "u-1", numPartitions = 2) == 2)
    assert(st.read()._1.count() == 150)
    // snapshot 2 is decided: its debris goes, whatever its age; id 3 may
    // still be in flight, so its file stays until snap-3 is linked
    val removed = st.vacuum(0L)
    assert(debris2.forall(p => !Files.exists(p) && removed.contains(p.toString)), removed)
    assert(Files.exists(debris3))
    assert(st.append(pts.limit(10), "u-2", numPartitions = 1) == 3)
    st.vacuum(0L)
    assertMetaReachable(root)
    assert(st.read()._1.count() == 160)
  }

  test("a snapshot root that is not a JSON file fails closed on read and vacuum") {
    // the only manifest format is a JSON file at meta/snap-N; a directory
    // under that name (e.g. a parquet dataset) must not be decoded, and
    // vacuum must not treat the unreadable root as "references nothing"
    // and reclaim the live unit it points at
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    st.append(pts.limit(100), "u-0", numPartitions = 2)
    val entries = st.manifest()
    val unitFiles = entries.map(e => java.nio.file.Paths.get(e.path.stripPrefix("file:")))
    assert(unitFiles.nonEmpty && unitFiles.forall(Files.exists(_)))
    val snapPath = java.nio.file.Paths.get(root, "meta", "snap-1")
    Files.delete(snapPath)
    import spark.implicits._
    spark.createDataset(entries).toDF().coalesce(1).write.parquet(snapPath.toString)
    val st2 = new SnapshotStore(spark, root)
    val onManifest = intercept[IllegalStateException](st2.manifest())
    assert(onManifest.getMessage.contains("snap-1"))
    val onRead = intercept[IllegalStateException](st2.read())
    assert(onRead.getMessage.contains("snap-1"))
    def dataDirs(): Set[String] = {
      val ls = Files.list(java.nio.file.Paths.get(root, "data"))
      try ls.toArray.map(_.toString).toSet finally ls.close()
    }
    val before = dataDirs()
    intercept[IllegalStateException](st2.vacuum(0L))
    assert(dataDirs() == before)
    assert(unitFiles.forall(Files.exists(_)))
  }

  test("table meta pins curve + zRes: mismatched open fails fast") {
    // ADVICE r3: the clustering curve was only a constructor arg — opening
    // a hilbert table as z made curveRangesForMbr non-covering and
    // read(box) silently dropped rows; now the layout is persisted on
    // first commit and a mismatched open throws instead
    val root = tmp()
    val st = new SnapshotStore(spark, root, curve = "hilbert")
    st.append(pts.limit(50), "u-0", numPartitions = 2)
    val e1 = intercept[IllegalArgumentException] {
      new SnapshotStore(spark, root) // default curve="z"
    }
    assert(e1.getMessage.contains("curve=hilbert"))
    intercept[IllegalArgumentException] {
      new SnapshotStore(spark, root, zRes = 10, curve = "hilbert")
    }
    // the correct spelling reopens and reads
    val ok = new SnapshotStore(spark, root, curve = "hilbert")
    assert(ok.read()._1.count() == 50)
    // histRes is part of the pinned layout too: sidecar grids at mixed
    // resolutions would merge as garbage in hotCells
    intercept[IllegalArgumentException] {
      new SnapshotStore(spark, root, histRes = 10, curve = "hilbert")
    }
  }

  test("table with snapshots but no table.json: any open refuses") {
    // round-4 ADVICE: auto-pinning at the next commit would enshrine the
    // OPENER's possibly-wrong curve as authoritative — after which the
    // CORRECT spelling fails validation forever, and reads meanwhile
    // silently drop rows. The constructor must refuse.
    val root = tmp()
    val st = new SnapshotStore(spark, root, curve = "hilbert")
    st.append(pts.limit(50), "u-0", numPartitions = 2)
    Files.delete(java.nio.file.Paths.get(root, "meta", "table.json"))
    // ANY open — even the correct spelling — refuses: nothing on disk can
    // prove which spelling is correct
    val e = intercept[IllegalStateException] {
      new SnapshotStore(spark, root, curve = "hilbert")
    }
    assert(e.getMessage.contains("no meta/table.json"))
    intercept[IllegalStateException] { new SnapshotStore(spark, root) }
  }

  test("two stores on one empty root: the second committer's mismatched curve fails loudly") {
    // both constructors pass (no table.json yet) — the pin must therefore
    // be enforced at COMMIT time or the loser lands mixed-curve files
    // whose covering ranges silently stop covering
    val root = tmp()
    val zSt = new SnapshotStore(spark, root)
    val hSt = new SnapshotStore(spark, root, curve = "hilbert")
    hSt.append(pts.limit(50), "h-0", numPartitions = 1) // pins hilbert
    val e = intercept[IllegalArgumentException] {
      zSt.append(pts.limit(50), "z-0", numPartitions = 1)
    }
    assert(e.getMessage.contains("curve=hilbert"))
    // the table is intact under the pinned layout; the loser left only a
    // vacuumable orphan unit
    assert(new SnapshotStore(spark, root, curve = "hilbert").read()._1.count() == 50)
  }

  test("manifest list: small shards chunk every commit, box reads skip shards, lifecycle intact") {
    // round-4 verdict ask #4: a whole manifest is O(file count) — every
    // commit writes the Iceberg two-level shape (root list with per-shard
    // Z/lat-lon bounds + shard files, manifestShardRows entries each) and
    // a box read downloads only overlapping shards
    val root = tmp()
    val st = new SnapshotStore(spark, root, manifestShardRows = 3)
    // 8 files per append: per-append shards (reuse path) must be finer
    // than the query box for pruning to be observable at this toy scale —
    // an append's shard bounds are the union of ITS files only, and a
    // 2-shard append spans near-global bounds
    (0 until 3).foreach(u =>
      st.append(pts.filter(col("id") % 3 === u), s"u-$u", numPartitions = 8))
    val cur = st.currentSnapshotId
    // the root is a manifest LIST with shard files on disk
    val rootJson = Files.readString(
      java.nio.file.Paths.get(root, "meta", s"snap-$cur"))
    assert(rootJson.contains("\"shards\""))
    val mr = graft.table.MetaJson.parseManifestRoot(rootJson)
    assert(mr.shards.size >= 4 && mr.shards.forall(sm =>
      Files.exists(java.nio.file.Paths.get(root, "meta", sm.path))))
    assert(mr.folded.isEmpty)
    // full reassembly: content identical to the raw table
    assert(st.manifest().count(_.path.nonEmpty) == 24)
    assert(st.read()._1.count() == pts.count())
    // shard pruning: a small box loads FEWER data entries than the
    // snapshot holds, while the true total stays known without reading
    val b = graft.data.Fixtures.boxes(4)._2 // the tiny map.osm-bounds box
    val (loaded, total) = st.manifestPartial(cur, Some(Seq(b)))
    assert(total == 24)
    assert(loaded.flatMap(_._2).size < 24,
      s"box read parsed all $total manifest entries")
    // compaction re-chunks GLOBALLY by minZ (Iceberg's rewrite-manifests
    // analog): the per-append shard overlap the reuse path accumulates is
    // repaired, and pruning stays observable on the compacted layout
    // (24 files, the same granularity as pre-compact — at 8 files a
    // single 3-file shard's Z-span crosses quadrant boundaries and its
    // lat/lon union covers the toy box from every shard)
    st.compact(numPartitions = 24)
    val (loadedC, totalC) =
      st.manifestPartial(st.currentSnapshotId, Some(Seq(b)))
    assert(loadedC.flatMap(_._2).size < totalC,
      s"post-compact box read parsed all $totalC manifest entries")
    assert(st.read()._1.count() == pts.count())
    // the pruned read is still exact
    val got = st.read(Some(b))._1
      .filter(graft.geo.GeoCols.inBox(col("lat"), col("lon"), b))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val exp = pts.filter(graft.geo.GeoCols.inBox(col("lat"), col("lon"), b))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == exp)
    // a box overlapping NO shard still plans (schema-only empty frame)
    val nowhere = MBR(89.99, 179.98, 89.995, 179.99)
    assert(st.read(Some(nowhere))._1.count() == 0)
    // deletes mark positions in the shards' files and compose with them
    st.deleteWhere(col("id") % 5 === 0, "del-0")
    assert(st.read()._1.count() == pts.filter(col("id") % 5 =!= 0).count())
    // expiry removes the expired snapshots' shard files too
    val before = Files.list(java.nio.file.Paths.get(root, "meta")).count()
    st.expireSnapshots(keepLast = 1)
    assert(Files.list(java.nio.file.Paths.get(root, "meta")).count() < before)
    (1L until st.currentSnapshotId).foreach { k =>
      assert(!Files.exists(java.nio.file.Paths.get(root, "meta", s"snap-$k")))
    }
    assert(st.read()._1.count() == pts.filter(col("id") % 5 =!= 0).count())
  }

  test("curve-range shard prune: rangesHint skips Z-disjoint shards, fail-open without it") {
    val root = tmp()
    val st = new SnapshotStore(spark, root, manifestShardRows = 3)
    st.append(pts, "u-0", numPartitions = 24) // one append: Z-sorted chunking
    val cur = st.currentSnapshotId
    def dataCount(es: Seq[(graft.table.ShardMeta, Seq[graft.table.FileEntry])]) =
      es.flatMap(_._2).size
    val total = dataCount(st.manifestPartial(cur, None)._1)
    assert(total == 24)
    // a band meeting no shard interval skips EVERY data shard
    val none = st.manifestPartial(cur, None,
      rangesHint = Some(Seq((Long.MinValue, Long.MinValue + 1L))))._1
    assert(dataCount(none) == 0, "disjoint band should skip all data shards")
    // the first shard's own interval loads it but skips later Z chunks
    val first = graft.table.MetaJson.parseManifestRoot(Files.readString(
      java.nio.file.Paths.get(root, "meta", s"snap-$cur"))).shards.minBy(_.minZ)
    val some = st.manifestPartial(cur, None,
      rangesHint = Some(Seq((first.minZ, first.maxZ))))._1
    assert(dataCount(some) >= 3 && dataCount(some) < total,
      s"band prune loaded ${dataCount(some)} of $total")
    // no hint = fail open: full load
    assert(dataCount(st.manifestPartial(cur, None)._1) == total)
  }

  test("commit onto a sharded parent reuses its shard files by reference") {
    // shard reuse (round-5 review): an append must be O(commit size)
    // driver JSON, not O(table file count) — the parent's shard files
    // ride into the child root unrewritten (the Iceberg manifest-list
    // contract: manifests are immutable and carried forward)
    val root = tmp()
    val st = new SnapshotStore(spark, root, manifestShardRows = 3)
    st.append(pts.filter(col("id") % 3 === 0), "u-0", numPartitions = 4)
    st.append(pts.filter(col("id") % 3 === 1), "u-1", numPartitions = 4)
    val metaP = java.nio.file.Paths.get(root, "meta")
    def shardsOf(snap: Long) = graft.table.MetaJson.parseManifestRoot(
      Files.readString(metaP.resolve(s"snap-$snap"))).shards
    val parentShards = shardsOf(st.currentSnapshotId)
    assert(parentShards.nonEmpty)
    val parentBytes = parentShards.map(sm =>
      sm.path -> Files.readString(metaP.resolve(sm.path))).toMap
    st.append(pts.filter(col("id") % 3 === 2), "u-2", numPartitions = 4)
    val cur = st.currentSnapshotId
    val childShards = shardsOf(cur)
    // every parent shard is carried: same path, byte-identical content
    assert(parentShards.map(_.path).toSet.subsetOf(childShards.map(_.path).toSet))
    parentBytes.foreach { case (p, bytes) =>
      assert(Files.readString(metaP.resolve(p)) == bytes,
        s"carried shard $p was rewritten")
    }
    // and the only NEW shard files belong to the committing snapshot
    val fresh = childShards.map(_.path).toSet -- parentShards.map(_.path).toSet
    assert(fresh.nonEmpty &&
      fresh.forall(_.startsWith(s"snap-$cur-shard-")),
      s"unexpected new shards $fresh")
    // the reassembled table is exact
    assert(st.read()._1.count() == pts.count())
    assert(st.manifest().count(_.path.nonEmpty) == 12)
  }

  test("default store: an append carries the parent's shard files and writes only its own") {
    // one layout at every size: no manifestShardRows, a handful of
    // entries, and still every root is a list whose parent shards ride
    // forward byte-identical while the commit adds snap-N-shard-* files
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    st.append(pts.filter(col("id") % 2 === 0), "u-0", numPartitions = 4)
    st.append(pts.filter(col("id") % 2 === 1), "u-1", numPartitions = 4)
    val metaP = java.nio.file.Paths.get(root, "meta")
    def parse(snap: Long) = graft.table.MetaJson.parseManifestRoot(
      Files.readString(metaP.resolve(s"snap-$snap")))
    def metaNames(): Set[String] = {
      val ls = Files.list(metaP)
      try ls.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSet
      finally ls.close()
    }
    val parent = parse(st.currentSnapshotId)
    assert(parent.shards.size == 2)
    val parentBytes = parent.shards.flatMap(_.files).map(f =>
      f -> Files.readAllBytes(metaP.resolve(f)).toSeq).toMap
    val before = metaNames()
    st.append(pts.limit(40), "u-2", numPartitions = 2)
    val cur = st.currentSnapshotId
    val child = parse(cur)
    assert(child.shards.take(2) == parent.shards)
    parentBytes.foreach { case (p, bytes) =>
      assert(Files.readAllBytes(metaP.resolve(p)).toSeq == bytes, s"carried shard $p was rewritten")
    }
    val added = metaNames() -- before
    assert(added.contains(s"snap-$cur"))
    assert((added - s"snap-$cur").nonEmpty &&
      (added - s"snap-$cur").forall(_.startsWith(s"snap-$cur-shard-")),
      s"the append wrote $added")
    assert(child.shards.drop(2).flatMap(_.files).toSet == added - s"snap-$cur")
    assert(child.shards.drop(2).flatMap(_.lineages) == Seq("u-2"))
    assert(st.read()._1.count() == pts.count() + 40)
    // a delete adds no shard: it replaces the row of the shard it hit with
    // one naming its deletion vectors; every shard file stays as it was
    val beforeDel = metaNames()
    val victim = st.read()._1.select("id").head().getLong(0)
    val copies = st.read()._1.filter(col("id") === victim).count()
    st.deleteWhere(col("id") === victim, "del-0")
    val afterDel = parse(st.currentSnapshotId)
    assert(afterDel.shards.map(_.copy(dv = None, deleted = 0L)) == child.shards)
    val hit = afterDel.shards.filter(_.dv.nonEmpty)
    assert(hit.nonEmpty && hit.map(_.deleted).sum == copies && afterDel.folded == Seq("del-0"))
    assert(metaNames() -- beforeDel == Set(s"snap-${st.currentSnapshotId}") ++ hit.flatMap(_.dv))
  }

  test("a root that is not a manifest list fails every read naming its path") {
    // readers look for data only in shards: a root without a `shards`
    // node, or with a data entry inline, must never read as an empty table
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    st.append(pts.limit(100), "u-0", numPartitions = 2)
    val entries = st.manifest()
    assert(entries.size == 2)
    val snapPath = java.nio.file.Paths.get(root, "meta", "snap-1")
    val flat = graft.table.MetaJson.manifestJson(entries)
    // the same entries inline in an otherwise well-formed list root
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val listed = mapper.readTree(flat).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    listed.putArray("shards"); listed.putArray("folded")
    val inlineData = mapper.writeValueAsString(listed)
    // and a list root that lost its shards node: read leniently, it is an
    // empty table
    val noShards = """{"entries":[],"folded":[]}"""
    for (bad <- Seq(flat, inlineData, noShards)) {
      Files.writeString(snapPath, bad)
      val reopened = new SnapshotStore(spark, root)
      for (e <- Seq(
          intercept[IllegalStateException](reopened.read()),
          intercept[IllegalStateException](reopened.read(Some(MBR(-90, -180, 90, 180)))),
          intercept[IllegalStateException](reopened.manifest()),
          intercept[IllegalStateException](reopened.committedLineage),
          intercept[IllegalStateException](reopened.totalRows)))
        assert(e.getMessage.contains(snapPath.toString), e.getMessage)
    }
  }

  test("compaction folds lineage into the root: no zero-file entries, resumable runs skip it all") {
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    (0 until 3).foreach(u =>
      st.append(pts.filter(col("id") % 3 === u), s"u-$u", numPartitions = 2))
    st.deleteWhere(col("id") % 7 === 0, "del-0")
    val metaP = java.nio.file.Paths.get(root, "meta")
    def folded() = graft.table.MetaJson.parseManifestRoot(
      Files.readString(metaP.resolve(s"snap-${st.currentSnapshotId}"))).folded
    def noZeroFile() = assert(st.manifest().forall(e => e.path.nonEmpty && e.rows > 0))
    def skipsAll(units: Seq[String]) =
      assert(new SnapshotStore(spark, root).resumableRun(units)(_ =>
        fail("a folded unit must not be reprocessed")).isEmpty)
    val first = Seq("del-0", "u-0", "u-1", "u-2")
    st.compact(numPartitions = 2)
    noZeroFile()
    assert(folded() == first)
    assert(st.committedLineage == first.toSet + "compact-5")
    skipsAll(first)
    // a second compaction folds the first one's output AND its folded ids
    st.append(pts.limit(20), "u-3", numPartitions = 1)
    st.compact(numPartitions = 2)
    noZeroFile()
    val second = (first :+ "compact-5" :+ "u-3").sorted
    assert(folded() == second)
    skipsAll(second :+ "compact-7")
    // compacted down to zero rows: no entry at all, every lineage folded
    st.deleteWhere(lit(true), "del-all")
    st.compact(numPartitions = 1)
    assert(st.manifest().isEmpty && st.read()._1.count() == 0)
    assert(folded() == (second :+ "compact-7" :+ "del-all").sorted)
    skipsAll(second :+ "compact-7" :+ "del-all")
  }

  test("expiry keeps shards shared with retained snapshots; unreferenced shard debris is swept") {
    val root = tmp()
    val st = new SnapshotStore(spark, root, manifestShardRows = 3)
    (0 until 3).foreach(u =>
      st.append(pts.filter(col("id") % 3 === u), s"u-$u", numPartitions = 4))
    val metaP = java.nio.file.Paths.get(root, "meta")
    val cur = st.currentSnapshotId
    val curShards = graft.table.MetaJson.parseManifestRoot(
      Files.readString(metaP.resolve(s"snap-$cur"))).shards.map(_.path)
    // most of the current root's shards were created by EXPIRED commits —
    // under shard reuse expiry must not delete what the survivor references
    st.expireSnapshots(keepLast = 1)
    curShards.foreach(p => assert(Files.exists(metaP.resolve(p)),
      s"expiry deleted shard $p still referenced by the current snapshot"))
    assert(st.read()._1.count() == pts.count())
    // plant same-id shard debris: a writer that crashed mid-commit before
    // writing its root, whose snapshot id a retrying racer then committed
    // (reclaiming it takes the reference check, which is vacuum's job, so
    // commits stay O(commit))
    val debris = metaP.resolve(s"snap-$cur-shard-9-deadbeef.json")
    Files.writeString(debris, graft.table.MetaJson.manifestJson(Seq.empty))
    Files.setLastModifiedTime(debris, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 120000))
    st.append(pts.limit(10), "u-late", numPartitions = 1)
    assert(Files.exists(debris), "a commit must not pay the reference check")
    val removed = st.vacuum(olderThanMs = 100000)
    assert(removed.exists(_.endsWith(s"snap-$cur-shard-9-deadbeef.json")),
      s"vacuum missed the shard debris: $removed")
    assert(!Files.exists(debris), "unreferenced shard debris survived vacuum")
    // while every live carried shard survived it
    curShards.foreach(p => assert(Files.exists(metaP.resolve(p))))
    assert(st.read()._1.count() == pts.count() + 10)
  }

  test("expiry fails closed when a retained root is unreadable: no shard deleted") {
    // the reference set separating live carried shards from reclaimable
    // ones is the union of every RETAINED root's shard list — if any of
    // those roots cannot be read the set is UNKNOWN, and treating unknown
    // as empty would delete shards the unreadable root still references
    // (data loss on a transient IO error). Expiry must retire history but
    // touch no shard file until the roots read cleanly again.
    val root = tmp()
    val st = new SnapshotStore(spark, root, manifestShardRows = 3)
    (0 until 3).foreach(u =>
      st.append(pts.filter(col("id") % 3 === u), s"u-$u", numPartitions = 4))
    val metaP = java.nio.file.Paths.get(root, "meta")
    val cur = st.currentSnapshotId
    import scala.jdk.CollectionConverters._
    def shardFiles() = Files.list(metaP).iterator().asScala
      .filter(_.getFileName.toString.contains("-shard-")).map(_.getFileName.toString).toSet
    val before = shardFiles()
    assert(before.nonEmpty)
    // corrupt a RETAINED root (keepLast=2 keeps cur-1 and cur; cur-1 is
    // scanned for references when snap-1 expires)
    val victim = metaP.resolve(s"snap-${cur - 1}")
    val orig = Files.readString(victim)
    Files.writeString(victim, "{ not json")
    assert(st.expireSnapshots(keepLast = 2) == Seq(1L))
    assert(!Files.exists(metaP.resolve("snap-1")), "history must still retire")
    assert(shardFiles() == before,
      "fail-closed expiry deleted a shard file under an unreadable root")
    // repair the root: the table reads exactly, and the next maintenance
    // pass sees a clean reference set again
    Files.writeString(victim, orig)
    assert(st.read()._1.count() == pts.count())
    assert(st.expireSnapshots(keepLast = 1) == Seq(cur - 1))
    assert(st.read()._1.count() == pts.count())
  }

  /** meta/ of the store at `root` holds `current`, `table.json`, the
    * snapshot roots and exactly the files those roots name: no
    * subdirectory, nothing unreferenced. */
  private def assertMetaReachable(root: String): Unit = {
    val metaP = java.nio.file.Paths.get(root, "meta")
    val ls = Files.list(metaP)
    val entries = try ls.toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq
      finally ls.close()
    assert(!entries.exists(Files.isDirectory(_)), s"meta/ has a subdirectory: $entries")
    val names = entries.map(_.getFileName.toString).toSet
    val roots = names.filter(_.matches("snap-[0-9]+"))
    val named = roots.flatMap(r => graft.table.MetaJson.parseManifestRoot(
      Files.readString(metaP.resolve(r))).shards.flatMap(_.files))
    assert(names == Set("current", "table.json") ++ roots ++ named,
      s"unreferenced under meta/: ${names -- roots -- named - "current" - "table.json"}")
  }

  test("an append that always loses its commit leaves no stats file after vacuum") {
    // stats files are written by the commit, beside the shards the root
    // names: a commit that never lands leaves none behind, and vacuum
    // reclaims the loser's data dir
    val root = tmp()
    val st = new SnapshotStore(spark, root, bloomKey = Some("id"))
    st.append(pts.limit(20), "u-0", numPartitions = 1)
    val racer = new SnapshotStore(spark, root, bloomKey = Some("id"))
    var raced = 0
    st.afterParentCapture = () => {
      raced += 1
      racer.append(pts.limit(10), s"u-racer-$raced", numPartitions = 1); ()
    }
    intercept[java.util.ConcurrentModificationException] {
      st.append(pts.limit(30), "u-loser", numPartitions = 1)
    }
    st.afterParentCapture = () => ()
    assert(raced == 6, s"$raced attempts: one plus five retries")
    assert(!st.committedLineage.contains("u-loser"))
    st.vacuum(0L)
    assertMetaReachable(root)
    val ls = Files.list(java.nio.file.Paths.get(root, "data"))
    val dirs = try ls.toArray.map(_.toString).toSeq finally ls.close()
    assert(!dirs.exists(_.contains("u-loser-")), s"loser's unit survived vacuum: $dirs")
    assert(st.read()._1.count() == 20 + 6 * 10)
  }

  test("stats lifecycle: after delete, compact, expiry and vacuum meta/ holds only what the root names") {
    import graft.index.GlobalIndex
    val root = tmp()
    val st = new SnapshotStore(spark, root, bloomKey = Some("id"))
    (0 until 3).foreach(u =>
      st.append(pts.filter(col("id") % 3 === u), s"u-$u", numPartitions = 4))
    st.deleteWhere(col("id") % 7 === 0, "del-0")
    st.compact(numPartitions = 8)
    // expiry alone already takes the expired shards' stats files along
    st.expireSnapshots(keepLast = 1)
    assertMetaReachable(root)
    st.vacuum(0L)
    assertMetaReachable(root)
    val metaP = java.nio.file.Paths.get(root, "meta")
    val cur = st.currentSnapshotId
    val ls = Files.list(metaP)
    val names = try ls.toArray.map(_.asInstanceOf[java.nio.file.Path]
      .getFileName.toString).toSet finally ls.close()
    val shards = graft.table.MetaJson.parseManifestRoot(
      Files.readString(metaP.resolve(s"snap-$cur"))).shards
    assert(shards.forall(_.bloom.nonEmpty))
    assert(names == Set("current", "table.json", s"snap-$cur") ++ shards.flatMap(_.files))
    // the reachable stats still prune, and answers match brute force
    val live = st.read()._1
    val id = live.select("id").head().getLong(0)
    val (hit, kept, total) = st.lookupByKey(Seq(id))
    assert(kept < total, s"lookup opened all $total files")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(hit) == ids(live.filter(col("id") === id)))
    val (qLat, qLon, k) = (graft.data.Fixtures.knnPoint._1,
      graft.data.Fixtures.knnPoint._2, graft.data.Fixtures.knnK)
    val (knn, kKept, kTotal) = GlobalIndex.knnStoredPruned(st, qLat, qLon, k)
    assert(kKept < kTotal, s"stored kNN opened all $kTotal files")
    def ranked(d: org.apache.spark.sql.DataFrame) = d
      .select("rank", "id", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(ranked(knn) == ranked(graft.ops.SpatialOps.knnSerial(live, qLat, qLon, k)))
  }

  test("a stats file the root names but the disk lacks fails the read naming its path") {
    val root = tmp()
    val st = new SnapshotStore(spark, root, bloomKey = Some("id"))
    st.append(pts.limit(50), "u-0", numPartitions = 2)
    val metaP = java.nio.file.Paths.get(root, "meta")
    val Seq(sm) = graft.table.MetaJson.parseManifestRoot(
      Files.readString(metaP.resolve(s"snap-${st.currentSnapshotId}"))).shards
    Files.delete(metaP.resolve(sm.bloom.get))
    val onLookup = intercept[java.nio.file.NoSuchFileException](st.lookupByKey(Seq(1L)))
    assert(onLookup.getMessage.contains(sm.bloom.get), onLookup.getMessage)
    Files.delete(metaP.resolve(sm.index))
    for (e <- Seq(
        intercept[java.nio.file.NoSuchFileException](st.indexLeaves()),
        intercept[java.nio.file.NoSuchFileException](st.hotCells(4)),
        intercept[java.nio.file.NoSuchFileException](graft.index.GlobalIndex.fromStore(st))))
      assert(e.getMessage.contains(sm.index), e.getMessage)
  }

  test("committedLineage from the root's shard summaries == full parse") {
    // the streaming-ingest idempotence check runs per MICRO-BATCH — on a
    // summarized two-level root it must read KBs (root only)
    val root = tmp()
    val st = new SnapshotStore(spark, root, manifestShardRows = 3)
    (0 until 3).foreach(u =>
      st.append(pts.filter(col("id") % 3 === u), s"u-$u", numPartitions = 4))
    st.deleteWhere(col("id") % 7 === 0, "del-0")
    val mr = graft.table.MetaJson.parseManifestRoot(Files.readString(
      java.nio.file.Paths.get(root, "meta", s"snap-${st.currentSnapshotId}")))
    val full = st.manifest().map(_.lineageId).toSet ++ mr.folded
    assert(Seq("u-0", "u-1", "u-2", "del-0").forall(full.contains))
    assert(mr.shards.nonEmpty)
    assert(st.committedLineage == full)
    // and resumableRun's skip contract holds on the summarized table
    val ran = st.resumableRun(Seq("u-0", "u-late")) { _ => pts.limit(5) }
    assert(ran == Seq("u-late"))
  }

  test("stored-table rangeBox (q09d path): files pruned at two scales, rows exact") {
    // round-3 verdict ask #4: the headline spatial query THROUGH the
    // stored table, with observed filesRead < totalFiles on the operator
    // path — at 100 TB the manifest prune IS the query plan
    import graft.ops.SpatialOps
    val b = graft.data.Fixtures.boxes.head._2
    for ((sf, parts) <- Seq(("sf0.001", 8), ("sf0.01", 16))) {
      val src = Points(spark, s"/root/testdata/$sf")
      val st = new SnapshotStore(spark, tmp())
      st.append(src, "unit-all", numPartitions = parts)
      val (df, kept, total) = st.read(Some(b))
      assert(kept < total, s"$sf: box read opened all $total files")
      val got = SpatialOps.rangeBox(df, b, SpatialOps.resolveRes(st, Seq(b)))
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      val exp = SpatialOps.rangeBox(src, b)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == exp, s"$sf: stored-table rangeBox diverged")
    }
  }

  test("stored-table boxJoin (q09e path): multi-box read prunes files at two scales, join exact") {
    // round-4 verdict ask #3: the JOIN family gets the same file-level
    // subtree prune the single-box path has — a file disjoint from EVERY
    // box never opens, and the joined rows are identical to the raw-table
    // operator's
    import graft.ops.SpatialOps
    val boxes = graft.data.Fixtures.boxes
    for ((sf, parts) <- Seq(("sf0.001", 32), ("sf0.01", 64))) {
      val src = Points(spark, s"/root/testdata/$sf")
      val st = new SnapshotStore(spark, tmp())
      st.append(src, "unit-all", numPartitions = parts)
      val (df, kept, total) = st.readBoxes(boxes.map(_._2))
      // the 8 fixture boxes are scattered globe-wide, so their union
      // touches most coarse files — the file skip becomes observable at
      // realistic file counts (finer MBRs), which is the design point:
      // at 100 TB a table has 10^5 files, not 8
      assert(kept < total, s"$sf: multi-box read opened all $total files")
      def norm(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
      val got = norm(SpatialOps.boxJoin(df, boxes,
        SpatialOps.resolveRes(st, boxes.map(_._2))))
      assert(got == norm(SpatialOps.boxJoin(src, boxes)),
        s"$sf: stored-table boxJoin diverged")
    }
  }

  test("stored-table PIP join (q17c path): bbox-pruned read, join exact") {
    // same contract as the q09e spec, for the polygon family: a file
    // disjoint from EVERY polygon bbox never opens, and the joined rows
    // match the raw-table operator's exactly (covering prune + even-odd
    // refine are downstream of the read, so pruning cannot change them)
    import graft.ops.SpatialOps
    val polys = graft.data.Fixtures.polys
    val bboxes = polys.map(_._2.bbox)
    val src = Points(spark, "/root/testdata/sf0.01")
    val st = new SnapshotStore(spark, tmp())
    // 32 files: layout-robust prune margin (see q10f note below)
    st.append(src, "unit-all", numPartitions = 32)
    val (df, kept, total) = st.readBoxes(bboxes)
    assert(kept < total, s"bbox read opened all $total files")
    def norm(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    val got = norm(SpatialOps.pipJoin(df, polys,
      SpatialOps.resolveRes(st, bboxes)))
    assert(got == norm(SpatialOps.pipJoin(src, polys)),
      "stored-table pipJoin diverged")
  }

  test("stored-table kNN join (q10f path): per-query pruned balls, exact under tombstones") {
    import graft.index.GlobalIndex
    import graft.ops.SpatialOps
    val (qs, k) = (graft.data.Fixtures.knnQueries, graft.data.Fixtures.knnJoinK)
    val st = new SnapshotStore(spark, tmp())
    // 32 files, not 8: repartitionByRange boundaries drift with the
    // session's RDD-id history (sampling seed), and the union of 20 query
    // balls can touch all 8 coarse files under an unlucky layout — at
    // realistic file counts the skip is layout-robust (the design point)
    st.append(pts, "unit-all", numPartitions = 32)
    def norm(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val (df, kept, total) = GlobalIndex.knnJoinStoredPruned(st, qs, k)
    assert(kept < total, s"stored kNN join opened all $total files")
    assert(norm(df) == norm(SpatialOps.knnJoinAgg(pts, qs, k)))
    // deleted positions leave the index leaves as written: the per-file
    // deleted counts must keep every query's bound, and the join, exact
    st.deleteWhere(col("id") % 3 === 0, "del-0")
    val live = st.read()._1
    assert(norm(GlobalIndex.knnJoinStored(st, qs, k)) ==
      norm(SpatialOps.knnJoinAgg(live, qs, k)))
  }

  test("persisted index summaries: fromStore plans kNN with zero rebuild; files pruned") {
    import graft.index.GlobalIndex
    val st = new SnapshotStore(spark, tmp())
    st.append(pts, "unit-all", numPartitions = 8)
    val gi = GlobalIndex.fromStore(st)
    // summaries cover every live row and every leaf MBR is consistent
    assert(gi.totalRows == pts.count())
    assert(gi.parts.forall(p => p.leaves.forall(l =>
      l.count == 0 || (l.minLat <= l.maxLat && l.minLon <= l.maxLon))))
    val (qLat, qLon, k) = (graft.data.Fixtures.knnPoint._1,
      graft.data.Fixtures.knnPoint._2, graft.data.Fixtures.knnK)
    val (df, kept, total) = GlobalIndex.knnStoredPruned(st, qLat, qLon, k)
    assert(kept < total, s"stored kNN opened all $total files")
    def norm(d: org.apache.spark.sql.DataFrame) = d
      .select("rank", "id", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(norm(df) == norm(graft.ops.SpatialOps.knnSerial(pts, qLat, qLon, k)))
    // deleted positions leave the index leaves as written — the per-file
    // deleted counts must keep the bound, and the result, exact
    st.deleteWhere(col("id") % 3 === 0, "del-0")
    val live = st.read()._1
    // every row has coordinates, so the index counts every live row once
    assert(GlobalIndex.fromStore(st).totalRows == st.totalRows)
    assert(norm(GlobalIndex.knnStored(st, qLat, qLon, k)) ==
      norm(graft.ops.SpatialOps.knnSerial(live, qLat, qLon, k)))
    // compaction rewrites the sidecars; the index follows the new layout
    st.compact(numPartitions = 4)
    assert(GlobalIndex.fromStore(st).totalRows == live.count())
    assert(norm(GlobalIndex.knnStored(st, qLat, qLon, k)) ==
      norm(graft.ops.SpatialOps.knnSerial(live, qLat, qLon, k)))
  }

  test("stored kNN with the k nearest rows deleted: exact from the one pruned read it reports") {
    import graft.index.GlobalIndex
    val (qLat, qLon, k) = (graft.data.Fixtures.knnPoint._1,
      graft.data.Fixtures.knnPoint._2, graft.data.Fixtures.knnK)
    val st = new SnapshotStore(spark, tmp())
    st.append(pts, "unit-all", numPartitions = 32)
    val d2 = graft.geo.GeoCols.d2(col("lat"), col("lon"), qLat, qLon)
    // every row at most the kth distance away: the k nearest, ties included
    val dk = graft.ops.SpatialOps.knnSerial(pts, qLat, qLon, k).select(max("d2")).head().getDouble(0)
    st.deleteWhere(d2 <= lit(dk), "del-nearest")
    val live = st.read()._1
    assert(live.count() == pts.count() - pts.filter(d2 <= lit(dk)).count())
    def ranked(d: org.apache.spark.sql.DataFrame) = d
      .select("rank", "id", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val (df, kept, total) = GlobalIndex.knnStoredPruned(st, qLat, qLon, k)
    assert(ranked(df) == ranked(graft.ops.SpatialOps.knnSerial(live, qLat, qLon, k)))
    // the counts are those of the box read the seed radius plans — no
    // second, wider read stands behind the result
    val rad = GlobalIndex.fromStore(st).knnSeedRadius(qLat, qLon, k)
    assert(rad < Double.MaxValue)
    val (_, boxKept, boxTotal) = st.readAt(st.currentSnapshotId,
      Some(MBR(qLat - rad, qLon - rad, qLat + rad, qLon + rad)))
    assert((kept, total) == (boxKept, boxTotal))
    assert(kept < total, s"stored kNN opened all $total files")
  }

  test("equality delete derives its key from the table schema (no id/lat/lon assumption)") {
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    val images = Synth.imagePoints(Synth.table(spark, 24, seed = 5L).toDF())
    st.append(images, "img-0") // columns: image_id, bytes, w, h, fmt, caption, phash, lat, lon
    val victim = images.select("image_id").collect().map(_.getString(0)).sorted.head
    st.deleteWhere(col("image_id") === victim, "del-img") // old code threw here
    val back = st.read()._1
    assert(back.count() == 23)
    assert(back.filter(col("image_id") === victim).count() == 0)
    // binary payload excluded from the key but intact in surviving rows
    val r = back.orderBy("image_id").select("bytes", "phash").head()
    assert(graft.img.Codec.pHash64(graft.img.Codec.decode(r.getAs[Array[Byte]](0))) == r.getLong(1))
    // compact folds the delete in
    st.compact(numPartitions = 2)
    assert(shardRows(root).forall(_.dv.isEmpty))
    assert(st.read()._1.count() == 23)
  }

  private def deleteDir(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(f =>
      try Files.delete(f) catch { case _: Throwable => () })
  }

  test("write-time hot-cell stats: rollup == query-time histogram; salted join exact") {
    import graft.ops.SpatialOps
    // skewed cloud: 30% of rows share one phash → one planted hot cell
    val skewed = Synth.imagePoints(
        Synth.table(spark, 4000, seed = 7L, hotspotFrac = 0.3).toDF())
      .withColumn("id", xxhash64(col("image_id")))
      .select("id", "lat", "lon")
    val st = new SnapshotStore(spark, tmp())
    st.append(skewed, "u-0", numPartitions = 4)
    def liveHot(r: Int) = SpatialOps.hotCellsFromHistogram(
      SpatialOps.tileHistogram(skewed, r), 0.05)
    // coarser than histRes: parent rollup, exact vs a query-time scan
    val r = graft.data.Fixtures.JoinRes
    assert(liveHot(r).nonEmpty)
    assert(st.hotCells(r, 0.05) == liveHot(r))
    // at histRes: direct
    assert(st.hotCells(SnapshotStore.DefaultHistRes, 0.05) ==
      liveHot(SnapshotStore.DefaultHistRes))
    // finer than histRes: descendant expansion is a superset of truly hot
    assert(liveHot(10).subsetOf(st.hotCells(10, 0.05)))
    // the salted join fed by WRITE-TIME stats == the plain join (no
    // query-time histogram scan anywhere on this path)
    val (tbl, _, _) = st.read()
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => (x.getInt(0), x.getLong(1))).sortBy(t => t).toSeq
    val boxes = graft.data.Fixtures.boxes
    assert(norm(SpatialOps.boxJoinSalted(tbl, boxes,
        hotCells = Some((r, st.hotCells(r))))) ==
      norm(SpatialOps.boxJoin(tbl, boxes, r)))
    // deletes keep the hint an upper bound; compaction tightens it exact
    st.deleteWhere(col("id") % 2 === 0, "del-0")
    assert(liveHot(r).subsetOf(st.hotCells(r, 0.05)))
    st.compact(numPartitions = 2)
    val liveAfter = SpatialOps.hotCellsFromHistogram(
      SpatialOps.tileHistogram(st.read()._1, r), 0.05)
    assert(st.hotCells(r, 0.05) == liveAfter)
  }

  test("re-insert after equality delete stays live (sequence-scoped tombstones)") {
    import spark.implicits._
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    val r = Seq((1L, 10.0, 20.0), (2L, -5.0, 30.0))
    st.append(r.toDF("id", "lat", "lon"), "u-0", numPartitions = 1)
    st.deleteWhere(col("id") === 1L, "del-0")
    assert(st.read()._1.select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // legitimate re-insert of the SAME row after its delete: the delete
    // was committed earlier, so it must not reach forward in time
    st.append(Seq((1L, 10.0, 20.0)).toDF("id", "lat", "lon"), "u-1",
      numPartitions = 1)
    def ids = st.read()._1.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L), s"re-inserted row lost: $ids")
    // a SECOND delete after the re-insert applies to everything before it
    st.deleteWhere(col("id") === 1L, "del-1")
    assert(ids == Seq(2L))
    // box reads apply the same sequence scoping through the pruned path
    st.append(Seq((1L, 10.0, 20.0)).toDF("id", "lat", "lon"), "u-2",
      numPartitions = 1)
    val boxed = st.read(Some(MBR(0.0, 0.0, 20.0, 40.0)))._1
      .filter(col("lat").between(0.0, 20.0) && col("lon").between(0.0, 40.0))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(boxed == Seq(1L), s"boxed read broke sequencing: $boxed")
    // and compaction preserves exactly the sequence-scoped result
    st.compact(numPartitions = 1)
    assert(ids == Seq(1L, 2L))
    assert(shardRows(root).forall(_.dv.isEmpty))
  }

  test("a delete removes a row whose non-key columns are null") {
    import spark.implicits._
    val st = new SnapshotStore(spark, tmp())
    val rows = Seq((1L, Some(10.0), Some(20.0)), (2L, None, None), (3L, Some(-5.0), Some(30.0)))
    st.append(rows.toDF("id", "lat", "lon"), "u-0", numPartitions = 1)
    st.deleteWhere(col("id") === 2L, "del-0")
    def ids = st.read()._1.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 3L), s"the row with null coordinates survived: $ids")
    assert(st.totalRows == 2L)
    st.compact(numPartitions = 1)
    assert(ids == Seq(1L, 3L))
  }

  test("a delete on a binary column removes exactly the rows it matches") {
    import spark.implicits._
    val st = new SnapshotStore(spark, tmp())
    val rows = Seq((7L, 1.0, 2.0, Array[Byte](1)), (7L, 1.0, 2.0, Array[Byte](2)))
    st.append(rows.toDF("id", "lat", "lon", "blob"), "u-0", numPartitions = 1)
    st.deleteWhere(col("blob") === lit(Array[Byte](1)), "del-0")
    val left = st.read()._1.select("blob").collect().map(_.getAs[Array[Byte]](0).toSeq).toSeq
    assert(left == Seq(Seq[Byte](2)), s"rows left: $left")
    assert(st.totalRows == 1L)
  }

  test("compaction fails loudly when a unit commits mid-rewrite; nothing is lost") {
    val st = new SnapshotStore(spark, tmp())
    st.append(pts.limit(100), "u-0", numPartitions = 2)
    // the racer: a streaming micro-batch landing between compact's rewrite
    // and its replacing commit — silently absorbing it would drop its rows
    // while marking its lineage committed (re-delivery would skip it)
    val thrown = intercept[java.util.ConcurrentModificationException] {
      st.compactHooked(2, () => { st.append(pts.limit(40), "racer", 1); () })
    }
    assert(thrown.getMessage.contains("advanced"))
    // both units intact, racer's lineage present exactly once
    assert(st.read()._1.count() == 140)
    assert(st.committedLineage == Set("u-0", "racer"))
    // the failed compaction left no half-committed state: retry succeeds
    st.compact(numPartitions = 2)
    assert(st.read()._1.count() == 140)
    assert(st.committedLineage.contains("racer"))
  }

  test("fast-append retry: a losing append rebases onto the racer's commit") {
    val st = new SnapshotStore(spark, tmp())
    st.append(pts.limit(100), "u-base", numPartitions = 1)
    // the racer lands in the exact window between the loser's parent
    // capture and its tripwire write (afterParentCapture seam) — the
    // loser's data files and sidecars are already on disk, so the commit
    // rebases onto snap-2 and retries instead of surfacing the CME
    var fires = 0
    st.afterParentCapture = () => {
      fires += 1
      if (fires == 1) { st.append(pts.limit(40), "u-racer", numPartitions = 1); () }
    }
    val snap = st.append(pts.limit(30), "u-slow", numPartitions = 1)
    // fires: loser attempt 1 (plants racer) + racer's own commit + loser retry
    assert(fires == 3, s"retry never re-entered commit (fires=$fires)")
    assert(snap == 3L && st.currentSnapshotId == 3L)
    assert(st.committedLineage == Set("u-base", "u-racer", "u-slow"))
    assert(st.read()._1.count() == 170)
  }

  test("an append whose parent is expired before it reads the parent root rebases") {
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    st.append(pts.limit(100), "u-base", numPartitions = 1)
    val racer = new SnapshotStore(spark, root)
    var fires = 0
    // after the parent capture, another instance commits past the parent
    // and expires it, so the append's read of the parent root finds nothing
    st.afterParentCapture = () => {
      fires += 1
      if (fires == 1) {
        racer.append(pts.limit(40), "u-racer", numPartitions = 1)
        assert(racer.expireSnapshots(keepLast = 1) == Seq(1L)); ()
      }
    }
    assert(st.append(pts.limit(30), "u-slow", numPartitions = 1) == 3L)
    assert(fires == 2, s"the append did not retry (fires=$fires)")
    assert(st.committedLineage == Set("u-base", "u-racer", "u-slow"))
    assert(st.read()._1.count() == 170)
  }

  test("a lagging, expired or missing current hint resolves to the greatest root") {
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    (0 until 4).foreach(u =>
      st.append(pts.filter(col("id") % 5 === u), s"u-$u", numPartitions = 1))
    val hint = java.nio.file.Paths.get(root, "meta", "current")
    def resolved(): Seq[Long] =
      Seq(st.currentSnapshotId, new SnapshotStore(spark, root).currentSnapshotId)
    Files.writeString(hint, "2") // lags by 2
    assert(resolved() == Seq(4L, 4L))
    assert(st.expireSnapshots(keepLast = 2) == Seq(1L, 2L))
    assert(Files.readString(hint).trim == "4", "expiry points the hint at a kept root")
    Files.writeString(hint, "1") // names an expired root
    assert(resolved() == Seq(4L, 4L))
    Files.delete(hint)
    assert(resolved() == Seq(4L, 4L))
    assert(st.read()._1.count() == pts.filter(col("id") % 5 =!= 4).count())
    // a commit resolves its parent the same way, and writes the hint again
    assert(st.append(pts.filter(col("id") % 5 === 4), "u-4", numPartitions = 1) == 5)
    assert(Files.readString(hint).trim == "5")
    assert(st.read()._1.count() == pts.count())
  }

  test("a writer stalled before its link rebases while a racer commits and expires") {
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    st.append(pts.filter(col("id") % 4 === 0), "u-0", numPartitions = 1)
    val racer = new SnapshotStore(spark, root)
    val seen = scala.collection.mutable.ArrayBuffer(st.currentSnapshotId)
    def sample(): Unit = seen ++= Seq(st.currentSnapshotId, racer.currentSnapshotId)
    def backDate(dir: String): Unit = {
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 10 * 60 * 1000)
      val w = Files.walk(java.nio.file.Paths.get(root, dir))
      try w.toArray.foreach(p => Files.setLastModifiedTime(p.asInstanceOf[java.nio.file.Path], old))
      finally w.close()
    }
    var stalls = 0
    // the stall: every file of this commit is written (snap-2's shard,
    // stats and temporary root), but snap-2 is not linked yet
    st.beforeLink = () => {
      stalls += 1
      if (stalls == 1) {
        backDate("meta"); backDate("data")
        racer.append(pts.filter(col("id") % 4 === 1), "r-1", numPartitions = 1); sample()
        racer.append(pts.filter(col("id") % 4 === 2), "r-2", numPartitions = 1); sample()
        // the default vacuum: vacuum(0L) would also reclaim this append's
        // own data dir, which no root names yet
        racer.vacuum(); sample()
        racer.expireSnapshots(1); sample()
      }
    }
    val id = st.append(pts.filter(col("id") % 4 === 3), "u-stalled", numPartitions = 1)
    st.beforeLink = () => ()
    sample()
    assert(stalls == 2, s"$stalls attempts: the stalled one and its rebase")
    assert(id == 4L && st.currentSnapshotId == 4L)
    assert(seen == seen.sorted, s"the current id moved backwards: $seen")
    assert(st.manifest(id).map(_.lineageId).toSet == Set("u-0", "r-1", "r-2", "u-stalled"))
    assert(st.committedLineage == Set("u-0", "r-1", "r-2", "u-stalled"))
    def ids(s: SnapshotStore) = s.read()._1.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = pts.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(st) == want && ids(racer) == want)
  }

  test("time travel (readAt) and incremental consumption (appendedSince)") {
    import spark.implicits._
    val st = new SnapshotStore(spark, tmp())
    def unit(ids: Long*) = ids.map(i => (i, i * 1.0, i * 2.0)).toDF("id", "lat", "lon")
    st.append(unit(1, 2), "u-0", 1)     // snap 1
    st.append(unit(3), "u-1", 1)        // snap 2
    st.deleteWhere(col("id") === 1L, "del-0") // snap 3
    st.append(unit(1, 4), "u-2", 1)     // snap 4 (re-insert + new row)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    // time travel: every snapshot stays queryable with its own delete scope
    assert(ids(st.readAt(1)._1) == Seq(1L, 2L))
    assert(ids(st.readAt(2)._1) == Seq(1L, 2L, 3L))
    assert(ids(st.readAt(3)._1) == Seq(2L, 3L))
    assert(ids(st.readAt(4)._1) == Seq(1L, 2L, 3L, 4L))
    assert(ids(st.read()._1) == ids(st.readAt(4)._1))
    // incremental: exactly the rows appended in the window, deletes not applied
    assert(ids(st.appendedSince(0, 2)) == Seq(1L, 2L, 3L))
    assert(ids(st.appendedSince(2)) == Seq(1L, 4L))
    assert(st.appendedSince(4).count() == 0)
    // compaction breaks append-only increments: refuse, don't replay
    st.compact(numPartitions = 1)
    intercept[IllegalArgumentException] { st.appendedSince(2) }
    // ...but a fresh baseline from the compacted snapshot works
    val snapC = st.currentSnapshotId
    st.append(unit(9), "u-3", 1)
    assert(ids(st.appendedSince(snapC)) == Seq(9L))
  }

  test("vacuum removes only unreferenced data dirs; time travel survives") {
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    st.append(pts.limit(100), "u-0", numPartitions = 2)
    st.append(pts.limit(50), "u-1", numPartitions = 2)
    st.compact(numPartitions = 2) // pre-compact files now referenced only by old snaps
    // simulate an append that crashed before its commit: a written,
    // never-referenced unit dir (old enough to clear the age gate)
    val debris = java.nio.file.Paths.get(root, "data", "crashed-deadbeef")
    Files.createDirectories(debris)
    Files.writeString(debris.resolve("part-0.parquet"), "junk")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * 3600 * 1000)
    Seq(debris.resolve("part-0.parquet"), debris)
      .foreach(p => Files.setLastModifiedTime(p, old))
    // also backdate the LIVE dirs — vacuum must keep them because they
    // are referenced, not because they are fresh
    def backdateAll(): Unit = {
      val s = Files.walk(java.nio.file.Paths.get(root, "data"))
      val all = try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq } finally s.close()
      all.foreach(p => Files.setLastModifiedTime(p, old))
    }
    backdateAll()
    val removed = st.vacuum(olderThanMs = 60000)
    assert(removed == Seq(debris.toString))
    assert(st.read()._1.count() == 150)
    // pre-compaction snapshots still readable (their files were kept)
    val preCompact = st.manifest(2).filter(_.path.nonEmpty).map(_.path)
    assert(preCompact.nonEmpty)
    assert(spark.read.parquet(preCompact: _*).count() == 150)
  }

  test("expireSnapshots + vacuum complete the lifecycle: history retired, storage reclaimed") {
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    (0 until 3).foreach(u =>
      st.append(pts.filter(org.apache.spark.sql.functions.pmod(col("id"),
        org.apache.spark.sql.functions.lit(3)) === u), s"u-$u", numPartitions = 2))
    st.compact(numPartitions = 2) // current = 4; units 1-3 referenced only by history
    val before = st.read()._1.select("id", "lat", "lon").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
    def backdateAll(): Unit = {
      val s = Files.walk(java.nio.file.Paths.get(root, "data"))
      val all = try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq } finally s.close()
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2 * 3600 * 1000)
      all.foreach(p => Files.setLastModifiedTime(p, old))
    }
    backdateAll()
    // history pins the pre-compaction units: vacuum reclaims nothing
    assert(st.vacuum(olderThanMs = 60000).isEmpty)
    assert(st.expireSnapshots(keepLast = 1) == Seq(1L, 2L, 3L))
    // expiring again is a no-op; current snapshot always survives
    assert(st.expireSnapshots(keepLast = 1).isEmpty)
    intercept[IllegalStateException](st.readAt(2))
    val removed = st.vacuum(olderThanMs = 60000)
    assert(removed.size == 3, s"expected the 3 pre-compaction units, got $removed")
    val after = st.read()._1.select("id", "lat", "lon").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
    assert(after == before)
    intercept[IllegalArgumentException](st.expireSnapshots(keepLast = 0))
  }

  test("append job budget: clustered write + one stats pass; metadata reads cost zero jobs") {
    // the commit-protocol claim, pinned: an append runs ONE Spark query —
    // the clustered write (range sampling + shuffle + write stage-jobs
    // under AQE), whose tasks also compute every stat and Bloom bitset —
    // for a long and a string Bloom key alike; and manifest / lineage /
    // hotCells / index reads are pure driver IO — ZERO Spark jobs
    def jobsOf(group: String)(body: => Unit): Int = {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    }
    pts.count() // fill the cached fixture: count only the append's own jobs
    val st = new SnapshotStore(spark, tmp())
    val appendJobs = jobsOf("r4-append") {
      st.append(pts.limit(300), "u-0", numPartitions = 2)
    }
    val strSt = new SnapshotStore(spark, tmp(), bloomKey = Some("sid"))
    val strAppendJobs = jobsOf("r4-append-str") {
      strSt.append(pts.limit(300).withColumn("sid", concat(lit("p"), col("id"))),
        "u-0", numPartitions = 2)
    }
    for (jobs <- Seq(appendJobs, strAppendJobs))
      assert(jobs >= 2 && jobs <= 4,
        s"append ran $jobs jobs — the one-query commit contract is broken")
    // planning a read is metadata too: every scan comes from the pinned
    // schema, never a footer-inference job. The serve shape: a Bloom key,
    // 3 units, 2 deletes, ≤ 32 files per scan
    val svRoot = tmp()
    val sv = new SnapshotStore(spark, svRoot, bloomKey = Some("id"))
    (0 until 3).foreach(u =>
      sv.append(pts.filter(col("id") % 3 === u), s"u-$u", numPartitions = 4))
    val box = MBR(10.0, 30.0, 25.0, 60.0)
    val inBox = graft.geo.GeoCols.inBox(col("lat"), col("lon"), box)
    def dataDirs(): Set[String] = {
      val ls = Files.list(java.nio.file.Paths.get(svRoot, "data"))
      try ls.toArray.map(_.toString).toSet finally ls.close()
    }
    val dirsBefore = dataDirs()
    // a delete is ONE Spark job (the position scan) and writes no data dir
    val deleteJobs = jobsOf("r4-delete") { sv.deleteWhere(inBox, "del-box"); () }
    assert(deleteJobs == 1, s"deleteWhere ran $deleteJobs jobs")
    assert(dataDirs() == dirsBefore, "deleteWhere wrote a data dir")
    val Array(hit, gone) = sv.read()._1.select("id").head(2).map(_.getLong(0))
    sv.deleteWhere(col("id") === gone, "del-id")
    val dead = pts.filter(inBox || col("id") === gone).count()
    val svShards = shardRows(svRoot)
    assert(svShards.exists(_.dv.nonEmpty) && svShards.map(_.deleted).sum == dead &&
      sv.manifest().size <= 32)
    val metaJobs = jobsOf("r4-meta") {
      st.manifest(); st.committedLineage; st.totalRows
      st.hotCells(graft.data.Fixtures.JoinRes)
      st.indexLeaves()
      graft.index.GlobalIndex.fromStore(st)
      sv.read(Some(box)); sv.read()
      sv.readBoxes(Seq(box, MBR(-40.0, -120.0, -20.0, -90.0)))
      sv.readAt(sv.currentSnapshotId - 1, Some(box))
      sv.lookupByKey(Seq(hit)); sv.lookupByKey(Seq(Long.MinValue))
      sv.appendedSince(1); sv.appendedSince(sv.currentSnapshotId)
    }
    assert(metaJobs == 0,
      s"metadata reads ran $metaJobs Spark jobs — manifests/sidecars/read plans must be driver IO")
  }

  test("the first commit pins the schema: a wider or retyped unit is refused and leaves nothing behind") {
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    val base = pts.filter(col("id") % 50 === 0) // same rows on every evaluation
    st.append(base, "u-0", numPartitions = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("id", "lat", "lon")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
    def unitDirs(r: String): Set[String] = {
      val ls = Files.list(java.nio.file.Paths.get(r, "data"))
      try ls.toArray.map(_.toString).toSet finally ls.close()
    }
    val want = rows(st.read()._1)
    assert(want.nonEmpty)
    val dirs = unitDirs(root)
    for ((name, bad) <- Seq("wider" -> base.withColumn("extra", lit(1)),
                            "retyped" -> base.withColumn("id", col("id").cast("string")))) {
      val e = intercept[IllegalArgumentException](st.append(bad, s"u-$name", numPartitions = 2))
      assert(e.getMessage.contains("pins schema"), e.getMessage)
      assert(st.currentSnapshotId == 1 && st.committedLineage == Set("u-0"))
      assert(unitDirs(root) == dirs, s"$name unit left files behind")
      assert(rows(st.read()._1) == want)
    }
    // column order and nullability are not part of the schema: parquet
    // resolves columns by name and reads every column as nullable
    st.append(base.select("lon", "lat", "id"), "u-reordered", numPartitions = 1)
    assert(st.read()._1.columns.toSeq == Seq("id", "lat", "lon"))
    assert(rows(st.read()._1) == (want ++ want).sorted)
    // two stores on one empty root: both pass the pre-write check, so the
    // loser must fail at COMMIT against the winner's pin — as the curve does
    val raceRoot = tmp()
    val winner = new SnapshotStore(spark, raceRoot)
    val loser = new SnapshotStore(spark, raceRoot)
    var fired = false
    loser.afterParentCapture = () =>
      if (!fired) { fired = true; winner.append(base, "w-0", numPartitions = 1); () }
    val e = intercept[IllegalArgumentException](
      loser.append(base.withColumn("extra", lit(1)), "l-0", numPartitions = 1))
    assert(fired && e.getMessage.contains("pins schema"))
    assert(loser.committedLineage == Set("w-0"))
    assert(rows(loser.read()._1) == want)
  }

  test("image table through the store: payload intact after cluster+commit") {
    val root = tmp()
    val st = new SnapshotStore(spark, root)
    val images = Synth.imagePoints(Synth.table(spark, 32, seed = 9L).toDF())
    st.append(images, "img-0")
    val (df, _, _) = st.read()
    val rows = df.select("image_id", "bytes", "phash", "caption").collect()
    assert(rows.length == 32)
    for (r <- rows) {
      val dec = graft.img.Codec.decode(r.getAs[Array[Byte]](1))
      assert(graft.img.Codec.pHash64(dec) == r.getLong(2))
      val i = r.getString(0).drop(3).toLong
      assert(r.getString(3) == Synth.caption(r.getString(0), graft.img.Codec.mix(9L ^ i)))
    }
  }

  test("withHilbert Column == CellId.hilbertD JVM walk (bit parity, edges included)") {
    import spark.implicits._
    val edge = Seq((90.0, 180.0), (-90.0, -180.0), (90.0, -180.0), (0.0, 0.0))
      .toDF("lat", "lon")
    val df = pts.select("lat", "lon").unionAll(edge).repartition(4)
    for (r <- Seq(5, 12)) {
      val got = graft.geo.GeoCols
        .withHilbert(df, col("lat"), col("lon"), r, "hd")
        .select("lat", "lon", "hd").collect()
      for (row <- got) {
        val exp = graft.geo.CellId.hilbert(row.getDouble(0), row.getDouble(1), r)
        assert(row.getLong(2) == exp, s"r=$r (${row.getDouble(0)},${row.getDouble(1)})")
      }
    }
  }

  test("str-curve store: identical content, box reads exact, pruning observable") {
    // the third curve mode end-to-end through the table layer: if the STR
    // covering ranges ever failed to cover a box, rows would vanish from
    // these exact reads
    def norm(df: org.apache.spark.sql.DataFrame) = df.select("id", "lat", "lon")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
    val sRoot = tmp()
    val sSt = new SnapshotStore(spark, sRoot, curve = "str")
    sSt.append(pts, "unit-0", numPartitions = 4)
    assert(norm(sSt.read()._1) == norm(pts))
    for ((_, b) <- graft.data.Fixtures.boxes.take(4)) {
      val inB = graft.geo.GeoCols.inBox(col("lat"), col("lon"), b)
      val (sDf, sKept, sTotal) = sSt.read(Some(b))
      assert(norm(sDf.filter(inB)) == norm(pts.filter(inB)), s"box $b")
      assert(sKept <= sTotal)
    }
    // the small demo box must skip files under the strip layout too
    val (_, sk, stt) = sSt.read(Some(graft.data.Fixtures.demoBox))
    assert(sk < stt, s"str demo box read $sk/$stt files — no pruning?")
    // mismatched reopen fails fast (table meta pins the curve)
    intercept[IllegalArgumentException] {
      new SnapshotStore(spark, sRoot)
    }
    sSt.compact(numPartitions = 2)
    assert(norm(sSt.read()._1) == norm(pts))
  }

  test("hilbert-curve store: identical content, box reads exact, pruning observable") {
    def norm(df: org.apache.spark.sql.DataFrame) = df.select("id", "lat", "lon")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
    val zSt = new SnapshotStore(spark, tmp())
    val hSt = new SnapshotStore(spark, tmp(), curve = "hilbert")
    zSt.append(pts, "unit-0", numPartitions = 4)
    hSt.append(pts, "unit-0", numPartitions = 4)
    // full-scan content identity across curves
    assert(norm(hSt.read()._1) == norm(zSt.read()._1))
    // box reads: pruning path (file skip + curve-range refine) is a
    // superset, the exact filter on top lands the identical row set
    for ((_, b) <- graft.data.Fixtures.boxes.take(4)) {
      val inB = graft.geo.GeoCols.inBox(col("lat"), col("lon"), b)
      val (hDf, hKept, hTotal) = hSt.read(Some(b))
      val exp = norm(pts.filter(inB))
      assert(norm(hDf.filter(inB)) == exp, s"box $b")
      assert(hKept <= hTotal)
    }
    // the small demo box must actually skip files under either curve
    val demo = graft.data.Fixtures.demoBox
    val (_, hk, ht) = hSt.read(Some(demo))
    assert(hk < ht, s"hilbert demo box read $hk/$ht files — no pruning?")
    // compaction preserves content under the hilbert curve too
    hSt.compact(numPartitions = 2)
    assert(norm(hSt.read()._1) == norm(zSt.read()._1))
  }
}
