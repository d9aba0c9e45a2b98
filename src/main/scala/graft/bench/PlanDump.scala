package graft.bench
import graft.data.{Fixtures, Points, Synth}
import graft.ops.SpatialOps
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Writes `docs/PLANS.md` (relative to the working directory — run it from
  * the root of a checkout): the `.explain("formatted")` plans the scale
  * story depends on. Plans pass through [[normalize]], so two runs on one
  * commit write byte-identical files and a regenerated dump diffs only
  * where a plan changed. */
object PlanDump {

  /** Run-invariant form of an explain string: expression ids (`#123`),
    * `plan_id=`s, AQE query-stage ids (stages are numbered as they finish),
    * lambda class names and identity hashes, temp-dir names, the
    * per-write uuid segments of unit dirs and part files, and the
    * BroadcastQueryStage `sizeInBytes` estimates (they scale with the
    * driver heap) differ between two runs of the same plans. Codegen stage ids, also numbered in
    * finishing order under AQE, are renumbered by first appearance, which
    * keeps which operators share a stage. */
  def normalize(plan: String): String = {
    val tmp = java.util.regex.Pattern.quote(
      Paths.get(System.getProperty("java.io.tmpdir")).toString)
    val stages = scala.collection.mutable.HashMap.empty[String, Int]
    "\\[codegen id : (\\d+)\\]".r.replaceAllIn(plan, m =>
        s"[codegen id : ${stages.getOrElseUpdate(m.group(1), stages.size + 1)}]")
      .replaceAll("#\\d+", "#N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("(QueryStage\\nOutput \\[\\d+\\]: [^\\n]*\\nArguments: )\\d+", "$1N")
      .replaceAll("(BroadcastQueryStage \\(\\d+\\), Statistics\\(sizeInBytes=)[^,)]+", "$1N")
      .replaceAll("\\$Lambda[^\\s,@]*@[0-9a-f]+", "\\$Lambda")
      .replaceAll(tmp + "/([A-Za-z_]+?)\\d+(?=/|\\])", "<tmp>/$1")
      .replaceAll("(/data/[^/\\s,\\]]+)-[0-9a-f]{8}/", "$1-<uuid>/")
      .replaceAll("part-(\\d+)-[0-9a-f]{8}-t\\d+", "part-$1-<uuid>-t<n>")
  }

  def main(args: Array[String]): Unit = {
    val s = Headline.session(8)
    s.sparkContext.setLogLevel("ERROR")
    val pts = Points(s, "/root/testdata/sf0.001")
    val tmps = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def tempDir(prefix: String): String = {
      val d = Files.createTempDirectory(prefix); tmps += d; d.toString
    }
    val sb = new StringBuilder
    sb ++= "# Physical plans (generated by graft.bench.PlanDump)\n\n"
    sb ++= "The plans the scale story depends on, `.explain(\"formatted\")` output.\n"
    // each dump is best-effort: a missing fixture path must not discard
    // the sections already generated (the file is written at the end)
    def dump(name: String, what: String, df: => org.apache.spark.sql.DataFrame): Unit =
      try {
        val plan = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
        sb ++= s"\n## $name\n\n$what\n\n```\n"
        sb ++= normalize(plan)
        sb ++= "```\n"
      } catch {
        case e: Throwable =>
          sb ++= s"\n## $name\n\nSKIPPED: ${e.getMessage}\n"
      }
    dump("boxJoin", "ONE fused scan, no join, no broadcast, no exchange: Generate explode(graft_shape_hits(lat, lon)) looks each row's cell up in a driver-built cell → boxes index (held by reference, so other boxes reuse the compiled stage) and runs MBR.contains on those candidates only.",
      SpatialOps.boxJoin(pts, Fixtures.boxes))
    dump("pipJoin (literal polygons)", "ONE scan for every literal polygon — zero joins, zero exchanges, no typed Dataset step: boxJoin's graft_shape_hits kernel over a cell → polygons index runs Poly.contains on each row's candidates only, inside whole-stage codegen, so the generated code does not grow with the polygon count (one Column predicate per polygon passed the JIT's 8000-byte huge-method limit at three polygons).",
      SpatialOps.pipJoin(pts, Fixtures.polys))
    dump("mbrJoin (rect × rect)", "PBSM: generator (cell-cover explode) on each side, hash-partitioned EQUI-join on the cell id — no CartesianProduct/BroadcastNestedLoop anywhere — exact closed-box refine + reference-point dedup as codegen'd filters after the join.",
      SpatialOps.mbrJoin(
        graft.data.Rects.derive(pts, Fixtures.RectClassA),
        graft.data.Rects.derive(pts, Fixtures.RectClassB)))
    dump("mbrJoinSalted (hot-cell salted)", "Same PBSM equi-join with the salt in the join key: a-side hashed salt projection, b-side conditional-explode replication of hot cover cells — no cartesian, no extra shuffle beyond the salted exchange.",
      SpatialOps.mbrJoinSalted(
        graft.data.Rects.derive(pts, Fixtures.RectClassA),
        graft.data.Rects.derive(pts, Fixtures.RectClassB),
        rOverride = 6, hotCells = Some((6, Set(2080L)))))
    dump("tileHistogram", "Partial hash aggregate (map-side combine) + ONE exchange + final aggregate.",
      SpatialOps.tileHistogram(pts))
    dump("knnSerial (TakeOrderedAndProject)", "Per-partition top-k + driver merge; no global sort.",
      pts.withColumn("d2", graft.geo.GeoCols.d2(col("lat"), col("lon"), 1.0, 2.0)).orderBy(col("d2"), col("id")).limit(25))
    dump("knnJoinAgg", "Dense baseline as ONE partial/final aggregate (graft_knn_topk): each partition keeps k (d2, id) candidates per query in flat primitive slots, the single exchange carries one buffer per partition, the final aggregate merges them exactly and inline emits (q_id, rank, id) — no Window, no sort, no typed Dataset step.",
      SpatialOps.knnJoinAgg(pts, Fixtures.knnQueries.take(3), 5))
    dump("rangeBox", "Covering prune is a 4-comparison rectangle in grid coords + the exact box predicate — one codegen'd Filter. The box and cell bounds are param(...) leaves the generated code reads by reference, so a query with another box reuses the compiled stage.",
      SpatialOps.rangeBox(pts, Fixtures.boxes.head._2))
    dump("boxJoinSalted (write-time hot cells)", "boxJoinSalted is boxJoin at the hint's resolution: the fused graft_shape_hits scan has no shuffle, so there is no hot reducer to salt — the hint only picks r, and no stats scan runs on the query path.",
      SpatialOps.boxJoinSalted(pts, Fixtures.boxes, hotCells = Some((Fixtures.JoinRes,
        Set(Fixtures.boxes.head._2).map(b => graft.geo.CellId.grid(b.minLat, b.minLon, Fixtures.JoinRes))))))
    val images = Synth.table(s, 32).toDF()
    val tmp = tempDir("pd") + "/t"
    images.write.parquet(tmp)
    dump("image tile pipeline", "ReadSchema carries ONLY image_id+phash: the bytes column never leaves the parquet footprint (late materialization).",
      SpatialOps.tileHistogram(Synth.imagePoints(s.read.parquet(tmp).select(col("image_id"), col("phash"))).withColumn("id", xxhash64(col("image_id"))), Fixtures.TileRes))
    val snapRoot = tempDir("pd_snap")
    val store = new graft.table.SnapshotStore(s, snapRoot)
    store.append(pts, "unit-0", numPartitions = 8)
    dump("snapshot read(box) — manifest Z-span prune", "Manifest prunes files driver-side: by lat/lon bounds, and by each file's [minZ, maxZ] span against the fine curve covering. The kept files' rows are probed by graft_z_in_ranges over the MATERIALIZED __z sort key — a codegen'd O(log n) binary search over the covering held by reference (an n-term Or tree is O(n) per row; measured 4.1 s at 256 ranges over 600k cached rows vs 0.17 s for the probe at 2914). Nothing of the covering is pushed to parquet.",
      store.read(Some(Fixtures.boxes.head._2))._1)
    // knnStored collects its k rows from ONE scan (the returned frame is a
    // local relation) — dump the scan it executes: the radius-bounded,
    // manifest-pruned top-k
    try {
      val (qla, qlo, k) = (Fixtures.knnPoint._1, Fixtures.knnPoint._2, Fixtures.knnK)
      val gi = graft.index.GlobalIndex.fromStore(store)
      val radius = gi.knnSeedRadius(qla, qlo, k)
      val b = graft.geo.MBR(qla - radius, qlo - radius, qla + radius, qlo + radius)
      dump("stored-table kNN (persisted index summaries)",
        s"GlobalIndex.fromStore is the index the store's snapshot view holds: built once per snapshot from the index files the root names, ZERO Spark jobs; a best-first descent of it gives the seed radius, which bounds a manifest-pruned box read (files outside it never open) probed by graft_z_in_ranges, and the query point enters d2 as param(...) leaves; ONE TakeOrderedAndProject scan yields the k rows (knnStored's executed plan — its returned frame is the collected local relation).",
        store.read(Some(b))._1
          .withColumn("d2", graft.geo.GeoCols.d2(col("lat"), col("lon"), qla, qlo))
          .orderBy(col("d2"), col("id")).limit(k))
    } catch { case e: Throwable =>
      sb ++= s"\n## stored-table kNN\n\nSKIPPED: ${e.getMessage}\n" }
    store.deleteWhere(graft.geo.GeoCols.inBox(col("lat"), col("lon"), Fixtures.boxes.head._2), "del-0")
    dump("snapshot read() with deletion vectors", "Merge-on-read by position: the deleted rows' positions, one bitset per data file read from the DV files the root names, feed ONE codegen'd graft_row_deleted filter over the scan's _metadata.file_path and _metadata.row_index — no join, no broadcast, no union; each data file is scanned once.",
      store.read()._1)
    dump("distanceJoin", "Spatial self-join: the exploded 3x3-neighborhood probe side is tiny and broadcasts; the corpus side is scanned once, joined on its single cell key — never an all-pairs cross.",
      SpatialOps.distanceJoin(pts, Fixtures.distEps, Fixtures.distProbeMod))
    try {
      val broot = tempDir("pd_bloom")
      val bstore = new graft.table.SnapshotStore(s, broot, bloomKey = Some("id"))
      (0 until 3).foreach(u => bstore.append(
        pts.filter(pmod(col("id"), lit(3)) === u), s"u-$u", numPartitions = 4))
      val (bdf, bkept, btot) = bstore.lookupByKey(Seq(11L))
      dump("snapshot lookupByKey (Bloom file skipping)",
        s"Driver-side Bloom probes opened $bkept of $btot data files (plan-time file and shard skipping from the Bloom files the root names; fail-open for files without a filter); the key set is an InSet whose generated code holds it by reference, and it still lands in PushedFilters as In for row-group + dictionary skipping inside the survivors.",
        bdf)
    } catch { case e: Throwable =>
      sb ++= s"\n## snapshot lookupByKey\n\nSKIPPED: ${e.getMessage}\n" }
    dump("ANN cosine top-k (graft_dot)", "graft_dot is the codegen'd VecDot expression — the per-row dot product sits inside WholeStageCodegen as a primitive loop (no interpreted HOF lambdas); corpus side is map-only until the tiny per-query top-k window.",
      graft.ops.AnnOps.cosineTopK(s.read.parquet("/root/testdata/sf0.001/embeddings.parquet"), Seq(0, 1), 5))
    dump("ANN LSH (annLsh candidate join)", "Signatures come from one typed per-partition kernel over a hoisted hyperplane slab (an expression tree here would be ~4,096 element_at multiplies per row). Candidate generation runs on NARROW (vec_id, t, bkt) keys only — the 64-dim payload never rides the ×tables posexplode, the broadcast bucket join, or the dedup shuffle; it joins back onto the (much smaller) candidate set, and the exact cosine re-rank (codegen'd graft_dot) touches candidates only — never all pairs.",
      graft.ops.AnnOps.annLsh(s.read.parquet("/root/testdata/sf0.001/embeddings.parquet"), Seq(0, 1), 5))
    dump("rasterize (vector→raster)", "ONE distributed Range source over every polygon's bbox cell box, back to back — zero table scans, zero exchanges, no Union at any polygon count: a per-partition kernel (MapPartitions) finds each candidate's polygon by binary search over driver-built offsets and keeps the cell when Poly.contains holds at its center. Raster cost scales with geometry area, not data size.",
      SpatialOps.rasterize(s, Fixtures.polys))
    dump("zonalStats", "The pipJoin kernel (one scan, graft_shape_hits cell filter + Poly.contains refine) + partial+final hash aggregate on its poly id — the exchange carries |polys|x|partitions| rows regardless of data size; the tiny literal polygon list left-joins back so empty zones keep their cnt=0 row.",
      SpatialOps.zonalStats(pts, Fixtures.polys))
    try {
      val hroot = tempDir("pd_hilb")
      val hstore = new graft.table.SnapshotStore(s, hroot, curve = "hilbert")
      hstore.append(pts, "unit-0", numPartitions = 8)
      dump("hilbert snapshot read(box) — curve-range prune", "Same plan as the Z layout but over Hilbert ranges: consecutive curve positions are grid-adjacent, so coverings need fewer ranges and files carry tighter lat/lon and curve spans.",
        hstore.read(Some(Fixtures.boxes.head._2))._1)
    } catch { case e: Throwable =>
      sb ++= s"\n## hilbert snapshot read(box)\n\nSKIPPED: ${e.getMessage}\n" }
    dump("contamination", "Benchmark shingle set broadcasts (tiny by construction); the corpus side is one map pass whose per-doc agg collapses in the partial (a doc's shingles are co-located), leaving a one-row-per-doc exchange.",
      graft.ops.TextOps.contamination(s.read.parquet("/root/testdata/sf0.001/documents.parquet")))
    dump("fingerprintPairs (winnowing dedup)", "Equal-fingerprint candidate pairs: the corpus self-joins on ONE compact 64-bit key (never all-pairs — group sizes are dup-cluster sizes, output O(dup pairs)); the fingerprint kernel runs once behind the stage-or-persist barrier.",
      graft.ops.TextOps.fingerprintPairs(s.read.parquet("/root/testdata/sf0.001/documents.parquet")))
    // round-5 stored-table JOIN paths: the same file-level prune the
    // single-box path has, on the operators that carry the metric
    try {
      val jroot = tempDir("pd_join")
      val jstore = new graft.table.SnapshotStore(s, jroot)
      jstore.append(pts, "unit-0", numPartitions = 32)
      val (jdf, jkept, jtot) = jstore.readBoxes(Fixtures.boxes.map(_._2))
      dump("stored-table boxJoin (readBoxes multi-geometry prune)",
        s"ONE planned read for the whole box set: manifest prune opened $jkept of $jtot data files (files disjoint from EVERY box never open; with a sharded manifest the non-overlapping SHARDS are not even parsed); files whose Z span meets no range of the fine merged covering (cap 4096) never open either, and inside survivors that covering is the codegen'd graft_z_in_ranges binary-search probe. boxJoin's graft_shape_hits explode refines exactly in the same codegen stage.",
        SpatialOps.boxJoin(jdf, Fixtures.boxes,
          SpatialOps.resolveRes(jstore, Fixtures.boxes.map(_._2))))
      val (kdf, ckept, ctot) = graft.index.GlobalIndex.knnJoinStoredPruned(jstore,
        Fixtures.knnQueries, Fixtures.knnJoinK)
      dump("stored-table kNN JOIN (knnJoinStored)",
        s"Per-query radius bounds by best-first descent of the snapshot view's index (built once per snapshot, no Spark jobs); ONE multi-ball pruned read opened $ckept of $ctot files; explode(graft_shape_hits) over one ball box per query offers each candidate only to the queries whose box holds it, and ONE partial/final graft_knn_topk aggregate ranks them (the knnJoinAgg kernel: one buffer per partition, exact merge, no join, no Window, no sort) — the operator's own frame.",
        kdf)
    } catch { case e: Throwable =>
      sb ++= s"\n## stored-table JOINs\n\nSKIPPED: ${e.getMessage}\n" }
    Files.writeString(Paths.get("docs", "PLANS.md"), sb.toString)
    println("WROTE docs/PLANS.md")
    s.stop()
    tmps.foreach(graft.ops.OpUtil.deleteTree)
  }
}
