package graft

import graft.data.{Fixtures, Points}
import graft.ops.{AnnOps, Dedup, EventOps, SpatialOps, TextOps}
import graft.oracle.OracleSql
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every oracle-checked operator has a `queries` entry (Spark plan) and an
  * `oracleSql` entry (DuckDB twin generated from the same fixtures by
  * [[graft.oracle.OracleSql]]). Column names and value arithmetic match
  * bit-for-bit between the two.
  */
object SparkEntry {

  /** Flagship: the north-rule pipeline end-to-end — deterministic ImageRow
    * table (exact input_hint schema) → phash-derived points → tile
    * assignment + multi-box spatial join (covering-cell broadcast join +
    * exact refine), with a testdata-derived join for the sf smoke check. */
  def entry(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    val images = graft.data.Synth.table(spark, 2000).toDF()
    // id MUST be partition-layout-independent (SURVEY §7.5 determinism):
    // xxhash64(image_id), never monotonically_increasing_id. The 64-bit
    // hash is unique w.h.p. at demo scale; at the 10¹²-row design point
    // expected collisions are ~n²/2⁶⁵ — consumers keying strictly on id
    // there should pass image_id itself as the id column (every spatial
    // operator is key-type-agnostic) or widen to a 128-bit pair.
    val pts = graft.data.Synth.imagePoints(images)
      .withColumn("id", xxhash64(col("image_id")))
    SpatialOps.boxJoin(pts, Fixtures.boxes)
      .unionAll(SpatialOps.boxJoin(Points(spark, "/root/testdata/sf0.001"), Fixtures.boxes))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // snapshot-store round trip (ops #2 heap-file sink + #5 insert):
    // append the derived cloud as one lineage unit (Z-clustered write +
    // manifest commit), read the committed snapshot back — the oracle is
    // the plain derived-points SELECT, so content identity through the
    // table layer is driver-checked (DataFile.java:144-198 semantics)
    "q02_snapshot_scan" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val root = tempStore("graft_q02_")
      val store = new graft.table.SnapshotStore(s, root)
      // partition count sized to the unit (~rows/100k), not to cores: at
      // sf scales a 32-way split writes 32 tiny files per unit and the
      // per-file stats pass dominates (at 100 TB the same knob comes from
      // maxPartitionBytes)
      store.append(Points(s, dir), "unit-all", numPartitions = 8)
      store.read()._1.select(col("id"), col("lat"), col("lon"))
    }),
    // compaction round trip (op #6 forced-reinsert analog,
    // RStarTree.java:126-172): three appends → compact() rewrites the
    // layout under a replacing manifest → same content, fewer files
    "q06_compact_scan" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      val root = tempStore("graft_q06_")
      val store = new graft.table.SnapshotStore(s, root)
      val pts = Points(s, dir)
      (0 until 3).foreach(u =>
        store.append(pts.filter(pmod(col("id"), lit(3)) === u), s"unit-$u",
          numPartitions = 4))
      store.compact(numPartitions = 4)
      store.read()._1.select(col("id"), col("lat"), col("lon"))
    }),
    // row-level delete (Iceberg-v2 equality tombstones): append, delete
    // one fixture box's rows, read back merge-on-read — the complement
    // must survive exactly
    "q05_delete_scan" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val root = tempStore("graft_q05_")
      val store = new graft.table.SnapshotStore(s, root)
      store.append(Points(s, dir), "unit-all", numPartitions = 8)
      store.deleteWhere(graft.geo.GeoCols.inBox(col("lat"), col("lon"),
        Fixtures.boxes.head._2), "del-box1")
      store.read()._1.select(col("id"), col("lat"), col("lon"))
    }),
    // Hilbert-curve clustering (the north star's alternative bulk-load
    // packing key): append under curve="hilbert", read the committed
    // snapshot back — content identity through the Hilbert layout
    "q52_hilbert_scan" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val root = tempStore("graft_q52_")
      val store = new graft.table.SnapshotStore(s, root, curve = "hilbert")
      store.append(Points(s, dir), "unit-all", numPartitions = 8)
      store.read()._1.select(col("id"), col("lat"), col("lon"))
    }),
    // box read through Hilbert range pruning (file skip + curve-range
    // refine is a superset; the exact predicate lands the oracle rows)
    "q52b_hilbert_range" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val root = tempStore("graft_q52b_")
      val store = new graft.table.SnapshotStore(s, root, curve = "hilbert")
      store.append(Points(s, dir), "unit-all", numPartitions = 8)
      val b = Fixtures.boxes.head._2
      store.read(Some(b))._1
        .filter(graft.geo.GeoCols.inBox(col("lat"), col("lon"), b))
        .select(col("id"), col("lat"), col("lon"))
    }),
    "q03_point_lookup" -> ((s, dir) => SpatialOps.pointLookup(Points(s, dir), 8L, 256L)),
    "q04_index_summary" -> ((s, dir) => SpatialOps.indexSummary(Points(s, dir), 3)),
    "q07_bulkload_leaves" -> ((s, dir) => SpatialOps.bulkloadLeaves(Points(s, dir))),
    "q09_range_box" -> ((s, dir) => SpatialOps.rangeBox(Points(s, dir), Fixtures.boxes.head._2)),
    // the HEADLINE spatial query over the STORED table (round-3 verdict
    // ask #4): box read planned through the manifest — file pruning +
    // Z-range row-group skipping (the file-level analog of the
    // reference's subtree prune, RStarTree.java:426) — then the same
    // rangeBox operator with the manifest-derived adaptive resolution;
    // observed filesRead < totalFiles pinned in SnapshotStoreSpec
    "q09d_range_stored" -> ((s, dir) => {
      val root = tempStore("graft_q09d_")
      val store = new graft.table.SnapshotStore(s, root)
      store.append(Points(s, dir), "unit-all", numPartitions = 8)
      val b = Fixtures.boxes.head._2
      SpatialOps.rangeBox(store.read(Some(b))._1, b,
        SpatialOps.resolveRes(store, Seq(b)))
    }),
    "q09b_range_join" -> ((s, dir) => SpatialOps.boxJoin(Points(s, dir), Fixtures.boxes)),
    // the multi-box JOIN through the STORED table (round-4 verdict ask
    // #3): probe side = ONE readBoxes plan — files disjoint from every
    // box never open, merged curve-range disjunction skips row groups —
    // then the same boxJoin operator refines exactly; same oracle as q09b
    "q09e_boxjoin_stored" -> ((s, dir) => {
      val root = tempStore("graft_q09e_")
      val store = new graft.table.SnapshotStore(s, root)
      store.append(Points(s, dir), "unit-all", numPartitions = 8)
      SpatialOps.boxJoin(store.readBoxes(Fixtures.boxes.map(_._2))._1,
        Fixtures.boxes, SpatialOps.resolveRes(store, Fixtures.boxes.map(_._2)))
    }),
    // the R-tree spatial join proper: rectangle sets on BOTH sides,
    // PBSM cell-cover equi-join + reference-point dedup (MBR.java:47's
    // overlaps test as a distributed operator — never a cartesian)
    "q53_mbr_join" -> ((s, dir) => {
      val pts = Points(s, dir)
      SpatialOps.mbrJoin(
        graft.data.Rects.derive(pts, Fixtures.RectClassA),
        graft.data.Rects.derive(pts, Fixtures.RectClassB))
    }),
    // the salted twin (q09c's treatment for the rect×rect family): hot
    // cover cells salt side a and replicate side b IN THE PLAN (both
    // sides are row-borne); output is mbrJoin's exactly — same oracle
    "q53b_mbr_join_salted" -> ((s, dir) => {
      val pts = Points(s, dir)
      SpatialOps.mbrJoinSalted(
        graft.data.Rects.derive(pts, Fixtures.RectClassA),
        graft.data.Rects.derive(pts, Fixtures.RectClassB))
    }),
    "q10_knn_ring" -> ((s, dir) => SpatialOps.knnRing(Points(s, dir),
      Fixtures.knnPoint._1, Fixtures.knnPoint._2, Fixtures.knnK)),
    "q10b_knn_join" -> ((s, dir) => SpatialOps.knnJoinAgg(Points(s, dir),
      Fixtures.knnQueries, Fixtures.knnJoinK)),
    "q11_skyline" -> ((s, dir) => SpatialOps.skyline(Points(s, dir))),
    "q12_range_serial" -> ((s, dir) => SpatialOps.rangeBoxSerial(Points(s, dir), Fixtures.boxes.head._2)),
    "q13_knn_serial" -> ((s, dir) => SpatialOps.knnSerial(Points(s, dir),
      Fixtures.knnPoint._1, Fixtures.knnPoint._2, Fixtures.knnK)),
    "q14_radius_sweep" -> ((s, dir) => SpatialOps.radiusSweep(Points(s, dir),
      Fixtures.knnPoint._1, Fixtures.knnPoint._2, Fixtures.sweepRadii)),
    "q15_tile_assign" -> ((s, dir) => SpatialOps.tileAssign(Points(s, dir))),
    "q16_tile_histogram" -> ((s, dir) => SpatialOps.tileHistogram(Points(s, dir))),
    "q16b_tile_pyramid" -> ((s, dir) => SpatialOps.tilePyramid(Points(s, dir))),
    "q17_pip_join" -> ((s, dir) => SpatialOps.pipJoin(Points(s, dir), Fixtures.polys)),
    // PIP join through the STORED table: probe side = one readBoxes plan
    // over the polygons' bboxes (files disjoint from every bbox never
    // open), then the same covering-prune + ray-crossing refine; with
    // q09e/q10f this closes file-level pruning for ALL metric join
    // families. Same oracle as q17.
    "q17c_pip_stored" -> ((s, dir) => {
      val root = tempStore("graft_q17c_")
      val store = new graft.table.SnapshotStore(s, root)
      store.append(Points(s, dir), "unit-all", numPartitions = 8)
      val bboxes = Fixtures.polys.map(_._2.bbox)
      SpatialOps.pipJoin(store.readBoxes(bboxes)._1, Fixtures.polys,
        SpatialOps.resolveRes(store, bboxes))
    }),
    // vector→raster: rasterize the fixture polygons onto the cell grid
    // (no data table involved — the raster is a function of the geometry)
    "q19_rasterize" -> ((s, _) => SpatialOps.rasterize(s, Fixtures.polys)),
    // raster↔vector zonal statistics: per-polygon aggregates of the cloud
    "q19b_zonal_stats" -> ((s, dir) =>
      SpatialOps.zonalStats(Points(s, dir), Fixtures.polys)),
    // same operator and oracle as q19 (the key stays in the frozen map)
    "q19c_rasterize_many" -> ((s, _) => SpatialOps.rasterize(s, Fixtures.polys)),
    // q19b restricted to non-empty zones — the HAVING count(*) > 0 oracle
    "q19d_zonal_many" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      SpatialOps.zonalStats(Points(s, dir), Fixtures.polys).filter(col("cnt") > 0)
    }),
    "q18_distance_join" -> ((s, dir) => SpatialOps.distanceJoin(Points(s, dir),
      Fixtures.distEps, Fixtures.distProbeMod)),
    // --- training-data pipeline ops over documents/embeddings/events ---
    "q20_token_count" -> ((s, dir) => TextOps.tokenCount(docs(s, dir))),
    "q20b_token_bpe" -> ((s, dir) => TextOps.tokenCountBpe(docs(s, dir))),
    "q21_quality" -> ((s, dir) => TextOps.quality(docs(s, dir))),
    "q22_lang_id" -> ((s, dir) => TextOps.langId(docs(s, dir))),
    "q23_dedup_exact" -> ((s, dir) => Dedup.exact(docs(s, dir))),
    "q24_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(docs(s, dir), 5, Fixtures.jaccardThreshold)),
    // signatures staged to parquet so DuckDB oracle-checks the banding +
    // bucket-join + refine DATAFLOW over the identical staged bits (the
    // signature kernel itself is rows-only by nature)
    "q25_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(docs(s, dir), stagePath = Some(Q25StagePath))),
    "q26_simhash" -> ((s, dir) => Dedup.simhash(docs(s, dir))),
    "q26b_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), stagePath = Some(Q26bStagePath))),
    "q27_fingerprint" -> ((s, dir) => TextOps.fingerprint(docs(s, dir))),
    // fingerprint table staged so the equal-fingerprint candidate-pair
    // dataflow (the winnowing-dedup use of q27's kernel) is oracle-checked
    "q27b_fingerprint_pairs" -> ((s, dir) =>
      TextOps.fingerprintPairs(docs(s, dir), stagePath = Some(Q27bStagePath))),
    // benchmark decontamination + intra-doc repetition (Gopher-style
    // quality rule) — both fully oracle-checked
    "q49_contamination" -> ((s, dir) => TextOps.contamination(docs(s, dir))),
    "q50_repetition" -> ((s, dir) => TextOps.repetition(docs(s, dir))),
    "q28_ann_topk" -> ((s, dir) =>
      AnnOps.cosineTopK(emb(s, dir), Fixtures.annQueryIds, Fixtures.annK)),
    "q28b_ann_ivf" -> ((s, dir) =>
      AnnOps.annIvf(emb(s, dir), Fixtures.annQueryIds, Fixtures.annK,
        stagePaths = Some((Q28bVecPath, Q28bCentPath)))),
    // signature table staged to parquet → DuckDB oracle re-runs the bucket
    // join + exact cosine re-rank (same pattern as q25)
    "q28c_ann_lsh" -> ((s, dir) =>
      AnnOps.annLsh(emb(s, dir), Fixtures.annQueryIds, Fixtures.annK,
        stagePath = Some(Q28cStagePath))),
    "q28d_ann_ivf_kmeans" -> ((s, dir) =>
      AnnOps.annIvfKmeans(emb(s, dir), Fixtures.annQueryIds, Fixtures.annK,
        stagePaths = Some((Q28dVecPath, Q28dCentPath)))),
    "q29_embed_neardup" -> ((s, dir) => AnnOps.nearDupPairs(emb(s, dir), 29, 250000L)),
    "q30_window_agg" -> ((s, dir) =>
      EventOps.windowAgg(s.read.parquet(s"$dir/events.parquet"))),
    "q31_stream_window" -> ((s, dir) => EventOps.streamWindowAgg(s, dir)),
    "q32_stream_dedup" -> ((s, dir) => Dedup.streamDedup(s, dir)),
    "q33_stream_tiles" -> ((s, dir) => EventOps.streamTileHistogram(s, dir)),
    // incremental consumption: three appended units, read back ONLY the
    // window after snapshot 1 — the downstream checkpoint-resume primitive
    "q36_incremental_read" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      val root = tempStore("graft_q36_")
      val store = new graft.table.SnapshotStore(s, root)
      val pts = Points(s, dir)
      (0 until 3).foreach(u =>
        store.append(pts.filter(pmod(col("id"), lit(3)) === u), s"unit-$u",
          numPartitions = 4))
      store.appendedSince(1).select(col("id"), col("lat"), col("lon"))
    }),
    // time travel: two appends, then read the FIRST snapshot back
    "q37_time_travel" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      val root = tempStore("graft_q37_")
      val store = new graft.table.SnapshotStore(s, root)
      val pts = Points(s, dir)
      store.append(pts.filter(pmod(col("id"), lit(2)) === 0), "unit-0",
        numPartitions = 4)
      store.append(pts.filter(pmod(col("id"), lit(2)) === 1), "unit-1",
        numPartitions = 4)
      store.readAt(1)._1.select(col("id"), col("lat"), col("lon"))
    }),
    // Bloom-pruned key point lookup over the snapshot store: only files
    // whose manifest sidecar filter might hold a probed id are opened
    "q38_bloom_lookup" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      val root = tempStore("graft_q38_")
      val store = new graft.table.SnapshotStore(s, root, bloomKey = Some("id"))
      val pts = Points(s, dir)
      (0 until 3).foreach(u =>
        store.append(pts.filter(pmod(col("id"), lit(3)) === u), s"unit-$u",
          numPartitions = 4))
      store.lookupByKey(Seq(11L, 15L, 22L, 26L, -7L))._1
        .select(col("id"), col("lat"), col("lon"))
    }),
    // stateless streaming spatial join (zone alerting): stream == batch
    // under the q09b boxJoin oracle
    "q35_stream_boxjoin" -> ((s, dir) => EventOps.streamBoxJoin(s, dir)),
    // streaming INGESTION into the snapshot store (the production sink):
    // file stream → derive points → per-micro-batch idempotent commits →
    // read the committed table back → tile histogram under the batch
    // oracle; crash/re-delivery convergence pinned in StreamIngestSpec
    "q34_stream_ingest" -> ((s, dir) => {
      val root = tempStore("graft_q34_")
      val store = new graft.table.SnapshotStore(s, root)
      val schema = s.read.parquet(s"$dir/lineitem.parquet").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "lineitem.parquet").parquet(dir)
      val q = graft.streaming.StreamIngest.run(
        graft.data.Points.derive(src), store, s"$root/ckpt", numPartitions = 4)
      try q.processAllAvailable() finally q.stop()
      SpatialOps.tileHistogram(store.read()._1)
    }),
    // --- spatial variants of earlier queries (same semantics) ---
    // same operator and oracle as q17 (the key stays in the frozen map)
    "q17b_pip_broadcast" -> ((s, dir) =>
      SpatialOps.pipJoin(Points(s, dir), Fixtures.polys)),
    "q10c_knn_join_pruned" -> ((s, dir) => SpatialOps.knnJoinPruned(Points(s, dir),
      Fixtures.knnQueries, Fixtures.knnJoinK)),
    "q10d_knn_indexed" -> ((s, dir) => {
      val (clustered, gi) = graft.index.GlobalIndex.build(Points(s, dir),
        r = 8, numPartitions = 8)
      // materialize the k-row result, then release the clustered cache —
      // the index build is a write-time cost; the session shouldn't keep
      // paying its storage after the query
      graft.ops.OpUtil.finish(
        graft.index.GlobalIndex.knnIndexed(clustered, gi,
          Fixtures.knnPoint._1, Fixtures.knnPoint._2, Fixtures.knnK),
        clustered)
    }),
    "q09c_range_join_salted" -> ((s, dir) =>
      SpatialOps.boxJoinSalted(Points(s, dir), Fixtures.boxes)),
    // kNN over the STORED table, planned from the PERSISTED index
    // summaries (round-3 verdict ask #5): the index rides in the write-
    // time sidecar, so the query pays zero build cost — one driver-side
    // radius bound, one manifest-pruned scan
    "q10e_knn_stored" -> ((s, dir) => {
      val root = tempStore("graft_q10e_")
      val store = new graft.table.SnapshotStore(s, root)
      store.append(Points(s, dir), "unit-all", numPartitions = 8)
      graft.index.GlobalIndex.knnStored(store,
        Fixtures.knnPoint._1, Fixtures.knnPoint._2, Fixtures.knnK)
    }),
    // kNN JOIN over the STORED table from the persisted summaries
    // (round-4 verdict ask #5): per-query radius bounds from ONE
    // zero-rebuild fromStore index → one multi-ball pruned read →
    // per-query top-k; same oracle as q10b
    "q10f_knnjoin_stored" -> ((s, dir) => {
      val root = tempStore("graft_q10f_")
      val store = new graft.table.SnapshotStore(s, root)
      store.append(Points(s, dir), "unit-all", numPartitions = 8)
      graft.index.GlobalIndex.knnJoinStored(store,
        Fixtures.knnQueries, Fixtures.knnJoinK)
    }),
    // --- multimodal (image payload) ops over the deterministic table ---
    "q40_image_decode" -> ((s, _) =>
      graft.ops.ImageOps.decodeStats(graft.data.Synth.table(s, 500).toDF()).toDF()),
    "q41_image_embed" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      // driver-facing projection: the raw array<float> column is not
      // sortable by the compare harness — posexplode to scalar
      // (image_id, dim, value_q) rows, values quantized to 1e-3
      graft.ops.ImageOps.embed(graft.data.Synth.table(s, 500).toDF()).toDF()
        .select(col("image_id"), posexplode(col("embedding")).as(Seq("dim", "ev")))
        .select(col("image_id"), col("dim").cast("int").as("dim"),
          floor(col("ev").cast("double") * 1000).cast("long").as("value_q"))
    }),
    "q42_image_resize" -> ((s, _) =>
      graft.ops.ImageOps.resize(graft.data.Synth.table(s, 200).toDF(), 16)
        .toDF().select("image_id", "w", "h")),
    // crop + augment (rows-only: per-row raster kernels) — driver-facing
    // projection decodes the OUTPUT bytes back to quantized stats, so the
    // hash pins the transformed pixels, not just the row count
    "q47_image_crop" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      graft.ops.ImageOps.decodeStats(
          graft.ops.ImageOps.crop(graft.data.Synth.table(s, 200).toDF(), 4, 4, 16, 16)
            .toDF().withColumn("fmt", lit("png")))
        .toDF().select(col("image_id"), col("w"), col("h"),
          floor(col("mean_lum") * 1000).cast("long").as("lum_q"))
    }),
    "q48_image_augment" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      graft.ops.ImageOps.decodeStats(
          graft.ops.ImageOps.augment(graft.data.Synth.table(s, 200).toDF(),
            Seq("flip_h", "rot90", "brighten16"))
            .toDF().withColumn("fmt", lit("png")))
        .toDF().select(col("image_id"), col("w"), col("h"), col("phash"),
          floor(col("mean_lum") * 1000).cast("long").as("lum_q"))
    }),
    // visual near-dup dedup on the image table: phash quarter blocking
    // over originals + planted JPEG re-encodes (deterministic; recall
    // pinned in ImageOpsSpec; rows-only driver check — phash arithmetic
    // is not SQL-expressible)
    "q43_image_neardup" -> ((s, _) =>
      graft.ops.ImageOps.phashNearDup(
        graft.ops.ImageOps.withPlantedNearDups(
          graft.data.Synth.table(s, 400).toDF(), everyN = 20),
        stagePath = Some(Q43StagePath))),
    // full curation composite (quality filter → visual near-dup drop →
    // tile-balanced sample) over the image table with planted dups —
    // metadata slice staged so the whole dataflow is oracle-checked
    "q46_curate" -> ((s, _) =>
      graft.ops.ImageOps.curate(
        graft.ops.ImageOps.withPlantedNearDups(
          graft.data.Synth.table(s, 400).toDF(), everyN = 20),
        minTokens = 7, maxHamming = 3, perTile = 4, r = Fixtures.TileRes,
        stagePath = Some(Q46StagePath))),
    // per-row image+caption pair integrity (the north rule's per-row
    // invariant as an operator) over a table with planted corruptions —
    // rows-only (hash kernels); planted-detection exactness spec-pinned
    "q51_pair_integrity" -> ((s, _) =>
      graft.ops.ImageOps.pairIntegrity(
        graft.ops.ImageOps.withPlantedCorruption(
          graft.data.Synth.table(s, 400).toDF())).toDF()),
    // transcode QA: PSNR of a deterministic JPEG re-encode vs the source
    // payload — the "PSNR >= 40 dB for lossy" leg, applied row-wise
    "q51b_transcode_qa" -> ((s, _) => {
      val imgs = graft.data.Synth.table(s, 200).toDF()
      graft.ops.ImageOps.transcodeQa(imgs,
        graft.ops.ImageOps.reencodeJpeg(imgs, 0.9f).toDF()).toDF()
    }),
    // frame sampling over the opaque video container (multimodal op:
    // every 2nd frame decoded partition-wise, scalar projection for the
    // driver; container codec + sampling pinned in VideoOpsSpec)
    "q44_frame_sample" -> ((s, _) =>
      graft.ops.VideoOps.frameSample(
        graft.ops.VideoOps.table(s, 300).toDF(), everyK = 2)
        .toDF().select("video_id", "frame_idx", "w", "h", "phash")),
    // audio feature extraction over the opaque PCM container (quantized
    // scalar outputs; planted-tone recovery pinned in AudioOpsSpec)
    "q45_audio_features" -> ((s, _) =>
      graft.ops.AudioOps.features(graft.ops.AudioOps.table(s, 400).toDF()).toDF()),
  )

  /** Fresh temp root for a snapshot-store query, purging stale siblings
    * first: repeated Bench/Verify loops would otherwise accumulate full
    * table copies under java.io.tmpdir until the disk fills. The 2h TTL
    * can never touch the dir a live run is still reading. */
  private def tempStore(prefix: String): String = {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val cutoff = System.currentTimeMillis() - 2L * 3600 * 1000
    try {
      // streams closed explicitly — Files.list/walk leak a directory fd
      // per call otherwise, and this helper runs once per storage query
      val ls = java.nio.file.Files.list(tmp)
      val tops = try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.toSeq
      } finally ls.close()
      tops.foreach { p =>
        val name = p.getFileName.toString
        // pid-scoped dirs (graft_qstage_<pid>, ANCHORED) of a LIVE process
        // are skipped regardless of mtime — a paused/long run's staged
        // tables must survive until its oracle compare has read them. The
        // anchor matters: a loose trailing-digits match would read
        // createTempDirectory's random numeric suffixes as pids, and a
        // recycled pid would then keep a dead run's multi-GB stage alive
        // for as long as the unrelated process lives
        val ownerAlive = "^graft_qstage_([0-9]+)$".r.findFirstMatchIn(name)
          .exists(m => ProcessHandle.of(m.group(1).toLong)
            .map[Boolean](_.isAlive).orElse(false))
        if (name.startsWith("graft_q") && !ownerAlive &&
            java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff)
          graft.ops.OpUtil.deleteTree(p)
      }
    } catch { case _: Throwable => () } // cleanup is best-effort
    // eager per-prefix reclamation: re-invoking the same storage query
    // replaces its previous staged store (the same invalidate-on-re-run
    // contract the overwrite-mode stage paths already have) — a 3-rep
    // bench sweep otherwise accumulates a full table copy per rep per
    // query with only the 2h TTL to bound it
    lastStoreRoot.remove(prefix).foreach(old =>
      try graft.ops.OpUtil.deleteTree(java.nio.file.Paths.get(old))
      catch { case _: Throwable => () })
    val fresh = java.nio.file.Files.createTempDirectory(prefix).toString
    lastStoreRoot.put(prefix, fresh)
    fresh
  }

  /** Previous tempStore root per query prefix ([[tempStore]]'s eager
    * reclamation); concurrent maps because queries may run from a
    * streaming thread next to the driver loop. */
  private val lastStoreRoot =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Signature-staging paths — referenced by BOTH the Spark queries and
    * their DuckDB oracle SQL (generated in the same JVM), which must read
    * the same bits. Scoped by PID so concurrent runs (a bench next to a
    * verify, two sessions) never clobber each other's staged tables
    * mid-oracle-read; the `graft_q` prefix keeps them under the same
    * 2-hour TTL sweep as the temp stores. */
  private val stageRoot = // same tmpdir the TTL sweep scans — never /tmp literal
    s"${System.getProperty("java.io.tmpdir")}/graft_qstage_${ProcessHandle.current().pid()}"
  val Q25StagePath = s"$stageRoot/q25_sig"
  val Q26bStagePath = s"$stageRoot/q26b_sig"
  val Q27bStagePath = s"$stageRoot/q27b_fp"
  val Q28cStagePath = s"$stageRoot/q28c_sig"
  val Q28bVecPath = s"$stageRoot/q28b_vec"
  val Q28bCentPath = s"$stageRoot/q28b_cent"
  val Q28dVecPath = s"$stageRoot/q28d_vec"
  val Q28dCentPath = s"$stageRoot/q28d_cent"
  val Q43StagePath = s"$stageRoot/q43_sig"
  val Q46StagePath = s"$stageRoot/q46_meta"

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  def oracleSql: Map[String, String] = Map(
    "q02_snapshot_scan" -> OracleSql.allPoints,
    "q05_delete_scan" -> OracleSql.allPointsExcept(Fixtures.boxes.head._2),
    "q06_compact_scan" -> OracleSql.allPoints,
    "q03_point_lookup" -> OracleSql.pointLookup(8L, 256L),
    // Hilbert layout: content identity + exact box slice (pruning may
    // only change which files open, never the rows)
    "q52_hilbert_scan" -> OracleSql.allPoints,
    "q52b_hilbert_range" -> OracleSql.rangeBox(Fixtures.boxes.head._2),
    "q04_index_summary" -> OracleSql.indexSummary(3),
    "q07_bulkload_leaves" -> OracleSql.bulkloadLeaves(Fixtures.PackFanout),
    "q09_range_box" -> OracleSql.rangeBox(Fixtures.boxes.head._2),
    // stored-table reads are supersets refined exactly — same oracles as
    // their derived-table twins (pruning may only change which files open)
    "q09d_range_stored" -> OracleSql.rangeBox(Fixtures.boxes.head._2),
    "q10e_knn_stored" -> OracleSql.knn(Fixtures.knnPoint._1, Fixtures.knnPoint._2, Fixtures.knnK),
    "q09b_range_join" -> OracleSql.boxJoin(Fixtures.boxes),
    "q53_mbr_join" -> OracleSql.mbrJoin(
      Fixtures.RectMod, Fixtures.RectClassA, Fixtures.RectClassB),
    "q53b_mbr_join_salted" -> OracleSql.mbrJoin(
      Fixtures.RectMod, Fixtures.RectClassA, Fixtures.RectClassB),
    "q09e_boxjoin_stored" -> OracleSql.boxJoin(Fixtures.boxes),
    "q10f_knnjoin_stored" -> OracleSql.knnJoin(Fixtures.knnQueries, Fixtures.knnJoinK),
    "q10_knn_ring" -> OracleSql.knn(Fixtures.knnPoint._1, Fixtures.knnPoint._2, Fixtures.knnK),
    "q10b_knn_join" -> OracleSql.knnJoin(Fixtures.knnQueries, Fixtures.knnJoinK),
    "q11_skyline" -> OracleSql.skyline,
    "q12_range_serial" -> OracleSql.rangeBox(Fixtures.boxes.head._2),
    "q13_knn_serial" -> OracleSql.knn(Fixtures.knnPoint._1, Fixtures.knnPoint._2, Fixtures.knnK),
    "q14_radius_sweep" -> OracleSql.radiusSweep(Fixtures.knnPoint._1,
      Fixtures.knnPoint._2, Fixtures.sweepRadii),
    "q15_tile_assign" -> OracleSql.tileAssign(Fixtures.TileRes),
    "q16_tile_histogram" -> OracleSql.tileHistogram(Fixtures.TileRes),
    "q16b_tile_pyramid" -> OracleSql.tilePyramid(Fixtures.TileRes),
    "q17_pip_join" -> OracleSql.pipJoin(Fixtures.polys),
    "q17c_pip_stored" -> OracleSql.pipJoin(Fixtures.polys),
    "q19_rasterize" -> OracleSql.rasterize(Fixtures.polys, Fixtures.RasterRes),
    "q19c_rasterize_many" -> OracleSql.rasterize(Fixtures.polys, Fixtures.RasterRes),
    // join-shape contract: empty zones emit NO row (HAVING in the twin)
    "q19d_zonal_many" -> OracleSql.zonalStatsNonEmpty(Fixtures.polys),
    "q19b_zonal_stats" -> OracleSql.zonalStats(Fixtures.polys),
    "q18_distance_join" -> OracleSql.distanceJoin(Fixtures.distEps, Fixtures.distProbeMod),
    "q20_token_count" -> OracleSql.tokenCount,
    "q20b_token_bpe" -> OracleSql.tokenCountBpe(TextOps.BpeTokenPattern),
    "q21_quality" -> OracleSql.quality(Fixtures.stopwords),
    "q22_lang_id" -> OracleSql.langId(Fixtures.stopwords),
    "q23_dedup_exact" -> OracleSql.dedupExact,
    "q24_ngram_jaccard" -> OracleSql.ngramJaccard(5, Fixtures.jaccardThreshold),
    "q49_contamination" -> OracleSql.contamination(Fixtures.benchMod, Fixtures.contamK),
    "q50_repetition" -> OracleSql.repetition(Fixtures.repetitionK),
    "q25_minhash_lsh" -> OracleSql.minhashLshStaged(Q25StagePath,
      Fixtures.minhashNum, Fixtures.minhashBands, 0.5),
    // q26/q27 (simhash, fingerprint) use xxhash64/JVM hashing — not
    // SQL-expressible → rows-only driver check; pinned by specs instead.
    "q17b_pip_broadcast" -> OracleSql.pipJoin(Fixtures.polys),
    "q10c_knn_join_pruned" -> OracleSql.knnJoin(Fixtures.knnQueries, Fixtures.knnJoinK),
    "q10d_knn_indexed" -> OracleSql.knn(Fixtures.knnPoint._1, Fixtures.knnPoint._2, Fixtures.knnK),
    "q09c_range_join_salted" -> OracleSql.boxJoin(Fixtures.boxes),
    "q28_ann_topk" -> OracleSql.annTopK(Fixtures.annQueryIds, Fixtures.annK),
    "q28c_ann_lsh" -> OracleSql.annLshStaged(Q28cStagePath,
      Fixtures.annQueryIds, Fixtures.annK, tables = 8),
    "q26b_simhash_pairs" -> OracleSql.hammingPairsStaged(Q26bStagePath,
      "doc_id", "simhash", 3),
    "q27b_fingerprint_pairs" -> OracleSql.equalKeyPairsStaged(Q27bStagePath,
      "doc_id", "fingerprint"),
    "q43_image_neardup" -> OracleSql.hammingPairsStaged(Q43StagePath,
      "image_id", "phash", 3),
    "q46_curate" -> OracleSql.curateStaged(Q46StagePath,
      minTokens = 7, maxHamming = 3, perTile = 4, r = Fixtures.TileRes),
    "q28b_ann_ivf" -> OracleSql.annIvfStaged(Q28bVecPath, Q28bCentPath,
      Fixtures.annQueryIds, Fixtures.annK, nprobe = 2),
    "q28d_ann_ivf_kmeans" -> OracleSql.annIvfStaged(Q28dVecPath, Q28dCentPath,
      Fixtures.annQueryIds, Fixtures.annK, nprobe = 2),
    "q29_embed_neardup" -> OracleSql.nearDupPairs(29, 250000L),
    "q30_window_agg" -> OracleSql.windowAgg,
    "q31_stream_window" -> OracleSql.windowAgg,
    // streaming ingestion-time dedup drained to the batch shape — one
    // micro-batch over the single-file source, so first-wins == min id
    // and the batch GROUP BY text oracle applies verbatim
    "q32_stream_dedup" -> OracleSql.dedupExact,
    // streaming tile histogram == the batch tile histogram oracle
    "q33_stream_tiles" -> OracleSql.tileHistogram(Fixtures.TileRes),
    // stream-ingested snapshot table == the batch table, checked through
    // the same histogram oracle
    "q34_stream_ingest" -> OracleSql.tileHistogram(Fixtures.TileRes),
    // incremental window = units 1 and 2 of the modulus-3 split
    "q36_incremental_read" -> OracleSql.pointsModIn(3, Seq(1, 2)),
    // snapshot 1 = the even-id unit only
    "q37_time_travel" -> OracleSql.pointsModIn(2, Seq(0)),
    // Bloom pruning must never change results: plain IN-list oracle
    "q38_bloom_lookup" -> OracleSql.pointLookupIn(Seq(11L, 15L, 22L, 26L, -7L)),
    // stateless streaming join == the batch boxJoin oracle
    "q35_stream_boxjoin" -> OracleSql.boxJoin(Fixtures.boxes),
  )
}
