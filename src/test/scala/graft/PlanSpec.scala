package graft

import graft.data.{Fixtures, Points, Synth}
import graft.ops.SpatialOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the physical plans the scale story depends on.
  * These pin the *mechanism*, not just the result — a regression that
  * swaps a broadcast for a shuffle or un-pushes a filter fails here even
  * though results stay correct. */
class PlanSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("live-delete store read: no Join, BroadcastExchange or Union; each file scanned once") {
    import graft.geo.MBR
    import graft.table.SnapshotStore
    import org.apache.spark.sql.execution.FileSourceScanExec
    val st = new SnapshotStore(spark, tempDir("graft_planspec").toString, bloomKey = Some("id"))
    val pts = Points(spark, dir)
    // 3 appends interleaved with 2 deletes: every read drops the deleted
    // positions with one filter over its one scan
    st.append(pts.filter(col("id") % 3 === 0), "u-0", 2)
    st.deleteWhere(col("id") % 10 === 0, "d-0")
    st.append(pts.filter(col("id") % 3 === 1), "u-1", 2)
    st.deleteWhere(col("id") % 10 === 1, "d-1")
    st.append(pts.filter(col("id") % 3 === 2), "u-2", 2)
    val box = MBR(-60.0, -170.0, 60.0, 170.0)
    val id = st.read()._1.select("id").head().getLong(0)
    val reads = Seq(
      "read()" -> st.read()._1,
      "read(box)" -> st.read(Some(box))._1,
      "readBoxes" -> st.readBoxes(Seq(box, MBR(-10.0, -10.0, 10.0, 10.0)))._1,
      "readAt" -> st.readAt(st.currentSnapshotId - 1)._1,
      "lookupByKey" -> st.lookupByKey(Seq(id))._1)
    for ((name, df) <- reads) {
      df.collect() // AQE plans are final after an action
      val p = plan(df)
      for (op <- Seq("Join", "BroadcastExchange", "Union"))
        assert(!p.contains(op), s"$name plans a $op:\n$p")
      assert(p.contains("graft_row_deleted"), s"$name does not drop deleted rows:\n$p")
      val scans = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.size == 1, s"$name: ${scans.size} scans")
      val files = scans.head.relation.location.inputFiles.map(SnapshotStore.normalizePath).toSeq
      assert(files.distinct == files && files.nonEmpty, s"$name scans a file twice: $files")
    }
    // the position filter sits inside whole-stage codegen with the batched scan
    val p = plan(st.read()._1)
    assert(p.contains("*(1) Filter NOT graft_row_deleted"), p)
    assert(p.contains("Batched: true"), p)
    // each delete reaches only the units committed before it
    val (a, b) = (col("id") % 3, col("id") % 10)
    val dead = (a === 0 && (b === 0 || b === 1)) || (a === 1 && b === 1)
    assert(st.read()._1.count() == pts.filter(!dead).count())
  }

  /** The plan decodes no row into JVM objects: no typed-Dataset step. */
  def noEncoderRoundTrip(name: String, p: String): Unit =
    for (op <- Seq("DeserializeToObject", "MapPartitions", "SerializeFromObject"))
      assert(!p.contains(op), s"$name plans a $op:\n$p")

  test("boxJoin is one fused scan: no join, no broadcast, no exchange, one source read") {
    val p = plan(SpatialOps.boxJoin(Points(spark, dir), Fixtures.boxes))
    assert(!p.toLowerCase.contains("join"), s"boxJoin plans a join:\n$p")
    for (op <- Seq("Broadcast", "Exchange")) assert(!p.contains(op), s"boxJoin plans a $op:\n$p")
    assert(p.split("Scan parquet").length - 1 == 1, s"boxJoin must scan the corpus once:\n$p")
    assert(p.contains("Generate explode(graft_shape_hits("), p)
    noEncoderRoundTrip("boxJoin", p)
  }

  test("pipJoin is one fused scan: no join, no exchange, single source read") {
    val p = plan(SpatialOps.pipJoin(Points(spark, dir), Fixtures.polys))
    assert(!p.toLowerCase.contains("join"), "PIP with literal polygons must be pure predicates")
    assert(!p.contains("Exchange"), "PIP must not shuffle")
    // r6: the union-of-branches form re-scanned the corpus once per
    // polygon; the fused explode form must read it exactly once
    assert(p.split("Scan parquet").length - 1 == 1,
      s"PIP must scan the corpus once, not per polygon: ${p.take(400)}")
    noEncoderRoundTrip("pipJoin", p)
  }

  test("knnJoinAgg is one partial/final aggregate: no Window, no Sort") {
    val p = plan(SpatialOps.knnJoinAgg(Points(spark, dir), Fixtures.knnQueries, Fixtures.knnJoinK))
    for (op <- Seq("Window", "Sort", "Join")) assert(!p.contains(op), s"knnJoinAgg plans a $op:\n$p")
    assert(p.contains("partial_graft_knn_topk("), p)
    // the one exchange carries one partial buffer per partition
    assert(p.split("Exchange").length - 1 == 1, p)
    assert(p.split("Scan parquet").length - 1 == 1, p)
    noEncoderRoundTrip("knnJoinAgg", p)
  }

  /** The executed plans of the SQL queries `op` runs (in finishing
    * order), and the Spark jobs it starts, each tagged with its SQL
    * execution id. */
  def observed(op: => Any): (Seq[String], Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(e.properties.getProperty("spark.sql.execution.id")))
    }
    val sc = spark.sparkContext
    org.apache.spark.SpecBus.drain(sc)
    spark.listenerManager.register(ql)
    sc.addSparkListener(sl)
    try { op; org.apache.spark.SpecBus.drain(sc) }
    finally { sc.removeSparkListener(sl); spark.listenerManager.unregister(ql) }
    import scala.jdk.CollectionConverters._
    (plans.asScala.toSeq, jobs.asScala.toSeq)
  }

  test("knnJoinPruned runs one aggregate action; no fixture query falls back") {
    val pts = Points(spark, dir)
    val (qs, k) = (Fixtures.knnQueries, Fixtures.knnJoinK)
    // its frame is the collected rows: no fallback aggregate unions in
    val (plans, jobs) = observed {
      val df = SpatialOps.knnJoinPruned(pts, qs, k)
      assert(plan(df).startsWith("LocalTableScan"), plan(df))
    }
    // one SQL execution (no audit action, no cache, no count), running the
    // jobs of one knnJoinAgg action: AQE runs the map stage before the
    // final aggregate as its own job
    val (_, aggJobs) = observed(SpatialOps.knnJoinAgg(pts, qs, k).collect())
    assert(plans.size == 1 && jobs.distinct.size == 1 && jobs.size == aggJobs.size,
      s"knnJoinPruned ran jobs $jobs of ${plans.size} queries; one aggregate runs $aggJobs")
  }

  test("knnJoinPruned and knnJoinStored are one graft_knn_topk aggregate: no Window, Sort or Join") {
    import graft.index.GlobalIndex
    import graft.table.SnapshotStore
    val pts = Points(spark, dir)
    val (qs, k) = (Fixtures.knnQueries, Fixtures.knnJoinK)
    val (pruned, _) = observed(SpatialOps.knnJoinPruned(pts, qs, k))
    val st = new SnapshotStore(spark, tempDir("graft_planspec_knn").toString)
    st.append(pts, "unit-all", numPartitions = 8)
    val stored = GlobalIndex.knnJoinStored(st, qs, k)
    stored.collect()
    for ((name, p) <- Seq("knnJoinPruned" -> pruned.head, "knnJoinStored" -> plan(stored))) {
      for (op <- Seq("Window", "Sort", "Join")) assert(!p.contains(op), s"$name plans a $op:\n$p")
      assert(p.contains("partial_graft_knn_topk("), s"$name:\n$p")
      assert(p.contains("explode(graft_shape_hits("), s"$name:\n$p")
      noEncoderRoundTrip(name, p)
    }
  }

  test("rasterize is one Range source: no Union, no Exchange") {
    for ((name, polys) <- Seq("fixtures" -> Fixtures.polys,
                              "stars(16)" -> SpatialOpsSpec.stars(16, seed = 5))) {
      val p = plan(SpatialOps.rasterize(spark, polys))
      assert(p.split("Range \\(").length - 1 == 1, s"$name: one Range source\n$p")
      assert(!p.contains("Union"), s"$name: no per-polygon Union arms\n$p")
      assert(!p.contains("Exchange"), s"$name: rasterize must not shuffle\n$p")
    }
  }

  test("tilePyramid is one histogram plus one rollup: exactly two exchanges") {
    for (rMax <- Seq(3, 6)) {
      val p = plan(SpatialOps.tilePyramid(Points(spark, dir), rMax))
      assert(p.split("Exchange").length - 1 == 2, s"rMax=$rMax:\n$p")
    }
  }

  test("no generated whole-stage method passes HotSpot's 8000-byte huge-method limit") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    // the JIT skips methods over 8000 bytecode bytes (HugeMethodLimit), so
    // a stage past it runs interpreted; one Column predicate per polygon
    // crossed it at three 8-vertex polygons
    val pts = Points(spark, dir)
    val many = SpatialOpsSpec.stars(16, seed = 5)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plans = Seq(
        "pipJoin" -> SpatialOps.pipJoin(pts, many),
        "zonalStats" -> SpatialOps.zonalStats(pts, many),
        "rasterize" -> SpatialOps.rasterize(spark, many),
        "tilePyramid" -> SpatialOps.tilePyramid(pts),
        "tileHistogram" -> SpatialOps.tileHistogram(pts),
        "boxJoin" -> SpatialOps.boxJoin(pts, Fixtures.boxes),
        "knnJoinAgg" -> SpatialOps.knnJoinAgg(pts, Fixtures.knnQueries, Fixtures.knnJoinK))
      for ((name, df) <- plans) {
        val stages = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
        assert(stages.nonEmpty, s"$name has no codegen stage")
        for (w <- stages) {
          val size = CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize
          assert(size <= 8000, s"$name stage ${w.codegenStageId}: largest method $size B")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("tileAssign is shuffle-free; histogram has exactly one exchange") {
    val pa = plan(SpatialOps.tileAssign(Points(spark, dir)))
    assert(!pa.contains("Exchange"), "tile assignment must not shuffle")
    val ph = plan(SpatialOps.tileHistogram(Points(spark, dir)))
    assert(ph.split("Exchange").length - 1 == 1, "histogram = partial agg + ONE exchange + final agg")
    assert(ph.contains("partial_count") || ph.contains("HashAggregate"), ph.take(300))
  }

  test("id-filter pushes to the parquet scan") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_orderkey") === 42L).select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]"), p)
  }

  test("image pipeline prunes the bytes column at the scan") {
    val images = Synth.table(spark, 8).toDF()
    val path = tempDir("plan_img").toString + "/t"
    images.write.parquet(path)
    val pts = Synth.imagePoints(
      spark.read.parquet(path).select(col("image_id"), col("phash")))
      .withColumn("id", xxhash64(col("image_id")))
    val p = plan(SpatialOps.tileHistogram(pts, Fixtures.TileRes))
    assert(p.contains("ReadSchema") && !p.contains("bytes"),
      "bytes must never reach the tile pipeline's scan:\n" + p.take(800))
  }

  test("knnSerial plans TakeOrderedAndProject (per-partition top-k + merge)") {
    val df = Points(spark, dir)
      .withColumn("d2", graft.geo.GeoCols.d2(col("lat"), col("lon"), 1.0, 2.0))
      .orderBy(col("d2"), col("id")).limit(25)
    assert(plan(df).contains("TakeOrderedAndProject"), plan(df).take(400))
  }

  test("whole-stage codegen covers the spatial predicates") {
    // "*(n)" is the WholeStageCodegen stage marker in the compact plan form
    val p = plan(SpatialOps.rangeBox(Points(spark, dir), Fixtures.boxes.head._2))
    assert(p.contains("*(1)") || p.contains("WholeStageCodegen"),
      "spatial filter fell out of codegen")
    assert(p.contains("*(1) Filter"), "the box predicate must be inside the codegen stage")
  }
}
