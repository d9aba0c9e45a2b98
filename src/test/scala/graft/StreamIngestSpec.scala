package graft

import graft.data.Points
import graft.streaming.StreamIngest
import graft.table.SnapshotStore
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Streaming ingestion into the snapshot store: micro-batches commit as
  * lineage units, a crash mid-stream resumes from the checkpoint, and a
  * RE-DELIVERED batch (crash between the append and the offset commit) is
  * skipped by the lineage check — the exactly-once sink contract. */
class StreamIngestSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmp(): String = tempDir("graft_si").toString

  lazy val pts = Points(spark, "/root/testdata/sf0.001").cache()

  private def norm(df: org.apache.spark.sql.DataFrame) =
    df.select("id", "lat", "lon").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq

  /** Write chunk i of the point table as a single parquet file named so
    * the file-stream source picks it up. */
  private def writeChunk(srcDir: String, i: Int): Unit = {
    import org.apache.spark.sql.functions._
    val stage = tmp()
    pts.filter(pmod(col("id"), lit(3)) === i).coalesce(1)
      .write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).iterator()
    var src: java.nio.file.Path = null
    while (part.hasNext) { val p = part.next(); if (p.toString.endsWith(".parquet")) src = p }
    Files.copy(src, Paths.get(srcDir, f"chunk-$i%02d.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def stream(srcDir: String, store: SnapshotStore, ckpt: String) = {
    val src = spark.readStream.schema(pts.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    StreamIngest.run(src, store, ckpt, numPartitions = 2)
  }

  /** The checkpoint-scoped token StreamIngest embeds in lineage ids. */
  private def token(ckpt: String): String =
    Files.readString(Paths.get(ckpt, "graft-stream-id")).trim

  test("micro-batch ingestion == one-shot batch append") {
    val srcDir = tmp()
    (0 until 3).foreach(writeChunk(srcDir, _))
    val store = new SnapshotStore(spark, tmp())
    val ckpt = tmp()
    val q = stream(srcDir, store, ckpt)
    try q.processAllAvailable() finally q.stop()
    val t = token(ckpt)
    assert(store.committedLineage ==
      (0 until 3).map(i => s"stream-batch-$t-$i").toSet)
    assert(norm(store.read()._1) == norm(pts))
    // per-batch lineage carries metrics like any batch unit
    assert(store.manifest().forall(_.wallMs >= 0))
  }

  test("fresh checkpoint over an existing store never collides with old lineage") {
    // an operator who loses the checkpoint and restarts from scratch gets
    // recycled batchIds (0, 1, ...); the checkpoint-scoped token keeps the
    // new units distinct from the old ones, so nothing is silently skipped
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val srcDir = tmp()
    writeChunk(srcDir, 0)
    val store = new SnapshotStore(spark, tmp())
    val q1 = stream(srcDir, store, tmp())
    try q1.processAllAvailable() finally q1.stop()
    assert(store.read()._1.count() == pts.filter(pmod(col("id"), lit(3)) === 0).count())
    // new data + NEW checkpoint → batchId 0 again, different token
    val src2 = tmp()
    writeChunk(src2, 1)
    val q2 = stream(src2, store, tmp())
    try q2.processAllAvailable() finally q2.stop()
    assert(norm(store.read()._1) ==
      norm(pts.filter(pmod(col("id"), lit(3)) === 0)
        .union(pts.filter(pmod(col("id"), lit(3)) === 1))))
  }

  test("crash mid-stream + re-delivered batch: resume converges, no duplicates") {
    val srcDir = tmp()
    writeChunk(srcDir, 0); writeChunk(srcDir, 1)
    val root = tmp(); val ckpt = tmp()
    val store = new SnapshotStore(spark, root)
    // leg 1: two batches commit, then the driver "crashes" (query stopped)
    val q1 = stream(srcDir, store, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    val t = token(ckpt)
    assert(store.committedLineage ==
      Set(s"stream-batch-$t-0", s"stream-batch-$t-1"))
    // chunk 2 arrives; simulate the worst crash point: batch 2's append
    // COMMITTED but the checkpoint offset did not — on restart, Structured
    // Streaming re-delivers batch 2 and the lineage check must skip it
    writeChunk(srcDir, 2)
    import org.apache.spark.sql.functions._
    store.append(pts.filter(pmod(col("id"), lit(3)) === 2),
      s"stream-batch-$t-2", numPartitions = 2)
    val q2 = stream(srcDir, store, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    // converged to the uninterrupted run: all rows exactly once
    assert(store.committedLineage ==
      (0 until 3).map(i => s"stream-batch-$t-$i").toSet)
    assert(norm(store.read()._1) == norm(pts))
  }
}
