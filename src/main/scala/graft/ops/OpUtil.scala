package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.StructType

private[graft] object OpUtil {

  /** Materialize a small final result eagerly and release the heavy
    * upstream caches. Operators that persist a wide intermediate (minhash
    * signatures, LSH buckets, shingle arrays) call this so repeated
    * operator invocations in a long-lived session do not accrue
    * MEMORY_AND_DISK storage. persist+count (NOT localCheckpoint): the
    * result's lineage is kept, so an executor loss after the upstream
    * unpersist recomputes from source instead of failing on missing
    * checkpoint blocks — correctness over speed on the rare-loss path.
    * The returned tiny cache is the caller's to unpersist (bounded:
    * pair/top-k row counts). */
  private[graft] def finish(result: DataFrame, upstream: Dataset[_]*): DataFrame = {
    val out = result.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    upstream.foreach(_.unpersist(false))
    out
  }

  /** A small driver-built frame of `rows` under `schema` — a local
    * relation, as `Seq(...).toDF` gives, without deriving a tuple encoder
    * on every call (≈ 6 ms for a 6-tuple on a warm driver). */
  private[graft] def localFrame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Stage-or-persist barrier behind every staged-oracle operator: with a
    * `stagePath` the intermediate is checkpointed to parquet and read back
    * (the generated DuckDB oracle reads the SAME bits); without one it is
    * persisted MEMORY_AND_DISK — the CollapseProject recompute barrier
    * either way. The one copy of an idiom that was hand-rolled across five
    * call sites (minhash/simhash/LSH signatures, curation metadata,
    * fingerprints) and would have drifted. */
  private[graft] def stageOrPersist(df: DataFrame,
                                    stagePath: Option[String]): DataFrame =
    stagePath match {
      case Some(p) => stage(df, p)
      case None => df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Checkpoint `df` to parquet at `path` (committer-free: ~0.2 s less
    * fixed driver cost, OPTIMIZATION_r06.md §1b) and read back exactly the
    * files the write reported, under `df`'s schema: no listing of the dir
    * (a zombie's stray part file is never read) and no footer-inference
    * job. */
  private[graft] def stage(df: DataFrame, path: String): DataFrame = {
    val files = org.apache.spark.sql.GraftParquetDirect.write(df, path, overwrite = true)
    df.sparkSession.read.schema(df.schema)
      .parquet(files.map(f => new org.apache.hadoop.fs.Path(path, f._1).toString): _*)
  }

  /** Best-effort recursive delete of a temp tree, with the walk stream
    * CLOSED (Files.walk leaks a directory fd until GC otherwise). The
    * one copy of an idiom that had drifted across three call sites
    * (SparkEntry.tempStore and two Bench staging blocks). */
  private[graft] def deleteTree(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val w = java.nio.file.Files.walk(root)
    val all = try w.iterator().asScala.toSeq finally w.close()
    all.reverse.foreach(p =>
      try java.nio.file.Files.delete(p) catch { case _: Throwable => () })
  }
}
