package org.apache.spark.sql

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.util.SerializableConfiguration

import scala.reflect.ClassTag

/** Committer-free parquet write for [[graft.table.SnapshotStore]]'s data
  * units.
  *
  * `df.write.parquet` routes through `InsertIntoHadoopFsRelationCommand` /
  * `FileFormatWriter`: job-level committer setup, per-task temp dirs +
  * commit renames, write-stats trackers and a post-write catalog refresh —
  * measured at ~0.2 s of fixed driver cost per invocation on this host
  * (a 100-row write costs ~0.25 s vs ~0.05 s for the noop sink), paid by
  * every append/delete/compact of every store in the bench sweep. That
  * protocol exists to make THE DIRECTORY the atomic unit. The snapshot
  * store never relies on directory atomicity: its manifest commit is the
  * atomicity point (readers only ever open manifest-listed paths), which
  * is exactly why real table formats (Iceberg's write path) have tasks
  * write uniquely-named immutable files directly and commit via metadata.
  *
  * So: run the clustered plan as a plain RDD job; each non-empty partition
  * opens ONE parquet file under a unique, attempt-qualified name via
  * Spark's own `ParquetWriteSupport` (same bits, same encodings, same
  * column statistics as the built-in writer — this is the identical
  * `WriteSupport` class `ParquetFileFormat.prepareWrite` installs) and the
  * driver gets back the (name, rows) of every SUCCESSFUL task's file. A
  * failed or speculatively re-run attempt may orphan a partial file in the
  * unit dir; such files are deleted after the job, and callers build
  * manifest entries from the returned names only, so orphans never reach
  * the manifest (readers never list dirs). A job that fails deletes the
  * whole target dir, best effort, before the error propagates.
  *
  * [[writeStats]] additionally threads every row through a caller-supplied
  * per-task observer while it is being written — the write task sees each
  * row anyway, so unit-level statistics (per-cell slabs, Bloom bitsets,
  * file min/max) cost no second pass over the data
  * ([[graft.table.UnitTaskStats]]).
  *
  * Lives in `org.apache.spark.sql` for the same reason as
  * [[GraftColumnBridge]]: `classic.Dataset.queryExecution` and
  * `SerializableConfiguration` sit behind `private[sql]`/`private[spark]`.
  */
object GraftParquetDirect {

  /** Write `df` as one parquet file per non-empty partition into `dir`
    * (created; must not already exist — `SaveMode.ErrorIfExists`
    * semantics, unless `overwrite`, which deletes an existing target
    * first like `SaveMode.Overwrite`). Returns the written
    * (fileName, rowCount) pairs in partition order; writes one empty
    * schema-bearing file when every partition is empty, like the
    * built-in writer, so the dir stays readable. */
  def write(df: Dataset[Row], dir: String,
            overwrite: Boolean = false): Seq[(String, Long)] =
    writeStats[Null](df, dir,
      () => ((_: InternalRow) => (), () => null), overwrite)
      .map(r => (r._1, r._2))

  /** [[write]], with a per-task row observer: `observer()` is invoked once
    * per written file (inside the task), its first function sees every row
    * in write order, and its second produces the task's summary, returned
    * with the (fileName, rowCount) pair. The observer closure and `S` must
    * be serializable. */
  def writeStats[S](df: Dataset[Row], dir: String,
                    observer: () => (InternalRow => Unit, () => S),
                    overwrite: Boolean = false): Seq[(String, Long, S)] = {
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    conf.set(ParquetOutputFormat.WRITE_SUPPORT_CLASS,
      classOf[ParquetWriteSupport].getName)
    ParquetWriteSupport.setSchema(df.schema, conf)
    // ParquetWriteSupport.init ASSERTS these keys are present; the session
    // conf copy in newHadoopConf() only carries explicitly-set entries, so
    // mirror ParquetFileFormat.prepareWrite and pin the effective values.
    val sqlConf = spark.sessionState.conf
    Seq(internal.SQLConf.PARQUET_WRITE_LEGACY_FORMAT,
        internal.SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
        internal.SQLConf.PARQUET_REBASE_MODE_IN_WRITE,
        internal.SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE,
        internal.SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED,
        internal.SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE,
        internal.SQLConf.SESSION_LOCAL_TIMEZONE)
      .foreach(e => conf.set(e.key, sqlConf.getConfString(e.key, e.defaultValueString)))
    val codec = spark.conf
      .get("spark.sql.parquet.compression.codec", "snappy")
      .toLowerCase match {
        case "none" | "uncompressed" => "UNCOMPRESSED"
        case "lz4raw" | "lz4_raw"    => "LZ4_RAW" // ParquetOptions' one non-identity mapping
        case c                       => c.toUpperCase
      }
    conf.set(ParquetOutputFormat.COMPRESSION, codec)
    val fsPath = new Path(dir)
    val fs = fsPath.getFileSystem(conf)
    if (fs.exists(fsPath)) {
      if (overwrite) fs.delete(fsPath, true)
      else throw new AnalysisException(
        errorClass = "PATH_ALREADY_EXISTS",
        messageParameters = Map("outputPath" -> dir))
    }
    fs.mkdirs(fsPath)
    val ser = new SerializableConfiguration(conf)
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val ext =
      if (codec == "UNCOMPRESSED") ".parquet"
      else "." + codec.toLowerCase + ".parquet"
    val rdd = df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd
    implicit val ct: ClassTag[Option[(String, Long, S)]] =
      ClassTag(classOf[Option[_]]).asInstanceOf[ClassTag[Option[(String, Long, S)]]]
    val out =
      try {
        val written: Seq[(String, Long, S)] =
          if (rdd.getNumPartitions == 0) Seq.empty
          else spark.sparkContext
            .runJob(rdd, (tc: TaskContext, it: Iterator[InternalRow]) =>
              writeOne(ser, dir, uuid, ext, tc.partitionId(), tc.taskAttemptId(),
                it, force = false, observer))
            .flatten.toSeq
        if (written.nonEmpty) written
        else writeOne(ser, dir, uuid, ext, 0, 0L,
          Iterator.empty, force = true, observer).toSeq
      } catch {
        case e: Throwable =>
          // nothing references a failed write's files: drop the dir so a
          // failed append/compact/delete leaves no debris behind (a zombie
          // task of the failed job may still re-create it — vacuum's case)
          try fs.delete(fsPath, true)
          catch { case scala.util.control.NonFatal(_) => () }
          throw e
      }
    dropUnreported(fs, fsPath, out.map(_._1).toSet)
    out
  }

  /** Delete `part-*` files a failed or zombie task attempt left behind —
    * only the files reported by SUCCESSFUL tasks survive, restoring the
    * builtin committer's "only committed files are visible" property for
    * consumers that read the directory (staging re-reads, the DuckDB
    * oracle's glob). A speculative attempt still running at cleanup time
    * writes under its own task-attempt-unique name and can at worst
    * re-orphan a file afterwards; manifest-keyed readers never see it,
    * and the unit's own stats/reads go through the reported list. */
  private def dropUnreported(fs: org.apache.hadoop.fs.FileSystem,
                             dir: Path, reported: Set[String]): Unit =
    fs.listStatus(dir)
      .filter(f => f.getPath.getName.startsWith("part-") &&
        !reported.contains(f.getPath.getName))
      .foreach(f => fs.delete(f.getPath, false))

  /** One task's (or the driver's empty-fallback) file. The APP-UNIQUE
    * `TaskContext.taskAttemptId` is part of the name — unlike
    * `attemptNumber`, it does not restart at 0 when a stage is
    * resubmitted, so a re-run attempt (or a zombie from a previous stage
    * attempt) can never collide with — or half-overwrite — another
    * attempt's file. */
  private def writeOne[S](ser: SerializableConfiguration, dir: String,
                          uuid: String, ext: String, pid: Int, attempt: Long,
                          it: Iterator[InternalRow], force: Boolean,
                          observer: () => (InternalRow => Unit, () => S))
      : Option[(String, Long, S)] = {
    if (!force && !it.hasNext) return None
    val name = f"part-$pid%05d-$uuid-t$attempt$ext"
    val out = new Path(dir, name)
    val tac = new TaskAttemptContextImpl(ser.value,
      new TaskAttemptID(new TaskID(new JobID(uuid, 0), TaskType.MAP, pid),
        (attempt % Int.MaxValue).toInt))
    val fmt = new ParquetOutputFormat[InternalRow]() {
      override def getDefaultWorkFile(
          c: org.apache.hadoop.mapreduce.TaskAttemptContext,
          e: String): Path = out
    }
    val (obs, fin) = observer()
    val w = fmt.getRecordWriter(tac)
    var rows = 0L
    try {
      while (it.hasNext) {
        val r = it.next()
        obs(r)
        w.write(null, r)
        rows += 1
      }
    } finally w.close(tac)
    Some((name, rows, fin()))
  }
}
