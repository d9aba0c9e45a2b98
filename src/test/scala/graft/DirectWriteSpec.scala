package graft

import graft.geo.GeoCols
import org.apache.spark.sql.{GraftParquetDirect, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The committer-free parquet writer behind the snapshot store's data
  * units must be indistinguishable from `df.write.parquet` to every
  * downstream consumer: same rows back, same file-per-partition layout,
  * real column statistics in the footers (file pruning reads them), one
  * schema-bearing file on empty input, and ErrorIfExists semantics. */
class DirectWriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def tmp() = java.nio.file.Files.createTempDirectory("graft_dwspec_")

  test("round-trips the clustered unit byte-for-byte vs the builtin writer") {
    val base = tmp()
    val pts = (1L to 5000L).map(i =>
      (i, (i % 173).toDouble / 2 - 43, (i % 361).toDouble - 180)).toDF("id", "lat", "lon")
    val clustered = pts.withColumn("__z", GeoCols.zCol(col("lat"), col("lon"), 12))
      .repartitionByRange(4, col("__z")).sortWithinPartitions(col("__z"))
    clustered.write.parquet(s"$base/builtin")
    val written = GraftParquetDirect.write(clustered, s"$base/direct")
    val a = spark.read.parquet(s"$base/builtin")
    val b = spark.read.parquet(s"$base/direct")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    assert(b.inputFiles.length == a.inputFiles.length)
    assert(written.map(_._2).sum == 5000L)
    assert(written.forall(_._1.startsWith("part-")))
    // the dir holds EXACTLY the reported files — the post-job cleanup's
    // contract for consumers that read the directory (staging, oracle)
    val onDisk = new java.io.File(s"$base/direct").list()
      .filter(_.startsWith("part-")).toSet
    assert(onDisk == written.map(_._1).toSet)
    graft.ops.OpUtil.deleteTree(base)
  }

  test("footers carry usable column statistics for pruning") {
    val base = tmp()
    val pts = (1L to 1000L).map(i =>
      (i, i.toDouble / 100, i.toDouble / 50)).toDF("id", "lat", "lon")
      .withColumn("__z", GeoCols.zCol(col("lat"), col("lon"), 12))
      .coalesce(1)
    GraftParquetDirect.write(pts, s"$base/u")
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(s"$base/u")
    val fs = dir.getFileSystem(conf)
    val files = fs.listStatus(dir).filter(_.getPath.getName.startsWith("part-"))
    assert(files.length == 1)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(files.head.getPath, conf))
    try {
      import scala.jdk.CollectionConverters._
      val cols = r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
      for (c <- Seq("id", "lat", "lon", "__z")) {
        val st = cols.filter(_.getPath.toDotString == c).map(_.getStatistics)
        assert(st.nonEmpty && st.forall(s =>
          s != null && !s.isEmpty && s.hasNonNullValue), s"no stats for $c")
      }
    } finally r.close()
    graft.ops.OpUtil.deleteTree(base)
  }

  test("empty input writes one readable schema-bearing file") {
    val base = tmp()
    val none = Seq.empty[(Long, Double)].toDF("id", "v")
    val written = GraftParquetDirect.write(none, s"$base/e")
    assert(written.length == 1 && written.head._2 == 0L)
    val back = spark.read.parquet(s"$base/e")
    assert(back.count() == 0 && back.columns.toSeq == Seq("id", "v"))
    graft.ops.OpUtil.deleteTree(base)
  }

  test("refuses an existing target (ErrorIfExists semantics)") {
    val base = tmp()
    val df = Seq((1L, 2.0)).toDF("id", "v")
    GraftParquetDirect.write(df, s"$base/x")
    intercept[Exception] { GraftParquetDirect.write(df, s"$base/x") }
    graft.ops.OpUtil.deleteTree(base)
  }

  test("a failed write job leaves no unit dir behind") {
    val base = tmp()
    // one task that fails at row 500, after the part file was opened
    val boom = spark.range(0, 1000).coalesce(1)
      .select(when(col("id") === 500L, raise_error(lit("boom at row 500")))
        .otherwise(col("id")).as("id"))
    val err = intercept[Exception](GraftParquetDirect.write(boom, s"$base/u"))
    assert(err.toString.contains("boom at row 500") ||
      Option(err.getCause).exists(_.toString.contains("boom at row 500")), err.toString)
    assert(!java.nio.file.Files.exists(base.resolve("u")))
    graft.ops.OpUtil.deleteTree(base)
  }

  test("overwrite replaces the previous target completely") {
    val base = tmp()
    val df1 = Seq((1L, 2.0), (2L, 3.0)).toDF("id", "v").repartition(2)
    val df2 = Seq((9L, 9.0)).toDF("id", "v").coalesce(1)
    GraftParquetDirect.write(df1, s"$base/x")
    GraftParquetDirect.write(df2, s"$base/x", overwrite = true)
    val back = spark.read.parquet(s"$base/x")
    assert(back.count() == 1 && back.head().getLong(0) == 9L)
    graft.ops.OpUtil.deleteTree(base)
  }

  test("staging reads back the reported files: no planning job, strays unread") {
    // the staged oracle operators re-read their checkpoint: from the
    // (name, rows) list the write reported, under the input's schema — no
    // directory listing and no footer-inference job
    def jobsOf(group: String)(body: => Unit): Int = {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    }
    val base = tmp()
    // a fresh frame per write: a re-run of one frame reuses its shuffle
    def df = (1L to 200L).map(i => (i, i * 0.5, s"s$i")).toDF("id", "v", "s").repartition(3)
    var staged: org.apache.spark.sql.DataFrame = null
    val stageJobs = jobsOf("stage") { staged = graft.ops.OpUtil.stageOrPersist(df, Some(s"$base/s")) }
    val writeJobs = jobsOf("write-only")(GraftParquetDirect.write(df, s"$base/w"))
    assert(stageJobs == writeJobs, s"staging ran $stageJobs jobs, its write alone $writeJobs")
    // a stray part file (a zombie attempt's output) beside the reported ones
    val dir = base.resolve("s")
    val real = dir.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(real.toPath, dir.resolve("part-99999-stray-t0.snappy.parquet"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sorted.toSeq
    assert(staged.schema.map(f => (f.name, f.dataType)) == df.schema.map(f => (f.name, f.dataType)))
    assert(rows(staged) == rows(df))
    assert(!staged.inputFiles.exists(_.contains("stray")))
    graft.ops.OpUtil.deleteTree(base)
  }
}
