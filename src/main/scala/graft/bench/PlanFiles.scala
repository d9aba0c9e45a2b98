package graft.bench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` of every declared query (or a subset) to
  * `<outDir>/<query>_<suffix>.txt` (default `plans/r06`, relative to the
  * working directory) — the plan evidence files the optimization round
  * commits under plans/r06/, normalized like [[PlanDump]]'s. Queries whose builder
  * runs eager work (storage staging, streaming drains) still produce the
  * plan of the frame they RETURN; failures write a SKIPPED file rather
  * than aborting the dump. Not part of the driver contract. */
object PlanFiles {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r06")
    val suffix = if (args.length > 1) args(1) else "after"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val wanted = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.forall(_.exists(w => n == w || n.startsWith(w))) }
      .foreach { case (name, fn) =>
        val body =
          try PlanDump.normalize(fn(spark, sfDir).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode))
          catch { case e: Throwable => s"SKIPPED: $e" }
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), body)
        println(s"[plans] $name -> $outDir/${name}_$suffix.txt")
      }
    spark.stop()
  }
}
