package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spans around the benchmark's calls into each layer, plus Spark's public
  * listeners, held in memory. Off (the default) a span is a plain call and
  * no listener is registered; [[enable]] and [[disable]] switch tracing.
  *
  * Each traced operation's wall time is split into disjoint self times,
  * instant by instant, with this priority: Catalyst phases
  * (`QueryPlanningTracker`), then Spark execution (job and SQL-execution
  * intervals), then the innermost benchmark span's layer (`table`, `index`,
  * `ops`), then `unattributed` (benchmark code outside every layer span).
  * The self times therefore add up to the wall time exactly; `driver_gap`
  * is the part no Spark action covers (`table` + `index` + `ops` +
  * `unattributed`). */
final class Tracer(spark: SparkSession) {

  private val sc = spark.sparkContext
  private var on = false
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  private def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  // per-operation buffers; listener callbacks run on the bus thread
  private val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val sqlStart = mutable.Map.empty[Long, Long]
  private val execIv = mutable.ArrayBuffer.empty[(Double, Double)]
  private val phaseIv = mutable.ArrayBuffer.empty[(String, Double, Double)]
  private val opCount = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Run totals, keyed by metric-like names. */
  val totals: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Per span name: (calls, summed seconds). */
  val spanStats: mutable.Map[String, (Int, Double)] = mutable.Map.empty
  /** One record per traced operation, for the trace file. */
  val records: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty

  private def add(k: String, v: Double): Unit = opCount(k) += v

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStart(e.jobId) = e.time; add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => execIv += ((s.toDouble, e.time.toDouble)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { add("spark.stages", 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_run.s", m.executorRunTime / 1e3)
        add("spark.task_cpu.s", m.executorCpuTime / 1e9)
        add("spark.gc.s", m.jvmGCTime / 1e3)
        add("spark.shuffle_write.bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.shuffle_read.bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("spark.input.bytes", m.inputMetrics.bytesRead.toDouble)
        add("spark.input.records", m.inputMetrics.recordsRead.toDouble)
        add("spark.output.bytes", m.outputMetrics.bytesWritten.toDouble)
        add("spark.output.records", m.outputMetrics.recordsWritten.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => sqlStart(s.executionId) = s.time
        case x: SparkListenerSQLExecutionEnd =>
          sqlStart.remove(x.executionId).foreach(s => execIv += ((s.toDouble, x.time.toDouble)))
        case _ =>
      }
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val scans = PlanWalk.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec =>
          (s.metrics.get("numFiles").map(_.value).getOrElse(0L),
           s.metrics.get("filesSize").map(_.value).getOrElse(0L))
      }
      Tracer.this.synchronized {
        qe.tracker.phases.foreach { case (phase, p) =>
          phaseIv += ((phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
          add(s"spark.$phase.s", p.durationMs / 1e3)
        }
        scans.foreach { case (files, bytes) =>
          add("spark.scan.files", files.toDouble); add("spark.scan.bytes", bytes.toDouble)
        }
      }
    }
  }

  /** Register the listeners; every later operation is traced. */
  def enable(): Unit = if (!on) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    org.apache.spark.BenchBus.drain(sc)
    on = true
  }

  /** Unregister the listeners; later operations run untraced. */
  def disable(): Unit = if (on) {
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  /** Time `f` as a span of the layer named by the prefix of `name`
    * (`table.read` belongs to `table`). */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val s = System.nanoTime()
      try f finally synchronized { spans += ((name, s, System.nanoTime())) }
    }

  /** Count a layer-side quantity (result rows, ...). */
  def count(name: String, v: Double): Unit = if (on) synchronized { add(name, v) }

  /** Count the (files kept, files in the snapshot) a store read reports. */
  def files(kept: Int, total: Int): Unit = {
    count("table.files_opened", kept); count("table.files_total", total)
  }

  /** Close a traced operation that ran over [startNs, endNs]: wait for its
    * listener events, split its wall time into layer self times and fold
    * its counters into the run totals. */
  def endOp(kind: String, startNs: Long, endNs: Long): Unit = if (on) {
    org.apache.spark.BenchBus.drain(sc)
    synchronized {
      val s0 = epochMs(startNs); val s1 = epochMs(endNs)
      val sp = spans.map { case (n, a, b) => (n, epochMs(a), epochMs(b)) }
      val cuts = (Seq(s0, s1) ++ execIv.flatMap(i => Seq(i._1, i._2)) ++
        phaseIv.flatMap(i => Seq(i._2, i._3)) ++ sp.flatMap(i => Seq(i._2, i._3)))
        .filter(t => t >= s0 && t <= s1).distinct.sorted
      val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val mid = (a + b) / 2
        val layer =
          if (phaseIv.exists(p => p._2 <= mid && mid <= p._3)) "spark_catalyst"
          else if (execIv.exists(i => i._1 <= mid && mid <= i._2)) "spark_exec"
          else sp.filter(x => x._2 <= mid && mid <= x._3).sortBy(-_._2).headOption
            .map(_._1.takeWhile(_ != '.')).getOrElse("unattributed")
        self(layer) += (b - a) / 1e3
      }
      val wall = (s1 - s0) / 1e3
      Tracer.Layers.foreach(l => totals(s"layer.$l.self_s") += self(l))
      totals("op.wall_s") += wall
      totals("ops") += 1
      opCount.foreach { case (k, v) => totals(k) += v }
      spans.foreach { case (n, a, b) =>
        val (c, t) = spanStats.getOrElse(n, (0, 0.0))
        spanStats(n) = (c + 1, t + (b - a) / 1e9)
      }
      records += Map("kind" -> kind, "wall_s" -> wall,
        "self_s" -> Tracer.Layers.map(l => l -> self(l)).toMap,
        "jobs" -> opCount("spark.jobs"), "tasks" -> opCount("spark.tasks"))
      spans.clear(); execIv.clear(); phaseIv.clear(); opCount.clear()
    }
  }
}

object Tracer {
  val Layers: Seq[String] =
    Seq("table", "index", "ops", "spark_catalyst", "spark_exec", "unattributed")
}
