package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One seeded workload, driven by [[Main]] as a closed loop with one
  * client: operation `i + 1` starts when operation `i` returns. */
trait Workload {
  /** Build fresh inputs and state. Timed as `setup_s`; also the warm-up. */
  def setup(): Unit
  /** Op kind of operation `i`; with [[run]], a pure function of (seed, i). */
  def kind(i: Int): String
  /** How many operations of each kind make up one cycle of the mix. */
  def cycle: Map[String, Int]
  /** Execute operation `i`, recording what its output must be checked against. */
  def run(i: Int, t: Tracer): Unit
  /** Check the outputs recorded since the last [[setup]] (outside the timed
    * loop): returns the indices of operations whose output was wrong, and
    * descriptions of whole-workload checks that failed. */
  def check(): (Set[Int], Seq[String])
  /** Workload-specific end-to-end figures of the window just checked. */
  def detail(window: Window): Map[String, Double]
  /** Layer state at the end of the window (table.files_live, ...). */
  def state(): Map[String, Double]
}

/** Latencies and application CPU times of one measured window, in op order. */
final case class Window(kinds: IndexedSeq[String], ms: IndexedSeq[Double],
                        cpuMs: IndexedSeq[Double], threw: Set[Int], wallS: Double) {
  def ops: Int = ms.size
  private def of(xs: IndexedSeq[Double], kind: String) =
    kinds.indices.filter(kinds(_) == kind).map(xs)
  def p(kind: String, q: Double): Double = Stats.pct(of(ms, kind), q)
  def cpuP50(kind: String): Double = Stats.pct(of(cpuMs, kind), 0.5)
}

object Stats {
  /** Percentile, linearly interpolated between the closest ranks (the
    * median of an even count is the mean of the middle two; NaN when empty).
    * Per-kind samples are few, so interpolation keeps them from snapping to
    * one sample. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

object Host {
  /** (total, steal) jiffies from the aggregate `/proc/stat` cpu line. */
  def cpuStat(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val parts = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      (parts.sum, parts(7))
    } catch { case _: Exception => (-1L, -1L) }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time of every live Java thread, by thread id: the application's
    * own threads (driver, scheduler, task threads). HotSpot's JIT compiler
    * and GC threads are not Java-visible, so their CPU is left out; and the
    * kernel does not charge a thread for time the hypervisor steals. */
  def threadCpuNs(): Map[Long, Long] =
    threads.getAllThreadIds.iterator.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 > 0).toMap

  def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }
}

/** Minimal JSON writer for the result, detail and trace documents. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

object Main {

  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val smoke = opt.get("smoke").contains("1")
    val work = need("work")
    val (cpu0, steal0) = Host.cpuStat()
    val load0 = Host.loadAvg()
    val cores = Runtime.getRuntime.availableProcessors
    val sessionStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - sessionStart) / 1e9
    val exit = try {
      val wl: Workload = workload match {
        case "serve" => new Serve(spark, seed, smoke, work)
        case "ingest" => new Ingest(spark, seed, smoke, work)
        case "tile_pipeline" => new TilePipeline(spark, seed, smoke)
        case other => sys.error(s"unknown workload '$other' (serve | ingest | tile_pipeline)")
      }
      val setups = (1 to SetupReps).map { _ =>
        val t0 = System.nanoTime(); wl.setup(); (System.nanoTime() - t0) / 1e9
      }
      val tracer = new Tracer(spark)
      val plain = measure(wl, tracer, seconds)
      val (wrong, problems) = wl.check()
      val detail = wl.detail(plain)
      var attempted = plain.ops
      var failed = (plain.threw ++ wrong).size
      var allProblems = problems
      val metrics: Seq[(String, Double, String)] =
        if (!traced) endToEnd(plain, setups, wl.cycle)
        else {
          // A traced window between two untraced ones, each on fresh state
          // and replaying the same seeded op stream: their first ops pair up
          // one to one, and the two untraced windows cancel warm-up drift
          // out of the tracing overhead.
          def window(traced: Boolean): (Window, Map[String, Double]) = {
            wl.setup()
            if (traced) tracer.enable() else tracer.disable()
            val w = measure(wl, tracer, seconds)
            val state = wl.state()
            val (bad, probs) = wl.check()
            attempted += w.ops
            failed += (w.threw ++ bad).size
            allProblems ++= probs
            (w, state)
          }
          val (tw, state) = window(traced = true)
          val (after, _) = window(traced = false)
          val layers = perLayer(tracer, tw, Seq(plain, after), state)
          writeTrace(opt.get("trace-out"), workload, seed, wl.cycle, tracer, tw, plain, layers)
          layers
        }
      val (cpu1, steal1) = Host.cpuStat()
      val host = Map(
        "nproc" -> cores, "seed" -> seed, "workload" -> workload,
        "steal_frac" -> (if (cpu1 > cpu0 && cpu0 >= 0) (steal1 - steal0).toDouble / (cpu1 - cpu0) else -1.0),
        "loadavg_start" -> load0, "loadavg_end" -> Host.loadAvg(),
        "java" -> System.getProperty("java.version"), "spark" -> spark.version,
        "session_start_s" -> sessionS, "setup_reps_s" -> setups)
      println(Json(Map("host" -> host)))
      // the tail: the highest of p90/p75/p50 that leaves ten samples beyond it
      val tailQ = Seq(0.9, 0.75, 0.5).find(q => plain.ops * (1 - q) >= 10).getOrElse(0.5)
      println(Json(Map("detail" -> (detail ++ Map(
        "cycle_s" -> cycleS(plain, wl.cycle),
        "ops" -> plain.ops.toDouble, "tail_q" -> tailQ, "tail_ms" -> Stats.pct(plain.ms, tailQ),
        "ops_failed_frac" -> failed.toDouble / math.max(1, attempted))))))
      allProblems.foreach(p => System.err.println(s"check failed: $p"))
      println(Json(Map(
        "correct" -> (failed == 0 && allProblems.isEmpty),
        "attempted" -> attempted, "failed" -> failed,
        "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally spark.stop()
    sys.exit(exit)
  }

  /** The closed loop: run operations back to back until `seconds` pass and
    * at least one whole cycle of the mix has run. */
  def measure(wl: Workload, t: Tracer, seconds: Double): Window = {
    val minOps = wl.cycle.values.sum
    val kinds = mutable.ArrayBuffer.empty[String]
    val ms = mutable.ArrayBuffer.empty[Double]
    val cpuMs = mutable.ArrayBuffer.empty[Double]
    val threw = mutable.Set.empty[Int]
    val start = System.nanoTime()
    val end = start + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < end || i < minOps) {
      val k = wl.kind(i)
      val c = Host.threadCpuNs()
      val s = System.nanoTime()
      try wl.run(i, t)
      catch { case e: Exception =>
        System.err.println(s"op $i ($k) failed: $e"); threw += i
      }
      val e = System.nanoTime()
      cpuMs += Host.threadCpuNs().map { case (id, ns) => ns - c.getOrElse(id, 0L) }.sum / 1e6
      t.endOp(k, s, e)
      kinds += k; ms += (e - s) / 1e6
      i += 1
    }
    Window(kinds.toIndexedSeq, ms.toIndexedSeq, cpuMs.toIndexedSeq, threw.toSet,
      (System.nanoTime() - start) / 1e9)
  }

  /** One cycle of the mix priced at each kind's median latency. */
  def cycleS(w: Window, cycle: Map[String, Int]): Double =
    cycle.map { case (k, n) => n * w.p(k, 0.5) }.sum / 1e3

  /** `cycle_cpu_s` prices one cycle of the mix at each kind's median
    * application CPU time: the work a cycle costs, robust to where the window
    * cuts the last cycle and to single slow operations. Its wall-time twin,
    * `cycle_s` in the detail line, swings with hypervisor steal, which CPU
    * time does not count. */
  def endToEnd(w: Window, setups: Seq[Double], cycle: Map[String, Int]): Seq[(String, Double, String)] = Seq(
    ("setup_s", Stats.median(setups), "s"),
    ("cycle_cpu_s", cycle.map { case (k, n) => n * w.cpuP50(k) }.sum / 1e3, "s"))

  /** Operators whose plan construction and action are spanned separately. */
  val Operators: Seq[String] =
    Seq("tile_histogram", "tile_pyramid", "box_join", "pip_join", "knn_join", "range_box")

  /** Per-layer metrics of the traced window `tw`; `plain` are untraced
    * windows over the same op stream, for the tracing overhead. */
  def perLayer(t: Tracer, tw: Window, plain: Seq[Window],
               state: Map[String, Double]): Seq[(String, Double, String)] = {
    val tot = t.totals
    val ops = math.max(1.0, tot("ops"))
    def perCall(span: String): Double =
      t.spanStats.get(span).map { case (c, s) => s / c }.getOrElse(0.0)
    def perOp(k: String): Double = tot(k) / ops
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    val cores = Runtime.getRuntime.availableProcessors
    val paired = (tw +: plain).map(_.ops).min
    val overhead = ratio(tw.ms.take(paired).sum,
      plain.map(_.ms.take(paired).sum).sum / plain.size) - 1.0
    val driverGap = Seq("table", "index", "ops", "unattributed").map(l => tot(s"layer.$l.self_s")).sum
    Seq(
      ("table.read.s", perCall("table.read"), "s/call"),
      ("table.read_boxes.s", perCall("table.read_boxes"), "s/call"),
      ("table.lookup.s", perCall("table.lookup"), "s/call"),
      ("table.files_opened", perOp("table.files_opened"), "count/op"),
      ("table.files_total", perOp("table.files_total"), "count/op"),
      ("table.prune_ratio", ratio(tot("table.files_opened"), tot("table.files_total")), "ratio"),
      ("table.append.s", perCall("table.append"), "s/call"),
      ("table.delete.s", perCall("table.delete"), "s/call"),
      ("table.compact.s", perCall("table.compact"), "s/call"),
      ("table.expire.s", perCall("table.expire"), "s/call"),
      ("table.vacuum.s", perCall("table.vacuum"), "s/call"),
      ("table.files_live", state.getOrElse("table.files_live", 0.0), "count"),
      ("table.bytes_live", state.getOrElse("table.bytes_live", 0.0), "B"),
      ("table.snapshots", state.getOrElse("table.snapshots", 0.0), "count"),
      ("index.knn_stored.s", perCall("index.knn_stored"), "s/call")) ++
    Operators.flatMap(o => Seq(
      (s"ops.$o.call_s", perCall(s"ops.$o.call"), "s/call"),
      (s"ops.$o.action_s", perCall(s"ops.$o.action"), "s/call"))) ++
    Seq(
      ("spark.analysis.s", perOp("spark.analysis.s"), "s/op"),
      ("spark.optimization.s", perOp("spark.optimization.s"), "s/op"),
      ("spark.planning.s", perOp("spark.planning.s"), "s/op"),
      ("spark.jobs", tot("spark.jobs"), "count"),
      ("spark.stages", tot("spark.stages"), "count"),
      ("spark.tasks", tot("spark.tasks"), "count"),
      ("spark.jobs_per_op", perOp("spark.jobs"), "count/op"),
      ("spark.task_run.s", perOp("spark.task_run.s"), "s/op"),
      ("spark.task_cpu.s", perOp("spark.task_cpu.s"), "s/op"),
      ("spark.gc.s", perOp("spark.gc.s"), "s/op"),
      ("spark.shuffle_write.bytes", perOp("spark.shuffle_write.bytes"), "B/op"),
      ("spark.shuffle_read.bytes", perOp("spark.shuffle_read.bytes"), "B/op"),
      ("spark.spill.bytes", perOp("spark.spill.bytes"), "B/op"),
      ("spark.input.bytes", perOp("spark.input.bytes"), "B/op"),
      ("spark.input.records", perOp("spark.input.records"), "count/op"),
      ("spark.rows_examined_per_result",
        ratio(tot("spark.input.records"), tot("result.rows")), "ratio"),
      ("spark.output.bytes", perOp("spark.output.bytes"), "B/op"),
      ("spark.output.records", perOp("spark.output.records"), "count/op"),
      ("spark.scan.files", perOp("spark.scan.files"), "count/op"),
      ("spark.scan.bytes", perOp("spark.scan.bytes"), "B/op"),
      ("spark.core_busy_frac", ratio(tot("spark.task_run.s"), tot("op.wall_s") * cores), "ratio"),
      ("driver_gap.s", driverGap / ops, "s/op"),
      ("op.wall_s", perOp("op.wall_s"), "s/op")) ++
    Tracer.Layers.map(l => (s"layer.$l.self_s", perOp(s"layer.$l.self_s"), "s/op")) ++
    Seq(("trace.overhead_frac", overhead, "ratio"))
  }

  def writeTrace(path: Option[String], workload: String, seed: Long, cycle: Map[String, Int], t: Tracer,
                 tw: Window, plain: Window, layers: Seq[(String, Double, String)]): Unit =
    path.foreach { p =>
      def e2e(w: Window) = endToEnd(w, Seq(Double.NaN), cycle).map(m => m._1 -> m._2).toMap
      val doc = Map(
        "workload" -> workload, "seed" -> seed,
        "per_layer" -> layers.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
        "end_to_end_untraced" -> e2e(plain), "end_to_end_traced" -> e2e(tw),
        "spans" -> t.spanStats.map { case (n, (c, s)) => n -> Map("calls" -> c, "s" -> s) },
        "ops" -> t.records)
      Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
      Files.writeString(Paths.get(p), Json(doc))
    }
}

/** Prints the JVM options Spark's own launcher adds, for `run.py`. */
object JvmOptions {
  def main(args: Array[String]): Unit =
    println(org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions())
}
