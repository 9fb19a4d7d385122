package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM. `perfbench/run.py` builds the classpath
  * and launches it; see `perfbench/README.md` for the workloads and
  * metrics.
  *
  * Usage: Main --workload keyspace_sync|graph_fixpoints --seed N
  *   --seconds S --trace 0|1 --data DIR --work DIR [--scale full|smoke]
  *   [--trace-file FILE] [--expect query=hash ...]
  *
  * `--data` is `perfbench/data`, which holds the fixture copies. Prints,
  * as its last stdout line, `PERFBENCH_RESULT` followed by a JSON object
  * with `correct`, `attempted`, `failed` and `metrics` (name → value).
  */
object Main {
  /** Per scale: the fixture directory under `--data` and the reads per
    * keyspace_sync pass. */
  final case class Scale(fixture: String, reads: Int)
  val Scales: Map[String, Scale] = Map(
    "full" -> Scale("sf0.01", 5),
    "smoke" -> Scale("sf0.001", 4))

  /** Times the workload's set-up is run; `setup_s` takes the median. */
  val SetupRepeats = 3

  private def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.isEmpty) -1.0
    else if (v.size % 2 == 1) v(v.size / 2)
    else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  /** Figures of a list of passes: each total is the median pass's.
    * `setup_s` and the CPU totals are the end-to-end metrics; the wall
    * totals are reported for the traced pass only (`traced.*`), because
    * on a shared host they swing with its load (see layers.json). */
  def figures(passes: Seq[Pass], setupS: Double): Map[String, Double] = Map(
    "setup_s" -> setupS,
    "write_s" -> median(passes.map(_.writes.map(_.s).sum)),
    "read_s" -> median(passes.map(_.reads.map(_.s).sum)),
    "write_cpu_s" -> median(passes.map(_.writes.map(_.cpuS).sum)),
    "read_cpu_s" -> median(passes.map(_.reads.map(_.cpuS).sum)))

  /** The tracer's own cost inside the calls behind each end-to-end
    * metric of a traced pass: span bookkeeping on the calling thread for
    * the wall metrics, that plus the listener's handlers for the CPU
    * metrics; `installS` is what installing the listener adds to set-up. */
  def overhead(p: Pass, installS: Double): Map[String, Double] = {
    def cost(calls: Seq[Call]) = calls.map(_.tracer).foldLeft(Cost(0, 0)) {
      (a, c) => Cost(a.spanS + c.spanS, a.listenerS + c.listenerS)
    }
    val (w, r) = (cost(p.writes), cost(p.reads))
    Map("overhead.setup_s" -> installS,
      "overhead.write_s" -> w.spanS, "overhead.read_s" -> r.spanS,
      "overhead.write_cpu_s" -> (w.spanS + w.listenerS),
      "overhead.read_cpu_s" -> (r.spanS + r.listenerS))
  }

  /** Per-layer metrics of one traced pass, from its spans. */
  def layers(tr: SparkTracer): Map[String, Double] = {
    val st = tr.stats
    val byName = tr.spans.groupBy(_.name).view
      .mapValues(_.map(sp => st(sp.id))).toMap
    def total(name: String) = byName(name).foldLeft(SpanStats.Zero)(_ + _)
    val m = mutable.LinkedHashMap.empty[String, Double]
    def split(prefix: String, t: SpanStats, fields: Seq[String]): Unit =
      fields.foreach { f =>
        m(s"$prefix.$f") = f match {
          case "s" => t.s
          case "self_s" => t.selfS
          case "driver_only_s" => t.driverOnlyS
          case "in_job_s" => t.inJobS
          case "task_s" => t.taskS
          case "jobs" => t.jobs.toDouble
          case "input_b" => t.inputB.toDouble
          case "shuffle_b" => t.shuffleB.toDouble
          case "output_b" => t.outputB.toDouble
        }
      }
    for (phase <- Seq("full", "continue") if byName.contains(s"export.$phase")) {
      split(s"export.$phase", total(s"export.$phase"), Seq("s", "self_s",
        "driver_only_s", "in_job_s", "task_s", "jobs", "input_b",
        "shuffle_b", "output_b"))
      for (t <- Seq("transaction", "prefix_index", "block", "block_tx",
          "small_tables"))
        m(s"sink.$phase.$t.s") =
          byName.get(s"sink.$phase.$t").map(_.map(_.s).sum).getOrElse(0.0)
    }
    for (kind <- Seq("hash", "txid") if byName.contains(s"lookup.$kind.resolve")) {
      val res = byName(s"lookup.$kind.resolve")
      val exec = byName(s"lookup.$kind.exec")
      m(s"lookup.$kind.resolve_ms") = median(res.map(_.s)) * 1e3
      m(s"lookup.$kind.exec_ms") = median(exec.map(_.s)) * 1e3
      m(s"lookup.$kind.jobs") = (res ++ exec).map(_.jobs).sum.toDouble
      m(s"lookup.$kind.rows_scanned") = (res ++ exec).map(_.inputRows).sum.toDouble
    }
    for ((t, _) <- GraphFixpoints.Tiers if byName.contains(s"tier.$t"))
      split(s"tier.$t", total(s"tier.$t"), Seq("s", "driver_only_s",
        "in_job_s", "task_s", "jobs", "shuffle_b"))
    for (q <- GraphFixpoints.Queries if byName.contains(s"query.$q"))
      split(s"query.$q", total(s"query.$q"), Seq("s", "driver_only_s",
        "in_job_s", "task_s", "jobs"))
    m.toMap
  }

  def jvm: Map[String, Double] = Map(
    "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3,
    "jvm.heap_peak_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0)

  private def json(m: collection.Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k":${if (v.isNaN || v.isInfinite) -1.0 else v}"""
    }.mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    val opts = mutable.Map.empty[String, String]
    val expect = mutable.Map.empty[String, String]
    argv.grouped(2).foreach {
      case Array("--expect", qh) =>
        val Array(q, h) = qh.split("=", 2); expect(q) = h
      case Array(k, v) if k.startsWith("--") => opts(k.drop(2)) = v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val scale = Scales(opts.getOrElse("scale", "full"))
    val fixture = s"${opts("data")}/${scale.fixture}"

    val cpus = Runtime.getRuntime.availableProcessors
    val s = Workload.setupStep("spark session")(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")

    val out = new Outcome
    // Set-up is process start to the first timed call: the JVM and
    // session start once, then the workload's own set-up, which runs
    // SetupRepeats times (the last instance is used) and counts with its
    // median.
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val setups = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      val w: Workload = workload match {
        case "keyspace_sync" =>
          new KeyspaceSync(s, fixture, work, seed, scale.reads, out)
        case "graph_fixpoints" =>
          new GraphFixpoints(s, fixture, expect.toMap, out)
        case other => sys.error(s"unknown workload $other")
      }
      (w, (System.nanoTime() - t0) / 1e9)
    }
    val w = setups.last._1
    val setupS = sessionS + median(setups.map(_._2))
    System.err.println(f"[perfbench] set-up: $setupS%.1f s")

    // The timed pass of either run is the JVM's first. An untraced run
    // repeats it while another pass still fits the budget; a traced run
    // runs it once, traced, and reports the layers, the tracer's cost and
    // the end-to-end figures of the traced pass (`traced.*`), which less
    // the untraced runs' figures is the tracing overhead.
    val metrics: Map[String, Double] =
      if (!traced) {
        val t0 = System.nanoTime()
        val passes = mutable.ArrayBuffer(w.pass(NoTrace))
        def elapsed = (System.nanoTime() - t0) / 1e9
        while (elapsed * (passes.size + 1) / passes.size <= seconds)
          passes += w.pass(NoTrace)
        figures(passes.toSeq, setupS)
      } else {
        val i0 = System.nanoTime()
        val tr = new SparkTracer(s.sparkContext, s"pb$seed")
        s.sparkContext.addSparkListener(tr)
        val installS = (System.nanoTime() - i0) / 1e9
        val p = w.pass(tr)
        val untagged = tr.untaggedJobs
        if (untagged > 0)
          System.err.println(s"[perfbench] $untagged jobs ran untagged inside spans")
        opts.get("trace-file").foreach(f => tr.write(java.nio.file.Paths.get(f)))
        layers(tr) ++ w.layerExtras ++ jvm ++ overhead(p, installS) ++
          figures(Seq(p), setupS + installS).map { case (k, v) => s"traced.$k" -> v }
      }

    println(s"""PERFBENCH_RESULT {"correct":${out.failed == 0},""" +
      s""""attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":${json(metrics)}}""")
    s.stop()
  }
}
