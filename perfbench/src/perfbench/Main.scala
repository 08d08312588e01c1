package perfbench

import scala.collection.mutable.LinkedHashMap
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, ScalePair}

/** Benchmark entry point, started by `perfbench/run.py` (see README.md
  * there for the metric definitions).
  *
  * One run = one workload (extract | commit | battery) on
  * `local[cores]`: set up several times, run the workload's timed
  * operation until `--seconds` have passed, check every output, and
  * write the result object to `<work>/result.json`. Lines starting
  * with `# ` on stdout are the human-readable report. */
object Main {

  @volatile var sink: Long = 0L // keeps timed loops from being elided

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: java.io.File, spawnMs: Long, nproc: Int,
      pair: Boolean, dataDir: String, expected: String, classesDir: String) {
    /** The session runs on every CPU the process may run on. */
    def cores: Int = nproc
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", new java.io.File(get("work")), get("spawn-ms").toLong,
      get("nproc").toInt, get("pair") == "1", get("data"), get("expected"), get("classes"))
  }

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = parse(argv)
    val ctx = new Ctx(a, bootS = (mainMs - a.spawnMs) / 1e3)
    a.workload match {
      case "extract" => ExtractWorkload.run(ctx)
      case "commit"  => CommitWorkload.run(ctx)
      case "battery" => BatteryWorkload.run(ctx)
      case other     => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.finish()
  }
}

/** State shared by one run: arguments, tracing, correctness counts,
  * steal markers and the metrics to report. */
final class Ctx(val a: Main.Args, val bootS: Double) {
  val tracer = new Tracer
  val stats = new SparkStats
  var spark: SparkSession = _
  val endToEnd = LinkedHashMap.empty[String, (Double, String)]
  val perLayer = LinkedHashMap.empty[String, (Double, String)]
  private val steals = LinkedHashMap.empty[String, Double]
  private var attempted = 0L
  private var failed = 0L
  private var failLines = 0

  def say(s: String): Unit = println("# " + s)

  /** Count `n` checked items of which `bad` failed. */
  def check(what: String, n: Long, bad: Long): Unit = {
    attempted += n
    failed += bad
    if (bad > 0 && failLines < 20) {
      failLines += 1
      say(s"FAIL $what: $bad of $n")
    }
  }

  /** Run an operation that may throw: a throw counts as one failed
    * item and the run goes on. */
  def guarded(what: String)(f: => Unit): Unit =
    try f
    catch {
      case NonFatal(e) =>
        check(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}", 1, 1)
    }

  /** Run `f` and record the phase's host steal (% of CPU ticks). */
  def phase[A](name: String)(f: => A): A = {
    val (r, st) = ScalePair.withSteal(f)
    steals(name) = st
    r
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  def newSession(): Unit = {
    if (spark != null) spark.stop()
    spark = GraftSession.local(a.cores, s"perfbench-${a.workload}")
  }

  /** Set up three times (fresh session, then `body`: stage input and
    * warm up) and record setup_s = JVM start-up + the median setup. The
    * session of the last setup stays open for the timed phase. */
  def setups(body: Int => Unit): Unit = {
    val times = phase("setup") {
      (1 to 3).map { i =>
        timed { newSession(); body(i) }._2
      }
    }
    endToEnd("setup_s") = (bootS + median(times), "s")
    say(f"setup: JVM start $bootS%.3f s, setups ${times.map(t => f"$t%.3f").mkString(" ")} s" +
      f" (cold start to first timed op ${bootS + times.head}%.3f s)")
  }

  /** Call `op` until `a.seconds` have passed and at least `minOps`
    * calls were made. In a traced run the calls alternate between
    * untraced and traced, and the traced ones feed the listener. */
  def window(minOps: Int)(op: Boolean => Unit): Unit = {
    phase("timed") {
      val t0 = System.nanoTime()
      var i = 0
      while (i < minOps || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        if (a.trace && i % 2 == 1) spans(withListener(op(true))) else op(false)
        i += 1
      }
    }
    recordLiveHeap()
  }

  /** Run `f` recording spans. */
  def spans[A](f: => A): A = {
    tracer.on = true
    try f finally tracer.on = false
  }

  /** Run `f` with the Spark listeners registered. */
  def withListener[A](f: => A): A = {
    spark.sparkContext.addSparkListener(stats)
    spark.listenerManager.register(stats)
    try f
    finally {
      org.apache.spark.BusDrain(spark.sparkContext)
      spark.listenerManager.unregister(stats)
      spark.sparkContext.removeSparkListener(stats)
    }
  }

  def rddStorageMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

  def reportSpark(s: SparkSnapshot, ops: Int, wallS: Double): Unit = {
    val n = math.max(1, ops).toDouble
    val rows = Seq(
      "spark.jobs_per_op" -> (s.jobs / n, "count"),
      "spark.stages_per_op" -> (s.stages / n, "count"),
      "spark.tasks_per_op" -> (s.tasks / n, "count"),
      "spark.cpu_ms_per_op" -> (s.cpuMs / n, "ms"),
      "spark.gc_ms_per_op" -> (s.gcMs / n, "ms"),
      "spark.run_ms_per_op" -> (s.runMs / n, "ms"),
      "spark.shuffle_read_bytes_per_op" -> (s.shuffleReadBytes / n, "bytes"),
      "spark.shuffle_write_bytes_per_op" -> (s.shuffleWriteBytes / n, "bytes"),
      "spark.task_ms_max_over_median" -> (s.taskMsMaxOverMedian, "ratio"),
      "spark.cpu_util" -> (s.cpuMs / math.max(1e-9, wallS * 1000 * a.cores), "ratio"),
      "spark.planning_ms_per_op" -> (s.planningMs / n, "ms"),
      "spark.rdd_storage_mb" -> (rddStorageMb, "MB"))
    rows.foreach { case (k, v) => perLayer(k) = v }
    say(f"spark listener over $ops traced ops: jobs ${s.jobs} stages ${s.stages} tasks ${s.tasks}" +
      f" cpu ${s.cpuMs}%.0f ms gc ${s.gcMs} ms run ${s.runMs} ms shuffle r/w ${s.shuffleReadBytes}/${s.shuffleWriteBytes} B" +
      f" spill ${s.spillBytes} B task max/median ${s.taskMsMaxOverMedian}%.2f" +
      f" queries ${s.queries} planning ${s.planningMs}%.0f ms")
  }

  /** The op model: end-to-end op time, its attributed parts, and the
    * unattributed rest, printed as a table and reported per layer. */
  def partsTable(title: String, opS: Double, parts: Seq[(String, Double)]): Unit = {
    val attributed = parts.map(_._2).sum
    val rest = opS - attributed
    say(s"$title (seconds per op; share of the op)")
    parts.foreach { case (k, v) => say(f"  $k%-34s $v%10.4f  ${100 * v / opS}%6.1f%%") }
    say(f"  ${"unattributed"}%-34s $rest%10.4f  ${100 * rest / opS}%6.1f%%")
    say(f"  ${"end to end"}%-34s $opS%10.4f  100.0%%")
    perLayer("op.attributed_s") = (attributed, "s")
    perLayer("op.unattributed_s") = (rest, "s")
    perLayer("op.unattributed_share") = (rest / opS, "ratio")
  }

  /** Tracing overhead: traced minus untraced op time, over its base. */
  def overhead(untraced: Seq[Double], traced: Seq[Double]): Unit = {
    val base = median(untraced)
    val diff = median(traced) - base
    perLayer("trace.overhead_share") = (diff / base, "ratio")
    say(f"tracing overhead: ${diff * 1000}%.1f ms per op on a base of ${base * 1000}%.1f ms" +
      f" (${100 * diff / base}%.2f%%; ${untraced.size} untraced, ${traced.size} traced ops)")
  }

  def layerMetrics(m: Map[String, Double]): Unit =
    Seq("gen.row_us_per_doc", "extract.decode_us_per_doc", "html.segment_us_per_doc",
      "html.classify_us_per_doc", "extract.assemble_us_per_doc", "pdf.parse_us_per_doc",
      "extract.html_us_per_doc", "extract.pdf_us_per_doc", "extract.error_us_per_doc",
      "expr.struct_us_per_doc").foreach(k => perLayer(k) = (m(k), "us"))

  /** Heap still reachable after a full collection, in MB: what the
    * session retains (cached and checkpointed blocks, broadcasts,
    * plan caches). Unlike the resident set it does not depend on when
    * the collector chose to grow the heap. */
  def recordLiveHeap(): Unit = {
    // the second collection frees what Spark's ContextCleaner released
    // after the first one cleared the weak references it watches
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    endToEnd("heap_live_mb") = (used / 1048576.0, "MB")
  }

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status", "UTF-8")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def finish(): Unit = {
    if (spark != null) spark.stop()
    // a CPU quota below nproc leaves the session's cores oversubscribed
    val jvmCpus = Runtime.getRuntime.availableProcessors
    val comparable = a.cores <= jvmCpus
    say(f"peak_rss_mb = $peakRssMb%.1f MB (VmHWM of the benchmark JVM)")
    say(s"host: nproc ${a.nproc}, JVM processors $jvmCpus, cores used ${a.cores}," +
      s" heap ${Runtime.getRuntime.maxMemory >> 20} MB, comparable $comparable")
    say("steal %: " + steals.map { case (k, v) => f"$k $v%.3f" }.mkString(", "))
    val failFrac = failed.toDouble / math.max(1L, attempted)
    say(f"correctness: attempted $attempted, failed $failed, fail_frac $failFrac%.6f")
    if (a.trace) {
      say("spans (count, total s, self s): " + tracer.summary.map { case (n, c, t, s) =>
        f"$n $c $t%.3f $s%.3f"
      }.mkString(", "))
      tracer.writeJsonl(new java.io.File(a.work, s"spans-${a.workload}.jsonl"))
    }
    val metrics = if (a.trace) perLayer else endToEnd
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val extra = steals.map { case (k, v) => s""""steal_pct.$k":${num(v)}""" }.mkString(",")
    val json = s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,"failed":$failed,"metrics":$body,""" +
      s""""host":{"nproc":${a.nproc},"jvm_cpus":$jvmCpus,"cores":${a.cores},"heap_mb":${Runtime.getRuntime.maxMemory >> 20},"comparable":$comparable,$extra}}"""
    val w = new java.io.PrintWriter(new java.io.File(a.work, "result.json"), "UTF-8")
    try w.println(json) finally w.close()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
