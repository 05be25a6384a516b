package e2ebench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs one workload in one closed loop and prints its metrics as the last
  * line of standard output:
  *
  *   --workload <diff_daily|feed_ingest|diff_full> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --trace-dir <dir> [--commit <id>]
  *   [--load-start <loadavg>] [--ambient-busy-cores <cores>]
  *
  * Set-up is the first op, cold; it counts from JVM start. Then ops run one
  * after another until their summed wall time reaches `--seconds`. With
  * `--trace 1` the set-up op and half of the measured ops are traced (Spark
  * job listener and spans on), and the run prints per-layer metrics instead
  * of end-to-end ones. */
object BenchMain {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, traceDir: String, commit: String, loadStart: Double,
      ambientBusyCores: Double)

  /** N in local[N]: two cores, or one on a one-core host. The ops are
    * driver-bound; with two task threads a core that the hypervisor takes
    * away stalls a stage less often than with four (see NOTES.md). */
  val localN: Int = math.min(2, Runtime.getRuntime.availableProcessors())

  /** Ops keep starting until this many seconds after JVM start at most. */
  val wallCapSeconds = 120.0
  /** Measured ops per run at least: untraced, and traced (half of them traced). */
  val minOps = 3
  val minTracedRunOps = 4
  /** A run is stamped contended when other processes kept more cores than
    * this busy just before it started: graft.Bench's ambient threshold (2.0),
    * applied to a one-second CPU sample because the one-minute load average
    * still holds the previous run's own load. */
  val contendedBusyCores = 2.0

  final case class OpRecord(index: Int, setup: Boolean, traced: Boolean, seconds: Double,
      cpuSeconds: Double, rows: Long, error: Option[String], layer: Map[String, Double])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), m.getOrElse("trace-dir", need("work")),
      m.getOrElse("commit", "unknown"), m.get("load-start").map(_.toDouble).getOrElse(loadavg()),
      m.get("ambient-busy-cores").map(_.toDouble).getOrElse(-1.0))
  }

  def loadavg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** The session a user's job gets: as `graft.Main` builds it, local[N]. */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$localN]")
      .appName(s"e2ebench-${a.workload}")
      .config("spark.sql.shuffle.partitions", localN.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/hadoop-tmp")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile); the maximum (percentile 100) below 11 samples. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.isEmpty) (Double.NaN, 100.0)
    else if (s.size < 11) (s.last, 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  val jvmStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  /** A progress line on standard error, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[e2ebench ${(Tracer.nowMs() - jvmStartMs) / 1000}%7.2f] $msg")

  /** (steal, total) jiffies of all CPUs since boot, from /proc/stat. */
  def cpuSteal(): (Long, Long) = {
    val v = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1)
      .map(_.toLong)
    (if (v.length > 7) v(7) else 0L, v.sum)
  }

  /** CPU seconds this process has used, all threads (utime + stime). Time
    * the hypervisor gives to other machines is not in it, unlike wall time. */
  def processCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    log("harness started")
    val runner = new Runner(a, Workload(a.workload, a.seed, a.work))
    try {
      runner.setUp()
      runner.measure()
      runner.resultLines().foreach(println)
    } finally runner.close()
    sys.exit(0)
  }
}

/** The closed loop of one run: the set-up op, measured ops, result. */
final class Runner(a: BenchMain.Args, w: Workload, minOps: Int = BenchMain.minOps) {
  import BenchMain._

  private val tracer = new Tracer
  private val recorder = if (a.trace) Some(new JobRecorder) else None
  private val ops = mutable.ArrayBuffer.empty[OpRecord]
  private var setupSeconds = Double.NaN
  private var genSeconds = 0.0
  private var spark: SparkSession = _
  private val stealAtStart = cpuSteal()
  new File(a.work).mkdirs()

  /** Writes the next op's inputs, then collects the garbage generation left,
    * so that no collection of it falls inside the op. Neither is timed. */
  private def prepare(write: => Unit): Unit = {
    val g = Workload.timed(write)._2
    genSeconds += g
    System.gc()
    log(f"inputs generated in $g%.3f s")
  }

  /** The first op, cold: JVM start, session start, cold JIT and, for
    * diff_daily, the day-0 state build before it. It counts from JVM start,
    * less input generation and the collections after it, and less the checks
    * between set-up ops. With tracing, the first set-up op is traced. */
  def setUp(): Unit = {
    val (_, prepSeconds) = Workload.timed(prepare(w.prepareFirst()))
    spark = session(a)
    setupSeconds = (Tracer.nowMs() - jvmStartMs) / 1000 - prepSeconds
    for (k <- 0 until w.setupOps) {
      if (k > 0) prepare(w.prepareNext())
      setupSeconds += op(setup = true, traced = a.trace && k == 0).seconds
      w.finishOp()
    }
    log(f"set-up done in $setupSeconds%.3f s")
  }

  /** Ops one after another until their wall time adds up to `--seconds`;
    * with tracing, half of them are traced. */
  def measure(): Unit = {
    val atLeast = if (a.trace) math.max(minOps, minTracedRunOps) else minOps
    var measured = 0.0
    var loopOps = 0
    def elapsed = (Tracer.nowMs() - jvmStartMs) / 1000
    while ((measured < a.seconds || loopOps < atLeast) && elapsed < wallCapSeconds) {
      prepare(w.prepareNext())
      // untraced, traced, traced, untraced, ...: a drift in op time over the
      // run (JIT warm-up) falls on both sides of trace_overhead_frac alike
      val traced = a.trace && (loopOps % 4 == 1 || loopOps % 4 == 2)
      val rec = op(setup = false, traced)
      w.finishOp()
      measured += rec.seconds
      loopOps += 1
    }
  }

  def close(): Unit = {
    if (spark != null) spark.stop()
    Workload.deleteTree(a.work)
    log("done")
  }

  /** One op with its check and, when traced, its per-layer measurement. */
  private def op(setup: Boolean, traced: Boolean): OpRecord = {
    val index = ops.size
    val listener = recorder.filter(_ => traced)
    val fsBefore = if (traced) Some(FsSnapshot.of(w.trees)) else None
    tracer.enabled = traced
    tracer.op = index
    listener.foreach(spark.sparkContext.addSparkListener)
    val cpu0 = processCpuSeconds()
    val t0 = Tracer.nowMs()
    val failure =
      try { w.run(spark, tracer); None }
      catch { case NonFatal(e) => Some(s"op threw $e") }
    val t1 = Tracer.nowMs()
    val cpu1 = processCpuSeconds()
    val jobs = listener.map(_.jobsIn(spark.sparkContext, t0, t1)).getOrElse(Nil)
    listener.foreach(spark.sparkContext.removeSparkListener)
    tracer.enabled = false
    val (error, checkSeconds) = Workload.timed(failure.orElse(
      try w.check(spark)
      catch { case NonFatal(e) => Some(s"check threw $e") }))
    val layer =
      if (!traced) Map.empty[String, Double]
      else layerMetrics(index, setup, t0, t1, jobs, fsBefore.get, error.isEmpty)
    val rec = OpRecord(index, setup, traced, (t1 - t0) / 1000, cpu1 - cpu0, w.rowsOffered, error,
      layer)
    log(f"op $index%d setup=$setup traced=$traced op_s=${rec.seconds}%.3f " +
      f"cpu_s=${rec.cpuSeconds}%.3f " +
      f"check_s=$checkSeconds%.3f" + error.map(e => s" FAILED: $e").getOrElse(""))
    ops += rec
    rec
  }

  private def layerMetrics(index: Int, setup: Boolean, t0: Double, t1: Double,
      jobs: Seq[JobRecord], before: FsSnapshot, ok: Boolean): Map[String, Double] = {
    val split = Accounting.split(t0, t1,
      jobs.map(j => (j.startMs, if (j.endMs.isNaN) t1 else j.endMs, j.module)))
    val opSpan = tracer.add(Span(0, 0, index, "op", t0, t1, Seq("ok" -> (if (ok) 1.0 else 0.0),
      "setup" -> (if (setup) 1.0 else 0.0), "driver_gap_ms" -> split.gapMs) ++ split.busyMs.map { case (m, ms) => s"busy_ms:$m" -> ms }))
    // each job becomes a child of the engine call running when it started
    val calls = tracer.spans.filter(s => s.op == index && s.parent == 0 && s.name != "op")
    jobs.foreach { j =>
      val parent = calls.find(c => j.startMs >= math.floor(c.startMs) && j.startMs <= c.endMs)
        .map(_.id).getOrElse(opSpan.id)
      tracer.add(Span(0, parent, index, s"spark.job:${j.module}", j.startMs,
        if (j.endMs.isNaN) t1 else j.endMs,
        Seq("job_id" -> j.id.toDouble, "stages" -> j.stages.toDouble, "tasks" -> j.tasks.toDouble,
          "failed_tasks" -> j.failedTasks.toDouble, "cpu_s" -> j.cpuNs / 1e9,
          "shuffle_write_bytes" -> j.shuffleWriteBytes.toDouble,
          "input_bytes" -> j.inputBytes.toDouble), j.site))
    }
    val after = FsSnapshot.of(w.trees)
    val d = FsSnapshot.delta(before, after)
    val perModule = JobRecorder.modules.flatMap { m =>
      Seq(s"$m.jobs" -> jobs.count(_.module == m).toDouble,
        s"$m.busy_s" -> split.busyMs.getOrElse(m, 0.0) / 1000)
    }
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> jobs.map(_.stages).sum.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.driver_gap_s" -> split.gapMs / 1000,
      "spark.executor_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
      "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.input_bytes" -> jobs.map(_.inputBytes).sum.toDouble,
      "spark.failed_tasks" -> jobs.map(_.failedTasks).sum.toDouble,
      "fs.files_written" -> d.filesWritten.toDouble,
      "fs.dirs_created" -> d.dirsCreated.toDouble,
      "fs.paths_deleted" -> d.pathsDeleted.toDouble,
      "fs.bytes_written" -> d.bytesWritten.toDouble,
      "fs.state_files_total" -> after.files.size.toDouble,
      "state.dirty_bucket_frac" -> w.dirtyBucketFrac(spark),
      "feed.kept_frac" -> w.keptFrac,
      "config.parse_s" -> w.parseSeconds) ++ perModule
  }

  /** The stamp line and the result line. */
  def resultLines(): Seq[String] = {
    val loop = ops.filterNot(_.setup).toSeq
    val plain = loop.filterNot(_.traced)
    val failed = ops.count(_.error.nonEmpty)
    val (tailValue, tailPct) = tail(plain.map(_.seconds))
    val stamp = Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "trace" -> (if (a.trace) "1" else "0"),
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "local_n" -> localN.toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "commit" -> Json.str(a.commit), "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION),
      "load_start" -> Json.num(a.loadStart), "load_end" -> Json.num(loadavg()),
      "ambient_busy_cores" -> Json.num(a.ambientBusyCores),
      "contended" -> (a.ambientBusyCores > contendedBusyCores).toString,
      // share of CPU time the hypervisor gave to other machines during the run
      "steal_frac" -> Json.num({
        val (s1, t1) = cpuSteal()
        (s1 - stealAtStart._1).toDouble / math.max(1L, t1 - stealAtStart._2)
      }),
      "gen_s" -> Json.num(genSeconds),
      "ops" -> loop.size.toString, "ops_untraced" -> plain.size.toString,
      "op_s_samples" -> plain.map(o => Json.num(o.seconds)).mkString("[", ",", "]"),
      "op_cpu_s_samples" -> plain.map(o => Json.num(o.cpuSeconds)).mkString("[", ",", "]"),
      "op_tail" -> Json.obj(Seq("value" -> Json.num(tailValue), "percentile" -> Json.num(tailPct),
        "n" -> plain.size.toString)),
      "errors" -> ops.flatMap(_.error).take(5).map(Json.str).mkString("[", ",", "]"))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupSeconds, "s"),
        ("op_p50_s", median(plain.map(_.seconds)), "s"),
        ("op_cpu_s", median(plain.map(_.cpuSeconds)), "s"),
        ("rows_per_s", plain.map(_.rows).sum / plain.map(_.seconds).sum, "rows/s"),
        ("state_bytes_ratio", FsSnapshot.of(w.trees).bytes.toDouble / w.inputBytes, "ratio"),
        ("peak_rss_mb", peakRssMb(), "MB"))
      else {
        val traced = loop.filter(_.traced)
        val names = traced.headOption.map(_.layer.keys.toSeq.sorted).getOrElse(Nil)
        val mean = names.map(n => n -> traced.map(_.layer(n)).sum / traced.size)
        // the first set-up op's layers: on diff_daily the day-0 full build
        val setup = ops.find(_.setup).map(_.layer.toSeq.sorted).getOrElse(Nil)
          .map { case (n, v) => (s"setup.$n", v) }
        val overhead = median(traced.map(_.seconds)) / median(plain.map(_.seconds)) - 1
        writeTrace()
        (mean ++ setup).map { case (n, v) => (n, v, Metrics.unitOf(n)) } ++ Seq(
          ("trace_overhead_frac", overhead, "ratio"),
          ("op_tail_s", tailValue, "s"),
          ("op_fail_frac", failed.toDouble / ops.size, "ratio"))
      }
    val fields = metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    Seq(Json.obj(stamp), Json.obj(Seq("correct" -> (failed == 0).toString,
      "attempted" -> ops.size.toString, "failed" -> failed.toString, "metrics" -> Json.obj(fields))))
  }

  /** The spans of the run, one JSON object a line. */
  private def writeTrace(): Unit = {
    val dir = new File(a.traceDir)
    dir.mkdirs()
    val out = new PrintWriter(new File(dir, s"${a.workload}-seed${a.seed}.jsonl"))
    try tracer.spans.sortBy(s => (s.op, s.startMs, s.id)).foreach { s =>
      out.println(Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString, "name" -> Json.str(s.name), "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs)) ++ s.attrs.map { case (k, v) => k -> Json.num(v) } ++
        (if (s.site.isEmpty) Nil else Seq("site" -> Json.str(s.site)))))
    } finally out.close()
  }
}

object Metrics {
  def unitOf(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.contains("bytes")) "bytes"
    else if (name.endsWith("_frac")) "ratio"
    else "count"
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
