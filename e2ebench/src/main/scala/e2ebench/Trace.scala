package e2ebench

import java.io.File
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One traced interval. Ops are roots; the calls the benchmark makes into
  * the engine are their children; Spark jobs are children of the call that
  * was running when they started. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startMs: Double, endMs: Double, attrs: Seq[(String, Double)] = Nil, site: String = "")

/** Records spans in memory; they are written out when the run ends. With
  * `enabled` off, [[span]] only runs its body. */
final class Tracer {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack = List.empty[Int]
  var enabled = false
  var op = 0

  def spans: Seq[Span] = buf.toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val t0 = Tracer.nowMs()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        buf += Span(id, parent, op, name, t0, Tracer.nowMs())
      }
    }

  def add(s: Span): Span = {
    val withId = s.copy(id = nextId)
    nextId += 1
    buf += withId
    withId
  }
}

object Tracer {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with nanosecond-clock resolution. */
  def nowMs(): Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** A Spark job as the listener saw it. */
final class JobRecord(val id: Int, val startMs: Double, val module: String, val site: String) {
  var endMs: Double = Double.NaN
  var stages = 0
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
}

/** Attributes each Spark job to the engine module that launched it and
  * sums its task metrics. The module is read from the call site of the
  * job's SQL execution (or of the job itself outside SQL): the first frame
  * outside Spark, Scala and the JDK names the file that ran the action; a
  * job with no `graft` frame there is `unattributed`. The SQL execution's
  * call site is used because adaptive execution submits a query's jobs from
  * pool threads whose own stacks hold no caller. */
final class JobRecorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.HashMap.empty[Int, JobRecord]
  private val executions = mutable.HashMap.empty[Long, (String, String)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executions(x.executionId) = (JobRecorder.moduleOf(x.details), x.description)
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val result = e.stageInfos.sortBy(_.stageId).lastOption
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executions.get(id.toLong))
    val (module, site) = execution.getOrElse((
      JobRecorder.moduleOf(result.map(_.details).getOrElse("")), result.map(_.name).getOrElse("")))
    val rec = new JobRecord(e.jobId, e.time.toDouble, module, site)
    jobs(e.jobId) = rec
    e.stageIds.foreach(stageJob(_) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Jobs that started in [fromMs, toMs], after waiting for their end
    * events to be delivered. */
  def jobsIn(sc: SparkContext, fromMs: Double, toMs: Double): Seq[JobRecord] = {
    // the job-end event is posted just after the action returns
    val deadline = System.currentTimeMillis() + 5000
    var pending = true
    while (pending) {
      org.apache.spark.e2ebench.ListenerBusAccess.drain(sc)
      pending = synchronized(jobs.values.exists(_.endMs.isNaN)) &&
        System.currentTimeMillis() < deadline
      if (pending) Thread.sleep(2)
    }
    synchronized {
      val in = jobs.values.filter(j => j.startMs >= math.floor(fromMs) && j.startMs <= toMs).toSeq
      jobs.clear()
      stageJob.clear()
      executions.clear()
      in
    }
  }
}

object JobRecorder {
  val modules: Seq[String] = Seq("core.ValidationJob", "core.Validator",
    "core.IncrementalValidation", "report.ReportWriter", "sources.SourceReader",
    "ops.CuratedFeed", "ops.Curation", "ops.Tokenize", "ops.SequenceFeed",
    "ops.other", "graft.other", "unattributed")

  private val platform = Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")
  private val frame = """^graft\.(\w+)\.([A-Za-z0-9_]+)""".r

  def moduleOf(callSite: String): String =
    callSite.split("\n").map(_.trim).find(l => l.nonEmpty && !platform.exists(l.startsWith)) match {
      case Some(l) => frame.findFirstMatchIn(l) match {
        case Some(m) =>
          val name = s"${m.group(1)}.${m.group(2)}"
          if (modules.contains(name)) name
          else if (m.group(1) == "ops") "ops.other"
          else "graft.other"
        case None => "unattributed"
      }
      case None => "unattributed"
    }
}

/** Splits an op's wall time across the modules whose jobs ran in it: while
  * k jobs run at once each gets 1/k of that time, so the module busy times
  * add up to the union of the job intervals, and the driver gap (no job
  * running: planning, listing, renames, deletes) is the rest. */
object Accounting {
  final case class Split(busyMs: Map[String, Double], gapMs: Double)

  def split(opStart: Double, opEnd: Double, jobs: Seq[(Double, Double, String)]): Split = {
    val clipped = jobs.map { case (s, e, m) =>
      (math.max(s, opStart), math.min(e, opEnd), m)
    }.filter { case (s, e, _) => e > s }
    val points = (clipped.flatMap(j => Seq(j._1, j._2)) ++ Seq(opStart, opEnd)).distinct.sorted
    val busy = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var covered = 0.0
    points.sliding(2).foreach {
      case Seq(a, b) =>
        val active = clipped.filter { case (s, e, _) => s <= a && e >= b }
        if (active.nonEmpty) {
          covered += b - a
          active.foreach { case (_, _, m) => busy(m) += (b - a) / active.size }
        }
      case _ => ()
    }
    Split(busy.toMap, (opEnd - opStart) - covered)
  }
}

/** The files under a set of directory trees, for diffing around an op. */
final case class FsSnapshot(files: Map[String, (Long, Long, AnyRef)], dirs: Set[String]) {
  def bytes: Long = files.values.map(_._1).sum
}

object FsSnapshot {
  def of(roots: Seq[String]): FsSnapshot = {
    val files = mutable.Map.empty[String, (Long, Long, AnyRef)]
    val dirs = mutable.Set.empty[String]
    def walk(f: File): Unit = {
      val a = try Files.readAttributes(f.toPath, classOf[BasicFileAttributes], LinkOption.NOFOLLOW_LINKS)
        catch { case _: java.io.IOException => null }
      if (a == null) ()
      else if (a.isDirectory) {
        dirs += f.getPath
        Option(f.listFiles()).foreach(_.foreach(walk))
      } else files(f.getPath) = (a.size, a.lastModifiedTime.toMillis, a.fileKey)
    }
    roots.foreach(r => walk(new File(r)))
    FsSnapshot(files.toMap, dirs.toSet)
  }

  final case class Delta(filesWritten: Long, dirsCreated: Long, pathsDeleted: Long,
      bytesWritten: Long)

  /** A file counts as written when it is new or its inode, size or mtime
    * changed. */
  def delta(before: FsSnapshot, after: FsSnapshot): Delta = {
    val written = after.files.filter { case (p, v) => !before.files.get(p).contains(v) }
    Delta(written.size.toLong, (after.dirs -- before.dirs).size.toLong,
      ((before.files.keySet -- after.files.keySet).size + (before.dirs -- after.dirs).size).toLong,
      written.values.map(_._1).sum)
  }
}
