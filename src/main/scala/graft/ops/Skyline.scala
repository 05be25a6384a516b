package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The 2-D skyline (Pareto frontier) operator — Börzsönyi, Kossmann &
  * Stocker 2001, "The skyline operator": the rows not DOMINATED by any
  * other, where a dominates b iff a is >= b in both dimensions and
  * strictly greater in at least one (maximize-both form; negate a
  * column to minimize it). The multi-criteria "best offers" primitive:
  * cheapest-vs-freshest, quality-vs-length, score-vs-recency.
  *
  * Distributed shape — the lossless-candidates pattern again (prefix
  * filter, Misra–Gries): dominance is transitive, so any point
  * dominated WITHIN its partition is dominated globally — each
  * partition's local skyline (one sorted sweep) is therefore a
  * SUPERSET-preserving filter, and the global skyline of the candidate
  * union equals the global skyline of the input. Cost: one local sort +
  * sweep per partition (no exchange), then one final sweep over the
  * candidates. Candidate volume is the sum of local skyline sizes —
  * O(partitions x typical-skyline-size); skylines of independent or
  * correlated dimensions are tiny (~log n to ~sqrt n). The documented
  * degenerate case is fully ANTI-correlated data, where the skyline
  * itself (the correct answer) is O(n) and no algorithm's final stage
  * beats the output size.
  *
  * Engine-exactness: integer comparisons only; the output is the
  * dominance-defined SET, independent of partitioning (losslessness
  * above) — so a plain declarative replay is a valid oracle. */
object Skyline {

  /** Refuse-over-silently-wrong: the sweeps compare LONGS, so a
    * non-integral id or dimension would cast to null and produce a wrong
    * frontier with null ids instead of an error — the same contract
    * `Indexing.globalRunningSum` enforces. Pre-scale floats to integer
    * units (cents, ppm) first. */
  private def requireIntegral(df: DataFrame, cols: Seq[String], op: String): Unit = {
    import org.apache.spark.sql.types._
    cols.foreach { c =>
      val dt = df.schema(c).dataType
      require(Seq(LongType, IntegerType, ShortType, ByteType).contains(dt),
        s"$op needs integral columns; '$c' is ${dt.simpleString} — " +
          "pre-scale to integer units")
    }
  }

  /** Geometric fan-in of the candidate-reduction rounds: each round
    * shuffles the surviving candidates into `parts/fanIn` tasks and
    * re-sweeps, so no single task ever ingests more than ~fanIn local
    * skylines — the guard for high-d/anti-correlated data where local
    * skylines approach partition size and a direct `repartition(1)`
    * final sweep would funnel an input-sized candidate set through one
    * task. At <= fanIn input partitions this degenerates to exactly the
    * old single final sweep. */
  private val fanIn = 32

  /** Partition-count estimate for sizing the reduction rounds, read
    * from session conf so building the plan never executes it. */
  private def reductionParts(spark: org.apache.spark.sql.SparkSession): Int =
    try spark.conf.get("spark.sql.shuffle.partitions").toInt
    catch { case _: Exception => spark.sparkContext.defaultParallelism }

  /** One (x desc, y desc, id) sorted sweep emitting the non-dominated
    * rows: bestY carries the max y over STRICTLY-greater x; within an
    * x-group only rows tying the group max y survive, and exact (x, y)
    * duplicates all survive (neither dominates — no strict inequality). */
  private def sweep(it: Iterator[(Long, Long, Long)])
      : Iterator[(Long, Long, Long)] = {
    var bestY = Long.MinValue
    var curX = Long.MinValue
    var groupMax = Long.MinValue
    var started = false
    it.flatMap { case r @ (_, x, y) =>
      if (!started || x != curX) {
        if (started) bestY = math.max(bestY, groupMax)
        started = true; curX = x; groupMax = y
      }
      if (y == groupMax && y > bestY) Some(r) else None
    }
  }

  /** `a` dominates `b`: >= in every dimension, > in at least one. */
  private def dominates(a: Seq[Long], b: Seq[Long]): Boolean = {
    var gt = false
    var i = 0
    while (i < a.length) {
      if (a(i) < b(i)) return false
      if (a(i) > b(i)) gt = true
      i += 1
    }
    gt
  }

  /** Sort-filter-skyline sweep (the presorted BNL of Chomicki et al.
    * 2003, "Skyline with presorting") over rows already in (dims desc
    * lexicographic, id) order: a dominator always sorts BEFORE what it
    * dominates (its first differing dimension is strictly greater), so
    * each row need only be tested against the kept frontier — and a row
    * dropped because some kept row dominates it can, by transitivity,
    * never be needed as a dominator itself. Kept-buffer size = the
    * partition's local skyline (the documented anti-correlated worst
    * case is the output itself). */
  private def sfsSweep(it: Iterator[(Long, Seq[Long])])
      : Iterator[(Long, Seq[Long])] = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    it.flatMap { case r @ (_, v) =>
      // exact duplicates sort ADJACENT (dims-desc lex, id tie-break), all
      // survive (no strict inequality), and have identical dominance
      // power — emit them without re-appending, so the kept buffer holds
      // one entry per DISTINCT frontier vector: in duplicate-heavy
      // anti-correlated data that is the difference between
      // O(input)-sized and O(distinct-frontier)-sized per-task state
      if (kept.nonEmpty && kept.last == v) Some(r)
      else if (kept.exists(k => dominates(k, v))) None
      else { kept += v; Some(r) }
    }
  }

  /** Per-round measurements of the candidate reduction, filled by task
    * accumulators when the instrumented entry point runs: for round r,
    * (task count of that round, total rows entering the round's sweeps,
    * per-task inflow list). A caller of [[skylineNDInstrumented]] reads
    * it so the "no task ingests more than ~fanIn local skylines" claim is
    * MEASURED, not argued (Round11OpsSpec pins it). */
  final class SkylineDiag {
    import scala.jdk.CollectionConverters._
    private[Skyline] val rounds = scala.collection.mutable.ArrayBuffer
      .empty[(Int, org.apache.spark.util.LongAccumulator,
        org.apache.spark.util.CollectionAccumulator[java.lang.Long])]
    /** One JSON array, one object per reduction round — valid only AFTER
      * an action has executed the instrumented frame. */
    def report: String = rounds.map { case (parts, in, tasks) =>
      val perTask = tasks.value.asScala.map(_.longValue)
      val maxTask = if (perTask.isEmpty) 0L else perTask.max
      s"""{"parts":$parts,"in_rows":${in.value},"max_task_in":$maxTask}"""
    }.mkString("[", ",", "]")
    /** Largest single-task inflow across all reduction rounds. */
    def maxTaskInflow: Long =
      rounds.flatMap(_._3.value.asScala.map(_.longValue))
        .foldLeft(0L)(math.max)
  }

  /** d-dimensional skyline maximizing every column of `dimCols` (negate
    * a column to minimize it); `idCol` rides along. Same lossless
    * two-phase shape as [[skyline2D]]: per-partition SFS sweeps (no
    * exchange — dominance transitivity makes local pruning sound), then
    * one candidate-sized final sweep. The per-partition sort key is the
    * dims-desc lexicographic order (arrays compare lexicographically),
    * which every dominator precedes its dominated rows in.
    * Output: (id, dims...), the exact frontier. */
  def skylineND(df: DataFrame, idCol: String, dimCols: Seq[String])
      : DataFrame = skylineNDImpl(df, idCol, dimCols, None)

  /** [[skylineND]] plus per-round fan-in instrumentation — same plan,
    * same answer; the diag's accumulators fill when an action runs. */
  def skylineNDInstrumented(df: DataFrame, idCol: String,
      dimCols: Seq[String]): (DataFrame, SkylineDiag) = {
    val d = new SkylineDiag
    (skylineNDImpl(df, idCol, dimCols, Some(d)), d)
  }

  private def skylineNDImpl(df: DataFrame, idCol: String,
      dimCols: Seq[String], diag: Option[SkylineDiag]): DataFrame = {
    require(dimCols.nonEmpty, "need at least one dimension")
    requireIntegral(df, idCol +: dimCols, "skylineND")
    val spark = df.sparkSession
    import spark.implicits._
    val packed = df.select(col(idCol).cast("long").as("_1"),
        array(dimCols.map(c => col(c).cast("long")): _*).as("_2"))
      .as[(Long, Seq[Long])]
    var cur = packed
      .sortWithinPartitions(col("_2").desc, col("_1"))
      .mapPartitions(sfsSweep)
    // candidate reduction: every round shuffles only SURVIVORS (sum of
    // local skyline sizes), dominance pruning between rounds keeps any
    // one task's inflow at ~fanIn local skylines — sound at every round
    // by transitivity (the same losslessness argument as the local
    // sweeps), and a single repartition(1) round when partitions <= fanIn.
    // The round count derives from the session's shuffle-partition conf,
    // NOT from packed.rdd.getNumPartitions: reading the RDD of an AQE
    // plan finalizes it, eagerly EXECUTING the upstream shuffles once
    // for the partition count and again in the real query — the plan
    // stays fully lazy this way, at the cost of the estimate missing an
    // unusually wide raw-scan input (still bounded: that only widens the
    // FIRST round's fan-in, and conf partitions track cluster scale).
    // do-while, never while: the conf estimate says nothing about the
    // INPUT's partitioning (a file scan partitions by size, not conf),
    // so at least one round ending at repartition(1) must always run —
    // a conf of 1 with a multi-partition scan would otherwise return
    // concatenated LOCAL skylines with dominated rows surviving.
    var parts = math.max(reductionParts(spark), 1)
    while ({
      parts = math.max(1, parts / fanIn)
      // instrumentation (instrumented entry only): count rows ENTERING each
      // round's sweeps, total and per task — inflow is recorded by a
      // task-completion listener so the accumulators are exact even
      // though the sweep consumes the iterator lazily
      val sweep: Iterator[(Long, Seq[Long])] => Iterator[(Long, Seq[Long])] =
        diag match {
          case None => sfsSweep
          case Some(d) =>
            val in = spark.sparkContext.longAccumulator(
              s"skyline_round_in_${d.rounds.length}")
            val tasks = spark.sparkContext
              .collectionAccumulator[java.lang.Long](
                s"skyline_task_in_${d.rounds.length}")
            d.rounds += ((parts, in, tasks))
            it => {
              var n = 0L
              val tc = org.apache.spark.TaskContext.get()
              // transformation-side accumulators are exactly-once only for
              // a task's FIRST attempt — skip retries/speculative copies so
              // the measured fan-in never double-counts (diagnostic-only
              // diagnostics, but "measured" must mean measured)
              if (tc != null && tc.attemptNumber() == 0)
                tc.addTaskCompletionListener[Unit] { _ =>
                  in.add(n); tasks.add(n)
                }
              sfsSweep(it.map { x => n += 1; x })
            }
        }
      cur = cur
        .repartition(parts)
        .sortWithinPartitions(col("_2").desc, col("_1"))
        .mapPartitions(sweep)
      parts > 1
    }) ()
    cur.select(col("_1").as(idCol) +:
      dimCols.zipWithIndex.map { case (c, i) =>
        col("_2").getItem(i).as(c) }: _*)
  }

  /** Skyline of `df` maximizing the two INTEGER columns (xCol, yCol);
    * `idCol` rides along. Output: (id, x, y), the exact frontier. */
  def skyline2D(df: DataFrame, idCol: String, xCol: String, yCol: String)
      : DataFrame = {
    requireIntegral(df, Seq(idCol, xCol, yCol), "skyline2D")
    val spark = df.sparkSession
    import spark.implicits._
    val rows: Dataset[(Long, Long, Long)] = df.select(
        col(idCol).cast("long"), col(xCol).cast("long"),
        col(yCol).cast("long"))
      .toDF("_1", "_2", "_3")
      .as[(Long, Long, Long)]
    var cur = rows
      .sortWithinPartitions(col("_2").desc, col("_3").desc, col("_1"))
      .mapPartitions(sweep)
    // same fan-in-bounded candidate reduction as skylineND (the 2-D
    // sweep streams with O(1) state, so here it bounds per-task inflow
    // volume rather than memory); same lazy conf-derived round count,
    // and the same always-run-one-round guarantee: the global sweep at
    // repartition(1) must happen even when the conf estimate is 1
    var parts = math.max(reductionParts(spark), 1)
    while ({
      parts = math.max(1, parts / fanIn)
      cur = cur
        .repartition(parts)
        .sortWithinPartitions(col("_2").desc, col("_3").desc, col("_1"))
        .mapPartitions(sweep)
      parts > 1
    }) ()
    cur.toDF(idCol, xCol, yCol)
  }
}
