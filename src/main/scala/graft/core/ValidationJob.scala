package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.{CheckSpec, ValidationConfig}
import graft.report.ReportWriter
import graft.sources.SourceReader

/** The full query lifecycle of the reference (`SURVEY.md §3`): config ->
  * two source reads -> keyed projection (+ optional date filter) ->
  * validate -> reports. One call replaces `config.py` + `running_validation
  * .main`.
  *
  * The two source scans are independent stages — Spark schedules them
  * concurrently (the reference used a 2-thread pool,
  * `running_validation.py:626-631`). Pushdown does the rest: only
  * (key cols, check col, date col) leave each source.
  */
object ValidationJob {

  def compareMode(cfg: ValidationConfig): CompareMode =
    modeOf(cfg.dataType, cfg.threshold)

  def modeOf(dataType: String, threshold: Double): CompareMode =
    dataType match {
      case "integer" | "numeric" => CompareMode.Numeric
      case "date"                => CompareMode.Date
      case "string"              => CompareMode.Fuzzy(threshold)
      case other => throw new IllegalArgumentException(
        s"unknown data_type '$other' (expected integer|string|date)") // running_validation.py:651-653
    }

  /** Read one side and apply the optional date-range filter (exclusive
    * both ends — reference semantics). */
  private def rawSide(spark: SparkSession, cfg: ValidationConfig,
      spec: graft.config.SourceSpec, dateCol: Option[String]): DataFrame = {
    val raw = SourceReader.read(spark, spec)
    (cfg.startDate, cfg.endDate, dateCol) match {
      case (Some(s), Some(e), Some(dc)) =>
        Validator.dateFiltered(raw, dc, s"$s 00:00:00", s"$e 00:00:00")
      case _ => raw
    }
  }

  /** [[rawSide]] projected to (id, check). */
  private def side(spark: SparkSession, cfg: ValidationConfig,
      spec: graft.config.SourceSpec, dateCol: Option[String]): DataFrame =
    Validator.keyed(rawSide(spark, cfg, spec, dateCol),
      cfg.compositeIdColumns, cfg.checkColumn)

  /** (id, every check column) — the multi-column twin of [[side]]'s
    * (id, check) projection; pushdown still prunes the source scan to
    * keys + k checks + date col. */
  private def keyedMulti(df: DataFrame, cfg: ValidationConfig,
      cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(graft.functions.compositeKey(cfg.compositeIdColumns).as("id") +:
      cols.map(col): _*)
  }

  /** Infer a whole-row check list from two frames' schemas: the shared
    * columns (minus the composite key, date and explicitly excluded
    * columns), each mapped to the natural compare mode for its type —
    * numeric types to Numeric, date/timestamp to Date, everything else
    * to exact string equality (Fuzzy(1.0)). Column order follows the
    * FIRST frame's schema, so reports are stable run-over-run. The
    * zero-config twin of `check_columns:` — "validate these two tables"
    * with nothing but a key. */
  def inferChecks(first: DataFrame, second: DataFrame,
      exclude: Seq[String] = Seq.empty): Seq[(String, CompareMode)] = {
    import org.apache.spark.sql.types._
    val secondCols = second.schema.map(f => f.name.toLowerCase).toSet
    val excl = exclude.map(_.toLowerCase).toSet
    first.schema.toSeq
      .filter(f => secondCols.contains(f.name.toLowerCase) &&
        !excl.contains(f.name.toLowerCase))
      .map { f =>
        val mode = f.dataType match {
          case _: NumericType => CompareMode.Numeric
          case DateType | TimestampType | TimestampNTZType => CompareMode.Date
          case _ => CompareMode.Fuzzy(1.0)
        }
        f.name -> mode
      }
  }

  /** Whole-row validation over `cfg.checkColumns` — k columns, each with
    * its own compare mode, in ONE pass per surface (one id-keyed shuffle
    * for the per-column summary, one inner join for the tidy long-format
    * diff) instead of k single-column job reruns. Writes the diff frame
    * partitioned by column under `outputDirectory/multi_diff`; returns
    * (per-column summary, long diff frame). */
  def runMulti(spark: SparkSession, cfg: ValidationConfig,
      writeReports: Boolean = true): (DataFrame, DataFrame) = {
    require(cfg.checkColumns.nonEmpty || cfg.checkAllColumns,
      "runMulti needs a `check_columns` list (or `check_columns: all`)")
    // without a key, compositeKey(Seq.empty) = concat_ws() = "" for every
    // row — the whole table would silently collapse onto one id while all
    // columns (including any natural key) were treated as checks
    require(cfg.compositeIdColumns.nonEmpty,
      "multi-column validation needs `composite_id_columns` — with no key " +
        "every row would share the empty composite id")
    val rawFirst = rawSide(spark, cfg, cfg.first, cfg.dateColumnFirst)
    val rawSecond = rawSide(spark, cfg, cfg.second, cfg.dateColumnSecond)
    val checks: Seq[(String, CompareMode)] =
      if (cfg.checkAllColumns)
        // zero-config whole-row mode: every shared column except the key
        // and the per-side date columns (filter predicates, not payload)
        inferChecks(rawFirst, rawSecond,
          exclude = cfg.compositeIdColumns ++
            cfg.dateColumnFirst.toSeq ++ cfg.dateColumnSecond.toSeq)
      else cfg.checkColumns.map(c => c.column -> modeOf(c.dataType, c.threshold))
    require(checks.nonEmpty,
      "no shared non-key columns to validate between the two sources")
    val first = keyedMulti(rawFirst, cfg, checks.map(_._1))
    val second = keyedMulti(rawSecond, cfg, checks.map(_._1))
    val incremental = incrementalEffective(cfg, first, second)
    if (incremental && cfg.reportIncremental && writeReports) {
      // the fully-incremental multi-column daily run: ONE digest scan
      // steers the stored report (missing rows + per-column differing
      // pairs, churned buckets' groups rewritten only), the diff derives
      // from the one materialized read of the store, and the per-column
      // summary is built on the driver from the digests and the counts
      // observed on that read — no second state surface, no third pass
      // over the inputs
      val maintained = IncrementalValidation.reportIncrementalMultiWithSummary(
        first, second, checks, multiReportStateDir(cfg), cfg.reportBuckets,
        dirtyFractionLimit = 0.25, bucketCol = None)
      val diff = IncrementalValidation.differingRows(maintained.current)
      ReportWriter.writePartitioned(diff,
        s"${cfg.outputDirectory}/multi_diff", Seq("column_name"))
      (maintained.summary, diff)
    } else {
      val summary =
        if (incremental)
          IncrementalValidation.summaryMultiIncremental(first, second,
            checks, stateDir(cfg), nBuckets = cfg.incrementalBuckets)
        else Validator.summaryMulti(first, second, checks)
      val diff = Validator.diffMulti(first, second, checks)
      if (writeReports)
        ReportWriter.writePartitioned(diff,
          s"${cfg.outputDirectory}/multi_diff", Seq("column_name"))
      (summary, diff)
    }
  }

  /** The `min_rows_for_incremental` floor: with `incremental: true` and
    * a positive floor, inputs SMALLER than the floor run the classic
    * full computation and leave the stored state untouched (below the
    * floor one direct pass beats digest scans + state IO — the library
    * surfaces' `minRowsForIncremental` contract, lifted to the YAML
    * lifecycle where it gates EVERY incremental surface the job uses).
    * The two counts are column-pruned scans, paid only when a floor is
    * actually configured. */
  private def incrementalEffective(cfg: ValidationConfig,
      first: DataFrame, second: DataFrame): Boolean =
    cfg.incremental && (cfg.minRowsForIncremental <= 0L ||
      first.count() + second.count() >= cfg.minRowsForIncremental)

  /** The config's incremental-state location: explicit `state_directory`
    * or a `validation_state` dir beside the reports. */
  private def stateDir(cfg: ValidationConfig): String =
    cfg.stateDirectory.getOrElse(s"${cfg.outputDirectory}/validation_state")

  // each incremental surface gets a DEDICATED subdirectory (the meta
  // file inside a state dir is per-surface; sharing one dir would
  // degrade every run to a rebuild — IncrementalValidation's contract)
  private def reportStateDir(cfg: ValidationConfig): String =
    s"${stateDir(cfg)}/report_surface"
  private def multiReportStateDir(cfg: ValidationConfig): String =
    s"${stateDir(cfg)}/multi_report_surface"

  /** Rebuild [[ValidationOutput]]'s three frames from the STORED
    * incremental report (kind, id, check_first, check_second — the
    * store keeps strings). The differing frame's check columns are cast
    * BACK to each side's input `check` type, so the tidy parquet's
    * schema and values match the classic [[Validator.validate]] path
    * exactly (the stored strings are `cast(StringType)` of those very
    * values — double/timestamp/decimal round-trip losslessly through
    * Spark's string form; a schema flip on upgrade to
    * `incremental: true` would break type-sensitive downstream
    * readers). */
  private def outputFromStored(rep: DataFrame, db1: String, db2: String,
      check: String,
      checkTypeFirst: org.apache.spark.sql.types.DataType,
      checkTypeSecond: org.apache.spark.sql.types.DataType)
      : ValidationOutput = {
    import org.apache.spark.sql.functions.col
    ValidationOutput(
      missingInFirst = rep.filter(col("kind") === "missing_in_first")
        .select("id"),
      missingInSecond = rep.filter(col("kind") === "missing_in_second")
        .select("id"),
      differing = rep.filter(col("kind") === "differing").select(
        col("id"),
        col("check_first").cast(checkTypeFirst).as(s"${check}_$db1"),
        col("check_second").cast(checkTypeSecond).as(s"${check}_$db2")))
  }

  /** Run the validation; write tidy + compat reports; return the output.
    *
    * With `incremental: true` BOTH surfaces answer through ONE stored
    * state: the row-level report is maintained as a bucket-partitioned
    * table (only churned buckets' partitions rewritten per run; the
    * tidy/compat files re-derive from that store — report-sized writes,
    * never a table-sized recompute), and the summary derives from the
    * same run's digests + report kind counts
    * ([[IncrementalValidation.reportIncrementalWithSummary]]) — the whole
    * daily run costs one digest scan of each input plus churn-sized
    * work, and the stored report is read once for every output. Set
    * `report_incremental: false` to keep the classic full-input report
    * path while the summary answers through the digest-pruned term
    * state instead. */
  def run(spark: SparkSession, cfg: ValidationConfig,
      writeReports: Boolean = true): (ValidationOutput, DataFrame) = {
    val first = side(spark, cfg, cfg.first, cfg.dateColumnFirst)
    val second = side(spark, cfg, cfg.second, cfg.dateColumnSecond)
    val mode = compareMode(cfg)
    val incremental = incrementalEffective(cfg, first, second)
    // report maintenance only runs when reports are asked for — a
    // summary-only caller (writeReports = false) never pays it
    if (incremental && cfg.reportIncremental && writeReports) {
      // the fully-incremental daily run: ONE digest scan steers the
      // report maintenance, every report file derives from the one
      // materialized read of the store, and the summary is built on the
      // driver (digest row counts + observed report kind counts) — no
      // second state surface, no third pass over the inputs
      val maintained = IncrementalValidation.reportIncrementalWithSummary(
        first, second, mode, reportStateDir(cfg),
        nBuckets = cfg.reportBuckets)
      val out = outputFromStored(maintained.current, cfg.firstName,
        cfg.secondName, cfg.checkColumn, first.schema("check").dataType,
        second.schema("check").dataType)
      ReportWriter.writeTidy(out, s"${cfg.outputDirectory}/tidy")
      ReportWriter.writeCompat(out, s"${cfg.outputDirectory}/result",
        cfg.firstName, cfg.secondName, cfg.checkColumn)
      (out, maintained.summary)
    } else {
      val out = Validator.validate(first, second, mode,
        cfg.firstName, cfg.secondName, cfg.checkColumn)
      if (writeReports) {
        ReportWriter.writeTidy(out, s"${cfg.outputDirectory}/tidy")
        ReportWriter.writeCompat(out, s"${cfg.outputDirectory}/result",
          cfg.firstName, cfg.secondName, cfg.checkColumn)
      }
      val summary =
        if (incremental)
          IncrementalValidation.summaryIncremental(first, second,
            mode, stateDir(cfg), nBuckets = cfg.incrementalBuckets)
        else Validator.summaryFast(first, second, mode) // one job, all modes
      (out, summary)
    }
  }
}
