package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.config.ConfigLoader
import graft.core.{CompareMode, ValidationJob, Validator}
import graft.sources.SourceReader

/** Config surface -> full job lifecycle (reference `config.py` +
  * `running_validation.main` equivalent), on generic Spark sources. */
class ConfigJobSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def writeSides(): (String, String) = {
    val d = Files.createTempDirectory("cfgjob")
    val a = Seq((1, "x", "2024-01-05"), (2, "y", "2024-01-06"), (3, "z", "2024-01-07"))
      .toDF("pk", "val", "d")
      .selectExpr("pk", "val", "CAST(d AS TIMESTAMP) AS d")
    val b = Seq((2, "y", "2024-01-06"), (3, "zz", "2024-01-07"), (4, "w", "2024-01-08"))
      .toDF("pk", "val", "d")
      .selectExpr("pk", "val", "CAST(d AS TIMESTAMP) AS d")
    a.write.parquet(s"$d/a")
    b.write.parquet(s"$d/b")
    (s"$d/a", s"$d/b")
  }

  test("yaml config drives a full validation job over parquet sources") {
    val (pa, pb) = writeSides()
    val outDir = Files.createTempDirectory("cfgout").toString
    val yaml =
      s"""databases: [left, right]
         |data_type: string
         |threshold: 1
         |composite_id_columns: [pk]
         |check_column: val
         |output_directory: $outDir
         |sources:
         |  left:
         |    format: parquet
         |    path: $pa
         |  right:
         |    format: parquet
         |    path: $pb
         |""".stripMargin
    val cfg = ConfigLoader.fromYamlString(yaml)
    assert(cfg.firstName == "left" && cfg.secondName == "right")
    assert(ValidationJob.compareMode(cfg) == CompareMode.Fuzzy(1.0))
    val (out, summary) = ValidationJob.run(spark, cfg)
    assert(out.missingInFirst.as[String].collect().toSeq == Seq("4"))
    assert(out.missingInSecond.as[String].collect().toSeq == Seq("1"))
    assert(out.differing.select("id").as[String].collect().toSeq == Seq("3"))
    assert(out.differing.columns.toSeq == Seq("id", "val_left", "val_right"))
    val s0 = summary.collect()(0)
    assert(s0.getAs[Long]("n_differing") == 1)
    // reports written with reference naming
    assert(new java.io.File(s"$outDir/result/output_left_right_val_result.csv").isDirectory)
    assert(new java.io.File(s"$outDir/tidy/differing_values").isDirectory)
  }

  test("check_columns drives a multi-column job: per-column summary and " +
      "a column-partitioned long diff, one pass") {
    val (pa, pb) = writeSides()
    val outDir = Files.createTempDirectory("cfgmulti").toString
    val yaml =
      s"""databases: [left, right]
         |composite_id_columns: [pk]
         |check_columns:
         |  - column: val
         |    data_type: string
         |  - column: d
         |    data_type: date
         |output_directory: $outDir
         |sources:
         |  left:
         |    format: parquet
         |    path: $pa
         |  right:
         |    format: parquet
         |    path: $pb
         |""".stripMargin
    // deliberately NO `check_column:` — a multi-column config stands alone
    // (it used to throw "config needs check_column"); the classic field
    // defaults from the first listed check
    val cfg = ConfigLoader.fromYamlString(yaml)
    assert(cfg.checkColumn == "val")
    assert(cfg.checkColumns == Seq(
      graft.config.CheckSpec("val", "string", 1.0),
      graft.config.CheckSpec("d", "date", 1.0)))
    val (summary, diff) = ValidationJob.runMulti(spark, cfg)
    val bySumCol = summary.collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    assert(bySumCol.keySet == Set("val", "d"))
    // val: pk 3 differs (z vs zz); d: identical on shared keys
    assert(bySumCol("val").getAs[Long]("n_differing") == 1)
    assert(bySumCol("d").getAs[Long]("n_differing") == 0)
    assert(bySumCol("val").getAs[Long]("missing_in_first") == 1)  // pk 4
    assert(bySumCol("val").getAs[Long]("missing_in_second") == 1) // pk 1
    val diffRows = diff.collect()
      .map(r => (r.getAs[String]("column_name"), r.getAs[String]("id")))
    assert(diffRows.toSeq == Seq(("val", "3")))
    // report written hive-partitioned by column
    assert(new java.io.File(s"$outDir/multi_diff/column_name=val").isDirectory)
  }

  test("check_columns: all infers the whole-row list from the shared " +
      "schema (key and date columns excluded, modes from types)") {
    val (pa, pb) = writeSides()
    val outDir = Files.createTempDirectory("cfgall").toString
    val yaml =
      s"""databases: [left, right]
         |composite_id_columns: [pk]
         |check_columns: all
         |output_directory: $outDir
         |sources:
         |  left:
         |    format: parquet
         |    path: $pa
         |  right:
         |    format: parquet
         |    path: $pb
         |""".stripMargin
    val cfg = ConfigLoader.fromYamlString(yaml)
    assert(cfg.checkAllColumns && cfg.checkColumns.isEmpty)
    val (summary, _) = ValidationJob.runMulti(spark, cfg)
    val rows = summary.collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    // shared columns minus pk: val (string -> exact) and d (timestamp -> Date)
    assert(rows.keySet == Set("val", "d"))
    assert(rows("val").getAs[Long]("n_differing") == 1)
    assert(rows("d").getAs[Long]("n_differing") == 0)
    // inferred modes visible through inferChecks directly
    val a = spark.read.parquet(pa); val b = spark.read.parquet(pb)
    val inferred = ValidationJob.inferChecks(a, b, exclude = Seq("pk"))
    assert(inferred == Seq(
      "val" -> CompareMode.Fuzzy(1.0), "d" -> CompareMode.Date))
    // numeric typing maps to Numeric
    val n1 = a.selectExpr("pk", "CAST(pk AS DOUBLE) AS x")
    assert(ValidationJob.inferChecks(n1, n1, Seq("pk")) ==
      Seq("x" -> CompareMode.Numeric))
  }

  test("incremental: true routes the summary through the stored digest " +
      "state — same numbers as the direct path, state persisted, " +
      "re-runs answer all-clean") {
    val (pa, pb) = writeSides()
    val outDir = Files.createTempDirectory("cfginc").toString
    def yaml(incremental: Boolean) =
      s"""databases: [left, right]
         |data_type: string
         |threshold: 1
         |composite_id_columns: [pk]
         |check_column: val
         |output_directory: $outDir
         |incremental: $incremental
         |incremental_buckets: 16
         |sources:
         |  left: { format: parquet, path: $pa }
         |  right: { format: parquet, path: $pb }
         |""".stripMargin
    val cfgInc = ConfigLoader.fromYamlString(yaml(true))
    assert(cfgInc.incremental && cfgInc.incrementalBuckets == 16)
    val (_, sumInc) = ValidationJob.run(spark, cfgInc, writeReports = false)
    val (_, sumDirect) = ValidationJob.run(spark,
      ConfigLoader.fromYamlString(yaml(false)), writeReports = false)
    val a = sumInc.collect()(0); val b = sumDirect.collect()(0)
    for (c <- Seq("n_first", "n_second", "missing_in_first",
        "missing_in_second", "n_differing", "n_matched"))
      assert(a.getAs[Long](c) == b.getAs[Long](c), s"col $c")
    assert(new java.io.File(s"$outDir/validation_state/state").exists(),
      "default state location must be <output>/validation_state")
    // second run: unchanged inputs answer from the state, same numbers
    val (_, sum2) = ValidationJob.run(spark, cfgInc, writeReports = false)
    assert(sum2.collect()(0).toSeq == a.toSeq)
    // multi path: check_columns + incremental uses the multi state
    val yamlMulti =
      s"""databases: [left, right]
         |composite_id_columns: [pk]
         |check_columns:
         |  - column: val
         |  - column: d
         |    data_type: date
         |incremental: true
         |state_directory: $outDir/multi_state
         |output_directory: $outDir
         |sources:
         |  left: { format: parquet, path: $pa }
         |  right: { format: parquet, path: $pb }
         |""".stripMargin
    val cfgM = ConfigLoader.fromYamlString(yamlMulti)
    val (sumM, _) = ValidationJob.runMulti(spark, cfgM, writeReports = false)
    val byCol = sumM.collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    assert(byCol("val").getAs[Long]("n_differing") == 1)
    assert(byCol("d").getAs[Long]("n_differing") == 0)
    assert(new java.io.File(s"$outDir/multi_state/terms").isDirectory)
  }

  test("incremental tidy report carries the CLASSIC column types: a " +
      "numeric check column reads back double, not the store's string") {
    import org.apache.spark.sql.types.{DoubleType, StringType}
    val d = Files.createTempDirectory("cfgtyped")
    val a = spark.range(300).selectExpr("id AS pk",
      "CAST(id AS DOUBLE) / 4 AS val")
    val b = a.selectExpr("pk",
      "CASE WHEN pk % 7 = 0 THEN val + 0.5 ELSE val END AS val")
    a.write.mode("overwrite").parquet(s"$d/a")
    b.write.mode("overwrite").parquet(s"$d/b")
    def yaml(out: String, extra: String) =
      s"""databases: [left, right]
         |data_type: numeric
         |threshold: 1
         |composite_id_columns: [pk]
         |check_column: val
         |output_directory: $out
         |$extra
         |sources:
         |  left: { format: parquet, path: $d/a }
         |  right: { format: parquet, path: $d/b }
         |""".stripMargin
    ValidationJob.run(spark, ConfigLoader.fromYamlString(
      yaml(s"$d/inc", "incremental: true")))
    ValidationJob.run(spark, ConfigLoader.fromYamlString(
      yaml(s"$d/classic", "")))
    val inc = spark.read.parquet(s"$d/inc/tidy/differing_values")
    val classic = spark.read.parquet(s"$d/classic/tidy/differing_values")
    assert(classic.schema("val_left").dataType == DoubleType)
    assert(inc.schema.fields.map(f => f.name -> f.dataType).toSeq ==
      classic.schema.fields.map(f => f.name -> f.dataType).toSeq,
      s"incremental tidy schema must match classic:\n${inc.schema}\n" +
        s"${classic.schema}")
    assert(inc.schema("id").dataType == StringType)
    assert(inc.collect().map(_.toSeq).toSet ==
      classic.collect().map(_.toSeq).toSet,
      "typed values must round-trip the store's strings exactly")
  }

  test("incremental: true maintains the ROW-LEVEL report through the " +
      "stored bucket-partitioned table: a churned re-run rewrites only " +
      "dirty buckets' partitions, the written reports equal the full " +
      "validate() frames, and report_incremental: false keeps the " +
      "classic path") {
    import org.apache.spark.sql.functions.col
    val d = Files.createTempDirectory("cfgincrep")
    val outDir = s"$d/out"
    // 400 ids; the right side starts with 8 differing values (pk%50==0)
    val a = spark.range(400).selectExpr("id AS pk",
      "CAST(id % 37 AS STRING) AS val")
    val b0 = a.selectExpr("pk",
      "CASE WHEN pk % 50 = 0 THEN concat(val, 'x') ELSE val END AS val")
    // churn: 10 more ids change (390..399), one id disappears (17)
    val b1 = b0.selectExpr("pk",
      "CASE WHEN pk >= 390 THEN concat(val, 'y') ELSE val END AS val")
      .filter("pk <> 17")
    a.write.mode("overwrite").parquet(s"$d/a")
    b0.write.mode("overwrite").parquet(s"$d/b0")
    b1.write.mode("overwrite").parquet(s"$d/b1")
    def yaml(right: String, extra: String = "") =
      s"""databases: [left, right]
         |data_type: string
         |threshold: 1
         |composite_id_columns: [pk]
         |check_column: val
         |output_directory: $outDir
         |incremental: true
         |$extra
         |sources:
         |  left: { format: parquet, path: $d/a }
         |  right: { format: parquet, path: $right }
         |""".stripMargin
    val reportStore = s"$outDir/validation_state/report_surface/report"
    ValidationJob.run(spark, ConfigLoader.fromYamlString(yaml(s"$d/b0")))
    assert(new java.io.File(reportStore).isDirectory,
      "incremental run must materialize the stored report table")
    def mtimes(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(reportStore))
      try st.iterator().asScala
        .filter(_.getFileName.toString.startsWith("__bgroup="))
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
      finally st.close()
    }
    val before = mtimes()
    assert(before.nonEmpty, "run 1 must write differing-row partitions")
    val (out2, sum2) = ValidationJob.run(spark,
      ConfigLoader.fromYamlString(yaml(s"$d/b1")))
    val after = mtimes()
    val survivors = before.keySet.intersect(after.keySet)
    val untouched = survivors.count(k => before(k) == after(k))
    assert(untouched * 2 >= survivors.size,
      s"churned YAML re-run must leave clean partitions alone " +
        s"($untouched/${survivors.size} untouched)")
    // the returned frames AND the tidy files equal a full validate()
    val want = Validator.validate(
      a.selectExpr("CAST(pk AS STRING) AS id", "val AS check"),
      b1.selectExpr("CAST(pk AS STRING) AS id", "val AS check"),
      CompareMode.Fuzzy(1.0))
    assert(out2.differing.collect().map(_.toSeq).toSet ==
      want.differing.collect().map(_.toSeq).toSet)
    assert(out2.missingInSecond.as[String].collect().toSet ==
      want.missingInSecond.collect().map(_.getString(0)).toSet)
    val tidyDiff = spark.read.parquet(s"$outDir/tidy/differing_values")
    assert(tidyDiff.columns.toSeq == Seq("id", "val_left", "val_right"))
    assert(tidyDiff.collect().map(_.toSeq).toSet ==
      want.differing.collect().map(_.toSeq).toSet,
      "tidy report written from the store must equal full validate()")
    // the summary DERIVES from the same store (one digest scan prices
    // the run) and must equal the direct six-metric computation
    val wantSum = Validator.summaryFast(
      a.selectExpr("CAST(pk AS STRING) AS id", "val AS check"),
      b1.selectExpr("CAST(pk AS STRING) AS id", "val AS check"),
      CompareMode.Fuzzy(1.0)).collect()(0)
    assert(sum2.columns.toSeq == Seq("n_first", "n_second",
      "missing_in_first", "missing_in_second", "n_differing", "n_matched"))
    assert(sum2.collect()(0).toSeq == wantSum.toSeq,
      "summary derived from the report store must equal summaryFast")
    // escape hatch: report_incremental: false never touches the store
    val outDir2 = s"$d/out2"
    val cfgOff = ConfigLoader.fromYamlString(
      yaml(s"$d/b1", "report_incremental: false")
        .replace(outDir, outDir2))
    assert(!cfgOff.reportIncremental)
    ValidationJob.run(spark, cfgOff)
    assert(!new java.io.File(
      s"$outDir2/validation_state/report_surface").exists(),
      "report_incremental: false must keep the classic full-report path")
    assert(new java.io.File(s"$outDir2/tidy/differing_values").isDirectory)
    // multi path: check_columns + incremental maintains the multi store
    // and writes multi_diff from it
    val yamlM =
      s"""databases: [left, right]
         |composite_id_columns: [pk]
         |check_columns:
         |  - column: val
         |incremental: true
         |output_directory: $outDir/m
         |sources:
         |  left: { format: parquet, path: $d/a }
         |  right: { format: parquet, path: $d/b1 }
         |""".stripMargin
    val (sumMulti, diffM) = ValidationJob.runMulti(spark,
      ConfigLoader.fromYamlString(yamlM))
    assert(new java.io.File(
      s"$outDir/m/validation_state/multi_report_surface/report").isDirectory)
    val wantM = Validator.diffMulti(
      a.selectExpr("CAST(pk AS STRING) AS id", "val"),
      b1.selectExpr("CAST(pk AS STRING) AS id", "val"),
      Seq(("val", CompareMode.Fuzzy(1.0))))
    assert(diffM.collect().map(_.toSeq).toSet ==
      wantM.collect().map(_.toSeq).toSet)
    assert(new java.io.File(
      s"$outDir/m/multi_diff/column_name=val").isDirectory)
    // the per-column summary DERIVES from the same store and must equal
    // the direct computation
    val wantSumM = Validator.summaryMulti(
      a.selectExpr("CAST(pk AS STRING) AS id", "val"),
      b1.selectExpr("CAST(pk AS STRING) AS id", "val"),
      Seq(("val", CompareMode.Fuzzy(1.0)))).collect()(0)
    assert(sumMulti.collect()(0).toSeq == wantSumM.toSeq,
      "multi summary derived from the report store must equal summaryMulti")
  }

  test("config guards: classic path still demands check_column; multi " +
      "path demands a composite key") {
    val (pa, pb) = writeSides()
    def yaml(extra: String) =
      s"""databases: [left, right]
         |$extra
         |sources:
         |  left: { format: parquet, path: $pa }
         |  right: { format: parquet, path: $pb }
         |""".stripMargin
    // no check surface at all -> the classic requirement still fires
    val e1 = intercept[IllegalArgumentException] {
      ConfigLoader.fromYamlString(yaml("composite_id_columns: [pk]"))
    }
    assert(e1.getMessage.contains("check_column"))
    // `check_columns: all` with NO composite key: every row would share
    // the empty composite id — must refuse loudly, not collapse silently
    val cfg = ConfigLoader.fromYamlString(yaml("check_columns: all"))
    val e2 = intercept[IllegalArgumentException] {
      ValidationJob.runMulti(spark, cfg, writeReports = false)
    }
    assert(e2.getMessage.contains("composite_id_columns"))
  }

  test("graft.Main routes a check_columns config through runMulti") {
    val (pa, pb) = writeSides()
    val outDir = Files.createTempDirectory("mainmulti").toString
    val cfgFile = Files.createTempFile("mainm", ".yaml")
    Files.writeString(cfgFile,
      s"""databases: [left, right]
         |composite_id_columns: [pk]
         |check_column: val
         |check_columns:
         |  - column: val
         |    data_type: string
         |  - column: d
         |    data_type: date
         |output_directory: $outDir
         |sources:
         |  left:
         |    format: parquet
         |    path: $pa
         |  right:
         |    format: parquet
         |    path: $pb
         |""".stripMargin)
    val row = graft.Main.run(spark, cfgFile.toString)
    assert(row.getAs[String]("column_name") == "d") // ordered, first col
    assert(new java.io.File(s"$outDir/multi_diff/column_name=val").isDirectory)
  }

  test("graft.Main runs the whole lifecycle from a config file path") {
    // the CLI entry point end to end: yaml on disk -> sources -> validate
    // -> reports on disk -> printed summary row
    val (pa, pb) = writeSides()
    val outDir = Files.createTempDirectory("mainout").toString
    val cfgFile = Files.createTempFile("main", ".yaml")
    Files.writeString(cfgFile,
      s"""databases: [left, right]
         |data_type: string
         |threshold: 1
         |composite_id_columns: [pk]
         |check_column: val
         |output_directory: $outDir
         |sources:
         |  left: { format: parquet, path: $pa }
         |  right: { format: parquet, path: $pb }
         |""".stripMargin)
    val row = Main.run(spark, cfgFile.toString)
    assert(row.getAs[Long]("n_first") == 3)
    assert(row.getAs[Long]("n_second") == 3)
    assert(row.getAs[Long]("missing_in_first") == 1)
    assert(row.getAs[Long]("missing_in_second") == 1)
    assert(row.getAs[Long]("n_differing") == 1)
    assert(new java.io.File(s"$outDir/result/output_left_right_val_result.csv").isDirectory)
    assert(new java.io.File(s"$outDir/tidy/differing_values").isDirectory)
  }

  test("date-range filter is applied exclusively on both ends") {
    val (pa, pb) = writeSides()
    val yaml =
      s"""databases: [left, right]
         |data_type: string
         |composite_id_columns: [pk]
         |check_column: val
         |start_date: 2024-01-05
         |end_date: 2024-01-07
         |left_database_date_column: d
         |right_database_date_column: d
         |sources:
         |  left: { format: parquet, path: $pa }
         |  right: { format: parquet, path: $pb }
         |""".stripMargin
    val cfg = ConfigLoader.fromYamlString(yaml)
    val (out, summary) = ValidationJob.run(spark, cfg, writeReports = false)
    // window (2024-01-05 00:00, 2024-01-07 00:00) exclusive: left keeps
    // pk=2 only (d=01-06; 01-05 and 01-07 excluded); right keeps pk=2
    val s0 = summary.collect()(0)
    assert(s0.getAs[Long]("n_first") == 1 && s0.getAs[Long]("n_second") == 1)
    assert(out.differing.count() == 0)
  }

  test("unknown data_type raises; two databases enforced") {
    intercept[IllegalArgumentException] {
      ConfigLoader.fromYamlString("databases: [a]\ncheck_column: c")
    }
    val cfg = ConfigLoader.fromYamlString(
      "databases: [a, b]\ncheck_column: c\ndata_type: blob")
    intercept[IllegalArgumentException] { ValidationJob.compareMode(cfg) }
  }

  test("SourceReader reads csv with options") {
    val d = Files.createTempDirectory("csv")
    Seq((1, "a"), (2, "b")).toDF("k", "v").write
      .option("header", "true").csv(s"$d/t")
    val spec = graft.config.SourceSpec("csv",
      Map("header" -> "true", "inferSchema" -> "true"), Some(s"$d/t"))
    val df = SourceReader.read(spark, spec)
    assert(df.count() == 2 && df.columns.toSeq == Seq("k", "v"))
  }

  test("min_rows_for_incremental floor: below it the job runs the " +
      "classic path and touches NO state; at/above it the state engages") {
    val (pa, pb) = writeSides() // 3 + 3 rows
    val outDir = Files.createTempDirectory("cfgfloor").toString
    def yaml(floor: Long) =
      s"""databases: [left, right]
         |data_type: string
         |threshold: 1
         |composite_id_columns: [pk]
         |check_column: val
         |output_directory: $outDir
         |incremental: true
         |incremental_buckets: 16
         |min_rows_for_incremental: $floor
         |sources:
         |  left: { format: parquet, path: $pa }
         |  right: { format: parquet, path: $pb }
         |""".stripMargin
    val cfgHigh = ConfigLoader.fromYamlString(yaml(100))
    assert(cfgHigh.minRowsForIncremental == 100L)
    val (_, sumHigh) = ValidationJob.run(spark, cfgHigh,
      writeReports = false)
    assert(!new java.io.File(s"$outDir/validation_state").exists(),
      "below the floor no state may be created")
    // same numbers as the classic path by construction; floor at the
    // exact input size (6) engages the incremental state
    val (_, sumAt) = ValidationJob.run(spark,
      ConfigLoader.fromYamlString(yaml(6)), writeReports = false)
    assert(new java.io.File(s"$outDir/validation_state/state").exists(),
      "at the floor the state must engage")
    assert(sumAt.collect()(0).toSeq == sumHigh.collect()(0).toSeq,
      "floor routing must never change the numbers")
    // the multi-column lifecycle honors the same floor
    val outM = Files.createTempDirectory("cfgfloorm").toString
    val yamlM =
      s"""databases: [left, right]
         |composite_id_columns: [pk]
         |check_columns:
         |  - column: val
         |incremental: true
         |min_rows_for_incremental: 100
         |state_directory: $outM/state
         |output_directory: $outM
         |sources:
         |  left: { format: parquet, path: $pa }
         |  right: { format: parquet, path: $pb }
         |""".stripMargin
    ValidationJob.runMulti(spark, ConfigLoader.fromYamlString(yamlM))
    assert(!new java.io.File(s"$outM/state").exists(),
      "multi path below the floor must not create state")
  }

  test("--break-lease recovery surface: a crashed run's lease unlocks " +
      "without writing Scala") {
    val stateDir = Files.createTempDirectory("cfglease").toString
    // simulate the crashed run: lease acquired, never released
    graft.state.StateStore.acquireLease(spark, stateDir)
    // a second writer fails fast, as the lease contract demands
    val e = intercept[IllegalStateException] {
      graft.state.StateStore.acquireLease(spark, stateDir)
    }
    assert(e.getMessage.contains("lease"))
    // the CLI recovery action (graft.Main --break-lease <dir>)
    Main.runBreakLease(spark, stateDir)
    // now a fresh run proceeds
    graft.state.StateStore.acquireLease(spark, stateDir)
      .release()
  }

  test("SourceReader reads json-lines (the raw-crawl interchange format) " +
      "through the same generic format path") {
    val d = Files.createTempDirectory("jsonl")
    Seq((1L, "doc a"), (2L, "doc b")).toDF("doc_id", "text").write
      .json(s"$d/t")
    val spec = graft.config.SourceSpec("json", Map.empty, Some(s"$d/t"))
    val df = SourceReader.read(spark, spec)
    assert(df.count() == 2 &&
      df.columns.sorted.toSeq == Seq("doc_id", "text"))
    assert(df.filter(df("doc_id") === 1L).head().getAs[String]("text")
      == "doc a")
  }
}
