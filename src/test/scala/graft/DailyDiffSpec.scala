package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

import graft.config.ConfigLoader
import graft.core.{IncrementalValidation, ValidationJob, ValidationOutput}
import graft.ops.IncrementalAgg
import graft.report.ReportWriter

/** The daily incremental diff's fixed per-op cost: the job budget of one
  * steady-state `ValidationJob.run`, and the cheaper digest and padded-
  * summary kernels pinned against the formulations they replace. */
class DailyDiffSpec extends AnyFunSuite with SparkSpec {

  private val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)

  /** Day `d` of a 3000-id table pair: ids 3d..3d+2 change value on the
    * second side, and each day drops one id and adds one. */
  private def writeDay(dir: String, d: Int): Unit = {
    val a = spark.range(3000).selectExpr("id AS pk",
      "concat('model-', CAST(id % 97 AS STRING)) AS model")
    val b = a.selectExpr("pk",
        s"CASE WHEN pk % 500 = 0 OR pk BETWEEN ${3 * d} AND ${3 * d + 2} " +
          "THEN concat(model, '-x') ELSE model END AS model")
      .filter(s"pk <> ${1000 + d}")
      .unionByName(spark.range(1).selectExpr(s"${5000 + d} AS pk",
        "'model-new' AS model"))
    a.write.mode("overwrite").parquet(s"$dir/day$d/a")
    b.write.mode("overwrite").parquet(s"$dir/day$d/b")
  }

  test("job budget: one steady-state daily ValidationJob.run (incremental " +
      "report, churned day) launches at most the pinned number of Spark " +
      "jobs, and collecting its summary launches none") {
    val d = Files.createTempDirectory("graft_daily").toString
    (0 to 2).foreach(writeDay(d, _))
    def cfg(day: Int) = ConfigLoader.fromYamlString(
      s"""databases: [first, second]
         |data_type: string
         |threshold: 0.9
         |composite_id_columns: [pk]
         |check_column: model
         |output_directory: $d/out
         |incremental: true
         |report_incremental: true
         |report_buckets: 64
         |sources:
         |  first: { format: parquet, path: $d/day$day/a }
         |  second: { format: parquet, path: $d/day$day/b }
         |""".stripMargin)
    ValidationJob.run(spark, cfg(0))._2.collect()
    ValidationJob.run(spark, cfg(1))._2.collect()
    var summary: DataFrame = null
    val jobs = jobsLaunchedBy { summary = ValidationJob.run(spark, cfg(2))._2 }
    var row: org.apache.spark.sql.Row = null
    val collectJobs = jobsLaunchedBy { row = summary.collect().head }
    def keyed(side: String) = spark.read.parquet(s"$d/day2/$side")
      .selectExpr("CAST(pk AS STRING) AS id", "model AS check")
    val want = graft.core.Validator.summaryFast(keyed("a"), keyed("b"),
      graft.core.CompareMode.Fuzzy(0.9)).collect().head
    assert(row.toSeq == want.toSeq)
    assert(row.getAs[Long]("n_differing") == 9L)
    // 20 = the two sources' schema reads, the digest scan (3), the two
    // churn slices' materializations, the report surgery's staging
    // write (5), the witness write, the one materializing read of the
    // store, three tidy writes, the padded summary (2) and the
    // differing-values write, with adaptive execution running each
    // exchange as its own job. Pinned so a report output that starts
    // re-reading the store, or a state read that starts inferring its
    // schema, shows here
    assert(jobs <= 18, s"$jobs jobs for one steady-state daily run")
    assert(collectJobs == 0, s"summary.collect launched $collectJobs jobs")
  }

  test("job budget: one steady-state daily ValidationJob.runMulti " +
      "(incremental report, churned day) launches at most the pinned " +
      "number of Spark jobs, and collecting its summary launches none") {
    val d = Files.createTempDirectory("graft_dailymulti").toString
    (0 to 2).foreach(writeDay(d, _))
    def cfg(day: Int) = ConfigLoader.fromYamlString(
      s"""databases: [first, second]
         |composite_id_columns: [pk]
         |check_columns:
         |  - column: model
         |    data_type: string
         |    threshold: 0.9
         |  - column: pk
         |    data_type: integer
         |output_directory: $d/out
         |incremental: true
         |report_incremental: true
         |report_buckets: 64
         |sources:
         |  first: { format: parquet, path: $d/day$day/a }
         |  second: { format: parquet, path: $d/day$day/b }
         |""".stripMargin)
    ValidationJob.runMulti(spark, cfg(0))._1.collect()
    ValidationJob.runMulti(spark, cfg(1))._1.collect()
    var summary: DataFrame = null
    val jobs = jobsLaunchedBy {
      summary = ValidationJob.runMulti(spark, cfg(2))._1
    }
    var got: Map[String, Seq[Any]] = null
    val collectJobs = jobsLaunchedBy {
      got = summary.collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    }
    def keyed(side: String) = spark.read.parquet(s"$d/day2/$side")
      .selectExpr("CAST(pk AS STRING) AS id", "model", "pk")
    val checks = Seq("model" -> graft.core.CompareMode.Fuzzy(0.9),
      "pk" -> graft.core.CompareMode.Numeric)
    val want = graft.core.Validator.summaryMulti(keyed("a"), keyed("b"),
      checks).collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(got == want)
    // the summary is built on the driver from the digests and the
    // counts observed on the one read of the store, so collecting it
    // launches no job. Pinned so a summary that starts re-reading the
    // store shows here
    assert(jobs <= 14, s"$jobs jobs for one steady-state multi-column run")
    assert(collectJobs == 0, s"summary.collect launched $collectJobs jobs")
  }

  /** The per-row DECIMAL(38,0) digest formulation the limb kernel
    * replaced, inlined as the reference. */
  private def referenceDigests(first: DataFrame, second: DataFrame,
      nBuckets: Int): DataFrame = {
    val v = col("check").cast(StringType)
    def side(df: DataFrame, tag: Int) = df.select(
      IncrementalValidation.bucketExpr(nBuckets).as("bucket"),
      xxhash64(col("id").cast(StringType), v).as("h"),
      xxhash64(lit(1L), col("id").cast(StringType), v).as("h2"),
      lit(tag).as("side"))
    def s(tag: Int, c: org.apache.spark.sql.Column) =
      sum(when(col("side") === tag, c).otherwise(lit(0L)).cast(dec))
    side(first, 1).unionByName(side(second, 0)).groupBy("bucket").agg(
      s(1, lit(1L)).cast("long").as("n1"),
      s(1, col("h")).as("h1a"), s(1, col("h2")).as("h1b"),
      s(0, lit(1L)).cast("long").as("n2"),
      s(0, col("h")).as("h2a"), s(0, col("h2")).as("h2b"))
  }

  private def byBucket(df: DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.toSeq).toMap

  test("limb digests == the per-row DECIMAL(38,0) sums bit for bit: both " +
      "digest kernels, and the limb helper on Long.MinValue / MaxValue") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261017)
    def side(n: Int) = Seq.fill(n) {
      (if (rnd.nextDouble() < 0.03) null else rnd.nextInt(400).toString,
        if (rnd.nextDouble() < 0.1) null else rnd.nextInt(50).toString)
    }.toDF("id", "check").repartition(3)
    val (f, s) = (side(2000), side(1800))
    val got = IncrementalValidation.digests(f, s, 16)
    val want = referenceDigests(f, s, 16)
    assert(got.schema == want.schema)
    assert(byBucket(got) == byBucket(want))
    // the single-table kernel of the churn aggregates
    val gotAgg = IncrementalAgg.digests(f, "id", Seq("check"), 16, None)
    val id = col("id").cast(StringType)
    val value = xxhash64(xxhash64(lit(0), col("check").cast(StringType)))
    val wantAgg = f.select(IncrementalValidation.bucketExpr(16).as("bucket"),
        xxhash64(id, value).as("h"), xxhash64(lit(1L), id, value).as("h2"))
      .groupBy("bucket").agg(count(lit(1)).as("n"),
        sum(col("h").cast(dec)).as("ha"), sum(col("h2").cast(dec)).as("hb"))
    assert(gotAgg.schema == wantAgg.schema)
    assert(byBucket(gotAgg) == byBucket(wantAgg))
    // the helper itself at the hash range's edges, where a signed or
    // overflowing limb would show
    val edges = Seq(Long.MinValue, Long.MaxValue, -1L, 0L, 1L,
      Long.MinValue + 1, Long.MaxValue - 1, 1L << 42, -(1L << 42),
      (1L << 21) - 1, -(1L << 21))
    val hashes = (edges ++ Seq.fill(300)(rnd.nextLong()))
      .zipWithIndex.map { case (h, i) => (i % 4L, h) }
      .toDF("g", "h").repartition(4)
    val (limbAggs, totals) =
      IncrementalValidation.limbSums(Seq("s" -> col("h")))
    val viaLimbs = hashes.groupBy("g").agg(limbAggs.head, limbAggs.tail: _*)
      .select(col("g") +: totals: _*)
    val viaDecimal = hashes.groupBy("g").agg(sum(col("h").cast(dec)).as("s"))
    assert(viaLimbs.schema("s").dataType == dec)
    assert(byBucket(viaLimbs) == byBucket(viaDecimal))
    val allMin = Seq.fill(5)((0L, Long.MinValue)).toDF("g", "h")
      .groupBy("g").agg(limbAggs.head, limbAggs.tail: _*).select(totals: _*)
    assert(allMin.head().getDecimal(0) == java.math.BigDecimal
      .valueOf(Long.MinValue).multiply(java.math.BigDecimal.valueOf(5)))
  }

  /** The three-window, two-join padded summary that one-shuffle
    * [[ReportWriter.paddedSummary]] replaced, inlined as the reference. */
  private def referencePadded(out: ValidationOutput): DataFrame = {
    def ranked(df: DataFrame, v: org.apache.spark.sql.Column, name: String) =
      df.select(v.as(name)).withColumn("rn",
        row_number().over(Window.orderBy(monotonically_increasing_id())))
    val m1 = ranked(out.missingInFirst, col("id"), "missing_in_first")
    val m2 = ranked(out.missingInSecond, col("id"), "missing_in_second")
    val dv = ranked(out.differing,
      to_json(struct(out.differing.columns.toIndexedSeq.map(col): _*)),
      "differing_values")
    m1.join(m2, Seq("rn"), "full_outer")
      .join(dv, Seq("rn"), "full_outer")
      .orderBy("rn")
      .select("missing_in_first", "missing_in_second", "differing_values")
  }

  test("paddedSummary == the three-window / two-join formulation row for " +
      "row, on unequal lengths over several input partitions, in one " +
      "exchange") {
    def ids(n: Long, parts: Int, from: Long) =
      spark.range(from, from + n, 1, parts).select(
        when(col("id") % 7 === 3, lit(null)).otherwise(
          concat(lit("k"), col("id").cast(StringType))).as("id"))
    def differing(n: Long, parts: Int) = spark.range(0, n, 1, parts).select(
      concat(lit("d"), col("id").cast(StringType)).as("id"),
      (col("id") * 3).as("v_a"), (col("id") % 5).cast(StringType).as("v_b"))
    val cases = Seq(
      ValidationOutput(ids(23, 3, 0), ids(5, 2, 100), differing(41, 4)),
      ValidationOutput(ids(30, 4, 0), ids(0, 1, 0), differing(7, 3)),
      ValidationOutput(ids(0, 1, 0), ids(0, 1, 0), differing(0, 1)))
    for ((out, i) <- cases.zipWithIndex) {
      val got = ReportWriter.paddedSummary(out)
      assert(got.collect().toSeq == referencePadded(out).collect().toSeq,
        s"case $i")
    }
    val plan = ReportWriter.paddedSummary(cases.head)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"the padded summary must carry exactly one exchange:\n$plan")
  }
}
