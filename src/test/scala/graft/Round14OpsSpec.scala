package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CompareMode, IncrementalValidation, Validator}
import graft.state.StateStore

/** Round-14 coverage: multi-column incremental row-level report,
  * single-writer lease on incremental state, per-side dirty-predicate
  * typing, digest independence/version discipline, the small-table
  * floor, compactInPlace crash recovery. */
class Round14OpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20260815)

  private def freshStateDir(): String =
    java.nio.file.Files.createTempDirectory("graft_r14").toString

  private def viaParquet(df: DataFrame): DataFrame = {
    val p = java.nio.file.Files.createTempDirectory("graft_r14in").toString
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  /** Random (id, num, dt, fz) frame: duplicate ids, null ids, nulls and
    * garbage in every check column. */
  private def randomMulti(n: Int, keySpace: Int): DataFrame = {
    val rows = Seq.fill(n) {
      val id = if (rnd.nextDouble() < 0.04) null
        else (rnd.nextInt(keySpace) + 1).toString
      def v(garbage: String) =
        if (rnd.nextDouble() < 0.2) null
        else if (rnd.nextDouble() < 0.1) garbage + rnd.nextInt(2)
        else rnd.nextInt(40).toString
      val dt = if (rnd.nextDouble() < 0.2) null
        else s"2024-01-${rnd.nextInt(9) + 1}"
      (id, v("g"), dt, v("h"))
    }
    rows.toDF("id", "num", "dt", "fz")
  }

  private val multiChecks = Seq(
    ("num", CompareMode.Numeric),
    ("dt", CompareMode.Date),
    ("fz", CompareMode.Fuzzy(1.0)))

  /** Churn ~rate of the rows across all three check columns. */
  private def churnMulti(df: DataFrame, salt: Int, rate: Double): DataFrame = {
    val cut = lit((rate * 500).toLong)
    df.filter(pmod(xxhash64(col("id"), lit(salt)), lit(1000L)) >= cut)
      .withColumn("num",
        when(pmod(xxhash64(col("id"), lit(salt + 1)), lit(1000L)) < cut,
          concat(coalesce(col("num"), lit("")), lit("1")))
          .otherwise(col("num")))
      .withColumn("fz",
        when(pmod(xxhash64(col("id"), lit(salt + 2)), lit(1000L)) < cut,
          concat(coalesce(col("fz"), lit("")), lit("~")))
          .otherwise(col("fz")))
  }

  private def listPartMtimes(reportDir: String): Map[String, Long] = {
    val base = java.nio.file.Paths.get(reportDir)
    if (!java.nio.file.Files.isDirectory(base)) return Map.empty
    val st = java.nio.file.Files.list(base)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala
        .filter(_.getFileName.toString.startsWith("__bgroup="))
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    } finally st.close()
  }

  private def expectMultiRows(f: DataFrame, s: DataFrame): Set[Seq[Any]] =
    Validator.diffMulti(f, s, multiChecks).collect().map(_.toSeq).toSet

  test("reportIncrementalMulti == diffMulti across randomized churn; " +
      "clean report partitions are never touched; torn witness rebuilds") {
    for (trial <- 1 to 3) {
      val stateDir = freshStateDir()
      val f = viaParquet(randomMulti(rnd.nextInt(150) + 80, 60))
      val s0 = viaParquet(randomMulti(rnd.nextInt(150) + 80, 60))
      val (rep1, r1) = IncrementalValidation.reportIncrementalMulti(
        f, s0, multiChecks, stateDir, nBuckets = 32,
        dirtyFractionLimit = 1.0)
      assert(r1.rebuilt, s"trial $trial first run must rebuild")
      assert(rep1.collect().map(_.toSeq).toSet == expectMultiRows(f, s0),
        s"trial $trial build")
      // churn, re-run: only dirty buckets' partitions move
      val s1 = viaParquet(churnMulti(s0, salt = trial + 70, rate = 0.08))
      val before = listPartMtimes(s"$stateDir/report")
      val (rep2, r2) = IncrementalValidation.reportIncrementalMulti(
        f, s1, multiChecks, stateDir, nBuckets = 32,
        dirtyFractionLimit = 1.0)
      assert(!r2.rebuilt && r2.dirtyBuckets > 0 && r2.cleanBuckets > 0,
        s"trial $trial: expected pruned rerun, got $r2")
      assert(rep2.collect().map(_.toSeq).toSet == expectMultiRows(f, s1),
        s"trial $trial churn")
      val after = listPartMtimes(s"$stateDir/report")
      val touched = before.keySet.intersect(after.keySet)
        .count(k => before(k) != after(k))
      assert(touched <= r2.dirtyBuckets,
        s"trial $trial: $touched rewritten dirs > ${r2.dirtyBuckets} dirty")
      // unchanged re-run: zero dirty, nothing moves at all
      val (rep3, r3) = IncrementalValidation.reportIncrementalMulti(
        f, s1, multiChecks, stateDir, nBuckets = 32,
        dirtyFractionLimit = 1.0)
      assert(!r3.rebuilt && r3.dirtyBuckets == 0, s"trial $trial: $r3")
      assert(rep3.collect().map(_.toSeq).toSet == expectMultiRows(f, s1))
      assert(listPartMtimes(s"$stateDir/report") == after,
        "no-change re-run must not touch the report")
      // torn state: the witness is deleted before mutation, so a crash
      // mid-mutation leaves no witness — simulate and pin the rebuild
      val fs = new org.apache.hadoop.fs.Path(stateDir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$stateDir/report_digests"), true)
      val (rep4, r4) = IncrementalValidation.reportIncrementalMulti(
        f, s1, multiChecks, stateDir, nBuckets = 32,
        dirtyFractionLimit = 1.0)
      assert(r4.rebuilt, "a missing witness must rebuild, never trust " +
        "possibly-torn partitions")
      assert(rep4.collect().map(_.toSeq).toSet == expectMultiRows(f, s1))
    }
    // all-equal inputs: empty report, well-typed schema
    val stateDir = freshStateDir()
    val same = viaParquet(randomMulti(60, 40)
      .filter(col("id").isNotNull).dropDuplicates("id"))
    val (repE, _) = IncrementalValidation.reportIncrementalMulti(
      same, same, multiChecks, stateDir, nBuckets = 8)
    assert(repE.columns.toSeq ==
      Seq("id", "column_name", "check_first", "check_second"))
    assert(repE.count() == 0)
  }

  test("single-writer lease: a genuinely interleaved second run fails " +
      "fast at acquire; the first completes and the state answers " +
      "correctly; a crashed run's leftover lease fails fast until broken") {
    val stateDir = freshStateDir()
    val f = viaParquet(randomMulti(100, 50)
      .select(col("id"), col("num").as("check")))
    val s = viaParquet(randomMulti(100, 50)
      .select(col("id"), col("num").as("check")))
    // interleave: between the first run's prune and its first mutation,
    // fire a second run against the same stateDir — the most destructive
    // possible moment for a concurrent writer
    @volatile var interleaved: Option[Throwable] = None
    StateStore.hook = {
      case "report.mutate" =>
        StateStore.hook = _ => () // no recursion
        interleaved = Some(intercept[IllegalStateException] {
          IncrementalValidation.reportIncremental(f, s, CompareMode.Numeric,
            stateDir, nBuckets = 16)
        })
      case _ => ()
    }
    try {
      val (rep1, r1) = IncrementalValidation.reportIncremental(f, s,
        CompareMode.Numeric, stateDir, nBuckets = 16)
      assert(r1.rebuilt)
      assert(interleaved.isDefined, "hook must have fired")
      assert(interleaved.get.getMessage.contains("locked by another"),
        s"wrong failure: ${interleaved.get.getMessage}")
      // the first run's output is correct despite the attempted intruder
      val out = Validator.validate(f, s, CompareMode.Numeric)
      val wantDiffering = out.differing.count()
      assert(rep1.filter(col("kind") === "differing").count() == wantDiffering)
    } finally StateStore.hook = _ => ()
    // a crashed run's leftover lease: simulate by planting one
    val leaseP = new org.apache.hadoop.fs.Path(s"$stateDir/lease")
    val fs = leaseP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = fs.create(leaseP, false)
    o.write("dead-nonce\n99999\n0\n".getBytes("UTF-8")); o.close()
    val e = intercept[IllegalStateException] {
      IncrementalValidation.run(f, s, CompareMode.Numeric, stateDir,
        nBuckets = 16)
    }
    assert(e.getMessage.contains("breakLease"),
      s"error must name the recovery action: ${e.getMessage}")
    StateStore.breakLease(spark, stateDir)
    // after recovery the state still answers correctly (rebuild is fine,
    // a torn answer is not)
    val (sum, _) = IncrementalValidation.run(f, s, CompareMode.Numeric,
      stateDir, nBuckets = 16)
    val want = Validator.summaryFast(f, s, CompareMode.Numeric).collect()(0)
    assert(sum.collect()(0).toSeq == want.toSeq)
    // the lease is released on success: a fresh run acquires cleanly
    assert(!fs.exists(leaseP), "lease must be released after a run")
  }

  test("lease guards runMulti and reportIncrementalMulti too") {
    val stateDir = freshStateDir()
    val f = viaParquet(randomMulti(60, 30))
    val leaseP = new org.apache.hadoop.fs.Path(s"$stateDir/lease")
    val fs = leaseP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(leaseP.getParent)
    val o = fs.create(leaseP, false)
    o.write("dead\n0\n0\n".getBytes("UTF-8")); o.close()
    intercept[IllegalStateException] {
      IncrementalValidation.runMulti(f, f, multiChecks, stateDir,
        nBuckets = 8)
    }
    intercept[IllegalStateException] {
      IncrementalValidation.reportIncrementalMulti(f, f, multiChecks,
        stateDir, nBuckets = 8)
    }
    StateStore.breakLease(spark, stateDir)
    // same-vs-same with DUPLICATE ids still yields differing cross
    // pairs (m x n semantics) — compare against the direct path, not 0
    val (sumM, _) = IncrementalValidation.runMulti(f, f, multiChecks,
      stateDir, nBuckets = 8)
    val got = sumM.collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val want = Validator.summaryMulti(f, f, multiChecks).collect()
      .map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(got == want)
  }

  test("dirty predicate is typed PER SIDE: INT-inferred vs LONG-schema'd " +
      "bucket partition columns both prune files") {
    val stateDir = freshStateDir()
    val legDir = java.nio.file.Files.createTempDirectory("graft_skew").toString
    def keyed(n: Int) = randomMulti(n, 80)
      .filter(col("id").isNotNull)
      .select(col("id"), col("num").as("check"))
    val fRaw = keyed(300); val sRaw = keyed(300)
    IncrementalValidation.withBucket(fRaw, 32)
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$legDir/f")
    IncrementalValidation.withBucket(sRaw, 32)
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$legDir/s")
    // side 1: inference reads bucket as INT; side 2: an explicit reader
    // schema declares it LONG — the realistic type-skew pair
    val f = spark.read.parquet(s"$legDir/f")
    val sSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("check",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.LongType)))
    val s = spark.read.schema(sSchema).parquet(s"$legDir/s")
    assert(f.schema("bucket").dataType.simpleString == "int")
    assert(s.schema("bucket").dataType.simpleString == "bigint")
    // the per-side predicates must BOTH reach their scans as partition
    // filters — an IN-list typed to the other side's column would wrap
    // this side's attribute in a cast and scan everything
    for (df <- Seq(f, s)) {
      val pred = IncrementalValidation.dirtyPred(df, Some("bucket"), 32,
        Seq(3L, 4L, 5L))
      val plan = df.filter(pred).queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.replaceAll("\\s+", " ")
          .matches("(?s).*PartitionFilters: \\[[^\\]]*bucket.*"),
        s"dirty IN-list must prune partitions on " +
          s"${df.schema("bucket").dataType}:\n$plan")
    }
    // and the full incremental run over the skewed pair stays correct
    val (sum1, r1) = IncrementalValidation.run(f, s, CompareMode.Numeric,
      stateDir, nBuckets = 32, bucketCol = Some("bucket"))
    assert(r1.rebuilt)
    val sum1Want = Validator.summaryFast(f.drop("bucket"), s.drop("bucket"),
      CompareMode.Numeric).collect()(0)
    assert(sum1.collect()(0).toSeq == sum1Want.toSeq)
    IncrementalValidation.withBucket(
        sRaw.withColumn("check",
          when(col("id") === "7", lit("9999")).otherwise(col("check"))), 32)
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$legDir/s2")
    val s2 = spark.read.schema(sSchema).parquet(s"$legDir/s2")
    val (sum2, r2) = IncrementalValidation.run(f, s2, CompareMode.Numeric,
      stateDir, nBuckets = 32, dirtyFractionLimit = 1.0,
      bucketCol = Some("bucket"))
    assert(!r2.rebuilt && r2.dirtyBuckets < r2.totalBuckets,
      s"churned skewed-type run must prune: $r2")
    val sum2Want = Validator.summaryFast(f.drop("bucket"), s2.drop("bucket"),
      CompareMode.Numeric).collect()(0)
    assert(sum2.collect()(0).toSeq == sum2Want.toSeq)
  }

  test("incremental state is filter-agnostic: changing the date range " +
      "re-filters the inputs and the summary self-corrects to the new " +
      "range, never answering the old one") {
    val stateDir = freshStateDir()
    val base = viaParquet(Seq.tabulate(200) { i =>
      (i.toString, (i % 37).toString, s"2024-01-${i % 28 + 1}")
    }.toDF("id", "check", "d").withColumn("d", col("d").cast("timestamp")))
    def ranged(lo: String, hi: String) = Validator
      .dateFiltered(base, "d", s"$lo 00:00:00", s"$hi 00:00:00")
      .select("id", "check")
    val f1 = ranged("2024-01-01", "2024-01-15")
    IncrementalValidation.run(f1, f1, CompareMode.Numeric, stateDir,
      nBuckets = 32)
    // widen the range: every bucket whose filtered content moved reads
    // dirty; the answer equals a full pass over the NEW inputs
    val f2 = ranged("2024-01-01", "2024-01-25")
    val (sum2, r2) = IncrementalValidation.run(f2, f2, CompareMode.Numeric,
      stateDir, nBuckets = 32, dirtyFractionLimit = 1.0)
    assert(r2.dirtyBuckets > 0, s"range change must dirty buckets: $r2")
    assert(sum2.collect()(0).toSeq ==
      Validator.summaryFast(f2, f2, CompareMode.Numeric).collect()(0).toSeq)
    // and back: digests key on content, not on how it was filtered
    val (sum3, _) = IncrementalValidation.run(f1, f1, CompareMode.Numeric,
      stateDir, nBuckets = 32, dirtyFractionLimit = 1.0)
    assert(sum3.collect()(0).toSeq ==
      Validator.summaryFast(f1, f1, CompareMode.Numeric).collect()(0).toSeq)
  }

  test("digest discipline: the second sum is independently salted (not " +
      "derived from the first), and a version-1 state rebuilds") {
    // pin the exact hash formulas on a single row: h1b must equal
    // xxhash64(1, id, value) — NOT xxhash64(h1a), the v1 formulation a
    // single 64-bit collision could fool end to end
    val one = Seq(("k1", "v1")).toDF("id", "check")
    val d = IncrementalValidation.digests(one, one.limit(0), 8).collect()(0)
    val exp = one.select(
      xxhash64(col("id").cast("string"), col("check").cast("string"))
        .as("h"),
      xxhash64(lit(1L), col("id").cast("string"),
        col("check").cast("string")).as("h2"),
      xxhash64(xxhash64(col("id").cast("string"),
        col("check").cast("string"))).as("derived")).collect()(0)
    assert(d.getAs[java.math.BigDecimal]("h1a").longValueExact() ==
      exp.getAs[Long]("h"))
    assert(d.getAs[java.math.BigDecimal]("h1b").longValueExact() ==
      exp.getAs[Long]("h2"))
    assert(d.getAs[java.math.BigDecimal]("h1b").longValueExact() !=
      exp.getAs[Long]("derived"),
      "second sum must not be a function of the first")
    // a state written under version 1 must mismatch and rebuild
    val stateDir = freshStateDir()
    val f = viaParquet(randomMulti(80, 40)
      .select(col("id"), col("num").as("check")))
    IncrementalValidation.run(f, f, CompareMode.Numeric, stateDir,
      nBuckets = 8)
    Seq((1, 8, "numeric")).toDF("version", "n_buckets", "mode")
      .write.mode("overwrite").parquet(s"$stateDir/meta")
    val (_, r) = IncrementalValidation.run(f, f, CompareMode.Numeric,
      stateDir, nBuckets = 8)
    assert(r.rebuilt, "a v1-format state must never answer a v2 run")
  }

  test("minRowsForIncremental floor: below it the run is one plain " +
      "summaryFast pass — no digest machinery, no state directory") {
    val stateDir = freshStateDir() + "/nested" // must not even be created
    val f = viaParquet(randomMulti(50, 30)
      .select(col("id"), col("num").as("check")))
    val (sum, r) = IncrementalValidation.run(f, f, CompareMode.Numeric,
      stateDir, nBuckets = 16, minRowsForIncremental = 1000000L)
    assert(r.rebuilt && r.totalBuckets == 0L)
    assert(sum.collect()(0).toSeq ==
      Validator.summaryFast(f, f, CompareMode.Numeric).collect()(0).toSeq)
    assert(!new java.io.File(stateDir).exists(),
      "below the floor the state machinery must not run at all")
    val (sumM, rM) = IncrementalValidation.runMulti(f.withColumnRenamed(
        "check", "num"), f.withColumnRenamed("check", "num"),
      Seq(("num", CompareMode.Numeric)), stateDir, nBuckets = 16,
      minRowsForIncremental = 1000000L)
    assert(rM.rebuilt && !new java.io.File(stateDir).exists())
    assert(sumM.collect().length == 1)
  }

  test("summaryMultiFromStoredReport == summaryMulti across randomized " +
      "churn — per-column derivation identities on the torture domain") {
    for (trial <- 1 to 3) {
      val stateDir = freshStateDir()
      val f = viaParquet(randomMulti(rnd.nextInt(150) + 60, 60))
      val s0 = viaParquet(randomMulti(rnd.nextInt(150) + 60, 60))
      def check(s: DataFrame, ctx: String): Unit = {
        val got = IncrementalValidation.reportIncrementalMultiWithSummary(
            f, s, multiChecks, stateDir, nBuckets = 16,
            dirtyFractionLimit = 1.0, bucketCol = None).summary.collect()
          .map(r => r.getString(0) -> r.toSeq.tail).toMap
        val want = Validator.summaryMulti(f, s, multiChecks).collect()
          .map(r => r.getString(0) -> r.toSeq.tail).toMap
        assert(got == want, s"trial $trial $ctx: $got vs $want")
      }
      check(s0, "build")
      val s1 = viaParquet(churnMulti(s0, salt = trial + 120, rate = 0.1))
      check(s1, "churn")
    }
  }

  test("reportIncrementalWithSummary's summary == summaryFast across " +
      "randomized churn (duplicate ids, null ids, garbage values, all " +
      "modes) — the derivation identities hold on the torture domain") {
    def keyed(n: Int) = randomMulti(n, 60)
      .select(col("id"), col("num").as("check"))
    for (trial <- 1 to 4) {
      val mode = Seq(CompareMode.Numeric, CompareMode.Date,
        CompareMode.Fuzzy(1.0), CompareMode.Fuzzy(0.7))(trial % 4)
      val stateDir = freshStateDir()
      val f = viaParquet(keyed(rnd.nextInt(150) + 60))
      val s0 = viaParquet(keyed(rnd.nextInt(150) + 60))
      val got1 = IncrementalValidation.reportIncrementalWithSummary(f, s0,
        mode, stateDir, nBuckets = 16, dirtyFractionLimit = 1.0)
        .summary.collect()(0)
      val want1 = Validator.summaryFast(f, s0, mode).collect()(0)
      assert(got1.toSeq == want1.toSeq, s"trial $trial build: " +
        s"${got1.toSeq} vs ${want1.toSeq}")
      // after a churned MAINTENANCE run the derivation must still hold
      val s1 = viaParquet(churnMulti(
        s0.withColumnRenamed("check", "num")
          .withColumn("dt", lit(null).cast("string"))
          .withColumn("fz", lit(null).cast("string")),
        salt = trial + 90, rate = 0.1)
        .select(col("id"), col("num").as("check")))
      val got2 = IncrementalValidation.reportIncrementalWithSummary(f, s1,
        mode, stateDir, nBuckets = 16, dirtyFractionLimit = 1.0)
        .summary.collect()(0)
      val want2 = Validator.summaryFast(f, s1, mode).collect()(0)
      assert(got2.toSeq == want2.toSeq, s"trial $trial churn: " +
        s"${got2.toSeq} vs ${want2.toSeq}")
    }
  }

  test("compactInPlace self-heals from a crash between delete(base) and " +
      "rename(tmp): the re-run renames the staging copy back and proceeds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_heal").toString
    val tbl = s"$dir/t"
    spark.range(2000).selectExpr("id", "id % 7 AS k")
      .repartition(8).write.parquet(tbl)
    val want = spark.read.parquet(tbl).agg(sum("id")).collect()(0).getLong(0)
    // simulate the crash window: the rewrite completed into the staging
    // sibling, base was deleted, the rename never happened
    val fs = new org.apache.hadoop.fs.Path(tbl).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(tbl),
      new org.apache.hadoop.fs.Path(s"${tbl}__graft_compact_tmp"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tbl)))
    val stats = graft.ops.Compaction.compactInPlace(spark, tbl,
      targetBytes = 512L * 1024 * 1024).collect()(0)
    assert(fs.exists(new org.apache.hadoop.fs.Path(tbl)), "base restored")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"${tbl}__graft_compact_tmp")), "staging consumed or cleared")
    assert(spark.read.parquet(tbl).agg(sum("id")).collect()(0).getLong(0)
      == want, "no data lost through the recovery")
    assert(stats.getAs[Long]("files_in") > 0)
  }

  test("gopherRules: every published rule trips on its own " +
      "counterexample; a clean document passes all seven") {
    val stopRich = Seq.fill(26)("the with have that be").mkString(" ")
    val docs = Seq(
      (1L, stopRich),                                   // 130 words, clean
      (2L, "short doc only"),                           // word count
      (3L, Seq.fill(60)("a").mkString(" ") + " the with"), // mean len < 3
      (4L, stopRich + " ####################"),         // symbol ratio
      (5L, Seq.fill(11)("- the with have that be xx yy zz qq")
        .mkString("\n")),                               // bullet lines
      (6L, (Seq.fill(4)("the with have that be xx yy zz qq vv ...") ++
        Seq.fill(6)("the with have that be xx yy zz qq vv ww"))
        .mkString("\n")),                               // ellipsis lines
      (7L, Seq.fill(60)("1234").mkString(" ") + " the be"), // alpha words
      (8L, Seq.fill(60)("word").mkString(" ")),         // stopwords
      (9L, ""),                                         // empty
      (10L, null.asInstanceOf[String]))                 // null
      .toDF("doc_id", "text")
    val rows = graft.ops.TextAnalysis.gopherRules(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    def flag(id: Long, c: String) = rows(id).getAs[Boolean](c)
    assert(flag(1, "pass"), s"clean doc must pass: ${rows(1)}")
    assert(!flag(2, "r_word_count") && !flag(2, "pass"))
    assert(!flag(3, "r_mean_word_len") && flag(3, "r_word_count") &&
      !flag(3, "pass"))
    assert(!flag(4, "r_symbol_ratio") && flag(4, "r_word_count") &&
      !flag(4, "pass"))
    assert(!flag(5, "r_bullet_lines") && flag(5, "r_word_count") &&
      !flag(5, "pass"))
    assert(!flag(6, "r_ellipsis_lines") && flag(6, "r_stopwords") &&
      !flag(6, "pass"))
    assert(!flag(7, "r_alpha_words") && flag(7, "r_mean_word_len") &&
      !flag(7, "pass"))
    assert(!flag(8, "r_stopwords") && flag(8, "r_alpha_words") &&
      !flag(8, "pass"))
    for (id <- Seq(9L, 10L)) {
      assert(rows(id).getAs[Long]("n_words") == 0L)
      assert(!flag(id, "r_word_count") && !flag(id, "pass"))
    }
    // integer boundary: exactly 50 words of mean length exactly 3 is
    // inclusive on the passing side for both rules
    val boundary = Seq((11L,
      (Seq.fill(48)("abc") ++ Seq("the", "and")).mkString(" ")))
      .toDF("doc_id", "text")
    val b = graft.ops.TextAnalysis.gopherRules(boundary).collect().head
    assert(b.getAs[Long]("n_words") == 50L)
    assert(b.getAs[Boolean]("r_word_count") &&
      b.getAs[Boolean]("r_mean_word_len"), s"$b")
    // the paper's thresholds, not stricter ones: a 15%-bulleted doc
    // passes (the rule only drops >90% bulleted), and '#'/'...' ratios
    // apply to EACH symbol separately, not to their sum
    val lenient = Seq(
      (12L, (Seq.fill(3)("- the with have that be") ++
        Seq.fill(17)("the with have that be")).mkString("\n")),
      (13L, stopRich + " " + Seq.fill(8)("#").mkString(" ") + " " +
        Seq.fill(7)("...").mkString(" ")))
      .toDF("doc_id", "text")
    val lrows = graft.ops.TextAnalysis.gopherRules(lenient)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(lrows(12L).getAs[Boolean]("r_bullet_lines"),
      s"15% bullets must pass the 90% rule: ${lrows(12L)}")
    assert(lrows(13L).getAs[Boolean]("r_symbol_ratio"),
      s"8 hashes + 7 ellipses over 145 words pass per-symbol 0.1: " +
        s"${lrows(13L)}")
    // the whole rule set is one scan-side expression chain: no exchange
    val plan = graft.ops.TextAnalysis.gopherRules(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"gopherRules must not shuffle:\n$plan")
  }

  test("importanceScore on duplicated ids: one row per input row, the " +
      "duplicates' bigram stats merged (documented divergence from the " +
      "n^2-row two-pass form)") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (1L, "the cat sat on the mat"), // duplicated id
      (2L, "a dog barks at the moon"),
      (3L, "the cat sat on the mat")).toDF("doc_id", "text")
    val target = docs.filter(col("doc_id") === 3L)
    val out = graft.ops.TextAnalysis.importanceScore(docs, target)
    assert(out.count() == 4, "one score row per input row")
    val dup = out.filter(col("doc_id") === 1L).collect()
    assert(dup.length == 2 && dup(0).toSeq == dup(1).toSeq,
      "duplicate rows carry the identical merged score")
    // merged means: n_bigrams for id 1 counts BOTH copies' bigrams
    val single = out.filter(col("doc_id") === 3L).collect()(0)
    assert(dup(0).getAs[Long]("n_bigrams") ==
      2 * single.getAs[Long]("n_bigrams"))
  }
}
