package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CompareMode, IncrementalValidation, Validator}

/** Round-13 operators: incremental (digest-pruned) validation. */
class Round13OpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20260815)

  private def freshStateDir(): String =
    java.nio.file.Files.createTempDirectory("graft_incval").toString

  /** Random keyed frame with duplicate ids, null ids, null and garbage
    * values — the full summaryFast torture domain. */
  private def randomKeyed(n: Int, keySpace: Int): DataFrame = {
    val rows = Seq.fill(n) {
      val id = if (rnd.nextDouble() < 0.04) null
        else (rnd.nextInt(keySpace) + 1).toString
      val v = if (rnd.nextDouble() < 0.25) null
        else if (rnd.nextDouble() < 0.1) "garbage" + rnd.nextInt(3)
        else (rnd.nextInt(60) + rnd.nextInt(2) * 1000).toString
      (id, v)
    }
    rows.toDF("id", "check")
  }

  /** Write to parquet and read back: nullable columns, file-backed — the
    * regime the digest/prune path runs in production. */
  private def viaParquet(df: DataFrame): DataFrame = {
    val p = java.nio.file.Files.createTempDirectory("graft_incin").toString
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  /** Churn ~`rate` of the rows: drop some, perturb some values, add a few
    * new ids — deterministic given the frame and salt. */
  private def churn(df: DataFrame, salt: Int, rate: Double): DataFrame = {
    val keep = df.filter(
      pmod(xxhash64(col("id"), lit(salt)), lit(1000L)) >= lit((rate * 500).toLong))
    val perturbed = keep.withColumn("check",
      when(pmod(xxhash64(col("id"), lit(salt + 1)), lit(1000L)) <
          lit((rate * 500).toLong), concat(coalesce(col("check"), lit("")), lit("~")))
        .otherwise(col("check")))
    val added = Seq.fill(3)((s"new_${salt}_${rnd.nextInt(100)}",
      rnd.nextInt(60).toString)).toDF("id", "check")
    perturbed.unionByName(added)
  }

  private val metricCols = Seq("n_first", "n_second", "missing_in_first",
    "missing_in_second", "n_differing", "n_matched")

  private def assertSummariesEqual(inc: DataFrame, ref: DataFrame,
      ctx: String): Unit = {
    val a = inc.collect()(0); val b = ref.collect()(0)
    for (c <- metricCols)
      assert(a.getAs[Long](c) == b.getAs[Long](c),
        s"$ctx $c: incremental=${a.getAs[Long](c)} full=${b.getAs[Long](c)}")
  }

  test("summaryIncremental == summaryFast across randomized churn " +
      "(build, mutate, no-change re-run), nulls and duplicate ids included") {
    for (trial <- 1 to 6) {
      val mode = trial % 3 match {
        case 0 => CompareMode.Numeric
        case 1 => CompareMode.Fuzzy(1.0)
        case 2 => CompareMode.Fuzzy(0.7)
      }
      val stateDir = freshStateDir()
      val f0 = viaParquet(randomKeyed(rnd.nextInt(250) + 50, 120))
      val s0 = viaParquet(randomKeyed(rnd.nextInt(250) + 50, 120))
      // run 1: no state -> full rebuild, result == summaryFast
      val (sum1, rep1) = IncrementalValidation.run(f0, s0, mode, stateDir,
        nBuckets = 64, dirtyFractionLimit = 1.0)
      assert(rep1.rebuilt, s"trial $trial: first run must rebuild")
      assertSummariesEqual(sum1, Validator.summaryFast(f0, s0, mode),
        s"trial $trial run1 ($mode)")
      // run 2: churned inputs -> pruned recompute, result == summaryFast
      val f1 = viaParquet(churn(f0, salt = trial, rate = 0.05))
      val s1 = viaParquet(churn(s0, salt = trial + 100, rate = 0.05))
      val (sum2, rep2) = IncrementalValidation.run(f1, s1, mode, stateDir,
        nBuckets = 64, dirtyFractionLimit = 1.0)
      assert(!rep2.rebuilt, s"trial $trial: churn run must prune, not rebuild")
      assert(rep2.dirtyBuckets > 0 && rep2.cleanBuckets > 0,
        s"trial $trial: expected a mixed dirty/clean split, got $rep2")
      assertSummariesEqual(sum2, Validator.summaryFast(f1, s1, mode),
        s"trial $trial run2 ($mode)")
      // run 3: identical inputs -> zero dirty buckets, answered from state
      val (sum3, rep3) = IncrementalValidation.run(f1, s1, mode, stateDir,
        nBuckets = 64, dirtyFractionLimit = 1.0)
      assert(!rep3.rebuilt && rep3.dirtyBuckets == 0,
        s"trial $trial: unchanged inputs must be all-clean, got $rep3")
      assertSummariesEqual(sum3, Validator.summaryFast(f1, s1, mode),
        s"trial $trial run3 ($mode)")
    }
  }

  /** Multi-column random frame: numeric-ish, date-ish and fuzzy-domain
    * string columns with nulls, garbage and dup/null ids. */
  private def randomMulti(n: Int, keySpace: Int): DataFrame = {
    val fuzzy = Seq("alpha one", "alpha two", "beta", "gamma ray", "delta")
    val rows = Seq.fill(n) {
      val id = if (rnd.nextDouble() < 0.04) null
        else (rnd.nextInt(keySpace) + 1).toString
      def maybe[T >: Null](v: T): T = if (rnd.nextDouble() < 0.25) null else v
      (id,
        maybe(if (rnd.nextDouble() < 0.1) "garbage"
          else (rnd.nextInt(40) + rnd.nextInt(2) * 500).toString),
        maybe(f"2024-01-${rnd.nextInt(5) + 1}%02d"),
        maybe(fuzzy(rnd.nextInt(fuzzy.length))))
    }
    rows.toDF("id", "num", "dt", "fz")
  }

  private val multiChecks = Seq(
    ("num", CompareMode.Numeric),
    ("dt", CompareMode.Date),
    ("fz", CompareMode.Fuzzy(0.6)))

  test("runMulti (multi-column incremental) == summaryMulti across " +
      "randomized churn: build, per-column mutate, no-change re-run") {
    def assertMultiEqual(inc: DataFrame, ref: DataFrame, ctx: String): Unit = {
      val a = inc.collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
      val b = ref.collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
      assert(a == b, s"$ctx:\n$a\nvs\n$b")
    }
    for (trial <- 1 to 4) {
      val stateDir = freshStateDir()
      val f0 = viaParquet(randomMulti(rnd.nextInt(200) + 50, 100))
      val s0 = viaParquet(randomMulti(rnd.nextInt(200) + 50, 100))
      val (sum1, r1) = IncrementalValidation.runMulti(f0, s0, multiChecks,
        stateDir, nBuckets = 64, dirtyFractionLimit = 1.0)
      assert(r1.rebuilt)
      assertMultiEqual(sum1, Validator.summaryMulti(f0, s0, multiChecks),
        s"trial $trial run1")
      // churn ONE column's values on a few ids + drop/add rows — a
      // whole-row digest must catch all of it
      val s1 = viaParquet(s0
        .withColumn("fz", when(pmod(xxhash64(col("id"), lit(trial)),
          lit(12L)) === 0, lit("MUTATED")).otherwise(col("fz")))
        .filter(pmod(xxhash64(col("id"), lit(trial + 7)), lit(25L)) =!= 0)
        .unionByName(Seq((s"zz_$trial", "7", "2024-01-03", "beta"))
          .toDF("id", "num", "dt", "fz")))
      val (sum2, r2) = IncrementalValidation.runMulti(f0, s1, multiChecks,
        stateDir, nBuckets = 64, dirtyFractionLimit = 1.0)
      assert(!r2.rebuilt && r2.dirtyBuckets > 0 && r2.cleanBuckets > 0,
        s"trial $trial: expected pruned rerun, got $r2")
      assertMultiEqual(sum2, Validator.summaryMulti(f0, s1, multiChecks),
        s"trial $trial run2")
      // unchanged re-run: all clean, still equal
      val (sum3, r3) = IncrementalValidation.runMulti(f0, s1, multiChecks,
        stateDir, nBuckets = 64, dirtyFractionLimit = 1.0)
      assert(!r3.rebuilt && r3.dirtyBuckets == 0, s"trial $trial: $r3")
      assertMultiEqual(sum3, Validator.summaryMulti(f0, s1, multiChecks),
        s"trial $trial run3")
    }
    // a changed check LIST (different threshold) must rebuild, never
    // answer from a state built for other semantics
    val stateDir = freshStateDir()
    val f = viaParquet(randomMulti(100, 50))
    val s = viaParquet(randomMulti(100, 50))
    IncrementalValidation.runMulti(f, s, multiChecks, stateDir, nBuckets = 16)
    val altered = multiChecks.updated(2, ("fz", CompareMode.Fuzzy(0.9)))
    val (sumA, rA) = IncrementalValidation.runMulti(f, s, altered, stateDir,
      nBuckets = 16)
    assert(rA.rebuilt, s"check-list change must rebuild: $rA")
    val a = sumA.collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val b = Validator.summaryMulti(f, s, altered).collect()
      .map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(a == b)
  }

  test("reportIncremental == validate()'s three frames across randomized " +
      "churn; clean report partitions are never touched") {
    def expectRows(f: DataFrame, s: DataFrame,
        mode: CompareMode): Set[Seq[Any]] = {
      val out = Validator.validate(f, s, mode)
      val m1 = out.missingInFirst.collect()
        .map(r => Seq[Any]("missing_in_first",
          Option(r.get(0)).map(_.toString).orNull, null, null))
      val m2 = out.missingInSecond.collect()
        .map(r => Seq[Any]("missing_in_second",
          Option(r.get(0)).map(_.toString).orNull, null, null))
      val d = out.differing.collect()
        .map(r => Seq[Any]("differing", r.getString(0),
          Option(r.get(1)).map(_.toString).orNull,
          Option(r.get(2)).map(_.toString).orNull))
      (m1 ++ m2 ++ d).toSet
    }
    for (trial <- 1 to 4) {
      val mode = if (trial % 2 == 0) CompareMode.Numeric
        else CompareMode.Fuzzy(0.7)
      val stateDir = freshStateDir()
      val f = viaParquet(randomKeyed(rnd.nextInt(200) + 50, 100))
      val s0 = viaParquet(randomKeyed(rnd.nextInt(200) + 50, 100))
      val (rep1, r1) = IncrementalValidation.reportIncremental(f, s0, mode,
        stateDir, nBuckets = 32, dirtyFractionLimit = 1.0)
      assert(r1.rebuilt)
      assert(rep1.collect().map(_.toSeq).toSet == expectRows(f, s0, mode),
        s"trial $trial build")
      val s1 = viaParquet(churn(s0, salt = trial + 40, rate = 0.06))
      // pin: partitions of buckets that stay clean must not be rewritten
      val partMtimes = {
        val base = java.nio.file.Paths.get(s"$stateDir/report")
        val st = java.nio.file.Files.list(base)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.filter(_.getFileName.toString.startsWith("__bgroup="))
            .map(p => p.getFileName.toString ->
              java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
        } finally st.close()
      }
      val (rep2, r2) = IncrementalValidation.reportIncremental(f, s1, mode,
        stateDir, nBuckets = 32, dirtyFractionLimit = 1.0)
      assert(!r2.rebuilt && r2.dirtyBuckets > 0, s"trial $trial: $r2")
      assert(rep2.collect().map(_.toSeq).toSet == expectRows(f, s1, mode),
        s"trial $trial churn")
      val dirtyNames = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$stateDir/report"))
      // every pre-existing partition either survived untouched or was a
      // dirty bucket; count of touched dirs <= dirty buckets
      val after = {
        val st = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$stateDir/report"))
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.filter(_.getFileName.toString.startsWith("__bgroup="))
            .map(p => p.getFileName.toString ->
              java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
        } finally st.close()
      }
      dirtyNames.close()
      val touched = partMtimes.keySet.intersect(after.keySet)
        .count(k => partMtimes(k) != after(k))
      assert(touched <= r2.dirtyBuckets,
        s"trial $trial: $touched rewritten dirs > ${r2.dirtyBuckets} dirty")
      // unchanged re-run: zero dirty, nothing moves
      val pinned = {
        val st = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$stateDir/report"))
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.map(p => p.toString ->
            java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
        } finally st.close()
      }
      val (rep3, r3) = IncrementalValidation.reportIncremental(f, s1, mode,
        stateDir, nBuckets = 32, dirtyFractionLimit = 1.0)
      assert(!r3.rebuilt && r3.dirtyBuckets == 0, s"trial $trial: $r3")
      assert(rep3.collect().map(_.toSeq).toSet == expectRows(f, s1, mode))
      val pinned2 = {
        val st = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$stateDir/report"))
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.map(p => p.toString ->
            java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
        } finally st.close()
      }
      assert(pinned == pinned2, "no-change re-run must not touch the report")
    }
    // identical inputs -> empty report, still well-typed. Unique,
    // non-null ids: duplicate ids yield legitimate differing CROSS pairs
    // even same-vs-same (m x n semantics), and null ids always land in
    // the missing frames
    val stateDir = freshStateDir()
    val same = viaParquet(randomKeyed(50, 30)
      .filter(col("id").isNotNull).dropDuplicates("id"))
    val (repE, _) = IncrementalValidation.reportIncremental(same, same,
      CompareMode.Fuzzy(1.0), stateDir, nBuckets = 8)
    assert(repE.columns.toSeq ==
      Seq("kind", "id", "check_first", "check_second"))
    assert(repE.count() == 0)
  }

  test("report surgery: a carried read that fails throws instead of " +
      "dropping the clean buckets' report rows") {
    val stateDir = freshStateDir()
    val mode = CompareMode.Fuzzy(1.0)
    val f = viaParquet(randomKeyed(200, 100))
    val s0 = viaParquet(randomKeyed(200, 100))
    val (_, r1) = IncrementalValidation.reportIncremental(f, s0, mode,
      stateDir, nBuckets = 32, dirtyFractionLimit = 1.0)
    assert(r1.rebuilt)
    // every stored report file unreadable: the surgery's carried read of
    // the dirty groups cannot succeed
    val files = {
      val st = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$stateDir/report"))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          java.nio.file.Files.isRegularFile(p) && n.endsWith(".parquet")
        }.toList
      } finally st.close()
    }
    assert(files.nonEmpty)
    files.foreach(p => java.nio.file.Files.write(p, "not parquet".getBytes))
    val s1 = viaParquet(churn(s0, salt = 71, rate = 0.06))
    intercept[org.apache.spark.SparkException] {
      IncrementalValidation.reportIncremental(f, s1, mode, stateDir,
        nBuckets = 32, dirtyFractionLimit = 1.0)
    }
  }

  test("multi digest is position-salted: a value moving between columns " +
      "around a null is always dirty") {
    // (num=null, fz="x") vs (num="x", fz=null) must DIFFER in digest:
    // with a naive multi-arg hash both collapse to hash(id, "x")
    val stateDir = freshStateDir()
    val f = viaParquet(Seq(("1", "x", null: String))
      .toDF("id", "num", "fz"))
    val s = f
    val checks = Seq(("num", CompareMode.Fuzzy(1.0)),
      ("fz", CompareMode.Fuzzy(1.0)))
    IncrementalValidation.runMulti(f, s, checks, stateDir, nBuckets = 8)
    val s2 = viaParquet(Seq(("1", null: String, "x"))
      .toDF("id", "num", "fz"))
    val (sum2, r2) = IncrementalValidation.runMulti(f, s2, checks, stateDir,
      nBuckets = 8, dirtyFractionLimit = 1.0)
    assert(r2.dirtyBuckets > 0,
      s"column swap around a null must dirty the bucket: $r2")
    val byCol = sum2.collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_differing")).toMap
    assert(byCol("num") == 1L && byCol("fz") == 1L, s"got $byCol")
  }

  test("bucketCol path: tables hive-partitioned by withBucket's column " +
      "give the same answers, and the dirty filter is a partition-" +
      "pruning predicate") {
    val stateDir = freshStateDir()
    val legDir = java.nio.file.Files.createTempDirectory("graft_bcol").toString
    def writeBucketed(df: DataFrame, name: String): DataFrame = {
      IncrementalValidation.withBucket(df, 32)
        .write.partitionBy("bucket").mode("overwrite")
        .parquet(s"$legDir/$name")
      spark.read.parquet(s"$legDir/$name")
    }
    val f = writeBucketed(randomKeyed(300, 150), "f")
    val s0raw = randomKeyed(300, 150)
    val s0 = writeBucketed(s0raw, "s0")
    val (sum1, r1) = IncrementalValidation.run(f, s0, CompareMode.Fuzzy(1.0),
      stateDir, nBuckets = 32, bucketCol = Some("bucket"))
    assert(r1.rebuilt)
    assertSummariesEqual(sum1,
      Validator.summaryFast(f, s0, CompareMode.Fuzzy(1.0)), "bucketCol run1")
    // churn a couple of ids, rewrite, re-run through the bucket column
    val s1 = writeBucketed(s0raw.withColumn("check",
      when(col("id") === "7", lit("CHANGED")).otherwise(col("check"))), "s1")
    val (sum2, r2) = IncrementalValidation.run(f, s1, CompareMode.Fuzzy(1.0),
      stateDir, nBuckets = 32, dirtyFractionLimit = 1.0,
      bucketCol = Some("bucket"))
    assert(!r2.rebuilt && r2.dirtyBuckets < r2.totalBuckets,
      s"churned run must prune: $r2")
    assertSummariesEqual(sum2,
      Validator.summaryFast(f, s1, CompareMode.Fuzzy(1.0)), "bucketCol run2")
    // the IN-list on the raw (INT-inferred) partition column must reach
    // the scan as a partition filter — that is the whole point of the
    // layout hook
    val dtype = f.schema("bucket").dataType.simpleString
    assert(dtype == "int" || dtype == "bigint", s"inferred as $dtype")
    val pruned = f.filter(col("bucket").isin(3, 4))
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("\\s+", " ").matches("(?s).*PartitionFilters: \\[[^\\]]*bucket.*"),
      s"bucket IN-list must prune partitions:\n$scan")
  }

  test("parameter changes and missing state rebuild; a too-dirty run " +
      "falls back to one full pass") {
    val stateDir = freshStateDir()
    val f = viaParquet(randomKeyed(200, 80))
    val s = viaParquet(randomKeyed(200, 80))
    val (_, r1) = IncrementalValidation.run(f, s, CompareMode.Numeric,
      stateDir, nBuckets = 32)
    assert(r1.rebuilt)
    // mode change -> meta mismatch -> rebuild (a numeric state must never
    // answer a fuzzy question)
    val (sumF, r2) = IncrementalValidation.run(f, s, CompareMode.Fuzzy(0.8),
      stateDir, nBuckets = 32)
    assert(r2.rebuilt, s"mode change must rebuild: $r2")
    assertSummariesEqual(sumF,
      Validator.summaryFast(f, s, CompareMode.Fuzzy(0.8)), "mode change")
    // nBuckets change -> rebuild
    val (_, r3) = IncrementalValidation.run(f, s, CompareMode.Fuzzy(0.8),
      stateDir, nBuckets = 16)
    assert(r3.rebuilt, s"bucket-count change must rebuild: $r3")
    // replace most of one side -> dirty fraction above the limit -> full
    val f2 = viaParquet(randomKeyed(200, 80))
    val (sum4, r4) = IncrementalValidation.run(f2, s, CompareMode.Fuzzy(0.8),
      stateDir, nBuckets = 16, dirtyFractionLimit = 0.25)
    assert(r4.rebuilt, s"heavy churn must fall back to a full pass: $r4")
    assertSummariesEqual(sum4,
      Validator.summaryFast(f2, s, CompareMode.Fuzzy(0.8)), "too dirty")
  }

  test("empty and one-sided inputs: zeros row, never a crash; state " +
      "tracks membership (drained buckets drop out)") {
    val stateDir = freshStateDir()
    val empty = Seq.empty[(String, String)].toDF("id", "check")
    val (sum0, _) = IncrementalValidation.run(empty, empty,
      CompareMode.Numeric, stateDir, nBuckets = 8)
    val z = sum0.collect()(0)
    for (c <- metricCols) assert(z.getAs[Long](c) == 0L, s"empty $c")
    // one side appears
    val f = viaParquet(Seq(("1", "a"), ("2", "b"), (null, "n")).toDF("id", "check"))
    val (sum1, _) = IncrementalValidation.run(f, empty,
      CompareMode.Fuzzy(1.0), stateDir, nBuckets = 8)
    assertSummariesEqual(sum1,
      Validator.summaryFast(f, empty, CompareMode.Fuzzy(1.0)), "one-sided")
    // then drains again: state rows disappear with the data
    val (sum2, _) = IncrementalValidation.run(empty, empty,
      CompareMode.Fuzzy(1.0), stateDir, nBuckets = 8)
    val z2 = sum2.collect()(0)
    for (c <- metricCols) assert(z2.getAs[Long](c) == 0L, s"drained $c")
    // the witness file: three identity lines, then one line per bucket
    val witness = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$stateDir/state")), "UTF-8")
    assert(witness.split("\n", -1).drop(3).isEmpty,
      "drained buckets must leave the state")
  }

  test("digest pass plan: ONE exchange, keyed by bucket — never an " +
      "id-keyed shuffle; aggregation is partial (map-side combinable)") {
    val f = viaParquet(randomKeyed(500, 200))
    val s = viaParquet(randomKeyed(500, 200))
    val d = IncrementalValidation.digests(f, s, 64)
    d.collect()
    val plan = d.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.size == 1,
      s"digest pass must shuffle once (bucket rollup only):\n$plan")
    assert(exchanges.head.contains("bucket"),
      s"the one exchange must be bucket-keyed:\n${exchanges.head}")
    assert(plan.contains("partial_sum") || plan.contains("partial"),
      s"bucket digests must pre-aggregate map-side:\n$plan")
  }

  test("importanceScore single-pass == two ngramLmSurprisal passes " +
      "(the formulation it replaced), bit for bit") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val target = docs.filter(col("lang") === "en")
    val got = graft.ops.TextAnalysis.importanceScore(docs, target)
      .collect().map(_.toSeq).toSet
    // the two-pass reference formulation, inlined
    val self = graft.ops.TextAnalysis.ngramLmSurprisal(docs)
      .select(col("doc_id"), col("n_bigrams"),
        col("avg_mbits").as("self_mbits"))
    val tgt = graft.ops.TextAnalysis
      .ngramLmSurprisal(docs, model = Some(target))
      .select(col("doc_id"), col("avg_mbits").as("target_mbits"))
    val want = self.join(tgt, Seq("doc_id"))
      .select(col("doc_id"), col("n_bigrams"), col("self_mbits"),
        col("target_mbits"),
        (col("self_mbits") - col("target_mbits")).as("delta_mbits"))
      .collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("vocabCoverage: vocabulary joins as BROADCAST, rollup is partial-" +
      "aggregated; deterministic across reruns") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.ops.TextAnalysis.vocabCoverage(docs, vocabSize = 10)
    val rows1 = df.collect().map(_.toSeq).toSeq
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab membership must broadcast, not shuffle:\n$plan")
    val keyed = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(keyed <= 2,
      s"only the term count and the per-doc rollup may exchange:\n$plan")
    assert(plan.contains("partial"), s"rollup must pre-aggregate:\n$plan")
    val rows2 = graft.ops.TextAnalysis.vocabCoverage(docs, vocabSize = 10)
      .collect().map(_.toSeq).toSeq
    assert(rows1.toSet == rows2.toSet, "tie-broken vocab must be stable")
    // rate sanity: ppm bounded, tokens >= oov
    for (r <- rows1) {
      val Seq(_, n, oov, ppm) = r.map(_.asInstanceOf[Long]).toSeq
      assert(oov <= n && ppm >= 0 && ppm <= 1000000L)
    }
  }

  test("per-bucket terms sum to summaryFast's global row (the additive " +
      "merge identity the incremental path rests on)") {
    for (mode <- Seq(CompareMode.Numeric, CompareMode.Fuzzy(0.7))) {
      val f = viaParquet(randomKeyed(300, 100))
      val s = viaParquet(randomKeyed(300, 100))
      val terms = IncrementalValidation.perBucketTermsMulti(f, s,
          Seq("check" -> mode), 32)
        .agg(metricCols.map(c => sum(c).as(c)).head,
          metricCols.map(c => sum(c).as(c)).tail: _*)
        .na.fill(0L)
      // the terms exclude null-id rows; compare against summaryFast
      // over the null-id-free inputs
      val fNN = f.filter(col("id").isNotNull)
      val sNN = s.filter(col("id").isNotNull)
      assertSummariesEqual(terms, Validator.summaryFast(fNN, sNN, mode),
        s"bucket-sum identity ($mode)")
    }
  }
}
