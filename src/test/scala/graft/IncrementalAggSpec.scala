package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.IncrementalAgg
import graft.state.StateStore

/** Churn-priced materialized aggregates ([[graft.ops.IncrementalAgg]]):
  * identity against the full aggregation across randomized churn, the
  * witness-before-mutation crash discipline, the single-writer lease,
  * untouched-partition pinning, the bucketCol partition-pruning layout
  * hook, vanished buckets, and the generic-partial contract. */
class IncrementalAggSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20260816)

  private def freshStateDir(): String =
    java.nio.file.Files.createTempDirectory("graft_iagg").toString

  private def viaParquet(df: DataFrame): DataFrame = {
    val p = java.nio.file.Files.createTempDirectory("graft_iaggin").toString
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  /** Random documents: duplicate ids, null ids, null and empty text. */
  private def randomDocs(n: Int, keySpace: Int): DataFrame = {
    val words = Vector("alpha", "beta", "gamma", "delta", "x1", "Y2", "z")
    val rows = Seq.fill(n) {
      val id = if (rnd.nextDouble() < 0.04) null
        else java.lang.Long.valueOf(rnd.nextInt(keySpace).toLong)
      val text = if (rnd.nextDouble() < 0.1) null
        else Seq.fill(rnd.nextInt(8))(words(rnd.nextInt(words.size)))
          .mkString(" ")
      (id, text)
    }
    rows.toDF("doc_id", "text")
  }

  private def fullVocab(docs: DataFrame): Map[String, Long] =
    docs.select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def asMap(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("vocab == full word count across randomized churn; re-runs " +
      "converge to zero dirty; churned runs touch fewer buckets") {
    val stateDir = freshStateDir()
    val d0 = viaParquet(randomDocs(600, 300))
    val (v1, r1) = IncrementalAgg.vocab(d0, stateDir, nBuckets = 32)
    assert(r1.rebuilt)
    assert(asMap(v1) == fullVocab(d0), "seed run")
    // zero churn: nothing dirty, store untouched
    val (v2, r2) = IncrementalAgg.vocab(d0, stateDir, nBuckets = 32)
    assert(!r2.rebuilt && r2.dirtyBuckets == 0, s"clean re-run: $r2")
    assert(asMap(v2) == fullVocab(d0), "clean re-run answer")
    // churn a small id slice: some texts change, some rows vanish
    val churned = viaParquet(d0
      .withColumn("text",
        when(col("doc_id") % 37 === 0,
          concat(coalesce(col("text"), lit("")), lit(" churned")))
          .otherwise(col("text")))
      .filter(col("doc_id").isNull || col("doc_id") % 41 =!= 0))
    val (v3, r3) = IncrementalAgg.vocab(churned, stateDir, nBuckets = 32,
      dirtyFractionLimit = 1.0)
    assert(!r3.rebuilt && r3.dirtyBuckets > 0 &&
      r3.dirtyBuckets < r3.totalBuckets, s"churned run must prune: $r3")
    assert(asMap(v3) == fullVocab(churned), "churned incremental answer")
    // convergence
    val (_, r4) = IncrementalAgg.vocab(churned, stateDir, nBuckets = 32)
    assert(!r4.rebuilt && r4.dirtyBuckets == 0, s"must converge: $r4")
  }

  test("crash discipline: the witness is deleted before mutation, so a " +
      "torn store can never read clean — next run rebuilds") {
    val stateDir = freshStateDir()
    val d0 = viaParquet(randomDocs(300, 150))
    IncrementalAgg.vocab(d0, stateDir, nBuckets = 16)
    // simulate a crash mid-mutation: witness gone, one store partition
    // torn away (the order the real code mutates in)
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/agg_digests"),
      true), "witness must exist after a run")
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(s"$stateDir/agg"))
      .map(_.getPath).filter(_.getName.startsWith("__bgroup="))
    assert(parts.nonEmpty)
    fs.delete(parts.head, true)
    // zero churn — but with no witness the run must NOT trust the torn
    // store: it rebuilds wholesale and answers correctly
    val (v, r) = IncrementalAgg.vocab(d0, stateDir, nBuckets = 16)
    assert(r.rebuilt, s"no witness => rebuild: $r")
    assert(asMap(v) == fullVocab(d0), "post-crash answer")
  }

  test("single-writer lease: an interleaved second run fails fast; " +
      "state still answers correctly afterward") {
    val stateDir = freshStateDir()
    val d0 = viaParquet(randomDocs(200, 100))
    IncrementalAgg.vocab(d0, stateDir, nBuckets = 16)
    val churned = viaParquet(d0.withColumn("text",
      when(col("doc_id") === 7, lit("stolen words")).otherwise(col("text"))))
    @volatile var innerFailure: Option[Throwable] = None
    graft.state.StateStore.hook = {
      case "agg.mutate" =>
        try IncrementalAgg.vocab(churned, stateDir, nBuckets = 16)
        catch { case e: Throwable => innerFailure = Some(e) }
      case _ => ()
    }
    try {
      val (v, _) = IncrementalAgg.vocab(churned, stateDir, nBuckets = 16,
        dirtyFractionLimit = 1.0)
      assert(asMap(v) == fullVocab(churned), "outer run answer")
    } finally graft.state.StateStore.hook = _ => ()
    assert(innerFailure.exists(_.getMessage.contains("locked by another")),
      s"interleaved run must fail on the lease, got: $innerFailure")
    // lease released on success: a fresh run proceeds
    val (v2, r2) = IncrementalAgg.vocab(churned, stateDir, nBuckets = 16)
    assert(r2.dirtyBuckets == 0 && asMap(v2) == fullVocab(churned))
  }

  test("clean buckets' store partitions are NOT rewritten on a churned " +
      "run (mtime-pinned)") {
    val stateDir = freshStateDir()
    val d0 = viaParquet(randomDocs(600, 300))
    IncrementalAgg.vocab(d0, stateDir, nBuckets = 32)
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // physical layout is bucket GROUPS: clean GROUPS stay mtime-pinned
    def mtimes(): Map[String, Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$stateDir/agg"))
        .filter(_.getPath.getName.startsWith("__bgroup="))
        .flatMap(d => fs.listStatus(d.getPath)
          .map(f => f.getPath.toString -> f.getModificationTime)).toMap
    val before = mtimes()
    Thread.sleep(1100) // local-FS mtime granularity
    val churned = viaParquet(d0.withColumn("text",
      when(col("doc_id") % 100 === 11, lit("freshly churned text"))
        .otherwise(col("text"))))
    val (_, r) = IncrementalAgg.vocab(churned, stateDir, nBuckets = 32,
      dirtyFractionLimit = 1.0)
    assert(!r.rebuilt && r.dirtyBuckets > 0 && r.dirtyBuckets <= 3, s"$r")
    val after = mtimes()
    val survivors = before.keySet.intersect(after.keySet)
    assert(survivors.nonEmpty, "clean partitions must survive")
    assert(survivors.forall(k => before(k) == after(k)),
      "surviving partition files must be byte-untouched (mtime-pinned)")
  }

  test("bucketCol layout hook: same answers, dirty filter is a " +
      "partition-pruning predicate on the store's input") {
    val stateDir = freshStateDir()
    val legDir = java.nio.file.Files.createTempDirectory("graft_iaggb").toString
    import graft.core.IncrementalValidation
    def writeBucketed(df: DataFrame, name: String): DataFrame = {
      df.withColumn("bucket",
          when(col("doc_id").isNull, lit(-1L))
            .otherwise(pmod(xxhash64(col("doc_id").cast("string")),
              lit(16L))))
        .write.partitionBy("bucket").mode("overwrite")
        .parquet(s"$legDir/$name")
      spark.read.parquet(s"$legDir/$name")
    }
    val raw0 = randomDocs(400, 200)
    val d0 = writeBucketed(raw0, "d0")
    val (v1, r1) = IncrementalAgg.vocab(d0, stateDir, nBuckets = 16,
      bucketCol = Some("bucket"))
    assert(r1.rebuilt && asMap(v1) == fullVocab(d0))
    val d1 = writeBucketed(raw0.withColumn("text",
      when(col("doc_id") === 13, lit("pruned path text"))
        .otherwise(col("text"))), "d1")
    val (v2, r2) = IncrementalAgg.vocab(d1, stateDir, nBuckets = 16,
      dirtyFractionLimit = 1.0, bucketCol = Some("bucket"))
    assert(!r2.rebuilt && r2.dirtyBuckets < r2.totalBuckets, s"$r2")
    assert(asMap(v2) == fullVocab(d1))
    // the typed IN-list reaches the scan as a partition filter
    val plan = d1.filter(graft.core.IncrementalValidation
        .dirtyPred(d1, Some("bucket"), 16, Seq(3L, 4L)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan
        .replaceAll("\\s+", " ")
        .matches("(?s).*PartitionFilters: \\[[^\\]]*bucket.*"),
      s"dirty IN-list must prune partitions:\n$plan")
  }

  test("vanished bucket: deleting every row of an id drops its terms " +
      "from the answer (store partition dropped, not orphaned)") {
    val stateDir = freshStateDir()
    val d0 = viaParquet(Seq(
      (1L, "unique sentinel token"),
      (2L, "common words here"),
      (3L, "more common words")).toDF("doc_id", "text"))
    IncrementalAgg.vocab(d0, stateDir, nBuckets = 64)
    val d1 = viaParquet(d0.filter(col("doc_id") =!= 1L))
    val (v, r) = IncrementalAgg.vocab(d1, stateDir, nBuckets = 64,
      dirtyFractionLimit = 1.0)
    assert(!r.rebuilt, s"$r")
    val m = asMap(v)
    assert(!m.contains("sentinel") && !m.contains("unique"),
      s"vanished bucket's terms must vanish: $m")
    assert(m == fullVocab(d1))
  }

  test("generic partial contract: a custom per-key grouped SUM equals " +
      "the full groupBy across churn (duplicates and null keys included)") {
    val stateDir = freshStateDir()
    def mk(n: Int, salt: Int) = viaParquet(Seq.fill(n) {
      val id = if (rnd.nextDouble() < 0.05) null
        else java.lang.Long.valueOf(rnd.nextInt(80).toLong)
      val grp = s"g${rnd.nextInt(5)}"
      (id, grp, rnd.nextInt(1000).toLong + salt)
    }.toDF("id", "grp", "amount"))
    val partial = (slice: DataFrame) => slice
      .groupBy(col("__bucket"), col("grp"))
      .agg(sum(col("amount")).as("s"), count(lit(1)).as("c"))
    def run(t: DataFrame, limit: Double = 0.5) = {
      val (store, rep) = IncrementalAgg.run(t, "id", Seq("grp", "amount"),
        partial, aggKey = "grpsum:amount", stateDir, nBuckets = 32,
        dirtyFractionLimit = limit)
      (store.groupBy("grp")
        .agg(sum(col("s")).as("total"), sum(col("c")).as("n")), rep)
    }
    def full(t: DataFrame) = t.groupBy("grp")
      .agg(sum(col("amount")).as("total"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    def got(df: DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val t0 = mk(500, 0)
    val (a1, r1) = run(t0)
    assert(r1.rebuilt && got(a1) == full(t0))
    val t1 = viaParquet(t0.withColumn("amount",
        when(col("id") % 17 === 0, col("amount") + 5)
          .otherwise(col("amount")))
      .filter(col("id").isNull || col("id") % 23 =!= 0))
    val (a2, r2) = run(t1, limit = 1.0)
    assert(!r2.rebuilt && r2.dirtyBuckets > 0 &&
      r2.dirtyBuckets < r2.totalBuckets, s"$r2")
    assert(got(a2) == full(t1))
    // a different aggKey must not answer from this state
    val (_, r3) = IncrementalAgg.run(t1, "id", Seq("amount"),
      s => s.groupBy("__bucket").agg(sum("amount").as("s")),
      aggKey = "totalsum:amount", stateDir, nBuckets = 32)
    assert(r3.rebuilt, "foreign aggKey must rebuild, never answer")
  }

  test("digest plan shape: one map-side-combinable aggregation, " +
      "exchange carries only bucket rows") {
    val d = randomDocs(200, 100)
    val plan = IncrementalAgg.digests(d, "doc_id", Seq("text"), 32, None)
      .queryExecution.executedPlan.toString
    // partial then final HashAggregate around a single exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert("Exchange hashpartitioning\\(bucket".r.findAllIn(plan).size == 1,
      s"exactly one bucket-keyed exchange:\n$plan")
  }

  test("bigrams (the model-table instance) == full bigram count across " +
      "churn; converges; foreign-aggKey state never answers it") {
    val stateDir = freshStateDir()
    def fullBigrams(df: DataFrame): Map[(String, String), Long] = df
      .select(split(lower(col("text")), "[^a-z0-9]+").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "filter(transform(sequence(0, size(t)-2), " +
          "i -> struct(t[i] AS w1, t[i+1] AS w2)), " +
          "p -> p.w1 <> '' AND p.w2 <> '')")).as("bg"))
      .groupBy("bg.w1", "bg.w2").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    def got(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val d0 = viaParquet(randomDocs(400, 200))
    val (b1, r1) = graft.ops.IncrementalAgg.bigrams(d0, stateDir,
      nBuckets = 32)
    assert(r1.rebuilt && got(b1) == fullBigrams(d0))
    val churned = viaParquet(d0
      .withColumn("text",
        when(col("doc_id") % 29 === 0,
          concat(coalesce(col("text"), lit("")), lit(" churned pair")))
          .otherwise(col("text")))
      .filter(col("doc_id").isNull || col("doc_id") % 31 =!= 0))
    val (b2, r2) = graft.ops.IncrementalAgg.bigrams(churned, stateDir,
      nBuckets = 32, dirtyFractionLimit = 1.0)
    assert(!r2.rebuilt && r2.dirtyBuckets > 0 &&
      r2.dirtyBuckets < r2.totalBuckets, s"$r2")
    assert(got(b2) == fullBigrams(churned))
    val (_, r3) = graft.ops.IncrementalAgg.bigrams(churned, stateDir,
      nBuckets = 32)
    assert(!r3.rebuilt && r3.dirtyBuckets == 0, s"$r3")
    // the vocab surface pointed at this state must rebuild, not answer
    val (_, r4) = graft.ops.IncrementalAgg.vocab(churned, stateDir,
      nBuckets = 32)
    assert(r4.rebuilt, "foreign aggKey must rebuild")
  }

  test("append-only streaming maintenance: a multi-batch document " +
      "stream folds into the store and answers the full word count") {
    val stateDir = freshStateDir()
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sdocs")
      .toString
    // three arrival waves = three files = three micro-batches
    val waves = Seq(randomDocs(120, 80), randomDocs(120, 80),
      randomDocs(120, 80))
    waves.foreach(_.coalesce(1).write.mode("append").parquet(srcDir))
    val all = spark.read.parquet(srcDir)
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = graft.streaming.StreamingOps.maintainVocab(stream, stateDir,
      nBuckets = 16)
    try q.processAllAvailable() finally q.stop()
    assert(asMap(graft.ops.IncrementalAgg.vocabFromStore(spark, stateDir))
      == fullVocab(all), "streamed fold == full count")
    // genuinely multi-batch: more than one __batch partition in the store
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batches = fs.listStatus(new org.apache.hadoop.fs.Path(s"$stateDir/agg"))
      .map(_.getPath.getName).filter(_.startsWith("__batch="))
    assert(batches.length >= 2, s"expected multiple batches: " +
      batches.mkString(","))
  }

  test("append fold is idempotent under batch replay; compaction keeps " +
      "the answer and the store stays appendable") {
    val stateDir = freshStateDir()
    val b0 = viaParquet(randomDocs(100, 60))
    val b1 = viaParquet(randomDocs(100, 60))
    val b2 = viaParquet(randomDocs(100, 60))
    import graft.ops.IncrementalAgg
    IncrementalAgg.vocabAppend(b0, 0L, stateDir, nBuckets = 16)
    IncrementalAgg.vocabAppend(b1, 1L, stateDir, nBuckets = 16)
    val want01 = fullVocab(b0.unionByName(b1))
    assert(asMap(IncrementalAgg.vocabFromStore(spark, stateDir)) == want01)
    // at-least-once replay of batch 1: dynamic overwrite replaces its
    // partitions — never double-counts
    IncrementalAgg.vocabAppend(b1, 1L, stateDir, nBuckets = 16)
    assert(asMap(IncrementalAgg.vocabFromStore(spark, stateDir)) == want01,
      "replayed batch must not double-count")
    // compaction: one row-set under the base batch, same answer
    IncrementalAgg.compactVocabStore(spark, stateDir)
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batches = fs.listStatus(new org.apache.hadoop.fs.Path(s"$stateDir/agg"))
      .map(_.getPath.getName).filter(_.startsWith("__batch="))
    assert(batches.toSeq == Seq("__batch=-1"), batches.mkString(","))
    assert(asMap(IncrementalAgg.vocabFromStore(spark, stateDir)) == want01,
      "compaction must not change the answer")
    // the compacted store keeps accepting appends
    IncrementalAgg.vocabAppend(b2, 2L, stateDir, nBuckets = 16)
    assert(asMap(IncrementalAgg.vocabFromStore(spark, stateDir))
      == fullVocab(b0.unionByName(b1).unionByName(b2)))
  }

  test("compaction watermark fences a replay of an already-folded " +
      "batch: no double count after the batch's partitions are gone") {
    val stateDir = freshStateDir()
    val b0 = viaParquet(randomDocs(100, 60))
    val b1 = viaParquet(randomDocs(100, 60))
    val b2 = viaParquet(randomDocs(100, 60))
    import graft.ops.IncrementalAgg
    IncrementalAgg.vocabAppend(b0, 0L, stateDir, nBuckets = 16)
    IncrementalAgg.vocabAppend(b1, 1L, stateDir, nBuckets = 16)
    IncrementalAgg.compactVocabStore(spark, stateDir)
    val want01 = fullVocab(b0.unionByName(b1))
    // the crash scenario ADVICE flagged: store write committed, the
    // streaming checkpoint did not, compaction ran, THEN the query
    // restarts and replays the batch — its __batch=1 partitions no
    // longer exist for the dynamic overwrite to replace, so without
    // the fence this append would add a second copy of b1's counts
    IncrementalAgg.vocabAppend(b1, 1L, stateDir, nBuckets = 16)
    assert(asMap(IncrementalAgg.vocabFromStore(spark, stateDir)) == want01,
      "replay of a folded batch must be fenced, not re-appended")
    // fresh batches above the watermark still land
    IncrementalAgg.vocabAppend(b2, 2L, stateDir, nBuckets = 16)
    val want012 = fullVocab(b0.unionByName(b1).unionByName(b2))
    assert(asMap(IncrementalAgg.vocabFromStore(spark, stateDir)) == want012)
    // the fence is monotone across compactions: fold batch 2, replay it
    IncrementalAgg.compactVocabStore(spark, stateDir)
    IncrementalAgg.vocabAppend(b2, 2L, stateDir, nBuckets = 16)
    assert(asMap(IncrementalAgg.vocabFromStore(spark, stateDir)) == want012,
      "second compaction must raise the fence to batch 2")
  }

  test("auto-compaction policy: maybeCompactVocabStore bounds the " +
      "store's batch partitions under a stream of appends") {
    val stateDir = freshStateDir()
    import graft.ops.IncrementalAgg
    val waves = Seq.fill(5)(viaParquet(randomDocs(80, 50)))
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def batchParts(): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$stateDir/agg"))
        .map(_.getPath.getName)
        .filter(n => n.startsWith("__batch=") && n != "__batch=-1").toSeq
    var compactions = 0
    waves.zipWithIndex.foreach { case (w, i) =>
      IncrementalAgg.vocabAppend(w, i.toLong, stateDir, nBuckets = 16)
      if (IncrementalAgg.maybeCompactVocabStore(spark, stateDir,
        maxBatchParts = 2)) compactions += 1
      assert(batchParts().size <= 2,
        s"after batch $i: ${batchParts().mkString(",")}")
    }
    assert(compactions >= 1, "the threshold must have triggered")
    val all = waves.reduce(_ unionByName _)
    assert(asMap(IncrementalAgg.vocabFromStore(spark, stateDir))
      == fullVocab(all), "auto-compacted store answers the full count")
  }

  test("append-store compaction self-heals from a crash between " +
      "delete(store) and rename(staging): no streamed history lost") {
    val stateDir = freshStateDir()
    val b0 = viaParquet(randomDocs(100, 60))
    val b1 = viaParquet(randomDocs(100, 60))
    import graft.ops.IncrementalAgg
    IncrementalAgg.vocabAppend(b0, 0L, stateDir, nBuckets = 16)
    IncrementalAgg.vocabAppend(b1, 1L, stateDir, nBuckets = 16)
    val want = fullVocab(b0.unionByName(b1))
    // simulate the crash window: the only copy sits in the staging
    // sibling, the store path is gone
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$stateDir/agg"),
      new org.apache.hadoop.fs.Path(s"$stateDir/agg__staging")))
    // every entry point recovers: reads answer, appends don't silently
    // start a fresh store, compaction completes
    assert(asMap(IncrementalAgg.vocabFromStore(spark, stateDir)) == want,
      "read-side recovery")
    fs.rename(new org.apache.hadoop.fs.Path(s"$stateDir/agg"),
      new org.apache.hadoop.fs.Path(s"$stateDir/agg__staging"))
    val b2 = viaParquet(randomDocs(100, 60))
    IncrementalAgg.vocabAppend(b2, 2L, stateDir, nBuckets = 16)
    assert(asMap(IncrementalAgg.vocabFromStore(spark, stateDir))
      == fullVocab(b0.unionByName(b1).unionByName(b2)),
      "append-side recovery must keep prior history")
    fs.rename(new org.apache.hadoop.fs.Path(s"$stateDir/agg"),
      new org.apache.hadoop.fs.Path(s"$stateDir/agg__staging"))
    IncrementalAgg.compactVocabStore(spark, stateDir)
    assert(asMap(IncrementalAgg.vocabFromStore(spark, stateDir))
      == fullVocab(b0.unionByName(b1).unionByName(b2)),
      "compact-side recovery")
  }

  test("empty table: empty answer with the partial's schema, no throw") {
    val stateDir = freshStateDir()
    val d = viaParquet(randomDocs(50, 20).filter(lit(false)))
    val (v, r) = IncrementalAgg.vocab(d, stateDir, nBuckets = 8)
    assert(v.columns.toSeq == Seq("term", "n"))
    assert(v.count() == 0 && r.totalBuckets == 0)
  }

  // ---- grouped append-store physical layout ---------------------------

  test("append store lays out by bucket GROUP with __bucket a sorted " +
      "data column: bounded directory count, row-group-prunable files") {
    val stateDir = freshStateDir()
    val b0 = viaParquet(randomDocs(400, 200))
    IncrementalAgg.vocabAppend(b0, 0L, stateDir, nBuckets = 256)
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchDir = new org.apache.hadoop.fs.Path(s"$stateDir/agg/__batch=0")
    val dirs = fs.listStatus(batchDir).map(_.getPath.getName)
      .filter(_.startsWith("__bgroup=")).toSeq
    assert(dirs.nonEmpty &&
      dirs.size <= IncrementalAgg.APPEND_PHYS_PARTS,
      s"expected <= ${IncrementalAgg.APPEND_PHYS_PARTS} group dirs, " +
        s"got ${dirs.size}")
    // no per-bucket directories anywhere under the store
    assert(!fs.listStatus(batchDir)
      .exists(_.getPath.getName.startsWith("__bucket=")))
    // __bucket rides in the files, sorted, and groups honor the layout fn
    for (d <- dirs) {
      val g = d.stripPrefix("__bgroup=").toLong
      for (f <- fs.listStatus(new org.apache.hadoop.fs.Path(batchDir, d))
          if f.getPath.getName.endsWith(".parquet")) {
        val bs = spark.read.parquet(f.getPath.toString)
          .select("__bucket").collect().map(_.getLong(0))
        assert(bs.nonEmpty && bs.sameElements(bs.sorted),
          "files must be bucket-sorted for row-group pruning")
        assert(bs.forall(b =>
          StateStore.groupOf(b, IncrementalAgg.APPEND_PHYS_PARTS) == g),
          s"bucket in wrong group dir: $d")
      }
    }
    // compaction preserves the grouped layout
    IncrementalAgg.compactVocabStore(spark, stateDir)
    val baseDirs = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$stateDir/agg/__batch=-1"))
      .map(_.getPath.getName).filter(_.startsWith("__bgroup="))
    assert(baseDirs.nonEmpty &&
      baseDirs.length <= IncrementalAgg.APPEND_PHYS_PARTS)
  }

  test("legacy per-bucket append store migrates in place on the next " +
      "append: counts preserved, grouped layout, marker written") {
    val stateDir = freshStateDir()
    val b0 = viaParquet(randomDocs(300, 150))
    val b1 = viaParquet(randomDocs(300, 150))
    // hand-build the LEGACY layout (one dir per __bucket) exactly as the
    // pre-grouping appendFold wrote it
    val legacy = b0.withColumn("__bucket",
        when(col("doc_id").isNull, lit(-1L)).otherwise(
          pmod(xxhash64(col("doc_id").cast("string")), lit(256L))))
      .select(col("__bucket"),
        explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("__bucket", "term").agg(count(lit(1)).as("n"))
      .withColumn("__batch", lit(0L))
    legacy.write.mode("overwrite").partitionBy("__batch", "__bucket")
      .parquet(s"$stateDir/agg")
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$stateDir/agg/__batch=0"))
      .exists(_.getPath.getName.startsWith("__bucket=")), "legacy built")
    // next append migrates, then lands batch 1 in the grouped layout
    IncrementalAgg.vocabAppend(b1, 1L, stateDir, nBuckets = 256)
    assert(asMap(IncrementalAgg.vocabFromStore(spark, stateDir))
      == fullVocab(b0.unionByName(b1)),
      "migration must preserve the folded history")
    for (b <- Seq(0, 1)) {
      val st = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$stateDir/agg/__batch=$b")).map(_.getPath.getName)
      assert(st.exists(_.startsWith("__bgroup=")) &&
        !st.exists(_.startsWith("__bucket=")),
        s"batch $b not migrated: ${st.mkString(",")}")
    }
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$stateDir/agg_layout")), "layout marker written")
  }
}
