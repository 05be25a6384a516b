package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{IncrementalAgg, Indexing, Similarity}

/** Round-15 surfaces: churn-priced maintenance for the stored text
  * index ([[Indexing.indexIncremental]]/[[Indexing.searchIndexIncremental]])
  * and the stored PQ index ([[Similarity.pqIndexIncremental]]/
  * [[Similarity.pqSearchIncremental]]) — identity against the in-flight
  * builders across randomized churn, convergence, clean-partition
  * mtime pins, the frozen-codebook policy and its re-fit path. */
class Round15OpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20260815)

  private def freshStateDir(): String =
    java.nio.file.Files.createTempDirectory("graft_r15").toString

  private def viaParquet(df: DataFrame): DataFrame = {
    val p = java.nio.file.Files.createTempDirectory("graft_r15in").toString
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  /** Documents with UNIQUE non-null ids (the retrieval corpus shape). */
  private def docCorpus(n: Int): DataFrame = {
    val words = Vector("scan", "merge", "window", "join", "filter",
      "shuffle", "agg", "sort", "broadcast", "spill")
    (0 until n).map { i =>
      val text =
        if (i % 37 == 5) null
        else Seq.fill(3 + rnd.nextInt(10))(words(rnd.nextInt(words.size)))
          .mkString(" ")
      (i.toLong, text)
    }.toDF("doc_id", "text")
  }

  /** Embeddings: unique ids, deterministic float vectors, dim 8. */
  private def embCorpus(n: Int, salt: Int = 0): DataFrame =
    (0 until n).map { i =>
      val r = new scala.util.Random(i * 7919 + salt)
      (i.toLong, Array.fill(8)(r.nextFloat() * 2f - 1f))
    }.toDF("vec_id", "embedding")

  // physical layout is bucket GROUPS (StateStore.groupCount):
  // the mtime pin now holds per clean GROUP, not per clean bucket
  private def mtimes(fs: org.apache.hadoop.fs.FileSystem,
      stateDir: String): Map[String, Long] =
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$stateDir/agg"))
      .filter(_.getPath.getName.startsWith("__bgroup="))
      .flatMap(d => fs.listStatus(d.getPath)
        .map(f => f.getPath.toString -> f.getModificationTime)).toMap

  // ---- text index ----------------------------------------------------

  private val terms = Seq("scan", "merge", "window")

  private def wantSearch(docs: DataFrame, k: Int): Seq[(Long, Long, Long)] =
    Indexing.searchIndex(Indexing.invertedIndex(docs, "doc_id", "text"),
        nDocs = docs.count(), terms = terms, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def gotSearch(stateDir: String, k: Int): Seq[(Long, Long, Long)] =
    Indexing.searchIndexIncremental(spark, stateDir, terms, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("incremental text index == in-flight invertedIndex+searchIndex " +
      "across randomized churn; converges; clean partitions untouched") {
    val stateDir = freshStateDir()
    val d0 = viaParquet(docCorpus(500))
    val (_, r1) = Indexing.indexIncremental(d0, stateDir, nBuckets = 32)
    assert(r1.rebuilt)
    assert(gotSearch(stateDir, 20) == wantSearch(d0, 20), "seed identity")
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = mtimes(fs, stateDir)
    Thread.sleep(1100) // local-FS mtime granularity
    // churn: re-text a bounded id slice, delete another
    val churned = viaParquet(d0
      .withColumn("text", when(col("doc_id") % 41 === 7,
        lit("scan scan merge churned")).otherwise(col("text")))
      .filter(col("doc_id") % 53 =!= 9))
    val (_, r2) = Indexing.indexIncremental(churned, stateDir,
      nBuckets = 32, dirtyFractionLimit = 1.0)
    assert(!r2.rebuilt && r2.dirtyBuckets > 0 &&
      r2.dirtyBuckets < r2.totalBuckets, s"must prune: $r2")
    assert(gotSearch(stateDir, 20) == wantSearch(churned, 20),
      "churned identity — postings, df and nDocs all track the churn")
    val after = mtimes(fs, stateDir)
    val survivors = before.keySet.intersect(after.keySet)
    assert(survivors.nonEmpty, "clean partitions must survive")
    assert(survivors.forall(k => before(k) == after(k)),
      "clean posting partitions must be byte-untouched (mtime-pinned)")
    // convergence: zero dirty on the clean re-run
    val (_, r3) = Indexing.indexIncremental(churned, stateDir, nBuckets = 32)
    assert(!r3.rebuilt && r3.dirtyBuckets == 0, s"must converge: $r3")
  }

  test("posting store files are term-sorted within each bucket: tight " +
      "row-group stats for the search side's term filter") {
    val stateDir = freshStateDir()
    val d = viaParquet(docCorpus(400))
    Indexing.indexIncremental(d, stateDir, nBuckets = 8)
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketDirs = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$stateDir/agg"))
      .filter(_.getPath.getName.startsWith("__bgroup="))
    assert(bucketDirs.nonEmpty)
    var checked = 0
    for (bd <- bucketDirs; f <- fs.listStatus(bd.getPath)
        if f.getPath.getName.endsWith(".parquet")) {
      val terms = spark.read.parquet(f.getPath.toString)
        .select("term").collect().map(_.getString(0))
      // nulls (the doc-count sentinels) sort FIRST under Spark's
      // ascending null ordering; the rest must be non-decreasing
      val nonNull = terms.filter(_ != null)
      assert(terms.takeWhile(_ == null).length ==
        terms.count(_ == null), s"sentinels lead in ${f.getPath}")
      assert(nonNull.sameElements(nonNull.sorted),
        s"terms must be sorted within ${f.getPath}")
      checked += 1
    }
    assert(checked > 0)
  }

  test("incremental text index: nDocs sentinel counts every document " +
      "(null/empty text included), matching docs.count()") {
    val stateDir = freshStateDir()
    val d = viaParquet(docCorpus(200)) // i % 37 == 5 rows have null text
    Indexing.indexIncremental(d, stateDir, nBuckets = 16)
    val store = IncrementalAgg.readStore(spark, stateDir)
    val nDocs = store.filter(col("term").isNull)
      .agg(sum("tf")).head().getLong(0)
    assert(nDocs == d.count(), "sentinel == corpus cardinality")
  }

  test("streamed append-only posting store: multi-batch maintainIndex " +
      "answers the same retrieval as a fresh index over all arrivals; " +
      "auto-compaction keeps counts; replay of a folded batch is fenced") {
    val stateDir = freshStateDir()
    val srcDir = java.nio.file.Files.createTempDirectory("graft_r15si")
      .toString
    // three arrival waves with DISJOINT id ranges (the append-only
    // contract: an id arrives at most once)
    val waves = Seq(0, 1, 2).map(w => docCorpus(120)
      .withColumn("doc_id", col("doc_id") + lit(w * 1000L)))
    waves.foreach(_.coalesce(1).write.mode("append").parquet(srcDir))
    val all = spark.read.parquet(srcDir)
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = graft.streaming.StreamingOps.maintainIndex(stream, stateDir,
      nBuckets = 16, maxBatchParts = 1)
    try q.processAllAvailable() finally q.stop()
    assert(gotSearch(stateDir, 20) == wantSearch(all, 20),
      "streamed store == fresh index over all arrivals")
    // maxBatchParts=1 forced compactions along the way — and a replay
    // of a folded batch must be fenced, not re-appended
    IncrementalAgg.appendFold(waves.head, 0L, stateDir,
      graft.ops.Indexing.postingsPartial("doc_id", "text"), "doc_id", 16)
    assert(gotSearch(stateDir, 20) == wantSearch(all, 20),
      "replayed folded batch must not double postings")
  }

  test("fixedSequences: exact-length rows, docs split across " +
      "boundaries, token arrays equal a reference sweep, result " +
      "partitioning-independent, trailing partial flagged") {
    import graft.ops.Chunking
    val rnd2 = new scala.util.Random(99)
    val rows = (0L until 60L).map { i =>
      (i % 3, i * 10, i, Array.fill(1 + rnd2.nextInt(40))(rnd2.nextInt(300)))
    }
    val df = rows.toDF("shard", "ord", "doc", "ids")
    def collectSeqs(d: org.apache.spark.sql.DataFrame) =
      Chunking.fixedSequences(d, "shard", "ord", "doc", "ids", 16)
        .orderBy("shard", "seq_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5),
          r.getAs[scala.collection.Seq[Int]](6).toSeq, r.getLong(7),
          r.getBoolean(8)))
    val got = collectSeqs(df)
    // reference sweep, driver-side
    val want = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (shard, rs) =>
        val stream = rs.sortBy(r => (r._2, r._3))
          .flatMap(r => r._4.map(t => (r._3, t)))
        stream.grouped(16).zipWithIndex.map { case (g, k) =>
          (shard, k.toLong, g.length.toLong,
            g.map(_._1).distinct.length.toLong, g.head._1, g.last._1,
            g.map(_._2), g.map(_._2.toLong).sum, g.length == 16)
        }
    }.sortBy(t => (t._1, t._2))
    assert(got.length == want.length)
    for ((g, w) <- got.zip(want)) assert(g == w, s"\n$g\nvs\n$w")
    // exact-length invariant: every complete row is 16 tokens; at most
    // one incomplete row per shard, and it is the LAST
    for ((shard, ss) <- got.groupBy(_._1)) {
      assert(ss.init.forall(s => s._9 && s._3 == 16L), s"shard $shard")
      assert(ss.count(!_._9) <= 1)
    }
    // partitioning independence: forcing different upstream layouts
    // yields the identical result
    assert(collectSeqs(df.repartition(13)).toSeq == got.toSeq)
    assert(collectSeqs(df.repartition(1)).toSeq == got.toSeq)
  }

  // ---- PQ index ------------------------------------------------------

  test("incremental PQ index: codes == pqEncode under the stored books " +
      "across churn; search identical; books frozen; clean partitions " +
      "untouched") {
    val stateDir = freshStateDir()
    val e0 = viaParquet(embCorpus(400))
    val (codes1, r1) = Similarity.pqIndexIncremental(e0, stateDir,
      m = 4, ksub = 8, nBuckets = 32)
    assert(r1.rebuilt)
    val books = spark.read.parquet(s"$stateDir/books")
    def codeSet(df: DataFrame): Set[(Long, Int, Any)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.get(2))).toSet
    assert(codeSet(codes1) ==
      codeSet(Similarity.pqEncode(e0, books, m = 4)), "seed code identity")
    val booksBefore = books.collect().map(_.toString).sorted.toSeq
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = mtimes(fs, stateDir)
    Thread.sleep(1100)
    // churn: replace a bounded slice's vectors, delete another slice
    val moved = embCorpus(400, salt = 99)
      .withColumnRenamed("embedding", "emb2")
    val churned = viaParquet(e0.join(moved, Seq("vec_id"))
      .withColumn("embedding",
        when(col("vec_id") % 31 === 3, col("emb2"))
          .otherwise(col("embedding")))
      .drop("emb2")
      .filter(col("vec_id") % 43 =!= 11))
    val (codes2, r2) = Similarity.pqIndexIncremental(churned, stateDir,
      m = 4, ksub = 8, nBuckets = 32, dirtyFractionLimit = 1.0)
    assert(!r2.rebuilt && r2.dirtyBuckets > 0 &&
      r2.dirtyBuckets < r2.totalBuckets, s"must prune: $r2")
    // codes re-derive ONLY for dirty buckets, against the FROZEN books
    assert(codeSet(codes2) ==
      codeSet(Similarity.pqEncode(churned, books, m = 4)),
      "churned code identity under frozen books")
    val booksAfter = spark.read.parquet(s"$stateDir/books")
      .collect().map(_.toString).sorted.toSeq
    assert(booksAfter == booksBefore, "books must not re-fit under churn")
    val after = mtimes(fs, stateDir)
    val survivors = before.keySet.intersect(after.keySet)
    assert(survivors.nonEmpty && survivors.forall(k => before(k) == after(k)),
      "clean code partitions must be byte-untouched (mtime-pinned)")
    // search identity: stored state vs in-flight books+codes
    val queries = churned.filter(col("vec_id") < 10)
    val gotS = Similarity.pqSearchIncremental(spark, stateDir, queries,
        k = 5, m = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSet
    val wantS = Similarity.pqSearch(books,
        Similarity.pqEncode(churned, books, m = 4), queries, k = 5, m = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSet
    assert(gotS == wantS, "search identity from the stored state")
    // convergence
    val (_, r3) = Similarity.pqIndexIncremental(churned, stateDir,
      m = 4, ksub = 8, nBuckets = 32)
    assert(!r3.rebuilt && r3.dirtyBuckets == 0, s"must converge: $r3")
  }

  test("PQ bucketCol layout hook: a NON-hash materialized bucket label " +
      "is honored end-to-end (partials land under the caller's labels)") {
    val stateDir = freshStateDir()
    val legDir = java.nio.file.Files.createTempDirectory("graft_r15pb")
      .toString
    def writeBucketed(df: DataFrame, name: String): DataFrame = {
      df.withColumn("bucket", pmod(col("vec_id"), lit(7L)))
        .write.partitionBy("bucket").mode("overwrite")
        .parquet(s"$legDir/$name")
      spark.read.parquet(s"$legDir/$name")
    }
    val e0 = writeBucketed(embCorpus(300), "e0")
    val (codes1, r1) = Similarity.pqIndexIncremental(e0, stateDir,
      m = 4, ksub = 8, nBuckets = 7, bucketCol = Some("bucket"))
    assert(r1.rebuilt)
    val books = spark.read.parquet(s"$stateDir/books")
    def codeSet(df: DataFrame): Set[(Long, Int, Any)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.get(2))).toSet
    assert(codeSet(codes1) == codeSet(
      Similarity.pqEncode(e0.drop("bucket"), books, m = 4)))
    // churn exactly one label's rows: only that bucket goes dirty
    val e1 = writeBucketed(e0.drop("bucket")
      .withColumn("embedding", when(col("vec_id") % 7 === 3,
        expr("transform(embedding, x -> float(-x))"))
        .otherwise(col("embedding"))), "e1")
    val (codes2, r2) = Similarity.pqIndexIncremental(e1, stateDir,
      m = 4, ksub = 8, nBuckets = 7, bucketCol = Some("bucket"),
      dirtyFractionLimit = 1.0)
    assert(!r2.rebuilt && r2.dirtyBuckets == 1,
      s"exactly label 3's bucket must go dirty: $r2")
    assert(codeSet(codes2) == codeSet(
      Similarity.pqEncode(e1.drop("bucket"), books, m = 4)))
  }

  test("streamed append-only PQ code store: multi-batch maintainPqIndex " +
      "answers the same ADC search as encode-over-all-arrivals; code " +
      "compaction is an identity fold (schema type stable)") {
    val stateDir = freshStateDir()
    val srcDir = java.nio.file.Files.createTempDirectory("graft_r15sp")
      .toString
    val waves = Seq(0, 1, 2).map(w => embCorpus(150, salt = w)
      .withColumn("vec_id", col("vec_id") + lit(w * 1000L)))
    val all0 = waves.reduce(_ unionByName _)
    // frozen books bootstrap-fit on the FULL corpus (what the oracle
    // would see), then the stream folds arrivals' codes against them
    Similarity.pqBooksWrite(viaParquet(all0), stateDir, m = 4, ksub = 8)
    waves.foreach(_.coalesce(1).write.mode("append").parquet(srcDir))
    val all = spark.read.parquet(srcDir)
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = graft.streaming.StreamingOps.maintainPqIndex(stream, stateDir,
      m = 4, nBuckets = 16, maxBatchParts = 1)
    try q.processAllAvailable() finally q.stop()
    val books = spark.read.parquet(s"$stateDir/books")
    // compaction ran (maxBatchParts=1) — codes must keep their original
    // type, or post-compaction appends would mix parquet physical types
    val store = IncrementalAgg.readStore(spark, stateDir)
    assert(store.schema("code").dataType ==
      Similarity.pqEncode(all, books, m = 4).schema("code").dataType,
      "compaction must not widen the code column")
    def s(df: DataFrame): Set[(Long, Long, Long, Int)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSet
    val queries = all.filter(col("vec_id") < 10)
    assert(s(Similarity.pqSearchIncremental(spark, stateDir, queries,
        k = 5, m = 4)) ==
      s(Similarity.pqSearch(books, Similarity.pqEncode(all, books, m = 4),
        queries, k = 5, m = 4)),
      "streamed code store == encode over all arrivals")
  }

  test("PQ re-fit policy: deleting the stored books re-fits on the next " +
      "run and the changed signature rebuilds the code store wholesale") {
    val stateDir = freshStateDir()
    val e0 = viaParquet(embCorpus(300))
    Similarity.pqIndexIncremental(e0, stateDir, m = 4, ksub = 8,
      nBuckets = 16)
    // distribution moved enough that a re-fit lands on different books
    val e1 = viaParquet(embCorpus(300, salt = 7)
      .withColumn("embedding",
        expr("transform(embedding, x -> float(x * 3.0 + 1.0))")))
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/books"), true)
    val (codes, r) = Similarity.pqIndexIncremental(e1, stateDir,
      m = 4, ksub = 8, nBuckets = 16)
    assert(r.rebuilt, "new books signature must rebuild the code store")
    val books = spark.read.parquet(s"$stateDir/books")
    val want = Similarity.pqEncode(e1, books, m = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.get(2))).toSet
    assert(codes.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.get(2))).toSet == want)
  }
}
