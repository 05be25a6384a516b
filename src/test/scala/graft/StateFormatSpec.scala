package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CompareMode, IncrementalValidation}
import graft.ops.{Curation, CuratedFeed, Dedup, IncrementalAgg, Indexing,
  SequenceFeed, Similarity, TextAnalysis, Tokenize}

/** The on-disk format of stored state: the append stores' and the feed's
  * parquet files go through `StateStore.writer`, so their column chunks
  * are zstd, while the witness-guarded stores keep the session's codec; a
  * store written with another codec reads on unchanged and its next
  * compaction rewrites it in zstd; and the reads that know their store's
  * schema launch no schema-inference job, and rebuild a store whose files
  * hold other columns. */
class StateFormatSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_format").toString

  private def viaParquet(df: DataFrame): DataFrame = {
    val p = Files.createTempDirectory("graft_formatin").toString
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Every `*.parquet` file under `dir`. */
  private def parquetFiles(dir: String): Seq[java.nio.file.Path] = {
    val st = Files.walk(Paths.get(dir))
    try st.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).toList
    finally st.close()
  }

  /** The codec of every column chunk of `file`, from its footer. */
  private def codecs(file: java.nio.file.Path): Seq[String] = {
    val in = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(file.toUri), spark.sparkContext.hadoopConfiguration))
    try in.getFooter.getBlocks.asScala.toSeq
      .flatMap(_.getColumns.asScala.map(_.getCodec.name))
    finally in.close()
  }

  private val words = Seq("scan", "merge", "window", "join", "filter",
    "sort", "group", "limit", "union", "range", "alpha", "beta")

  private def docs(from: Long, to: Long): DataFrame =
    (from until to).map { i =>
      val j = if (i % 10 == 9) i - 7 else i
      val n = 3 + (j % 6).toInt
      (i, (0 until n).map(k => words(((j * 5 + k) % 12).toInt)).mkString(" "))
    }.toDF("doc_id", "text")

  private def keyed(seed: Int, n: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)((r.nextInt(n / 2).toString, r.nextInt(40).toString))
      .toDF("id", "check").withColumn("alt", upper(col("check")))
  }

  private def vectors(n: Int): DataFrame = (0 until n).map { i =>
    val r = new scala.util.Random(i)
    (i.toLong, Array.fill(8)(r.nextFloat() * 2f - 1f))
  }.toDF("vec_id", "embedding")

  private def feedBatch(b: Long): DataFrame =
    (0L until 30L).map { i =>
      val doc = b * 100 + i
      (i % 3, i, doc, Array.fill(5 + (doc % 9).toInt)((doc % 250).toInt))
    }.toDF("shard", "ord", "doc", "ids")

  private def deliverFeed(dir: String, b: Long): Unit =
    SequenceFeed.sequencesAppend(feedBatch(b), b, dir, "shard", "ord", "doc",
      "ids", seqLen = 16)

  private lazy val merges = Tokenize.loadMerges(spark.read
    .parquet("src/test/resources/bpe_bytes_merges.parquet"))

  test("every column chunk of every append-store and feed file is zstd; " +
      "the witness-guarded stores keep the session's codec") {
    val f = viaParquet(keyed(1, 300))
    val s0 = viaParquet(keyed(2, 300))
    // a churned day: the witness surfaces take the surgery path too
    val s1 = viaParquet(s0.withColumn("check",
      when(pmod(xxhash64(col("id")), lit(10L)) === 0L,
        concat(col("check"), lit("~"))).otherwise(col("check"))))
    val mode = CompareMode.Numeric
    val two = Seq("check" -> mode, "alt" -> CompareMode.Fuzzy(1.0))
    val batches = (0L until 3L).map(b => viaParquet(docs(b * 20, b * 20 + 20)))
    val seen = batches.map(_.withColumn("fp",
      TextAnalysis.fingerprint(col("text"))))
    val vecs = viaParquet(vectors(120))
    def days(run: DataFrame => Unit): Unit = { run(s0); run(s1) }
    def appends(append: (DataFrame, Long, String) => Unit,
        compact: String => Unit)(dir: String): Unit = {
      append(batches(0), 0L, dir)
      append(batches(1), 1L, dir)
      compact(dir)
      append(batches(2), 2L, dir)
    }
    val curatedAll = viaParquet(docs(0L, 45L))
    val witnessed = Seq[(String, String => Unit)](
      "reportIncremental" -> (d => days(s => IncrementalValidation
        .reportIncremental(f, s, mode, d, nBuckets = 16,
          dirtyFractionLimit = 1.0))),
      "reportIncrementalMulti" -> (d => days(s => IncrementalValidation
        .reportIncrementalMulti(f, s, two, d, nBuckets = 16,
          dirtyFractionLimit = 1.0))),
      "runMulti" -> (d => days(s => IncrementalValidation.runMulti(f, s, two,
        d, nBuckets = 16, dirtyFractionLimit = 1.0))),
      "IncrementalAgg.run" -> (d => days(s => IncrementalAgg.run(s, "id",
        Seq("check"),
        _.groupBy(col("__bucket"), col("check")).agg(count(lit(1)).as("c")),
        aggKey = "checkcount", d, nBuckets = 16,
        dirtyFractionLimit = 1.0))),
      "PQ books" -> (Similarity.pqBooksWrite(vecs, _, m = 4, ksub = 8)))
    val appended = Seq[(String, String => Unit)](
      "vocab append + compaction" -> appends(
        IncrementalAgg.vocabAppend(_, _, _, nBuckets = 16),
        IncrementalAgg.compactVocabStore(spark, _)),
      "seen append + compaction" -> appends(
        (_, id, d) => Curation.seenAppend(seen(id.toInt), id, d, "fp",
          "doc_id", 16),
        Curation.compactSeenStore(spark, _)),
      "posting append + compaction" -> appends(
        IncrementalAgg.appendFold(_, _, _,
          Indexing.postingsPartial("doc_id", "text"), "doc_id", 16),
        IncrementalAgg.compactAppendStore(spark, _, Seq("term", "__id"),
          "tf")),
      "signature append + compaction" -> appends(
        Dedup.minhashAppend(_, _, _, nBuckets = 16),
        IncrementalAgg.compactAppendStore(spark, _, Seq("id", "h"), "sigv")),
      "PQ code append + compaction" -> { d =>
        Similarity.pqBooksWrite(vecs, d, m = 4, ksub = 8)
        for (b <- 0L until 3L) {
          Similarity.pqAppend(vecs.filter(col("vec_id") % 3 === b), b, d,
            m = 4, nBuckets = 16)
          if (b == 1L) IncrementalAgg.compactAppendStore(spark, d,
            Seq("vec_id", "sub"), "code")
        }
        // the books and their seed error are swapped stores, checked
        // under "PQ books"
        Seq("books", "books_err").foreach(b => deleteTree(Paths.get(d, b)))
      },
      "sequencesAppend + compaction" -> { d =>
        deliverFeed(d, 0L)
        deliverFeed(d, 1L)
        SequenceFeed.compactFeedStore(spark, d)
        deliverFeed(d, 2L)
      },
      "curatedAppend" -> { d =>
        for (b <- 0L until 3L) CuratedFeed.curatedAppend(
          curatedAll.filter(pmod(col("doc_id"), lit(3L)) === b), b, d,
          merges, seqLen = 16, nShards = 4, minWords = 3, maxWords = 12,
          maxBatchParts = 1)
      },
      "publishSnapshot" -> { d =>
        deliverFeed(d, 0L)
        SequenceFeed.publishSnapshot(spark, d)
      })
    val session = spark.conf.get("spark.sql.parquet.compression.codec")
      .toUpperCase
    assert(session != "ZSTD", "the session codec must differ from zstd")
    val failures = (witnessed.map((session, _)) ++ appended.map(("ZSTD", _)))
      .flatMap { case (want, (name, run)) =>
        val dir = freshDir()
        run(dir)
        val files = parquetFiles(dir).map(p => p -> codecs(p).toSet)
        if (files.forall(_._2.isEmpty))
          Seq(s"$name: no column chunk under $dir")
        else files.collect {
          case (p, cs) if cs != Set(want) => s"$name: $p is $cs, not $want"
        }
      }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  private def deleteTree(p: java.nio.file.Path): Unit = {
    val st = Files.walk(p)
    try st.iterator().asScala.toList.reverse.foreach(Files.delete)
    finally st.close()
  }

  /** Rewrite every parquet file under `dir` in place as snappy — how a
    * store written before state files were zstd looks on disk. */
  private def toSnappy(dir: String): Unit =
    for (p <- parquetFiles(dir)) {
      val tmp = freshDir() + "/f"
      spark.read.parquet(p.toString).coalesce(1).write
        .option("compression", "snappy").parquet(tmp)
      val part = parquetFiles(tmp).head
      Files.move(part, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    }

  test("an append store holding a snappy batch partition beside zstd ones " +
      "reads the same rows, and compacts into a zstd-only base with the " +
      "same rows") {
    val batches = (0L until 3L).map(b => viaParquet(docs(b * 20, b * 20 + 20)))
    def build(dir: String): Unit = batches.zipWithIndex.foreach {
      case (b, i) => IncrementalAgg.vocabAppend(b, i.toLong, dir,
        nBuckets = 16)
    }
    val (mixed, plain) = (freshDir(), freshDir())
    build(mixed)
    build(plain)
    toSnappy(s"$mixed/agg/__batch=1")
    val found = parquetFiles(mixed).flatMap(codecs).toSet
    assert(found == Set("SNAPPY", "ZSTD"), found)
    val want = rows(IncrementalAgg.vocabFromStore(spark, plain))
    assert(rows(IncrementalAgg.vocabFromStore(spark, mixed)) == want)
    IncrementalAgg.compactVocabStore(spark, mixed)
    assert(rows(IncrementalAgg.vocabFromStore(spark, mixed)) == want)
    val base = parquetFiles(mixed)
    assert(base.nonEmpty && base.forall(_.toString.contains("/__batch=-1/")))
    assert(base.flatMap(codecs).toSet == Set("ZSTD"))
  }

  test("explicit-schema reads: IncrementalAgg.run's read-back and the " +
      "curated ledger launch no schema-inference job") {
    val d = viaParquet(docs(0L, 200L))
    val aggDir = freshDir()
    IncrementalAgg.vocab(d, aggDir, nBuckets = 64)
    var store: DataFrame = null
    val runJobs = jobsLaunchedBy {
      store = IncrementalAgg.vocab(d, aggDir, nBuckets = 64)._1
    }
    // 2 = the digest compare's scan (its exchange and its collect); the
    // store read takes its schema from the partial. 3 when it inferred it
    assert(runJobs <= 2, s"$runJobs jobs for one clean IncrementalAgg.run")
    assert(rows(store) == rows(d.select(explode(split(lower(col("text")),
        "[^a-z0-9]+")).as("term")).filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("n"))))

    val feed = freshDir()
    val all = viaParquet(docs(0L, 30L))
    for (b <- 0L to 1L) CuratedFeed.curatedAppend(
      all.filter(pmod(col("doc_id"), lit(2L)) === b), b, feed, merges,
      seqLen = 16, nShards = 4, minWords = 3, maxWords = 12)
    var ledger: DataFrame = null
    val ledgerJobs = jobsLaunchedBy { ledger = CuratedFeed.ledger(spark, feed) }
    // 0: the six-column schema is fixed. 1 when it was inferred
    assert(ledgerJobs == 0, s"$ledgerJobs jobs to open the ledger")
    assert(ledger.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L))
  }

  test("IncrementalAgg.run rebuilds a store whose files hold other " +
      "columns than the partial, under the same aggKey and inputs") {
    val s = viaParquet(keyed(3, 300))
    val dir = freshDir()
    def run(partial: DataFrame => DataFrame) = IncrementalAgg.run(s, "id",
      Seq("check"), partial, aggKey = "checkcount", dir, nBuckets = 16)
    val counted: DataFrame => DataFrame =
      _.groupBy(col("__bucket"), col("check")).agg(count(lit(1)).as("c"))
    val want = rows(s.groupBy("check").agg(count(lit(1)).as("c")))
    def answer(df: DataFrame) = rows(df.groupBy("check")
      .agg(sum(col("c")).cast("long").as("c")))
    assert(run(counted)._2.rebuilt)
    val (same, clean) = run(counted)
    assert(!clean.rebuilt && clean.dirtyBuckets == 0, clean)
    assert(answer(same) == want)
    // a narrower type (bigint files, int partial) and an added column:
    // the digests are unchanged, the stored files do not fit
    for (partial <- Seq[DataFrame => DataFrame](
        counted(_).withColumn("c", col("c").cast("int")),
        counted(_).withColumn("d", col("c") * 2L))) {
      val (got, rep) = run(partial)
      assert(rep.rebuilt, rep)
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        partial(s.withColumn("__bucket", lit(0L)).limit(0)).drop("__bucket")
          .schema.map(f => (f.name, f.dataType)))
      assert(answer(got) == want)
      if (got.columns.contains("d"))
        assert(got.filter(col("d").isNull).isEmpty)
      assert(!run(partial)._2.rebuilt, "the rebuilt store is kept")
    }
  }

  test("incremental PQ index over IntegerType ids: codes keep the id type " +
      "and equal pqEncode under the stored books, rebuilt and clean") {
    val e = viaParquet(vectors(120).withColumn("vec_id",
      col("vec_id").cast("int")))
    val dir = freshDir()
    val books = () => spark.read.parquet(s"$dir/books")
    for (first <- Seq(true, false)) {
      var codes: DataFrame = null
      var rep: IncrementalAgg.IncrementalReport = null
      val jobs = jobsLaunchedBy {
        val r = Similarity.pqIndexIncremental(e, dir, m = 4, ksub = 8,
          nBuckets = 16)
        codes = r._1
        rep = r._2
      }
      assert(rep.rebuilt == first, rep)
      // a clean run: the digest compare (2), the books' collect and the
      // seed error's read; the books' schema comes from their footer
      if (!first) assert(jobs <= 4, s"$jobs jobs for a clean PQ run")
      val want = Similarity.pqEncode(e, books(), m = 4)
      assert(codes.schema.map(_.dataType) == want.schema.map(_.dataType))
      assert(rows(codes) == rows(want))
    }
    val q = e.filter(col("vec_id") < 3)
    assert(Similarity.pqSearchIncremental(spark, dir, q, k = 3, m = 4)
      .count() > 0)
  }
}
