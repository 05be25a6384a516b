package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CompareMode, IncrementalValidation, Validator}
import graft.ops.{Curation, CuratedFeed, IncrementalAgg, SequenceFeed,
  TextAnalysis, Tokenize}
import graft.state.StateStore

/** The append-store family's crash discipline: a crash at every commit
  * point an append surface crosses heals, on re-delivery or re-run, to
  * what a run that never crashed stores; and per-batch metadata (the
  * sequence feed's carry, the curated feed's ledger) that a crashed
  * write left torn is never taken for a landed batch. */
class AppendStoreSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_append").toString

  private def viaParquet(df: DataFrame): DataFrame = {
    val p = Files.createTempDirectory("graft_appendin").toString
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  private lazy val merges = Tokenize.loadMerges(spark.read
    .parquet("src/test/resources/bpe_bytes_merges.parquet"))

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private final class Crash(point: String)
      extends RuntimeException(s"crash at $point")

  /** One append surface: steps over a state directory (each one
    * delivery or compaction, safe to re-run after a crash) and what its
    * stores read back as. */
  private final class Surface(val name: String,
      val steps: Seq[String => Unit], val read: String => Any)

  /** Run `s`'s steps in `dir`; with `crashAt = (point, k)` the hook
    * throws at the k-th time `point` fires and the step that crashed is
    * run again. Returns every point fired, in order. */
  private def drive(s: Surface, dir: String,
      crashAt: Option[(String, Int)]): Seq[String] = {
    val fired = ArrayBuffer.empty[String]
    StateStore.hook = { p =>
      fired += p
      if (crashAt.contains((p, fired.count(_ == p)))) throw new Crash(p)
    }
    try s.steps.foreach { step =>
      try step(dir) catch { case _: Crash => step(dir) }
    } finally StateStore.hook = _ => ()
    fired.toSeq
  }

  private val words = Seq("scan", "merge", "window", "join", "filter",
    "sort", "group", "limit", "union", "range", "alpha", "beta")

  /** Documents `from until to`, about a tenth of them repeating an
    * earlier text, one carrying an e-mail address. */
  private def docs(from: Long, to: Long): DataFrame =
    (from until to).map { i =>
      val j = if (i % 10 == 9) i - 7 else i
      val n = 3 + (j % 6).toInt
      val text = (0 until n).map(k => words(((j * 5 + k) % 12).toInt))
        .mkString(" ") + (if (i == 4) " mail bob@example.com" else "")
      (i, text)
    }.toDF("doc_id", "text")

  private def feedBatch(b: Long): DataFrame =
    (0L until 30L).map { i =>
      val doc = b * 100 + i
      (i % 3, i, doc, Array.fill(5 + (doc % 9).toInt)((doc % 250).toInt))
    }.toDF("shard", "ord", "doc", "ids")

  private def deliverFeed(dir: String, b: Long): Unit =
    SequenceFeed.sequencesAppend(feedBatch(b), b, dir, "shard", "ord", "doc",
      "ids", seqLen = 16)

  /** The sequence store's rows, and the sum of `auditStore`'s violation
    * counters (zero on an intact store). */
  private def feedState(dir: String): (Set[Seq[Any]], Long) = {
    val audit = SequenceFeed.auditStore(spark, dir, 16)
      .select(coalesce(sum(col("n_dup") + col("n_gap") + col("n_len_bad") +
        col("n_sum_bad")), lit(0L)))
      .head().getLong(0)
    (rows(SequenceFeed.sequencesFromStore(spark, dir)), audit)
  }

  private lazy val surfaces: Seq[Surface] = {
    val vocabBatches =
      (0L until 3L).map(b => viaParquet(docs(b * 20, b * 20 + 20)))
    val seenBatches = vocabBatches.map(
      _.withColumn("fp", TextAnalysis.fingerprint(col("text"))))
    val curatedAll = viaParquet(docs(0L, 45L))
    def curated(b: Long)(dir: String): Unit =
      CuratedFeed.curatedAppend(
        curatedAll.filter(pmod(col("doc_id"), lit(3L)) === b), b, dir,
        merges, seqLen = 16, nShards = 4, minWords = 3, maxWords = 12,
        maxBatchParts = 1)
    Seq(
      new Surface("vocab append + compaction", Seq(
        IncrementalAgg.vocabAppend(vocabBatches(0), 0L, _, nBuckets = 16),
        IncrementalAgg.vocabAppend(vocabBatches(1), 1L, _, nBuckets = 16),
        IncrementalAgg.compactVocabStore(spark, _),
        IncrementalAgg.vocabAppend(vocabBatches(2), 2L, _, nBuckets = 16),
        // a replay of a folded batch: the fence skips it
        IncrementalAgg.vocabAppend(vocabBatches(1), 1L, _, nBuckets = 16)),
        dir => rows(IncrementalAgg.vocabFromStore(spark, dir))),
      new Surface("seen append + compaction", Seq(
        Curation.seenAppend(seenBatches(0), 0L, _, "fp", "doc_id", 16),
        Curation.seenAppend(seenBatches(1), 1L, _, "fp", "doc_id", 16),
        Curation.compactSeenStore(spark, _),
        Curation.seenAppend(seenBatches(2), 2L, _, "fp", "doc_id", 16)),
        dir => rows(Curation.seenRows(spark, dir))),
      new Surface("sequence append + compaction", Seq(
        deliverFeed(_, 0L), deliverFeed(_, 1L),
        SequenceFeed.compactFeedStore(spark, _),
        deliverFeed(_, 2L)),
        feedState),
      new Surface("curatedAppend, maxBatchParts = 1",
        Seq(curated(0L) _, curated(1L) _, curated(2L) _),
        dir => (rows(CuratedFeed.corpus(spark, dir)),
          feedState(CuratedFeed.feedDir(dir)),
          rows(CuratedFeed.ledger(spark, dir)))))
  }

  test("append family: a crash at every commit point an append surface " +
      "crosses heals on re-delivery to what a run that never crashed " +
      "stores") {
    val failures = surfaces.flatMap { s =>
      val cleanDir = freshDir()
      val points = drive(s, cleanDir, None)
      val want = s.read(cleanDir)
      assert(points.exists(_.endsWith(".append")), s"${s.name}: $points")
      // the last firing of each point: the stores are at their fullest
      points.distinct.flatMap { p =>
        val dir = freshDir()
        drive(s, dir, Some(p -> points.count(_ == p)))
        val got = s.read(dir)
        if (got == want) None
        else Some(s"${s.name}, crash at $p: $got != $want")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  /** A witness-guarded surface: one run on the second side in a state
    * directory, and the same answer computed from scratch. */
  private final class Guarded(val name: String,
      val run: (DataFrame, String) => Any, val fresh: DataFrame => Any)

  test("witness family: a crash at every commit point a churned run " +
      "crosses leaves a state whose next runs answer what a fresh " +
      "computation does, on the churned inputs and on the earlier ones") {
    val rnd = new scala.util.Random(20261019)
    def keyed(n: Int) = Seq.fill(n) {
      (if (rnd.nextDouble() < 0.04) null else rnd.nextInt(n / 2).toString,
        if (rnd.nextDouble() < 0.2) null else rnd.nextInt(40).toString)
    }.toDF("id", "check").withColumn("alt", concat(col("check"), lit("a")))
    def churned(df: DataFrame, salt: Int, c: String) =
      df.withColumn(c,
        when(pmod(xxhash64(col("id"), lit(salt)), lit(10L)) === 0L,
          concat(coalesce(col(c), lit("")), lit("~"))).otherwise(col(c)))
    val f = viaParquet(keyed(300))
    val s0 = viaParquet(keyed(300))
    val s1 = viaParquet(churned(churned(s0, 1, "check"), 2, "alt"))
    val mode = CompareMode.Numeric
    val one = Seq("check" -> mode)
    val two = one :+ ("alt" -> CompareMode.Fuzzy(1.0))
    def byCol(df: DataFrame) =
      df.collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    def counts(df: DataFrame) = df.groupBy("check").agg(sum("c").as("c"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    def str(v: Any) = Option(v).map(_.toString).orNull
    def validated(s: DataFrame) = {
      val out = Validator.validate(f, s, mode)
      def kind(df: DataFrame, k: String) = df.collect().map(r =>
        Seq[Any](k, str(r.get(0)), null, null))
      (kind(out.missingInFirst, "missing_in_first") ++
        kind(out.missingInSecond, "missing_in_second") ++
        out.differing.collect().map(r => Seq[Any]("differing",
          r.getString(0), str(r.get(1)), str(r.get(2))))).toSet
    }
    val partial: DataFrame => DataFrame =
      _.groupBy(col("__bucket"), col("check")).agg(count(lit(1)).as("c"))
    val guarded = Seq(
      new Guarded("reportIncremental", (s, d) => rows(IncrementalValidation
        .reportIncremental(f, s, mode, d, nBuckets = 16,
          dirtyFractionLimit = 1.0)._1), validated),
      new Guarded("reportIncrementalMulti", (s, d) =>
        rows(IncrementalValidation.reportIncrementalMulti(f, s, two, d,
          nBuckets = 16, dirtyFractionLimit = 1.0)._1),
        s => rows(Validator.diffMulti(f, s, two))),
      new Guarded("run", (s, d) => IncrementalValidation.run(f, s, mode, d,
          nBuckets = 16, dirtyFractionLimit = 1.0)._1.collect().head.toSeq,
        s => Validator.summaryFast(f, s, mode).collect().head.toSeq),
      new Guarded("runMulti", (s, d) => byCol(IncrementalValidation.runMulti(
          f, s, two, d, nBuckets = 16, dirtyFractionLimit = 1.0)._1),
        s => byCol(Validator.summaryMulti(f, s, two))),
      new Guarded("IncrementalAgg.run", (s, d) => counts(IncrementalAgg.run(
          s, "id", Seq("check"), partial, aggKey = "checkcount", d,
          nBuckets = 16, dirtyFractionLimit = 1.0)._1),
        s => counts(s.select(col("check"), lit(1L).as("c")))))
    val failures = guarded.flatMap { g =>
      val cleanDir = freshDir()
      g.run(s0, cleanDir)
      val fired = ArrayBuffer.empty[String]
      StateStore.hook = fired += _
      try g.run(s1, cleanDir) finally StateStore.hook = _ => ()
      assert(fired.exists(_.endsWith(".mutate")), s"${g.name}: $fired")
      val (want1, want0) = (g.fresh(s1), g.fresh(s0))
      fired.distinct.flatMap { p =>
        val dir = freshDir()
        g.run(s0, dir)
        StateStore.hook = q => if (q == p) throw new Crash(q)
        try intercept[Crash](g.run(s1, dir))
        finally StateStore.hook = _ => ()
        Seq(s1 -> want1, s0 -> want0).zipWithIndex.flatMap {
          case ((s, want), i) =>
            val got = g.run(s, dir)
            if (got == want) None
            else Some(s"${g.name}, crash at $p, re-run ${i + 1}: $got != $want")
        }
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  /** Leave `dir` as a crashed Spark write leaves it: its one data file
    * only under the writer's `_temporary`, nothing else. */
  private def tear(dir: String): Unit = {
    val st = Files.walk(Paths.get(dir))
    val all = try st.iterator().asScala.toList finally st.close()
    val part = all.find(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).get
    val torn = Files.createTempFile("graft_torn", ".parquet")
    Files.copy(part, torn, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    all.reverse.filter(_ != Paths.get(dir)).foreach(Files.delete(_: Path))
    val tmp = Paths.get(dir, "_temporary", "0")
    Files.createDirectories(tmp)
    Files.move(torn, tmp.resolve("part-00000.parquet"))
  }

  test("sequence feed: a torn carry is not a landed batch — compaction " +
      "does not fence it and no later batch seeds from it as empty") {
    val clean = freshDir()
    (0L to 2L).foreach(deliverFeed(clean, _))
    val dir = freshDir()
    deliverFeed(dir, 0L)
    deliverFeed(dir, 1L)
    // batch 1's store write landed, its carry write crashed mid-commit
    tear(s"$dir/carry/batch=1")
    SequenceFeed.compactFeedStore(spark, dir)
    // a later batch either goes through on a sound carry or is refused
    // until batch 1 is delivered again
    scala.util.Try(deliverFeed(dir, 2L)).failed.foreach { _ =>
      deliverFeed(dir, 1L)
      deliverFeed(dir, 2L)
    }
    val (got, violations) = feedState(dir)
    assert(violations == 0L, SequenceFeed.auditStore(spark, dir, 16)
      .collect().mkString("\n"))
    assert(got == feedState(clean)._1)
  }

  test("curated feed: a torn ledger directory is written again on " +
      "re-delivery, leaving exactly one correct row for the batch") {
    val all = viaParquet(docs(0L, 30L))
    def deliver(dir: String, b: Long): Unit =
      CuratedFeed.curatedAppend(
        all.filter(pmod(col("doc_id"), lit(2L)) === b), b, dir, merges,
        seqLen = 16, nShards = 4, minWords = 3, maxWords = 12)
    val dir = freshDir()
    deliver(dir, 0L)
    deliver(dir, 1L)
    val want = CuratedFeed.ledger(spark, dir).filter(col("batch") === 1L)
      .collect().map(_.toSeq).toSeq
    assert(want.size == 1)
    // a crash inside the ledger write: the batch is delivered again
    tear(s"$dir/ledger/b1")
    deliver(dir, 1L)
    val got = CuratedFeed.ledger(spark, dir).filter(col("batch") === 1L)
      .collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  /** A vocab store of three appended batches over 16 buckets. */
  private def vocabStore(): String = {
    val dir = freshDir()
    (0L until 3L).foreach(b => IncrementalAgg.vocabAppend(
      docs(b * 20, b * 20 + 20), b, dir, nBuckets = 16))
    dir
  }

  test("compaction takes its fence from one listing: a three-batch vocab " +
      "store compacts in the pinned number of Spark jobs") {
    val dir = vocabStore()
    val want = rows(IncrementalAgg.vocabFromStore(spark, dir))
    val jobs = jobsLaunchedBy(IncrementalAgg.compactVocabStore(spark, dir))
    assert(StateStore.readMarker(StateStore.fsOf(spark, dir),
      s"$dir/agg_compact_watermark").contains("2"))
    assert(rows(IncrementalAgg.vocabFromStore(spark, dir)) == want)
    // 4 = the fold's store read and its staged write; the fence is a
    // directory listing, no job
    assert(jobs <= 4, s"$jobs jobs for one compaction")
  }

  test("compaction never fences a torn batch: a batch directory holding " +
      "only a crashed write's files is re-delivered and lands") {
    val clean = vocabStore()
    val dir = vocabStore()
    tear(s"$dir/agg/__batch=2")
    IncrementalAgg.compactVocabStore(spark, dir)
    IncrementalAgg.vocabAppend(docs(40, 60), 2L, dir, nBuckets = 16)
    assert(rows(IncrementalAgg.vocabFromStore(spark, dir)) ==
      rows(IncrementalAgg.vocabFromStore(spark, clean)))
  }
}
