package e2ebench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.config.ConfigLoader
import graft.core.{IncrementalValidation, ValidationJob}
import graft.ops.{CuratedFeed, Tokenize}

/** One workload as the harness drives it. An op is [[run]]: the calls a
  * user makes, timed from the outside. Everything else (generating the
  * op's inputs, checking its result, measuring the stored state) happens
  * outside the op's timing. */
trait Workload {
  def name: String
  /** Ops in set-up: the first op and whatever must run before it. */
  def setupOps: Int = 1
  /** Write the inputs of the first set-up op. */
  def prepareFirst(): Unit
  /** Write the inputs of the next op. */
  def prepareNext(): Unit
  def run(spark: SparkSession, tr: Tracer): Unit
  /** None when the op's result agrees with the generator's ground truth. */
  def check(spark: SparkSession): Option[String]
  /** Input rows (or documents) the last op was offered. */
  def rowsOffered: Long
  /** Seconds the last op spent parsing its configuration. */
  def parseSeconds: Double
  /** The stored-state and report trees the last op wrote to. */
  def trees: Seq[String]
  /** Bytes of the inputs the stored state and reports derive from. */
  def inputBytes: Long
  /** Expected fraction of report buckets the last op had to rewrite. */
  def dirtyBucketFrac(spark: SparkSession): Double = 0.0
  /** Surviving documents / documents offered, as the last op recorded it. */
  def keptFrac: Double = 0.0
  /** Drop inputs and outputs the next op no longer needs. */
  def finishOp(): Unit = ()
}

object Workload {
  def apply(name: String, seed: Long, work: String): Workload = name match {
    case "diff_full" => new DiffWorkload(name, incremental = false, DiffGen.standard(seed), work)
    case "diff_daily" => new DiffWorkload(name, incremental = true, DiffGen.standard(seed), work)
    case "feed_ingest" => new FeedWorkload(seed, work)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected diff_full, diff_daily or feed_ingest)")
  }

  def bytesUnder(path: String): Long = FsSnapshot.of(Seq(path)).bytes

  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** A table diff through `ConfigLoader` and `ValidationJob.run`, one day's
  * pair per op: from scratch (`diff_full`) or through the stored state
  * (`diff_daily`, whose set-up builds day 0 before the first op). */
class DiffWorkload(val name: String, incremental: Boolean, gen: DiffGen,
    work: String) extends Workload {
  val reportBuckets = 256
  private val days = new gen.Days
  private var opIndex = 0
  private var lastRow: Row = _
  private var lastParse = 0.0

  /** diff_daily's first op, day 1, needs the day-0 full build before it. */
  override def setupOps: Int = if (incremental) 2 else 1

  private def dayDir(d: Int) = s"$work/inputs/day$d"
  private def stateDir = s"$work/state"
  private def outDir(op: Int) = if (incremental) s"$work/out" else s"$work/out/op$op"

  def prepareFirst(): Unit = gen.writeDay(days.current, dayDir(0))

  def prepareNext(): Unit = {
    days.advance()
    gen.writeDay(days.current, dayDir(days.day))
  }

  def yaml(day: Int, out: String): String =
    s"""databases: [first, second]
       |sources:
       |  first: {format: parquet, path: "${dayDir(day)}/first"}
       |  second: {format: parquet, path: "${dayDir(day)}/second"}
       |composite_id_columns: [l_orderkey, l_linenumber]
       |check_column: model
       |data_type: string
       |threshold: 0.9
       |output_directory: "$out"
       |incremental: $incremental
       |report_incremental: true
       |report_buckets: $reportBuckets
       |state_directory: "$stateDir"
       |""".stripMargin

  def run(spark: SparkSession, tr: Tracer): Unit = {
    opIndex += 1
    val text = yaml(days.day, outDir(opIndex))
    val (cfg, parse) = Workload.timed(
      tr.span("config.ConfigLoader.fromYamlString")(ConfigLoader.fromYamlString(text)))
    lastParse = parse
    val (_, summary) = tr.span("core.ValidationJob.run")(ValidationJob.run(spark, cfg))
    lastRow = tr.span("summary.collect")(summary.collect().head)
  }

  /** The summary the generator says the current day's pair has. */
  def expected: DiffTruth = days.truth

  def check(spark: SparkSession): Option[String] = {
    val t = expected
    def got(c: String) = lastRow.getAs[Number](c).longValue
    val tidy = s"${outDir(opIndex)}/tidy"
    def rows(set: String) = ParquetOut.rowCount(s"$tidy/$set")
    val pairs = Seq(
      "summary n_first" -> (got("n_first"), t.nFirst),
      "summary n_second" -> (got("n_second"), t.nSecond),
      "summary missing_in_first" -> (got("missing_in_first"), t.missingInFirst),
      "summary missing_in_second" -> (got("missing_in_second"), t.missingInSecond),
      "summary n_differing" -> (got("n_differing"), t.differing),
      "tidy missing_in_first rows" -> (rows("missing_in_first"), t.missingInFirst),
      "tidy missing_in_second rows" -> (rows("missing_in_second"), t.missingInSecond),
      "tidy differing_values rows" -> (rows("differing_values"), t.differing))
    val wrong = pairs.collect { case (what, (g, e)) if g != e => s"$what: got $g, expected $e" }
    if (wrong.isEmpty) None else Some(s"day ${days.day}: ${wrong.mkString("; ")}")
  }

  def rowsOffered: Long = expected.nFirst + expected.nSecond
  def parseSeconds: Double = lastParse
  def trees: Seq[String] = if (incremental) Seq(stateDir, outDir(opIndex)) else Seq(outDir(opIndex))
  def inputBytes: Long = Workload.bytesUnder(dayDir(days.day))

  override def dirtyBucketFrac(spark: SparkSession): Double =
    if (!incremental || days.changed.isEmpty) 0.0
    else {
      import spark.implicits._
      val ids = days.changed.map(gen.compositeId).toDF("id")
      IncrementalValidation.withBucket(ids, reportBuckets).select("bucket").distinct()
        .count().toDouble / reportBuckets
    }

  override def finishOp(): Unit = {
    if (days.day > 0) Workload.deleteTree(dayDir(days.day - 1))
    if (!incremental) Workload.deleteTree(outDir(opIndex - 1))
  }
}

/** One `CuratedFeed.curatedAppend` batch per op into a growing state, with
  * the parameters a feed YAML declares; the first op (batch 0 into an
  * empty state) is set-up. */
final class FeedWorkload(seed: Long, work: String) extends Workload {
  val name = "feed_ingest"
  val mergesPath = "src/test/resources/bpe_bytes_merges.parquet"
  private val wordsPath = "src/test/resources/bpe_word_tokens.parquet"
  private val batchSize = 6000
  private val minWords = 8
  private val gen = FeedGen(seed, batchSize, minWords,
    FeedGen.vocabulary(ParquetOut.readStrings(wordsPath, "word")))
  private var merges: Option[Seq[(String, String)]] = None
  private var batch = 0L
  private var offeredBytes = 0L
  private var lastParse = 0.0
  private var lastKept = 0.0

  private def batchDir(b: Long) = s"$work/inputs/batch$b"
  private def stateDir = s"$work/feed"

  def prepareFirst(): Unit = {
    gen.writeBatch(0L, batchDir(0L))
    offeredBytes = Workload.bytesUnder(batchDir(0L))
  }

  def prepareNext(): Unit = {
    batch += 1
    gen.writeBatch(batch, batchDir(batch))
    offeredBytes += Workload.bytesUnder(batchDir(batch))
  }

  def yaml: String =
    s"""feed:
       |  source: {format: parquet, path: "$work/inputs"}
       |  state_directory: "$stateDir"
       |  tokenize: {merges_path: "$mergesPath"}
       |  quality_filter: {min_words: $minWords}
       |  sequence_length: 256
       |""".stripMargin

  def run(spark: SparkSession, tr: Tracer): Unit = {
    val (cfg, parse) = Workload.timed(
      tr.span("config.ConfigLoader.feedFromYamlString")(ConfigLoader.feedFromYamlString(yaml)))
    lastParse = parse
    val m = merges.getOrElse(tr.span("ops.Tokenize.loadMerges")(
      Tokenize.loadMerges(spark.read.parquet(cfg.mergesPath))))
    merges = Some(m)
    val docs = spark.read.parquet(batchDir(batch))
    tr.span("ops.CuratedFeed.curatedAppend")(CuratedFeed.curatedAppend(docs, batch,
      cfg.stateDirectory, m, cfg.sequenceLength, cfg.shards, cfg.idColumn, cfg.textColumn,
      cfg.minWords.toInt, cfg.maxWords.min(Int.MaxValue.toLong).toInt, cfg.specials,
      Some(cfg.boundary), cfg.buckets, cfg.maxBatchParts, writeLedger = cfg.ledger))
  }

  def check(spark: SparkSession): Option[String] = {
    val t = gen.truth(batch)
    val ledger = CuratedFeed.ledger(spark, stateDir).filter(col("batch") === batch)
      .select("rows_in", "quality_kept", "novel_docs").collect()
    val corpus = CuratedFeed.corpus(spark, stateDir).count()
    val corpusTruth = (0L to batch).map(gen.truth(_).novel).sum
    val wrong = ledger match {
      case Array(r) =>
        lastKept = r.getLong(2).toDouble / r.getLong(0)
        Seq("ledger rows_in" -> (r.getLong(0), t.rowsIn),
          "ledger quality_kept" -> (r.getLong(1), t.qualityKept),
          "ledger novel_docs" -> (r.getLong(2), t.novel),
          "corpus documents" -> (corpus, corpusTruth))
          .collect { case (what, (g, e)) if g != e => s"$what: got $g, expected $e" }
      case rows => Seq(s"${rows.length} ledger rows for the batch, expected 1")
    }
    if (wrong.isEmpty) None else Some(s"batch $batch: ${wrong.mkString("; ")}")
  }

  def rowsOffered: Long = batchSize
  def parseSeconds: Double = lastParse
  def trees: Seq[String] = Seq(stateDir)
  def inputBytes: Long = offeredBytes
  override def keptFrac: Double = lastKept
  override def finishOp(): Unit = if (batch > 0) Workload.deleteTree(batchDir(batch))
}
