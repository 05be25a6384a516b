package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Curation, CuratedFeed, IncrementalAgg, SequenceFeed, Tokenize}

/** The composed continuous curated loader feed (ops/CuratedFeed.scala):
  * per-batch quality → redact → persistent dedup → encode → sequence
  * cut, two stores, every crash interleaving healed on re-delivery. */
class CuratedFeedSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def freshStateDir(): String =
    java.nio.file.Files.createTempDirectory("graft_cf").toString

  private def viaParquet(df: DataFrame): DataFrame = {
    val p = java.nio.file.Files.createTempDirectory("graft_cfin").toString
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  private lazy val merges = Tokenize.loadMerges(spark.read
    .parquet("src/test/resources/bpe_bytes_merges.parquet"))

  /** A corpus exercising every stage: too-short docs (quality-dropped),
    * an exact duplicate pair within one batch, an exact duplicate pair
    * across batches, and a pair differing ONLY in PII (identical after
    * masking — mask-before-fingerprint must collapse them). Batch =
    * id % 3, delivered in order. */
  private def corpus(): Seq[(Long, String)] = {
    val words = Seq("scan", "merge", "window", "join", "filter", "sort",
      "group", "limit", "union", "range")
    val base = (0L until 36L).map { i =>
      val n = 3 + (i % 6).toInt // 3..8 words, all pass the [3,10] gate
      (i, (0 until n).map(k => words(((i + k) % 10).toInt)).mkString(" "))
    }
    base ++ Seq(
      (100L, "scan"),                       // 1 word: quality-dropped
      (101L, base(5)._2),                   // dup of id 5: 101%3 == 5%3 == 2 (within-batch)
      (102L, base(7)._2),                   // dup of id 7 (b=1): 102%3 == 0 — the COPY wins (earlier batch)
      (103L, "alpha beta mail bob@example.com gamma"),
      (106L, "alpha beta mail eve@other.org gamma")) // masks to 103's text; 106%3==1 > 103%3==0
  }

  /** Independent expected-side replay in plain Scala: quality bounds,
    * Java-regex masking, first occurrence by (batch, id) per masked
    * fingerprint, then the per-shard token-stream cut. */
  private def expectedSequences(seqLen: Int, nShards: Int)
      : Seq[(Long, Long, Seq[Int])] = {
    val all = corpus()
    val norm = (s: String) => s.toLowerCase.replaceAll("\\s+", " ").trim
    val qual = all.filter { case (_, t) =>
      val n = norm(t).split(" ").length
      n >= 3 && n <= 10
    }
    val masked = qual.map { case (id, t) =>
      (id, t.replaceAll(Curation.EmailRe, "<EMAIL>")
        .replaceAll(Curation.Ipv4Re, "<IP>"))
    }
    val surv = masked.groupBy { case (_, t) => norm(t) }.values.map { g =>
      g.minBy { case (id, _) => (id % 3, id) }
    }.toSeq
    // shared encode machinery (the encode itself is fixture-pinned
    // elsewhere); the spec pins the COMPOSITION and the cut
    val enc = Tokenize.bpeEncodeIds(
        viaParquet(surv.toDF("doc_id", "text")), "doc_id", "text", merges,
        specials = Seq("<|endoftext|>"), boundary = Some("<|endoftext|>"))
      .select(col("id"), col("token_ids"), xxhash64(col("id")).as("h"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Int]](1).toArray,
        r.getLong(2)))
    val ordered = enc.sortBy { case (id, _, h) => (id % 3, h, id) }
    (0L until nShards.toLong).flatMap { s =>
      val stream = ordered
        .filter { case (_, _, h) => ((h % nShards) + nShards) % nShards == s }
        .flatMap(_._2)
      stream.grouped(seqLen).zipWithIndex.collect {
        case (chunk, k) if chunk.length == seqLen =>
          (s, k.toLong, chunk.toSeq)
      }
    }
  }

  private def snap(stateDir: String): Seq[(Long, Long, Seq[Int])] =
    CuratedFeed.sequences(spark, stateDir)
      .select("shard", "seq_id", "token_ids")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[scala.collection.Seq[Int]](2).toSeq))
      .sortBy(t => (t._1, t._2)).toSeq

  private def runBatches(stateDir: String, upTo: Long = 2L,
      maxBatchParts: Int = 16): DataFrame = {
    val all = viaParquet(corpus().toDF("doc_id", "text"))
    for (b <- 0L to upTo)
      CuratedFeed.curatedAppend(
        all.filter(pmod(col("doc_id"), lit(3L)) === b), b, stateDir,
        merges, seqLen = 16, nShards = 4, minWords = 3, maxWords = 10,
        maxBatchParts = maxBatchParts)
    all
  }

  test("curatedAppend: three batches == the one-shot composition " +
      "(quality, mask-before-fingerprint, first occurrence across " +
      "batches, batch-prefixed cut); the corpus view serves survivors") {
    val stateDir = freshStateDir()
    runBatches(stateDir)
    val got = snap(stateDir)
    val want = expectedSequences(16, 4).sortBy(t => (t._1, t._2))
    assert(got == want)
    assert(got.nonEmpty)
    // the deduped corpus: quality-dropped and duplicate ids are gone,
    // the PII pair collapsed to its first occurrence (103), and the
    // earlier-batch copy 102 beat the original 7
    val ids = CuratedFeed.corpus(spark, stateDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(100L) && !ids.contains(101L) && !ids.contains(106L))
    assert(ids.contains(102L) && !ids.contains(7L))
    assert(ids.contains(103L))
    // the masked text is what the store holds — raw PII never persists
    val t103 = CuratedFeed.corpus(spark, stateDir)
      .filter(col("doc_id") === 103L).select("text").head().getString(0)
    assert(t103 == "alpha beta mail <EMAIL> gamma")
  }

  test("curatedAppend: a batch delivered as several input partitions or " +
      "as one gives identical ledger rows, corpus and sequence rows") {
    val layouts = Seq(5, 1).map { parts =>
      val stateDir = freshStateDir()
      val all = viaParquet(corpus().toDF("doc_id", "text").repartition(parts))
      val nParts = all.rdd.getNumPartitions
      for (b <- 0L to 2L)
        CuratedFeed.curatedAppend(
          all.filter(pmod(col("doc_id"), lit(3L)) === b), b, stateDir,
          merges, seqLen = 16, nShards = 4, minWords = 3, maxWords = 10)
      val ledger = CuratedFeed.ledger(spark, stateDir).collect().toSeq
      val docs = CuratedFeed.corpus(spark, stateDir).collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      val seqs = CuratedFeed.sequences(spark, stateDir)
        .select("shard", "seq_id", "n_tokens", "n_docs", "first_doc",
          "last_doc", "token_ids", "ids_sum")
        .collect().map(_.toSeq.map {
          case a: scala.collection.Seq[_] => a.toSeq
          case v => v
        }).sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
        .toSeq
      (nParts, ledger, docs, seqs)
    }
    val Seq((manyParts, ledgerM, docsM, seqsM),
      (oneParts, ledgerO, docsO, seqsO)) = layouts
    assert(manyParts > 1 && oneParts == 1,
      s"input partitions: $manyParts and $oneParts")
    assert(ledgerM.length == 3)
    assert(ledgerM == ledgerO)
    assert(docsM.nonEmpty && docsM == docsO)
    assert(seqsM.nonEmpty && seqsM == seqsO)
  }

  test("job budget: one steady-state curatedAppend batch launches at " +
      "most the pinned number of Spark jobs") {
    val stateDir = freshStateDir()
    val all = runBatches(stateDir, upTo = 1L)
    val jobs = jobsLaunchedBy {
      CuratedFeed.curatedAppend(
        all.filter(pmod(col("doc_id"), lit(3L)) === 2L), 2L, stateDir,
        merges, seqLen = 16, nShards = 4, minWords = 3, maxWords = 10)
    }
    // 19 = the one curation pass (its round-robin exchange and the
    // materialization), the touched-bucket set, the novelty checkpoint,
    // the encode + cut + carry, the two store writes and the ledger
    // write, with adaptive execution running each exchange as its own
    // job. Pinned so a stage that starts rescanning the batch, or a
    // store read that starts inferring its schema, shows here
    assert(jobs <= 19, s"$jobs jobs for one steady-state batch")
  }

  test("curatedAppend replay: re-delivering an already-processed batch " +
      "leaves both stores byte-identical (at-least-once safe)") {
    val stateDir = freshStateDir()
    val all = runBatches(stateDir)
    val seqsBefore = snap(stateDir)
    val corpusBefore = CuratedFeed.corpus(spark, stateDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    CuratedFeed.curatedAppend(
      all.filter(pmod(col("doc_id"), lit(3L)) === 1L), 1L, stateDir,
      merges, seqLen = 16, nShards = 4, minWords = 3, maxWords = 10)
    assert(snap(stateDir) == seqsBefore)
    assert(CuratedFeed.corpus(spark, stateDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      .toSeq == corpusBefore)
  }

  test("crash between the two appends heals: the seen store has the " +
      "batch, the feed does not — re-delivery re-derives identical " +
      "survivors and completes the feed") {
    val crashed = freshStateDir()
    val clean = freshStateDir()
    val all = runBatches(crashed, upTo = 1L)
    // simulate the crash window for batch 2: only the seen append lands
    val masked = Curation.redactPii(
        all.filter(pmod(col("doc_id"), lit(3L)) === 2L).filter(
          size(split(graft.ops.TextAnalysis.normalized(col("text")), " "))
            .between(3, 10)), "text")
      .withColumn("text", col("redacted"))
      .select(col("doc_id"), col("text"))
      .withColumn("__fp", graft.ops.TextAnalysis.fingerprint(col("text")))
    Curation.seenAppend(masked, 2L, CuratedFeed.seenDir(crashed),
      "__fp", "doc_id")
    assert(SequenceFeed.lastBatch(spark, CuratedFeed.feedDir(crashed)) == 1L)
    // re-delivery completes the composition
    CuratedFeed.curatedAppend(
      all.filter(pmod(col("doc_id"), lit(3L)) === 2L), 2L, crashed,
      merges, seqLen = 16, nShards = 4, minWords = 3, maxWords = 10)
    runBatches(clean)
    assert(snap(crashed) == snap(clean))
  }

  test("a batch-id GAP throws BEFORE either store is touched — the seen " +
      "history cannot absorb out-of-order batches") {
    val stateDir = freshStateDir()
    val all = runBatches(stateDir, upTo = 0L)
    val ex = intercept[IllegalArgumentException] {
      CuratedFeed.curatedAppend(
        all.filter(pmod(col("doc_id"), lit(3L)) === 2L), 2L, stateDir,
        merges, seqLen = 16, nShards = 4, minWords = 3, maxWords = 10)
    }
    assert(ex.getMessage.contains("GAP"))
    assert(IncrementalAgg.maxStoredBatch(spark,
      CuratedFeed.seenDir(stateDir)) == 0L)
  }

  test("an EXTERNAL seen-store compaction that fences an un-fed batch " +
      "fails loudly on re-delivery instead of feeding sequences it " +
      "cannot re-derive") {
    val stateDir = freshStateDir()
    val all = runBatches(stateDir, upTo = 1L)
    // batch 2's seen append lands, the feed append doesn't (the crash
    // window) — then someone compacts the seen store externally
    val masked = all.filter(pmod(col("doc_id"), lit(3L)) === 2L)
      .filter(size(split(
        graft.ops.TextAnalysis.normalized(col("text")), " ")).between(3, 10))
      .select(col("doc_id"), col("text"))
      .withColumn("__fp", graft.ops.TextAnalysis.fingerprint(col("text")))
    Curation.seenAppend(masked, 2L, CuratedFeed.seenDir(stateDir),
      "__fp", "doc_id")
    Curation.compactSeenStore(spark, CuratedFeed.seenDir(stateDir))
    val ex = intercept[IllegalStateException] {
      CuratedFeed.curatedAppend(
        all.filter(pmod(col("doc_id"), lit(3L)) === 2L), 2L, stateDir,
        merges, seqLen = 16, nShards = 4, minWords = 3, maxWords = 10)
    }
    assert(ex.getMessage.contains("fresh stateDir"))
  }

  test("head-of-batch compaction: a tight maxBatchParts folds ONLY " +
      "below the current batch and the composition stays correct") {
    val tight = freshStateDir()
    val loose = freshStateDir()
    runBatches(tight, maxBatchParts = 1)
    runBatches(loose)
    assert(snap(tight) == snap(loose))
    // the fold really ran: at most one un-folded batch partition remains
    // plus the base (head-of-batch folding covers everything below the
    // last batch)
    val p = new org.apache.hadoop.fs.Path(
      s"${CuratedFeed.seenDir(tight)}/agg")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p).map(_.getPath.getName)
      .count(n => n.startsWith("__batch=") && n != "__batch=-1")
    assert(parts <= 1, s"expected the fold to have run, found $parts parts")
  }

  test("composed fence ownership: a reset checkpoint over kept curated " +
      "state throws (curated state cannot be rebased)") {
    val stateDir = freshStateDir()
    val dir = java.nio.file.Paths.get(stateDir, "checkpoint")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("metadata"),
      """{"id":"query-A"}""")
    val all = viaParquet(corpus().toDF("doc_id", "text"))
    CuratedFeed.curatedAppend(
      all.filter(pmod(col("doc_id"), lit(3L)) === 0L), 0L, stateDir,
      merges, seqLen = 16, nShards = 4, minWords = 3, maxWords = 10)
    java.nio.file.Files.writeString(dir.resolve("metadata"),
      """{"id":"query-B"}""")
    val ex = intercept[IllegalStateException] {
      CuratedFeed.curatedAppend(
        all.filter(pmod(col("doc_id"), lit(3L)) === 0L), 0L, stateDir,
        merges, seqLen = 16, nShards = 4, minWords = 3, maxWords = 10)
    }
    assert(ex.getMessage.contains("fresh stateDir"))
  }

  test("maintainCuratedFeed: the streaming wrapper drives the same " +
      "composition through foreachBatch") {
    val streamed = freshStateDir()
    val direct = freshStateDir()
    val src = java.nio.file.Files.createTempDirectory("cfsrc").toString
    corpus().toDF("doc_id", "text").write.mode("overwrite").parquet(src)
    val stream = graft.streaming.StreamingOps.readEvents(spark, src)
    val q = graft.streaming.StreamingOps.withShufflePartitions(spark, 4) {
      graft.streaming.StreamingOps.maintainCuratedFeed(stream, streamed,
        merges, seqLen = 16, nShards = 4, minWords = 3, maxWords = 10)
    }
    try q.processAllAvailable() finally q.stop()
    // a one-batch stream == a one-batch direct call over everything
    CuratedFeed.curatedAppend(viaParquet(corpus().toDF("doc_id", "text")),
      0L, direct, merges, seqLen = 16, nShards = 4,
      minWords = 3, maxWords = 10)
    assert(snap(streamed) == snap(direct))
    assert(snap(streamed).nonEmpty)
  }
}
