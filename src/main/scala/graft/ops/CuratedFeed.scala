package graft.ops

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** CONTINUOUS CURATED LOADER FEED — the streaming twin of the whole
  * declarative pipeline ([[graft.core.PipelineJob]]): each arriving
  * batch of raw documents runs the curation chain
  *
  *   quality filter → PII redaction → persistent first-occurrence
  *   dedup → byte-BPE encode (boundary-tokened) → incremental
  *   fixed-length sequence cut
  *
  * so at any point the feed's sequence store holds training-ready
  * samples of exactly the curated, DEDUPLICATED corpus that has
  * arrived — ingestion, curation and sequence construction as one
  * continuous process that training consumes behind
  * ([[sequences]] / [[SequenceFeed.sequencesFromStore]]), and the
  * deduped document corpus itself stays queryable mid-stream
  * ([[corpus]] / [[Curation.seenRows]]). Published-practice stage
  * order (C4 / Gopher / RefinedWeb-style web curation): filters first,
  * PII masked before any fingerprint or tokenizer sees the text,
  * dedup on the masked form.
  *
  * Two persistent stores under one `stateDir`:
  *  - `{stateDir}/seen` — the [[Curation.seenAppend]] append store:
  *    the first occurrence of every text fingerprint across the
  *    stream's history (the deduped corpus).
  *  - `{stateDir}/feed` — the [[SequenceFeed]] store + carry: the cut
  *    sequences and each shard's in-flight tail.
  *
  * Composed-crash discipline (the reason this is an operator, not a
  * recipe): the two appends of one batch are not atomic, so every
  * interleaving of a crash must heal on re-delivery —
  *  - the seen append lands, the feed append doesn't: the replay
  *    re-derives byte-identical survivors (the seen partial excludes
  *    its OWN batch partitions from the history read and nothing later
  *    has run), overwrites its `__batch` partition idempotently and
  *    completes the feed;
  *  - both land, the checkpoint commit doesn't: the seen append
  *    replays idempotently and the feed's own replay machinery
  *    recomputes from the retained carry — byte-identical rows;
  *  - seen-store compaction therefore runs ONLY at the head of a batch
  *    and only when the store holds no partition at or above it
  *    ([[IncrementalAgg.maxStoredBatch]] guard): folding the current
  *    batch's own crashed partitions would fence its replay before the
  *    feed has its rows — the one interleaving that cannot heal. If an
  *    EXTERNAL compaction manufactures that state anyway, the batch
  *    fails loudly instead of feeding sequences it cannot re-derive.
  *
  * Inherited disciplines: single-writer lease around every store
  * mutation; batch ids must arrive IN SEQUENCE (checked here BEFORE
  * the seen store is touched — a gap folded into the seen history
  * would mis-attribute first occurrences across the gap, so it throws
  * up front, not at the feed); ownership — the co-located streaming
  * checkpoint's query uuid is adopted on first append and a mismatch
  * (reset checkpoint over kept state) throws: like the raw sequence
  * feed, arrival order IS sample identity, so curated state cannot be
  * rebased — start a fresh `stateDir`.
  *
  * Scale shape (per batch, at any corpus size): the curation stages
  * are one expression pass over the batch, spread round-robin over the
  * session's task slots (one extra batch-sized exchange) and
  * materialized once — the novelty check, the survivors and the ledger
  * all read that materialization, and the ledger's input counts are
  * observed on the pass itself; the novelty check reads only the
  * seen-store partitions the batch's fingerprints hash into; the
  * encode is one narrow mapPartitions pass over survivors; the cut is
  * one shard-keyed exchange of the batch plus a constant-memory sweep.
  * Nothing re-reads the corpus or the raw batch.
  */
object CuratedFeed {

  /** The persistent seen-set (deduped corpus) store. */
  def seenDir(stateDir: String): String = s"$stateDir/seen"

  /** The sequence feed store + carry. */
  def feedDir(stateDir: String): String = s"$stateDir/feed"

  private def ownerPath(stateDir: String) = s"$stateDir/curated_owner"
  private def recipePath(stateDir: String) = s"$stateDir/curated_recipe"
  // no '=' in the dir name: the reader lists these as plain subdirs,
  // not partition discovery (batch rides as a data column)
  private def ledgerPath(stateDir: String, batchId: Long) =
    s"$stateDir/ledger/b$batchId"

  /** Injective digest of a string list (length-prefixed UTF-8 — no
    * separator collisions). */
  private def md5Of(parts: Seq[String]): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    parts.foreach { s =>
      val b = s.getBytes("UTF-8")
      d.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      d.update(b)
    }
    d.digest().map("%02x".format(_)).mkString
  }

  /** Order-independent content digest of the benchmark frame's text —
    * one benchmark-sized scan (benchmark sets are metadata-sized by
    * nature). */
  private def benchDigest(bench: DataFrame, textCol: String): String = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    bench.agg(coalesce(
      sum(xxhash64(col(textCol)).cast(dec)), lit(0).cast(dec))
      .cast("string")).head().getString(0)
  }

  /** The feed's CURATION RECIPE, one readable line: every parameter a
    * replay re-derives survivors and cuts from. Two batches of one feed
    * must agree on all of it or healing-by-redelivery silently produces
    * DIFFERENT rows (a changed merge table mixes vocabularies in one
    * sequence store; changed word bounds or a changed benchmark
    * re-attribute first occurrences on replay; a changed bucket count
    * breaks the seen store's novelty lookups). */
  private def recipeLine(merges: Seq[(String, String)], seqLen: Int,
      nShards: Int, minWords: Int, maxWords: Int, specials: Seq[String],
      boundary: Option[String], nBuckets: Int,
      bench: Option[(String, Int)]): String = {
    val mergesSig = md5Of(merges.flatMap(p => Seq(p._1, p._2)))
    val tokSig = md5Of(specials ++ Seq(boundary.getOrElse("")))
    val benchPart = bench
      .map { case (digest, n) => s"digest=$digest,ngram=$n" }
      .getOrElse("none")
    s"v1;seqLen=$seqLen;shards=$nShards;minWords=$minWords;" +
      s"maxWords=$maxWords;buckets=$nBuckets;merges=$mergesSig;" +
      s"tok=$tokSig;bench=$benchPart"
  }

  /** Run one batch of raw documents through the full curation chain
    * into the two stores. `minWords`/`maxWords` bound the word count of
    * the normalized text (the Gopher word-count gate's shape — compose
    * [[TextAnalysis.gopherRules]] upstream for the full rule set);
    * redaction is [[Curation.redactPii]]; dedup keys on
    * [[TextAnalysis.fingerprint]] of the MASKED text with within-batch
    * ties kept at the min id. `benchmark` (with the same idCol/textCol)
    * turns on n-gram decontamination ([[Curation.contamination]],
    * `decontaminateNgram`-shingles) BEFORE the persistent dedup — the
    * seen store doubles as the corpus, so contaminated documents never
    * persist; the two stages commute exactly (contamination is a pure
    * function of the masked text, and fingerprint-equal docs are
    * contamination-equal), so the final corpus matches the
    * dedup-then-decontaminate order too. Survivors encode with
    * `specials` / `boundary` (the sequences contract requires the
    * boundary) and cut into `seqLen`-token rows across `nShards` hash
    * shards.
    *
    * The full CURATION RECIPE (word bounds, merge table, specials,
    * boundary, benchmark content, shard/bucket geometry, seqLen) is
    * pinned on first append: replays heal by re-deriving byte-identical
    * survivors, which only holds if every delivery of one feed runs the
    * same recipe, so a drifted parameter throws instead of silently
    * corrupting the stores. Recipe evolution = a fresh stateDir. */
  def curatedAppend(docs: DataFrame, batchId: Long, stateDir: String,
      merges: Seq[(String, String)], seqLen: Int, nShards: Int = 8,
      idCol: String = "doc_id", textCol: String = "text",
      minWords: Int = 1, maxWords: Int = Int.MaxValue,
      specials: Seq[String] = Seq("<|endoftext|>"),
      boundary: Option[String] = Some("<|endoftext|>"),
      nBuckets: Int = 256, maxBatchParts: Int = 16,
      benchmark: Option[DataFrame] = None,
      decontaminateNgram: Int = 8,
      writeLedger: Boolean = true): Unit = {
    require(minWords >= 1 && maxWords >= minWords,
      "word-count bounds must satisfy 1 <= minWords <= maxWords")
    require(boundary.nonEmpty,
      "the sequence cut needs a boundary token to mark document ends " +
        "(the Chunking.fixedSequences contract)")
    require(decontaminateNgram >= 1, "decontaminateNgram must be >= 1")
    val spark = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recipe pin: every delivery of one feed must run the same curation
    // recipe or replay healing silently diverges (see recipeLine)
    val recipe = recipeLine(merges, seqLen, nShards, minWords, maxWords,
      specials, boundary, nBuckets,
      benchmark.map(b => (benchDigest(b, textCol), decontaminateNgram)))
    IncrementalAgg.readMarker(fs, recipePath(stateDir)) match {
      case Some(prev) if prev != recipe =>
        throw new IllegalArgumentException(
          s"curated feed at $stateDir was built with recipe\n  $prev\n" +
            s"but this batch declares\n  $recipe\n— a feed's curation " +
            "recipe is immutable for its lifetime (replays re-derive " +
            "survivors from it). Restore the original parameters or " +
            "start a fresh stateDir.")
      case None =>
        IncrementalAgg.writeMarker(fs, recipePath(stateDir), recipe)
      case _ => ()
    }
    // ownership at the COMPOSED level (both stores sit behind it): a
    // reset checkpoint restarts batch ids, which over curated state is
    // unrecoverable in place — sample identity is arrival order
    IncrementalAgg.streamIdentity(fs, stateDir).foreach { sid =>
      IncrementalAgg.readMarker(fs, ownerPath(stateDir)) match {
        case Some(owner) if owner != sid =>
          throw new IllegalStateException(
            s"curated feed at $stateDir was built by streaming query " +
              s"$owner but this batch comes from query $sid — the " +
              "checkpoint was reset while the state was kept. Batch ids " +
              "are not comparable across query lifetimes and sample " +
              "identity is arrival order, so the feed cannot be " +
              "rebased; start a fresh stateDir (both stores remain " +
              "readable).")
        case None =>
          IncrementalAgg.writeMarker(fs, ownerPath(stateDir), sid)
        case _ => ()
      }
    }
    // in-sequence check BEFORE any mutation: a gap folded into the seen
    // history would dedup the gap batch's later re-delivery against
    // rows that arrived "after" it — permanently mis-attributed first
    // occurrences. The feed has the same rule; enforcing it here keeps
    // the two stores in lockstep.
    val last = SequenceFeed.lastBatch(spark, feedDir(stateDir))
    require(batchId <= last + 1,
      s"batch $batchId arrived over a curated feed at batch $last — a " +
        "GAP in an order-dependent feed loses stream content; deliver " +
        s"batch ${last + 1} first")
    // THE CURATION PASS, computed once per batch: quality gate → PII
    // mask → fingerprint (→ decontamination), spread round-robin over
    // the session's task slots first (a batch arriving as one file
    // would otherwise run every regex on one core) and eagerly
    // materialized. The novelty check, the survivors and the ledger all
    // read that materialization; the ledger's rows_in / quality_kept
    // are observed on the same pass instead of rescanning the batch.
    val nWords = size(split(TextAnalysis.normalized(col(textCol)), " "))
    val funnel = Observation()
    val qualified = docs
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("__q", nWords.between(minWords, maxWords))
      .observe(funnel, count(lit(1)).as("rows_in"),
        count_if(col("__q")).as("quality_kept"))
      .filter(col("__q"))
    // mask BEFORE the fingerprint or tokenizer touches the text —
    // nothing downstream (either store included) ever sees raw PII
    val masked = Curation.redactPii(qualified, textCol)
      .withColumn(textCol, col("redacted"))
      .select(col(idCol), col(textCol))
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
    // decontaminate on the MASKED text, before anything persists: the
    // benchmark shingle set is deduped + broadcast inside contamination
    // (see the scaladoc for why this commutes with the first-occurrence
    // dedup below)
    val cleared = (benchmark match {
      case Some(bench) =>
        val hits = Curation.contamination(masked, bench, idCol, textCol,
            decontaminateNgram)
          .filter(col("contaminated") === 1L)
          .select(col("id").as(idCol))
        masked.join(hits, Seq(idCol), "left_anti")
      case None => masked
    }).localCheckpoint(true)
    // head-of-batch compaction only, guarded below the current batch
    // (see the object scaladoc for why mid-batch folding cannot heal)
    if (maxBatchParts > 0 &&
        IncrementalAgg.maxStoredBatch(spark, seenDir(stateDir)) < batchId)
      Curation.maybeCompactSeenStore(spark, seenDir(stateDir), maxBatchParts)
    val survivors = Curation.seenAppendReturning(cleared, batchId,
        seenDir(stateDir), "__fp", idCol, nBuckets)
      .getOrElse(throw new IllegalStateException(
        s"batch $batchId hit the seen store's replay fence before its " +
          "sequences landed — its survivors were folded into the base " +
          "and can no longer be re-derived for the feed. This state " +
          "only arises from an EXTERNAL compaction of the seen store " +
          "between the two appends (curatedAppend itself folds only " +
          "below the current batch); recover from a fresh stateDir."))
    val enc = Tokenize.bpeEncodeIds(survivors, idCol, textCol, merges,
        specials = specials, boundary = boundary)
      .select(col("id"), col("token_ids"))
      .withColumn("h", xxhash64(col("id")))
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)))
    val carryTotals = SequenceFeed.sequencesAppend(enc, batchId,
      feedDir(stateDir), "shard", "h", "id", "token_ids", seqLen)
    // the ingestion LEDGER: one row per batch accounting the curation
    // funnel — rows in, past the quality gate, past decontamination,
    // novel (first occurrences), sequences cut. First delivery wins
    // (counts are deterministic, and a replay of a batch whose store
    // partition was since folded would see 0 cut rows); written AFTER
    // both stores so a crash re-derives it with the batch. Every count
    // is already paid for: rows_in / quality_kept were observed on the
    // curation pass, decontaminated_kept counts the materialized slice,
    // novel counts the materialized survivors and the cut total is
    // carry-diffed (metadata-priced) — `writeLedger = false` opts out.
    if (writeLedger) {
      val lp = new org.apache.hadoop.fs.Path(ledgerPath(stateDir, batchId))
      if (!fs.exists(lp)) {
        import spark.implicits._
        val observed = funnel.get
        val rowsIn = observed("rows_in").asInstanceOf[Long]
        val qualityKept = observed("quality_kept").asInstanceOf[Long]
        val clearedKept =
          if (benchmark.isDefined) cleared.count() else qualityKept
        val novel = survivors.count()
        val fd = feedDir(stateDir)
        // the append already returned both carry totals (driver-side);
        // only a fenced replay (None) re-reads the two carry files
        val cut = carryTotals
          .map { case (prevTotal, newTotal) => newTotal - prevTotal }
          .getOrElse(SequenceFeed.carrySeqTotal(spark, fd, batchId) -
            SequenceFeed.carrySeqTotal(spark, fd, batchId - 1))
        Seq((batchId, rowsIn, qualityKept, clearedKept, novel, cut))
          .toDF("batch", "rows_in", "quality_kept", "decontaminated_kept",
            "novel_docs", "sequences_cut")
          .coalesce(1).write.parquet(lp.toString)
      }
    }
    // the feed fold is safe any time AFTER its own append: it only
    // covers batches whose carry landed (compactFeedStore's guarantee)
    if (maxBatchParts > 0)
      SequenceFeed.maybeCompactFeedStore(spark, feedDir(stateDir),
        maxBatchParts)
  }

  /** The training-ready sequence rows cut so far (the
    * [[Chunking.fixedSequences]] shape, complete rows only). */
  def sequences(spark: SparkSession, stateDir: String): DataFrame =
    SequenceFeed.sequencesFromStore(spark, feedDir(stateDir))

  /** The curated, deduplicated document corpus so far: (idCol, textCol)
    * of every survivor, masked text. Store-sized work. */
  def corpus(spark: SparkSession, stateDir: String): DataFrame =
    Curation.seenRows(spark, seenDir(stateDir)).drop("__fp")

  /** [[SequenceFeed.auditStore]] over this feed's sequence store —
    * per-shard health counters, all-zero violations when intact. */
  def audit(spark: SparkSession, stateDir: String, seqLen: Int): DataFrame =
    SequenceFeed.auditStore(spark, feedDir(stateDir), seqLen)

  /** The INGESTION LEDGER: one row per delivered batch accounting the
    * curation funnel — (batch, rows_in, quality_kept,
    * decontaminated_kept, novel_docs, sequences_cut). What an operator
    * trends to see the corpus's intake health ("why did Tuesday's crawl
    * yield nothing?"); batches-sized, never corpus-sized. Empty before
    * the first delivery (or when appends ran `writeLedger = false`). */
  def ledger(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(s"$stateDir/ledger")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      Seq.empty[(Long, Long, Long, Long, Long, Long)]
        .toDF("batch", "rows_in", "quality_kept", "decontaminated_kept",
          "novel_docs", "sequences_cut")
    else
      spark.read.option("recursiveFileLookup", "true")
        .parquet(p.toString).orderBy("batch")
  }

  /** [[SequenceFeed.describe]] over this feed's sequence store, plus
    * the curated surface's own markers: recipe (the pinned parameter
    * line; null before the first append) and seen_batches (the seen
    * store's highest batch id, -1 when empty). */
  def describe(spark: SparkSession, stateDir: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SequenceFeed.describe(spark, feedDir(stateDir))
      .withColumn("recipe",
        lit(IncrementalAgg.readMarker(fs, recipePath(stateDir)).orNull))
      .withColumn("seen_batches",
        lit(IncrementalAgg.maxStoredBatch(spark, seenDir(stateDir))))
  }

  /** [[SequenceFeed.publishSnapshot]] over this feed: freeze the
    * training row set as of the last delivered batch. */
  def publishSnapshot(spark: SparkSession, stateDir: String): Long =
    SequenceFeed.publishSnapshot(spark, feedDir(stateDir))

  /** [[SequenceFeed.readSnapshot]] over this feed. */
  def readSnapshot(spark: SparkSession, stateDir: String,
      snapId: Long): DataFrame =
    SequenceFeed.readSnapshot(spark, feedDir(stateDir), snapId)

  /** [[SequenceFeed.listSnapshots]] over this feed. */
  def listSnapshots(spark: SparkSession, stateDir: String): Seq[Long] =
    SequenceFeed.listSnapshots(spark, feedDir(stateDir))
}
