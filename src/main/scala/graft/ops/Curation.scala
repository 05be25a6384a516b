package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.TextAnalysis.normalized
import graft.state.StateStore

/** Corpus-curation operators a training-data pipeline runs before
  * training: benchmark decontamination and PII redaction.
  *
  * Scale shapes: decontamination is shingle-explode + a BROADCAST join
  * against the (small) benchmark shingle set — the corpus is scanned once
  * and never shuffled on content; redaction is a pure per-row expression
  * chain (regexp_extract_all / regexp_replace), codegen'd in the scan.
  */
object Curation {

  /** Benchmark contamination check (the n-gram-overlap decontamination
    * shape): for every document, how many of its distinct word `n`-gram
    * shingles also occur in the benchmark corpus. `bench` and `docs` both
    * carry (idCol, textCol); benchmark shingles are deduped and broadcast.
    * Documents with no shingles (empty text) produce no row. Output:
    * (id, n_shingles, n_shared, contaminated 0/1). */
  def contamination(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    val shingleUdf = udf { (text: String) =>
      if (text == null) Array.empty[Long] else Dedup.shingleHashes(text, n)
    }
    def shingles(df: DataFrame) = df.select(col(idCol).as("id"),
      explode(array_distinct(shingleUdf(normalized(col(textCol))))).as("sh"))
    val benchSet = shingles(bench).select("sh").distinct()
      .withColumn("__hit", lit(1L))
    shingles(docs)
      .join(broadcast(benchSet), Seq("sh"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_shared"))
      .withColumn("contaminated",
        when(col("n_shared") > 0, 1L).otherwise(0L))
  }

  /** Per-domain document cap — the "no single domain dominates the
    * corpus" rebalancing step of web-crawl curation: keep at most `cap`
    * documents per domain, picking deterministically by `orderCol`
    * (ascending; unique => stable under reruns). Output adds
    * `domain_rank` (1-based within the domain).
    *
    * Scale: one shuffle on the domain key. The rank filter is rewritten
    * by Catalyst into a WindowGroupLimit (pinned in PlanGuardSpec), so
    * each MAP task pre-prunes to its local top-`cap` per domain before
    * the exchange — a mega-domain with 10^8 pages ships cap rows per
    * upstream partition, not 10^8 rows, and the post-shuffle sort is
    * over the pruned stream. */
  def perDomainCap(docs: DataFrame, domainCol: String, orderCol: String,
      cap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol)).orderBy(col(orderCol))
    docs.withColumn("domain_rank", row_number().over(w))
      .filter(col("domain_rank") <= cap)
  }

  /** Incremental ingest dedup: rows of `batch` whose `fpCol` fingerprint
    * does not already occur in `corpus`. EXACT — the Bloom filter is a
    * pre-filter only, never the decision:
    *
    *  - rows the filter rules out ("definitely not in corpus" — Bloom
    *    filters have no false negatives) pass WITHOUT touching the join;
    *  - only "maybe present" rows (true duplicates + ~fpp false
    *    positives) go through the exact left-anti join for confirmation.
    *
    * Scale: the daily-batch side of the anti-join shrinks from |batch| to
    * |true dups| + fpp·|batch| — for a typical ingest where most rows are
    * new, that is the difference between shuffling the whole batch and
    * shuffling almost nothing. The filter itself is one corpus scan
    * aggregated to ~1.2 bytes/item at fpp=1% (sized by
    * `expectedCorpusRows`), built executor-side and MERGED ON THE DRIVER
    * by `stat.bloomFilter` — at 10^10 corpus rows that merged filter is
    * ~12 GB of driver heap, so above ~10^9 rows use
    * [[incrementalNewIndexed]] over a bucketed fingerprint index, which
    * keeps the result exact with nothing corpus-sized on the driver.
    *
    * Evaluation contract (caller-visible):
    *  - the filter build is an EAGER Spark job at call time (not at the
    *    action), because the filter must exist before the returned plan
    *    can be constructed;
    *  - `batch` appears twice in the returned plan (pre-filtered + maybe
    *    branch). A non-deterministic `batch` source must be cached by the
    *    caller first or the two branches may disagree;
    *  - the broadcast filter lives until the returned frame is garbage
    *    collected; for a long-lived session processing many batches, run
    *    the action, then drop references so the ContextCleaner reclaims
    *    it (the handle is deliberately not exposed — destroying it early
    *    would break re-execution of the returned plan). */
  def incrementalNew(batch: DataFrame, corpus: DataFrame, fpCol: String,
      expectedCorpusRows: Long, fpp: Double = 0.01): DataFrame =
    incrementalNewSliced(batch, corpus, corpus, fpCol, expectedCorpusRows, fpp)

  /** Internal body of [[incrementalNew]]: bloom over `bloomSource`, exact
    * confirm against `corpus`. Only sound when `bloomSource` covers every
    * corpus fingerprint (a bloom over a SUBSET cannot certify "not in
    * corpus" — its fast path would leak old-corpus duplicates), which is
    * why this is not public with a free `bloomSource`. */
  private def incrementalNewSliced(batch: DataFrame, corpus: DataFrame,
      bloomSource: DataFrame, fpCol: String, expectedSliceRows: Long,
      fpp: Double = 0.01): DataFrame = {
    val bloom = bloomSource.stat.bloomFilter(fpCol, expectedSliceRows, fpp)
    val bc = batch.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf { (s: String) => s != null && bc.value.mightContainString(s) }
    val definitelyNew = batch.filter(!mightContain(col(fpCol)))
    val confirmed = batch.filter(mightContain(col(fpCol)))
      .join(corpus.select(col(fpCol)).distinct(), Seq(fpCol), "left_anti")
    definitelyNew.unionByName(confirmed)
  }

  /** One-time build of the static fingerprint index backing
    * [[incrementalNewIndexed]] — the 10^10-row regime's replacement for
    * the driver-resident Bloom filter: `corpus`'s distinct fingerprints,
    * written as a table BUCKETED (and sorted) by fingerprint. The bucket
    * layout is the point: every later anti-join against it co-locates by
    * construction, so the 10^10-row side never shuffles again.
    *
    * IDEMPOTENT by content, the same `StoredArtifacts` discipline as
    * `Similarity.pqIndexWrite` / `Indexing.indexWrite`: a matching
    * (membership + file-witness + params) stamp skips the distinct +
    * write entirely, re-registering a surviving warehouse directory when
    * a fresh session's catalog forgot it (bucket spec restored by DDL —
    * without it the anti-join would silently lose its co-location); a
    * stamp mismatch drops BOTH the table and its orphan directory and
    * rebuilds, and the meta is written LAST so a crashed build can never
    * leave a matching stamp over partial data. For an in-place payload
    * edit under unchanged file names pass `force = true`. */
  def writeFingerprintIndex(corpus: DataFrame, fpCol: String,
      tableName: String, numBuckets: Int = 256,
      force: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    val (nRows, h) = StoredArtifacts.stamp(corpus, fpCol)
    val params = s"fp:buckets=$numBuckets,fp=$fpCol"
    if (!force &&
        StoredArtifacts.metaMatches(spark, s"${tableName}_meta", nRows, h, params)) {
      try {
        StoredArtifacts.register(spark, s"${tableName}_meta")
        StoredArtifacts.register(spark, tableName,
          Some((Seq(fpCol), Seq(fpCol), numBuckets)))
        return // stamp hit: the stored index IS current
      } catch {
        // NonFatal only: an interrupt/OOM must propagate, never be
        // silently converted into a full drop-and-rebuild of the index
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"fingerprint index '$tableName' stamp hit but " +
              s"re-register failed (${e.getClass.getSimpleName}: " +
              s"${e.getMessage}); rebuilding")
      }
    }
    for (t <- Seq(tableName, s"${tableName}_meta"))
      StoredArtifacts.dropAndClean(spark, t)
    corpus.select(col(fpCol)).na.drop().distinct()
      .write.mode("overwrite")
      .bucketBy(numBuckets, fpCol).sortBy(fpCol)
      .saveAsTable(tableName)
    // meta LAST: a crashed build never leaves a matching stamp
    import spark.implicits._
    Seq((nRows, h, params, numBuckets))
      .toDF("stamp_rows", "stamp_hash", "params", "num_buckets").coalesce(1)
      .write.mode("overwrite").saveAsTable(s"${tableName}_meta")
  }

  /** [[incrementalNew]] for the 10^10-row regime, EXACT with O(1) driver
    * memory: anti-join the batch against the pre-bucketed fingerprint
    * index from [[writeFingerprintIndex]]. Because the index side is
    * already hash-partitioned on the fingerprint, the join plans with an
    * Exchange on the BATCH side only (pinned in OpsSpec) — per-ingest
    * cost is O(|batch|) shuffle regardless of corpus size, and nothing
    * corpus-sized ever visits the driver (the Bloom path materializes
    * ~1.2 B/corpus-row on the driver: 12 GB at 10^10 rows; this
    * materializes nothing). Combine with [[incrementalNew]] over the
    * recent slice only if profiling shows the batch shuffle itself is the
    * bottleneck.
    *
    * Survives catalog loss: a fresh session re-points the catalog at the
    * surviving warehouse directories, restoring the bucket spec from the
    * bucket count recorded in `{indexTable}_meta`. NEVER guesses the
    * bucket count — a wrong registered spec would let the planner skip
    * the batch-side hash distribution and silently mis-join — so a
    * missing/unreadable meta fails loudly instead. */
  def incrementalNewIndexed(batch: DataFrame, fpCol: String,
      indexTable: String): DataFrame = {
    val spark = batch.sparkSession
    if (!spark.catalog.tableExists(indexTable)) {
      StoredArtifacts.register(spark, s"${indexTable}_meta")
      val nb = spark.table(s"${indexTable}_meta")
        .select("num_buckets").head().getInt(0)
      StoredArtifacts.register(spark, indexTable,
        Some((Seq(fpCol), Seq(fpCol), nb)))
    }
    batch.join(spark.table(indexTable), Seq(fpCol), "left_anti")
  }

  // ---- persistent seen-set (first-occurrence ingest dedup) -----------

  /** Exactly-once FIRST-OCCURRENCE ingest dedup against the stream's own
    * entire history, store-backed: append one micro-batch's NOVEL rows
    * (first arrival of their `fpCol` fingerprint — across all prior
    * batches AND within this one) to an [[IncrementalAgg.appendFold]]
    * store. The store thus holds the continuously-materialized DEDUPED
    * CORPUS itself ([[seenRows]] reads it at any point), not a sidecar
    * fingerprint list — ingest dedup and corpus materialization are one
    * write.
    *
    * This closes the gap between the two existing ingest-dedup shapes:
    * [[incrementalNew]]/[[incrementalNewIndexed]] dedup against a STATIC
    * corpus (the batch's own survivors never join the reference), and
    * `StreamingOps.dedupedEvents` keys a streaming state store whose
    * "seen" set lives (and dies) with the checkpoint and is readable by
    * nothing else. Here the seen set IS the parquet store: it survives
    * checkpoint resets (fence ownership detects them loudly), other jobs
    * can read it mid-stream, and restart recovery is the generic store
    * discipline (lease, replay fence, renames-only compaction swap).
    *
    * Per-batch pricing: the novelty anti-join reads ONLY the store
    * partitions the batch's fingerprints hash into — `__bucket` is
    * `pmod(xxhash64(fp), nBuckets)`, a partition column, so a batch
    * touching k of the nBuckets buckets scans ~k/nBuckets of the store
    * (one metadata-sized collect of the touched-bucket set drives the
    * pruning). A trickle batch prices near zero; a batch touching every
    * bucket pays one store scan — the honest floor for EXACT global
    * dedup (the Bloom pre-filter of [[incrementalNew]] composes in
    * front unchanged if that scan dominates).
    *
    * Contracts: replays are idempotent — the decision excludes the
    * batch's own `__batch` partitions, so a replayed batch re-derives
    * byte-identical survivors and the dynamic overwrite replaces them;
    * a replay arriving after compaction folded the batch is fenced.
    * Within a batch, the survivor per fingerprint is the min-`orderCol`
    * row (deterministic under any partitioning). NULL fingerprints
    * dedup like any other value (SQL-null-safe equality — one null-fp
    * row ever survives); fingerprint rows ride the -1 bucket when null.
    * The survivor row's columns are the batch's columns verbatim. */
  def seenAppend(batch: DataFrame, batchId: Long, stateDir: String,
      fpCol: String, orderCol: String, nBuckets: Int = 256): Unit = {
    seenAppendReturning(batch, batchId, stateDir, fpCol, orderCol, nBuckets)
    ()
  }

  /** [[seenAppend]] that also RETURNS the batch's survivors (the novel
    * rows it folded, data columns only, executor-disk materialized) —
    * the hook a composed per-batch pipeline needs: the deduped slice
    * feeds the next stage of the same invocation
    * ([[CuratedFeed.curatedAppend]]) without a second store read.
    * `None` when the replay fence skipped the batch: its rows were
    * already folded into the base and are no longer attributable to
    * this batch id. A composed caller prevents that case by compacting
    * only below the current batch (see [[CuratedFeed]]); a direct
    * caller re-reading the store gets the cumulative corpus via
    * [[seenRows]]. The batch is computed twice (the touched-bucket set,
    * then the novelty pass), so a caller whose batch is costly to
    * derive passes it materialized, as [[CuratedFeed.curatedAppend]]
    * does. */
  def seenAppendReturning(batch: DataFrame, batchId: Long, stateDir: String,
      fpCol: String, orderCol: String, nBuckets: Int = 256)
      : Option[DataFrame] = {
    val dataCols = batch.columns.toSeq
    require(dataCols.contains(fpCol) && dataCols.contains(orderCol),
      s"batch must carry $fpCol and $orderCol")
    val partial = (slice: DataFrame) => {
      val spark = slice.sparkSession
      // first occurrence WITHIN the batch: min-orderCol row per fp
      // (ties on orderCol broken by the remaining columns' struct so
      // exact-duplicate rows collapse deterministically)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__bucket"), col(fpCol))
        .orderBy(col(orderCol),
          struct(dataCols.filterNot(_ == orderCol).map(col): _*))
      val firstInBatch = slice
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      val novel =
        if (!IncrementalAgg.appendStoreHasData(spark, stateDir))
          firstInBatch
        else {
          // bucket-pruned history read: only partitions this batch's
          // fingerprints can collide with, and never the batch's own
          // replayed partitions. `__batch` and the bucket GROUP prune at
          // the directory level; the exact bucket filter prunes at the
          // row-group level (the store's files are sorted by `__bucket`
          // — see IncrementalAgg.APPEND_PHYS_PARTS)
          val touched = slice.select(col("__bucket")).distinct()
            .collect().map(_.getLong(0)) // <= nBuckets rows: metadata
          val touchedGroups = touched.map(
            StateStore.groupOf(_, IncrementalAgg.APPEND_PHYS_PARTS)).distinct
          // explicit schema: only the fingerprint and the layout columns
          // are read, no inference job runs, and the partition levels
          // are typed LongType so the `__batch` / `__bgroup` predicates
          // compare the raw partition attribute and prune directories
          val historySchema = StructType(Seq(
            slice.schema(fpCol).copy(nullable = true),
            StructField("__bucket", LongType),
            StructField("__batch", LongType),
            StructField("__bgroup", LongType)))
          val seen = spark.read.schema(historySchema)
            .parquet(IncrementalAgg.appendStore(stateDir).path)
            .filter(col("__batch") =!= batchId &&
              col("__bgroup").isin(touchedGroups.toSeq: _*) &&
              col("__bucket").isin(touched: _*))
            .select(col(fpCol).as("__seen_fp"))
          firstInBatch.join(seen,
            col(fpCol) <=> col("__seen_fp"), "left_anti")
        }
      // survivors are batch-sized: eagerly materialize so the store
      // write's plan no longer reads the store path it overwrites
      novel.select(("__bucket" +: dataCols).map(col): _*)
        .withColumn("__n", lit(1L))
        .localCheckpoint(true)
    }
    // the partial's rows are materialized (localCheckpoint), so the
    // survivors read nothing of the store they were written to
    IncrementalAgg.appendFolded(batch, batchId, stateDir, partial, fpCol,
      nBuckets).map(_.select(dataCols.map(col): _*))
  }

  /** The deduped corpus a [[seenAppend]] store holds — every surviving
    * row, store-sized work. Serves both layouts (un-compacted batch
    * partitions and the folded base). */
  def seenRows(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): DataFrame =
    IncrementalAgg.readStore(spark, stateDir).drop("__n")

  /** Fold a [[seenAppend]] store's batch partitions into the base —
    * bounds read amplification exactly like the other append stores
    * (novelty guarantees one row per fingerprint globally, so the fold
    * is an identity over one-row groups). Key columns derive from the
    * stored schema; safe on an empty store. */
  def compactSeenStore(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Unit =
    seenKeyCols(spark, stateDir).foreach(keys =>
      IncrementalAgg.compactAppendStore(spark, stateDir, keys, "__n"))

  /** [[IncrementalAgg.maybeCompactAppendStore]] for a seen store. The
    * key columns cost a schema read, so they are looked up only when a
    * fold is due — the per-batch check is one directory listing. */
  def maybeCompactSeenStore(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, maxBatchParts: Int): Boolean =
    IncrementalAgg.appendStore(stateDir).maybeCompact(spark, maxBatchParts)(
      compactSeenStore(spark, stateDir))

  /** The stored data columns (compaction group keys): everything except
    * the `__n` fold column and the partition levels. None when the
    * store holds no data yet. */
  private def seenKeyCols(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Option[Seq[String]] =
    if (!IncrementalAgg.appendStoreHasData(spark, stateDir)) None
    else Some(spark.read
      .parquet(IncrementalAgg.appendStore(stateDir).path)
      .columns.toSeq
      .filterNot(Set("__n", "__batch", "__bucket", "__bgroup")))

  /** Token-budget corpus selection — "take the best documents until the
    * training budget is spent": rows ranked by (`rankCol` DESC, `idCol`)
    * are kept while the INCLUSIVE running total of `tokensCol` stays
    * within `budgetTokens`. Built on
    * [[Indexing.globalRunningSum]], so the global cumulative sum has no
    * single-partition stage — the selection scales to any corpus size.
    * Appends `cum_tokens`. */
  def selectUnderBudget(docs: DataFrame, idCol: String, tokensCol: String,
      rankCol: String, budgetTokens: Long): DataFrame =
    Indexing.globalRunningSum(docs,
        Seq(col(rankCol).desc, col(idCol).asc), tokensCol, "cum_tokens")
      .filter(col("cum_tokens") <= budgetTokens)

  /** Static corpus mixture re-weighting — "what sampling rate per domain
    * hits a target mixture": given per-row domain and token count plus
    * target shares (summing to 1), the largest token budget achievable
    * WITHOUT upsampling any domain is B = min_d(tokens_d / share_d); each
    * domain's keep-rate is then share_d · B / tokens_d — exactly 1.0 for
    * the binding (scarcest-relative-to-target) domain, a downsampling
    * fraction everywhere else. This is the static reweighting step of
    * mixture-balanced corpus assembly (the fixed-weights regime of
    * domain-reweighting schemes à la DoReMi's baseline).
    *
    * Output: (domain, domain_tokens, share, rate), one row per TARGET
    * domain present in the corpus; corpus domains outside the target set
    * are implicitly rate-0 (no row). Scale: one domains-sized aggregate
    * (domains ≪ corpus), a broadcast of the share table, and a broadcast
    * of the ONE-row budget aggregate — nothing here scales with corpus
    * size, and the corpus is scanned exactly once. */
  def mixtureWeights(docs: DataFrame, domainCol: String, tokensCol: String,
      targetShares: Seq[(String, Double)]): DataFrame = {
    require(targetShares.nonEmpty, "need at least one target share")
    require(targetShares.forall(_._2 > 0), "shares must be positive")
    require(math.abs(targetShares.map(_._2).sum - 1.0) < 1e-9,
      s"shares must sum to 1, got ${targetShares.map(_._2).sum}")
    val spark = docs.sparkSession
    import spark.implicits._
    val shares = targetShares.toDF("domain", "share")
    val perDomain = docs
      .select(col(domainCol).as("domain"), col(tokensCol).cast("long").as("toks"))
      .join(broadcast(shares), Seq("domain"))
      .groupBy("domain")
      .agg(sum("toks").as("domain_tokens"), first("share").as("share"))
    val budget = perDomain.agg(
      min(col("domain_tokens").cast("double") / col("share")).as("budget"))
    perDomain.crossJoin(broadcast(budget))
      .select(col("domain"), col("domain_tokens"), col("share"),
        (col("share") * col("budget") / col("domain_tokens").cast("double"))
          .as("rate"))
  }

  /** Applies [[mixtureWeights]]' sampling rates to the corpus — the
    * deterministic Bernoulli draw that actually materializes the target
    * mixture: a row is kept iff floorMod(fnv1a(id), 2^20) < rate_q20,
    * where rate_q20 = floor(rate * 2^20 + 0.5) is the domain's keep-rate
    * on the 2^20 grid. The hash is uniform on the id, so each domain
    * retains ~rate of its rows; the draw is a pure function of the row
    * id — stable under reruns, partitioning, and engines (power-of-two
    * modulus keeps the signed floorMod equal to the unsigned residue,
    * the same parity contract as every fnv1a bucketing here). Domains
    * absent from `weights` are implicitly rate-0 (inner join — the
    * [[mixtureWeights]] contract). Output: the kept rows plus their
    * `rate_q20`.
    *
    * Scale: the weights table is domains-sized (broadcast); the draw is
    * a per-row expression — the corpus is scanned once, never shuffled. */
  def applyMixture(docs: DataFrame, domainCol: String, idCol: String,
      weights: DataFrame): DataFrame = {
    val q20 = floor(col("rate").cast("double") * lit(1048576.0) + lit(0.5))
      .cast("long").as("rate_q20")
    val w = weights.select(col("domain").as("__dom"), q20)
    val draw = udf { (s: String) =>
      java.lang.Math.floorMod(Dedup.fnv1a(s), 1048576L)
    }
    docs.join(broadcast(w), docs(domainCol) === col("__dom"))
      .filter(draw(col(idCol).cast("string")) < col("rate_q20"))
      .drop("__dom")
  }

  /** Line-level boilerplate removal (the CCNet/RefinedWeb line-dedup
    * step): drop EVERY occurrence of any line whose corpus-wide
    * occurrence count is >= `minCount` — nav menus, cookie banners, and
    * licence footers repeat across thousands of pages and survive
    * document-level dedup, so they are removed at line granularity.
    * Lines are `sep`-separated spans compared by exact string equality.
    * Output: one row per input document — (idCol, clean_text,
    * n_lines, n_lines_kept, n_lines_dropped); a document whose every
    * line is boilerplate keeps its row with clean_text = ''.
    *
    * Scale shape: the line-frequency aggregate map-side combines, so a
    * line repeated 10^8 times ships one (line, count) partial per task,
    * not 10^8 rows; the frequent-line table is then BY CONSTRUCTION
    * small (<= total_lines / minCount entries, in practice the tiny
    * boilerplate set), so AQE broadcasts the anti-join's build side and
    * the exploded corpus is never shuffled on line content — the only
    * corpus-sized exchange is the keyed regroup by document id for
    * reassembly, with per-group state bounded by the document's own
    * line count. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long, sep: String = "\n"): DataFrame = {
    require(minCount >= 2, "minCount < 2 would drop every line")
    val sepRe = java.util.regex.Pattern.quote(sep)
    val lines = docs.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), sepRe)))
      .select(col("__id"), col("pos").as("__pos"), col("col").as("__line"))
    val frequent = lines.groupBy("__line")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minCount)
      .select("__line")
    val reassembled = lines.join(frequent, Seq("__line"), "left_anti")
      .groupBy("__id")
      .agg(
        array_join(
          transform(sort_array(collect_list(struct(col("__pos"), col("__line")))),
            x => x.getField("__line")),
          sep).as("clean_text"),
        count(lit(1)).as("n_lines_kept"))
    docs.select(col(idCol).as("__id"),
        size(split(col(textCol), sepRe)).cast("long").as("n_lines"))
      .join(reassembled, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_lines"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        (col("n_lines") - coalesce(col("n_lines_kept"), lit(0L)))
          .as("n_lines_dropped"))
  }

  /** Duplicate-span removal — the exact-substring dedup of Lee et al.
    * 2022 ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499), approximated at token-window granularity as
    * production web-corpus pipelines do: any `k`-token window whose
    * fingerprint occurs >= `minCount` times corpus-wide (counting every
    * position in every document, self-repeats included) marks its `k`
    * token positions as duplicated; every marked token is removed and
    * each document reassembles from its surviving tokens in order.
    * Complements document-level (MinHash/SimHash) and line-level dedup:
    * it catches long verbatim spans embedded in otherwise-distinct pages,
    * which neither of those granularities sees. Window identity is the
    * FNV-1a fingerprint of the space-joined normalized window
    * (fingerprint equality — the standard scale trade-off vs materializing
    * window strings). NULL text behaves as empty text. Output: one row
    * per input document — (idCol, clean_text, n_tokens, n_kept,
    * n_dropped, n_dup_windows).
    *
    * Scale shape: windows derive narrowly from the per-row token array
    * (no pre-shuffle explode of anything wider than the text itself); the
    * window-frequency aggregate map-side combines, so a boilerplate span
    * repeated 10^8 times ships one (fingerprint, count) partial per task;
    * the duplicated-window probe is a KEYED semi-join on the fingerprint
    * (never all-pairs); duplicated start positions — duplicate-mass
    * sized, not corpus sized — regroup by document with per-group state
    * bounded by the document's own window count; and the final coverage
    * sweep is a per-row two-pointer merge over (tokens, sorted starts),
    * O(n + s) per document. No quadratic step anywhere. */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minCount: Long = 2): DataFrame = {
    require(k >= 2, "k < 2 is single-token granularity - not a span")
    require(minCount >= 2, "minCount < 2 would mark every window duplicated")
    val winHash = udf { (toks: Seq[String]) =>
      val n = if (toks == null) 0 else toks.length
      if (n < k) Array.empty[Long]
      else Array.tabulate(n - k + 1) { i =>
        Dedup.fnv1a(toks.slice(i, i + k).mkString(" "))
      }
    }
    // two-pointer sweep: starts is sorted ascending; token i is covered
    // iff some duplicated window [p, p+k-1] contains it
    val sweep = udf { (toks: Seq[String], starts: Seq[Int]) =>
      val st = if (starts == null) Seq.empty[Int] else starts
      val kept = scala.collection.mutable.ArrayBuffer.empty[String]
      var j = 0
      var covEnd = -1
      var i = 0
      while (i < toks.length) {
        while (j < st.length && st(j) <= i) {
          covEnd = math.max(covEnd, st(j) + k - 1); j += 1
        }
        if (i > covEnd) kept += toks(i)
        i += 1
      }
      (kept.mkString(" "), kept.length)
    }
    val base = docs.select(col(idCol).as("__id"),
      split(coalesce(normalized(col(textCol)), lit("")), " ").as("__toks"))
    val wins = base
      .select(col("__id"), posexplode(winHash(col("__toks"))))
      .select(col("__id"), col("pos").as("__p"), col("col").as("__wh"))
    val dup = wins.groupBy("__wh").agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minCount).select("__wh")
    val dupStarts = wins.join(dup, Seq("__wh"), "left_semi")
      .groupBy("__id")
      .agg(sort_array(collect_list(col("__p"))).as("__starts"),
        count(lit(1)).as("n_dup_windows"))
    base.join(dupStarts, Seq("__id"), "left")
      .select(col("__id"), col("__toks"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        sweep(col("__toks"),
          coalesce(col("__starts"), array().cast("array<int>"))).as("__sw"))
      .select(col("__id").as(idCol),
        col("__sw._1").as("clean_text"),
        size(col("__toks")).cast("long").as("n_tokens"),
        col("__sw._2").cast("long").as("n_kept"),
        (size(col("__toks")) - col("__sw._2")).cast("long").as("n_dropped"),
        col("n_dup_windows"))
  }

  /** RE2-compatible patterns (identical semantics in Java regex), so an
    * external engine can replay the redaction byte-for-byte. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction: count and mask email addresses and IPv4 literals.
    * Pure expression chain — no UDF, stays in whole-stage codegen.
    * Output adds (n_emails, n_ips, redactedCol). */
  def redactPii(docs: DataFrame, textCol: String,
      redactedCol: String = "redacted"): DataFrame =
    docs
      .withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))).cast("long"))
      .withColumn("n_ips",
        size(regexp_extract_all(col(textCol), lit(Ipv4Re), lit(0))).cast("long"))
      .withColumn(redactedCol,
        regexp_replace(regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"))
}
