package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scalable global row numbering.
  *
  * `row_number() OVER (ORDER BY ...)` with no PARTITION BY funnels every
  * row through ONE task (Exchange SinglePartition) — the classic scale
  * cliff: fine at 60k rows, dead at 100 TB. This produces the identical
  * gap-free 1..N numbering with no single-partition stage:
  *
  *  1. range-repartition + sort within partitions on the order key
  *     (range partitions are ordered: partition i's keys all precede
  *     partition i+1's) and eagerly materialize via localCheckpoint —
  *     both downstream jobs MUST see the same physical partitioning,
  *     and range sampling is re-run per job without it;
  *  2. `monotonically_increasing_id` over the sorted partitions encodes
  *     (partitionId, intra-partition position) — pure projection, no
  *     extra shuffle, no window;
  *  3. one tiny aggregate collects per-partition counts (#partitions
  *     rows) to the driver, prefix-summed into offsets, broadcast back;
  *  4. rn = offset(pid) + intra + 1.
  *
  * Total cost: one range shuffle + one lightweight count job. On a real
  * cluster prefer `.checkpoint()` over `.localCheckpoint()` for step 1
  * if executors can be lost mid-query.
  */
object Indexing {

  /** @param orderCols must form a total order (e.g. include a unique id):
    *        ties straddle range-partition boundaries nondeterministically */
  def globalRowNumber(df: DataFrame, orderCols: Seq[String],
      outCol: String = "rn", numPartitions: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    val n = numPartitions.getOrElse(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val parted = df
      .repartitionByRange(n, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
      .localCheckpoint(true)
    val withMid = parted.withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftright(col("__mid"), 33).cast("int"))
      .withColumn("__intra", col("__mid").bitwiseAND(lit((1L << 33) - 1)))
    // per-partition counts: <= n rows, safe to collect (this is metadata
    // about the partitioning, not data)
    val counts = withMid.groupBy("__pid").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, c) =>
      val off = acc; acc += c; (pid, off)
    }
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__pid", "__off")
    withMid.join(broadcast(offDf), Seq("__pid"))
      .withColumn(outCol, (col("__off") + col("__intra") + 1L).cast("long"))
      .drop("__mid", "__pid", "__intra", "__off")
  }

  /** Scalable global running sum of `valueCol` in `orderCols` order —
    * `sum(v) OVER (ORDER BY ...)` without the single-partition cliff.
    * Same decomposition as [[globalRowNumber]]: range-partition on the
    * order, per-partition VALUE sums (<= #partitions rows) collected and
    * prefix-summed into offsets, then a per-partition running sum window
    * keyed by the partition id. Both shuffles (range + pid-hash for the
    * window) are balanced and linear; the plan never contains
    * `Exchange SinglePartition` (pinned in PlanGuardSpec).
    *
    * `orderCols` accept sort Columns (`desc(...)`) and must form a total
    * order — ties straddling range boundaries would be nondeterministic.
    * `outCol` is the INCLUSIVE running total (current row counted).
    *
    * `valueCol` must be an INTEGRAL column (long/int/short/byte) —
    * enforced, because the offset decomposition is only order-independent
    * under exact arithmetic (double partials would make the total depend
    * on partition boundaries). Pre-scale floats to integer units (cents,
    * ppm) first. NULL values count as 0, in both the per-partition
    * offsets and the intra-partition window. */
  def globalRunningSum(df: DataFrame, orderCols: Seq[org.apache.spark.sql.Column],
      valueCol: String, outCol: String = "running_total",
      numPartitions: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    require({
      import org.apache.spark.sql.types._
      Seq(LongType, IntegerType, ShortType, ByteType)
        .contains(df.schema(valueCol).dataType)
    }, s"globalRunningSum needs an integral value column; '$valueCol' is " +
      s"${df.schema(valueCol).dataType.simpleString} — pre-scale to integer units")
    val n = numPartitions.getOrElse(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val parted = df
      .repartitionByRange(n, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .localCheckpoint(true)
    val withMid = parted.withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftright(col("__mid"), 33).cast("int"))
      .withColumn("__intra", col("__mid").bitwiseAND(lit((1L << 33) - 1)))
    // per-partition value sums: metadata-sized (<= n rows). An all-NULL
    // partition sums to NULL -> 0 (sum-skips-nulls semantics).
    val sums = withMid.groupBy("__pid")
      .agg(coalesce(sum(col(valueCol)), lit(0L)).cast("long").as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = sums.map { case (pid, s) => val off = acc; acc += s; (pid, off) }
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__pid", "__off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy("__intra")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    withMid.join(broadcast(offDf), Seq("__pid"))
      .withColumn(outCol,
        (col("__off") + coalesce(sum(col(valueCol)).over(w), lit(0L))).cast("long"))
      .drop("__mid", "__pid", "__intra", "__off")
  }

  /** Sharded inverted-index build — the index-construction workload of a
    * retrieval/RAG corpus: per term, document frequency (`df`), corpus
    * frequency (`cf`), and the posting list of (doc_id:tf) pairs in
    * doc-id order, PAGED into blocks of at most `blockSize` postings.
    * One output row per (term, block); `postings` is the block's
    * "id:tf,id:tf,..." string (deterministic order — exactly replayable).
    *
    * The blocking IS the scale design: a stopword-grade term with 10^9
    * postings would otherwise materialize a 10^9-element `collect_list`
    * in one aggregation group (the anti-pattern this repo bans). Paging
    * first — row_number within term, block = rank div blockSize — bounds
    * every aggregation group at `blockSize` entries while keeping the
    * global posting order reconstructible (concatenate blocks in order).
    * Real engines page postings for the same reason (block-max indexes).
    *
    * Plan shape: the (term, doc) tf aggregate combines map-side; the
    * within-term ranking is one sort-based window (streaming state, no
    * per-group buffer); the block aggregation re-uses the term
    * partitioning (hash(term) satisfies the (term, block) clustering —
    * no extra exchange); df/cf derive from the same tf subtree. */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
      blockSize: Int = 1024): DataFrame = {
    require(blockSize >= 1, "need a positive block size")
    val toks = docs.select(col(idCol).as("__id"),
      explode(split(TextAnalysis.normalized(col(textCol)), " ", -1)).as("term"))
    val tf = toks.groupBy("term", "__id").agg(count(lit(1)).as("tf"))
    val stats = tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy("__id")
    val blocks = tf
      .withColumn("__rn", row_number().over(w))
      .withColumn("block", expr(s"(__rn - 1) div $blockSize"))
      .groupBy("term", "block")
      .agg(count(lit(1)).as("n_block"),
        array_join(
          transform(sort_array(collect_list(struct(col("__id"), col("tf")))),
            x => concat(x.getField("__id").cast("string"), lit(":"),
              x.getField("tf").cast("string"))),
          ",").as("postings"))
    blocks.join(stats, Seq("term"))
      .select(col("term"), col("block"), col("df"), col("cf"),
        col("n_block"), col("postings"))
  }

  /** Ranked retrieval over a stored [[invertedIndex]] — the query side of
    * the index: score every document containing at least one of `terms`
    * and return the top `k`. The index answers WITHOUT touching the
    * corpus: only the query terms' posting blocks are scanned (on a
    * term-bucketed index layout that is partition pruning — the posting
    * lists of two or three terms, not 10^11 documents).
    *
    * Scoring is whole-bit TF-IDF, the integer discipline of
    * [[TextAnalysis.ngramLmSurprisal]]: per matched term,
    * bitlen(N div df) * bitlen(tf), where bitlen(x) = floor(log2 x) + 1
    * for x >= 1 — a monotone staircase of the real tf-idf with no
    * logarithm, no doubles, no fold; identical in any engine. Ties break
    * by doc id. `nDocs` is the corpus size recorded at index-build time
    * (a driver scalar, like the centroid counts elsewhere).
    *
    * Output: (doc_id, n_terms, score) — top k by (score desc, doc_id).
    * The final top-k is a TakeOrdered, never a global sort. */
  def searchIndex(index: DataFrame, nDocs: Long, terms: Seq[String],
      k: Int): DataFrame = {
    require(terms.nonEmpty && nDocs >= 1)
    def bitlen(c: org.apache.spark.sql.Column) = length(bin(c)).cast("long")
    val posts = index.filter(col("term").isin(terms: _*))
      .select(col("term"), col("df"),
        explode(split(col("postings"), ",")).as("p"))
      .select(col("term"), col("df"),
        split(col("p"), ":").getItem(0).cast("long").as("doc_id"),
        split(col("p"), ":").getItem(1).cast("long").as("tf"))
    posts
      .withColumn("w", bitlen(expr(s"CAST($nDocs AS BIGINT) div df")) * bitlen(col("tf")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("w").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Persist an [[invertedIndex]] bucketed BY TERM — the fit-once/
    * search-many contract of `Similarity.pqIndexWrite` applied to text
    * retrieval: `{name}_postings` is the paged posting table bucketed
    * (and sorted) on `term`, so a [[searchIndex]] term filter becomes
    * LITERAL bucket pruning on disk (the scan touches hash(term)-selected
    * buckets, not the index — `SelectedBucketsCount` in the plan), plus
    * `{name}_meta` holding the corpus size recorded at build time (the
    * driver scalar every TF-IDF weight needs) plus the content stamp of
    * the input (`StoredArtifacts.stamp`).
    *
    * IDEMPOTENT by content, exactly as `Similarity.pqIndexWrite`: a
    * matching stamp skips the tokenize + index + write entirely
    * (re-registering the surviving warehouse directories when a fresh
    * session's catalog forgot them — bucket spec restored by DDL), so
    * repeated runs measure search, not build; a membership or parameter
    * change rebuilds (spec-pinned in Round10OpsSpec). As with the PQ
    * index, the stamp is membership + params, not payload — for
    * in-place text edits under unchanged doc ids pass `force = true`
    * (see `StoredArtifacts.stamp`).
    *
    * Returns the recorded corpus size. */
  def indexWrite(docs: DataFrame, name: String, blockSize: Int = 1024,
      numBuckets: Int = 64,
      idCol: String = "doc_id", textCol: String = "text",
      force: Boolean = false): Long = {
    val spark = docs.sparkSession
    import spark.implicits._
    val params = s"text:block=$blockSize,buckets=$numBuckets,id=$idCol,text=$textCol"
    StoredArtifacts.fitOnce(docs, idCol, params, force, s"${name}_meta",
      Seq(s"${name}_postings" ->
        Some((Seq("term"), Seq("term", "block"), numBuckets))))(
      (nDocs, h) => Seq((nDocs, nDocs, h, params))
        .toDF("n_docs", "stamp_rows", "stamp_hash", "params"))(
      spark.table(s"${name}_meta").select("n_docs").head().getLong(0)) {
      nDocs =>
        invertedIndex(docs, idCol, textCol, blockSize)
          .write.mode("overwrite")
          .bucketBy(numBuckets, "term").sortBy("term", "block")
          .saveAsTable(s"${name}_postings")
        nDocs
    }
  }

  /** [[searchIndex]] against the stored tables of [[indexWrite]] — the
    * production entry point: answers from the term-bucketed posting
    * table only (bucket-pruned scan), never the corpus; the TF-IDF
    * document count comes from `{name}_meta` (one-row driver read). */
  def searchIndexStored(spark: org.apache.spark.sql.SparkSession,
      name: String, terms: Seq[String], k: Int): DataFrame = {
    val nDocs = spark.table(s"${name}_meta").select("n_docs").head().getLong(0)
    searchIndex(spark.table(s"${name}_postings"), nDocs, terms, k)
  }

  // ---- churn-priced incremental text index ---------------------------

  /** The per-bucket posting partial one maintenance run stores:
    * (term, __id, tf) rows — the tokenization of [[invertedIndex]]
    * exactly — plus ONE sentinel row per bucket (term/__id null) whose
    * `tf` is the bucket's document count, so the TF-IDF corpus size
    * derives store-sized at read with no second digest scan. Every
    * output row derives only from its own bucket's documents, so the
    * [[IncrementalAgg]] bucket-union contract holds. */
  private[graft] def postingsPartial(idCol: String, textCol: String)(
      slice: DataFrame): DataFrame = {
    val tf = slice
      .select(col("__bucket"), col(idCol).as("__id"),
        explode(split(TextAnalysis.normalized(col(textCol)), " ", -1))
          .as("term"))
      .groupBy("__bucket", "term", "__id").agg(count(lit(1)).as("tf"))
    val docCounts = slice.groupBy(col("__bucket"))
      .agg(count(lit(1)).as("tf"))
      .select(col("__bucket"), lit(null).cast("string").as("term"),
        lit(null).cast(slice.schema(idCol).dataType).as("__id"), col("tf"))
    tf.select("__bucket", "term", "__id", "tf").unionByName(docCounts)
  }

  /** CHURN-PRICED maintenance of a stored posting index — the
    * [[IncrementalAgg]] discipline applied to [[indexWrite]]'s workload:
    * where the stamp-guarded stored index rebuilds WHOLESALE when one
    * document changes (`StoredArtifacts.stamp` is membership-only, all
    * or nothing), this surface stores the per-bucket (term, doc, tf)
    * partials hive-partitioned by document bucket and re-prices every
    * run by the churn — one column-pruned digest scan of (id, text)
    * decides dirtiness, only dirty buckets re-tokenize, clean buckets'
    * partitions stand untouched on disk (mtime-pinned in spec). At
    * 100 TB a daily-churned corpus pays ~churn × tokenize instead of
    * corpus × tokenize — the difference between re-indexing 100 TB and
    * re-indexing the day's edits. Postings derive bucket-locally from
    * documents (tf is a per-(term, doc) count), so the bucket-union
    * contract is exact; term-global statistics (df, corpus size) derive
    * from the store at read, store-sized.
    *
    * Trade-off vs [[indexWrite]], stated: the stored partials are
    * bucketed by DOCUMENT (the churn unit), not by term — a search
    * scans the posting store (pruned by parquet term stats, not bucket
    * pruning). Fit-once/search-many corpora that never churn should
    * keep [[indexWrite]]'s term-bucketed layout; corpora that churn
    * daily want this. Crash discipline, lease, witness-before-mutation
    * and foreign-aggKey rebuild are [[IncrementalAgg.run]]'s verbatim.
    *
    * Returns (current posting store: (term, __id, tf) + the null-term
    * doc-count sentinels, prune record). */
  def indexIncremental(docs: DataFrame, stateDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      nBuckets: Int = 256, dirtyFractionLimit: Double = 0.5,
      bucketCol: Option[String] = None)
      : (DataFrame, IncrementalAgg.IncrementalReport) =
    IncrementalAgg.run(docs, idCol, Seq(textCol),
      postingsPartial(idCol, textCol),
      aggKey = s"textindex:id=$idCol,text=$textCol", stateDir, nBuckets,
      dirtyFractionLimit, bucketCol,
      // term-sorted bucket files: row-group min/max stats over `term`
      // are tight, so the search side's term filter SKIPS row groups —
      // the read-layout answer to the store being document-bucketed
      storeSortCols = Seq("term"))

  /** [[searchIndex]] semantics answered from an [[indexIncremental]]
    * store WITHOUT a maintenance pass: identical whole-bit TF-IDF
    * ranking (bitlen(N div df) * bitlen(tf), ties by doc id), with the
    * corpus size N summed from the store's per-bucket sentinels and
    * per-term df counted from the query terms' posting rows (a
    * |terms|-row broadcast). Output (doc_id, n_terms, score), top k —
    * byte-identical to [[searchIndex]] over [[invertedIndex]] of the
    * same corpus (spec-pinned identity under churn). */
  def searchIndexIncremental(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val store = IncrementalAgg.readStore(spark, stateDir)
    val nDocs = store.filter(col("term").isNull)
      .agg(coalesce(sum(col("tf")), lit(0L))).head().getLong(0)
    require(nDocs >= 1, s"store at $stateDir holds no documents")
    def bitlen(c: org.apache.spark.sql.Column) = length(bin(c)).cast("long")
    val posts = store.filter(col("term").isin(terms: _*))
    val dfs = posts.groupBy("term").agg(count(lit(1)).as("df"))
    posts.join(broadcast(dfs), Seq("term"))
      .withColumn("w",
        bitlen(expr(s"CAST($nDocs AS BIGINT) div df")) * bitlen(col("tf")))
      .groupBy(col("__id").as("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum("w").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }
}
