package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.core.IncrementalValidation
import graft.state.StateStore

/** Churn-priced MATERIALIZED AGGREGATES over one table — the
  * incremental-validation discipline ([[graft.core.IncrementalValidation]])
  * generalized from "compare two tables" to "maintain any bucket-local
  * grouped aggregate of one table".
  *
  * A daily corpus-statistics job (vocabulary counts feeding
  * [[TextAnalysis.corpusFreqScore]]/[[TextAnalysis.vocabCoverage]], token
  * histograms, per-slice quality tallies) re-aggregates 100 TB to
  * rediscover that 99% of it did not change. This surface stores the
  * PER-BUCKET PARTIALS of the aggregate as a hive-partitioned parquet
  * table and re-prices each run by the churn:
  *
  *  1. DIGEST: one column-pruned scan of (id, depends-on columns) folds
  *     into `nBuckets` multiset digests — row count plus two
  *     independently-salted 64-bit hash sums in DECIMAL(38,0), map-side
  *     combinable, so the only exchange is ~nBuckets rows per task
  *     (the [[IncrementalValidation.digests]] contract, one side).
  *  2. PRUNE: buckets whose digest triple matches the stored witness
  *     keep their stored partial partition untouched; only DIRTY buckets
  *     re-run the caller's partial aggregation, with the input filtered
  *     to the dirty set — a partition-pruning predicate when the table
  *     is laid out by [[IncrementalValidation.withBucket]]'s column.
  *  3. MERGE: the caller's final merge runs over the STORE (partial-
  *     sized, e.g. vocabulary x buckets), never the table.
  *
  * Contract on `partial`: it receives the table slice with an appended
  * `__bucket` column and must return one frame of partial rows carrying
  * `__bucket`, where (a) every output row derives only from input rows
  * of its own bucket (any groupBy that includes `__bucket` qualifies),
  * and (b) the full-table result is the bucket-union of per-bucket
  * results — i.e. the aggregate is algebraic with buckets as the
  * partition. Sums, counts, min/max, grouped variants thereof, and any
  * composition that groups by (__bucket, keys) all qualify; a global
  * median does not (store its countable partials instead).
  *
  * Crash discipline is [[graft.state.StateStore]]'s: the digest witness
  * is DELETED before any store partition is mutated and written back
  * only after, so a torn store can never read clean; the single-writer
  * lease guards every mutating run; a missing /
  * version-skewed / `aggKey`-mismatched state rebuilds wholesale (the
  * safe direction). The append-only surfaces ([[appendFold]] and its
  * compaction) run through the append-store cycle,
  * [[graft.state.StateStore.AppendStore]]; what stays here is the
  * legacy-layout migration and the rebase. `aggKey` must encode the
  * aggregate's identity AND parameters — two different aggregates
  * pointed at one stateDir must never answer from each other's
  * partials.
  */
object IncrementalAgg {

  /** One run's execution record (same shape as validation's). */
  type IncrementalReport = IncrementalValidation.IncrementalReport
  // v2: marker-file meta + bucket-GROUP physical layout for the [[run]]
  // store (see StateStore.groupCount). A v1 state mismatches the meta
  // check and rebuilds wholesale — the safe direction; run() stores are
  // always rebuildable from the table.
  // v3: the witness is one file holding the identity and the digests,
  // whose row hash also sees a TIMESTAMP's instant
  // ([[IncrementalValidation.rowHash]]); a v2 state rebuilds once.
  private val STATE_VERSION = 3

  private def storePath(stateDir: String) = s"$stateDir/agg"

  /** The [[appendFold]] store at `stateDir` (the [[run]] store's path —
    * a stateDir holds one or the other), whose append and compaction
    * cycles are [[graft.state.StateStore.AppendStore]]'s. Sibling
    * operators whose PARTIAL must read the store itself (e.g.
    * [[Curation.seenAppend]]'s novelty anti-join needs the raw
    * `__batch`/`__bucket` partition columns the public [[readStore]]
    * drops) use its `path`; the layout remains this object's. */
  private[ops] def appendStore(stateDir: String) =
    new StateStore.AppendStore(stateDir, "agg", "agg_compact_watermark",
      "agg_fence_owner", (owner, query) => new IllegalStateException(
        s"append store at $stateDir was built by streaming query " +
          s"$owner but this batch comes from query $query — the " +
          "checkpoint was reset (or a different stream points " +
          "here) while the store was kept; batch ids are not " +
          "comparable across query lifetimes, so appending would " +
          "silently lose or double-count data. To keep the store " +
          "and feed it from a new stream, run " +
          "IncrementalAgg.rebaseAppendStore first; to start over, " +
          "delete the state directory."))

  /** [[StateStore.storeHasData]] against the append store. */
  private[ops] def appendStoreHasData(spark: SparkSession,
      stateDir: String): Boolean =
    StateStore.storeHasData(StateStore.fsOf(spark, stateDir),
      storePath(stateDir))
  private def digestsPath(stateDir: String) = s"$stateDir/agg_digests"

  // ---- append-store physical layout ----------------------------------
  // The APPEND store's directory grain is the bucket GROUP, not the
  // bucket: one dir per logical bucket costs a fixed per-directory
  // price on every write (writer open/close + footer + commit rename —
  // measured ~14 ms/dir locally, and at any scale it is listing and
  // commit traffic), and a per-batch micro-write into nBuckets=256 dirs
  // is dominated by it. Rows keep their LOGICAL `__bucket` as a data
  // column — sorted within files, so the novelty/search reads that used
  // to prune on the partition value now prune on the partition GROUP
  // plus parquet row-group min/max stats on the sorted column (the same
  // read-layout trade the churn-priced text index already makes with
  // term-sorted bucket files). Pruning granularity: 1/APPEND_PHYS_PARTS
  // at the directory level, exact at the row-group level. The group
  // count is a files-per-write bound, not a data-partitioning choice —
  // it does NOT need to scale with the corpus (file SIZES do, via the
  // writer's task count), so a constant is correct at every scale.
  private[graft] val APPEND_PHYS_PARTS = 16

  /** Write `rows` (carrying `__bucket`) in the grouped append layout,
    * as batch `batch` or, without one, each under its own `__batch`. */
  private def writeAppend(rows: DataFrame, batch: Option[Long], path: String,
      replace: Boolean): Unit =
    StateStore.writeBatches(rows, batch, path, "__bucket",
      Some(APPEND_PHYS_PARTS), replace)

  private def layoutPath(stateDir: String) = s"$stateDir/agg_layout"
  private val APPEND_LAYOUT_VERSION = "2"

  /** One-time in-place migration of a legacy append store (one dir per
    * `__bucket=` value) to the grouped layout, under the caller's lease.
    * Stage-then-swap (the compaction rename discipline, so every crash
    * window leaves a complete copy under a known name); the layout
    * marker is written only after the swap lands — a crash before it
    * re-runs the migration, which is idempotent (recomputing `__bgroup`
    * of an already-grouped store is a no-op rewrite). */
  private def ensureAppendLayout(spark: SparkSession, stateDir: String,
      lease: StateStore.Lease): Unit = {
    val fs = StateStore.fsOf(spark, stateDir)
    if (StateStore.readMarker(fs, layoutPath(stateDir))
        .contains(APPEND_LAYOUT_VERSION))
      return
    if (StateStore.storeHasData(fs, storePath(stateDir)))
      StateStore.swap(fs, storePath(stateDir), lease, ()) { tmp =>
        writeAppend(spark.read.parquet(storePath(stateDir))
          .withColumn("__bucket", col("__bucket").cast("long")), None, tmp,
          replace = false)
      }
    StateStore.writeMarker(fs, layoutPath(stateDir), APPEND_LAYOUT_VERSION)
  }

  /** Per-bucket single-table digests: (bucket, n, ha, hb) over the row
    * hash of `dependsOn` ([[IncrementalValidation.rowHash]]). Map-side
    * combinable end to end; the two row hashes are independently salted
    * (see [[IncrementalValidation.digests]] — same 2^-128 false-clean
    * argument at matching counts). Package-private for the plan spec. */
  private[graft] def digests(table: DataFrame, idCol: String,
      dependsOn: Seq[String], nBuckets: Int,
      bucketCol: Option[String]): DataFrame = {
    val id = col(idCol).cast(StringType)
    val v = IncrementalValidation.rowHash(table, dependsOn)
    val (limbAggs, totals) = IncrementalValidation.limbSums(
      Seq("ha" -> col("h"), "hb" -> col("h2")))
    table.select(
        bucketCol.map(c => col(c).cast("long")).getOrElse(
          IncrementalValidation.bucketOf(id, nBuckets)).as("bucket"),
        xxhash64(id, v).as("h"),
        xxhash64(lit(1L), id, v).as("h2"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), limbAggs: _*)
      .select(col("bucket") +: col("n") +: totals: _*)
  }

  /** Maintain the partial store for `table` and return (a read of the
    * current store with `__bucket` dropped, the prune record). Run the
    * final merge (e.g. `groupBy(keys).agg(sum...)`) on the returned
    * frame — it is store-sized, never table-sized.
    *
    * @param idCol      bucketing key (duplicates and nulls fine — nulls
    *                   ride the -1 sidecar bucket)
    * @param dependsOn  every column the aggregate reads; the digest
    *                   hashes exactly these (position-salted), so a
    *                   change outside them is invisible BY CONTRACT
    * @param partial    bucket-local partial aggregation, see object doc
    * @param aggKey     state signature: aggregate name + parameters
    * @param bucketCol  a materialized [[IncrementalValidation.withBucket]]
    *                   column — makes the dirty filter partition-pruning
    * @param dirtyFractionLimit above this dirty-bucket fraction a full
    *                   rebuild is cheaper than per-partition surgery
    *                   (that run costs digest + full pass, by design)
    * @param storeSortCols sort the stored partials WITHIN each bucket
    *                   file by these columns — read-side layout: parquet
    *                   row-group min/max stats over a sorted column are
    *                   tight, so a reader filtering on it (e.g. the
    *                   query terms of [[Indexing.searchIndexIncremental]])
    *                   skips row groups instead of scanning the store;
    *                   costs one per-task sort at write time, zero
    *                   exchanges */
  def run(table: DataFrame, idCol: String, dependsOn: Seq[String],
      partial: DataFrame => DataFrame, aggKey: String, stateDir: String,
      nBuckets: Int = 256, dirtyFractionLimit: Double = 0.5,
      bucketCol: Option[String] = None,
      storeSortCols: Seq[String] = Nil): (DataFrame, IncrementalReport) = {
    require(nBuckets > 0, "nBuckets must be positive")
    require(dependsOn.nonEmpty, "dependsOn must name the columns read")
    val spark = table.sparkSession
    val fs = StateStore.fsOf(spark, stateDir)
    val lease = StateStore.acquireLease(spark, stateDir)
    try {
      val w = StateStore.Witness(fs, digestsPath(stateDir), STATE_VERSION,
        nBuckets, aggKey)
      val cmp = w.compare(digests(table, idCol, dependsOn, nBuckets, bucketCol))

      def withBucketCol(df: DataFrame) = df.withColumn("__bucket",
        bucketCol.map(c => col(c).cast("long")).getOrElse(
          IncrementalValidation.bucketOf(col(idCol), nBuckets)))
      // dirty-row predicate: a typed attribute IN-list (partition-pruning
      // on a withBucket layout) when materialized, else the hash expr
      def dirtySlice(d: Seq[Long]): DataFrame = table.filter(
        IncrementalValidation.dirtyPred(table, bucketCol, nBuckets, d, idCol))

      val rebuild = w.maintain(cmp, storePath(stateDir), "__bucket",
          storeSortCols, dirtyFractionLimit, lease)(
        partial(withBucketCol(table)),
        d => partial(withBucketCol(dirtySlice(d))))

      // empty-table passes leave a data-less store dir (schema
      // uninferable) — only THAT case answers empty; real read
      // failures propagate
      val current =
        if (StateStore.storeHasData(fs, storePath(stateDir)))
          spark.read.parquet(storePath(stateDir))
            .drop("__bucket", "__bgroup")
        else partial(withBucketCol(table.limit(0))).drop("__bucket")
      (current, cmp.record(rebuild))
    } finally lease.release()
  }

  // ---- append-only (streaming) maintenance ---------------------------

  /** The vocabulary partial of one slice: (__bucket, term, n). Shared by
    * the churn-priced batch surface and the append-only fold. */
  private def vocabPartial(textCol: String)(slice: DataFrame): DataFrame =
    slice
      .select(col("__bucket"),
        explode(split(lower(col(textCol)), "[^a-z0-9]+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("__bucket", "term").agg(count(lit(1)).as("n"))

  /** Append-only fold for streaming (foreachBatch) callers: add one
    * micro-batch's per-bucket vocabulary partials to the store WITHOUT
    * digest pricing — over an APPEND-ONLY source nothing already stored
    * can change, so addition is the whole maintenance and each batch
    * costs exactly its own partial aggregation plus a write into the
    * touched buckets' partitions.
    *
    * Idempotent under Structured Streaming's at-least-once foreachBatch
    * retries: the append cycle ([[graft.state.StateStore.AppendStore]])
    * lands partials under a `__batch=<id>` partition level that a
    * replayed batch REPLACES, and skips a replay at or below the
    * compaction's replay fence. The store
    * accumulates one partial row-set per batch (LSM-ish);
    * [[vocabFromStore]] sums across them and [[compactVocabStore]]
    * folds the store back to one row per (bucket, term) under the
    * reserved base batch -1, bounding read amplification.
    *
    * Use a DEDICATED stateDir: the churn-priced [[run]]/[[vocab]]
    * surface must never share one (its digest witness cannot account
    * for streamed appends — it would detect the mismatch and rebuild,
    * the safe direction, but the stream's appended history would be
    * overwritten). */
  def vocabAppend(batch: DataFrame, batchId: Long, stateDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      nBuckets: Int = 256): Unit =
    appendFold(batch, batchId, stateDir, vocabPartial(textCol), idCol,
      nBuckets)

  /** The GENERIC append-only fold [[vocabAppend]] instantiates: add one
    * micro-batch's per-bucket partials (any summable partial under the
    * [[run]] bucket-locality contract) to the LSM-ish store. Same
    * idempotency (dynamic `__batch=<id>` overwrite), same compaction
    * replay fence, same lease, same crash recovery — see
    * [[vocabAppend]]'s contract; only the partial varies.
    * [[Indexing]]'s posting partial under
    * [[graft.streaming.StreamingOps.maintainIndex]] is the second
    * instance: CONTINUOUS index maintenance over an append-only
    * document stream. The cycle (lease, heal, stream-owner pin, replay
    * fence, `agg.append`) is [[graft.state.StateStore.AppendStore]]'s;
    * a stream-owner mismatch throws — recover with
    * [[rebaseAppendStore]], the deliberate act. */
  def appendFold(batch: DataFrame, batchId: Long, stateDir: String,
      partial: DataFrame => DataFrame, idCol: String,
      nBuckets: Int): Unit =
    appendFolded(batch, batchId, stateDir, partial, idCol, nBuckets)

  /** [[appendFold]], returning the partial rows it appended; None when
    * the replay fence skipped the batch. */
  private[ops] def appendFolded(batch: DataFrame, batchId: Long,
      stateDir: String, partial: DataFrame => DataFrame, idCol: String,
      nBuckets: Int): Option[DataFrame] = {
    require(nBuckets > 0, "nBuckets must be positive")
    val spark = batch.sparkSession
    appendStore(stateDir).append(spark, batchId)(
        (_, lease) => ensureAppendLayout(spark, stateDir, lease))(
        partial(batch.withColumn("__bucket",
          IncrementalValidation.bucketOf(col(idCol), nBuckets)))) {
      (out, _) => writeAppend(out, Some(batchId), storePath(stateDir),
        replace = true)
      out
    }
  }

  /** The current vocabulary from a store maintained by [[vocabAppend]]
    * and/or [[compactVocabStore]]: (term, n), store-sized work. */
  def vocabFromStore(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    fromAppendStore(spark, stateDir, Seq("term"), "n",
      Seq.empty[(String, Long)].toDF("term", "n"))
  }

  /** Read an append store maintained by [[appendFold]] and merge across
    * batches: groupBy(keyCols).sum(valCol), store-sized work. `empty`
    * supplies the result schema when nothing has been folded yet (a
    * data-less store cannot infer one). */
  def fromAppendStore(spark: SparkSession, stateDir: String,
      keyCols: Seq[String], valCol: String, empty: => DataFrame): DataFrame = {
    val fs = StateStore.fsOf(spark, stateDir)
    StateStore.heal(fs, storePath(stateDir))
    if (StateStore.storeHasData(fs, storePath(stateDir)))
      spark.read.parquet(storePath(stateDir))
        .groupBy(keyCols.map(col): _*).agg(sum(col(valCol)).as(valCol))
    else empty
  }

  /** Generic compaction for an [[appendFold]] store: fold back to ONE
    * row per (bucket, keyCols), under the reserved base batch -1 —
    * call every K batches to bound read amplification. The lease,
    * replay fence and renames-only swap are the
    * [[graft.state.StateStore.AppendStore]] compaction cycle's;
    * [[compactVocabStore]] delegates here. */
  def compactAppendStore(spark: SparkSession, stateDir: String,
      keyCols: Seq[String], valCol: String): Unit =
    appendStore(stateDir).compact(spark) { (fs, lease) =>
      ensureAppendLayout(spark, stateDir, lease)
      // the fold keeps the partition layout (later appends land in
      // __batch=K dirs next to the compacted __batch=-1)
      val store = spark.read.parquet(storePath(stateDir))
      // the fence: the highest batch id this fold consumes, from one
      // listing — a batch directory without data (a crashed write's
      // `_temporary` only) is not read by the fold, so it is not fenced
      // and its re-delivery lands. Monotone across compactions (an
      // already-compacted store answers the base -1, which never lowers
      // a previous fence)
      val maxBatch = appendStore(stateDir).batches(spark).sorted
        .findLast(b => StateStore.storeHasData(fs,
          s"${storePath(stateDir)}/__batch=$b"))
        .getOrElse(-1L)
      Some(maxBatch -> { tmp =>
        writeAppend(store
          .groupBy(("__bucket" +: keyCols).map(col): _*)
          .agg(sum(col(valCol)).as(valCol))
          // sum() widens (int -> long): cast back to the store's column
          // type, or post-compaction batch appends would mix parquet
          // physical types across files and break reads. Lossless for
          // count stores (already long) and for fact stores (one row per
          // key group — the "sum" IS the value)
          .withColumn(valCol, col(valCol).cast(store.schema(valCol).dataType)),
          Some(-1L), tmp, replace = false)
      })
    }((_, _) => ())

  /** Point a NEW streaming query (fresh checkpoint, batch ids restarting
    * at 0) at a KEPT append store — the deliberate recovery from the
    * ownership mismatch [[appendFold]] throws on: fold every batch
    * partition into the base (`__batch=-1`), reset the replay fence to
    * -1, clear the fence owner, and delete the stale co-located
    * checkpoint so the next [[graft.streaming.StreamingOps]] maintainer
    * starts a genuinely fresh query. After the rebase the new stream's
    * batch 0 is above the fence (nothing skipped) and no old
    * `__batch=K` partition remains for it to collide with (nothing
    * double-counted or overwritten).
    *
    * OFFLINE admin operation: run between stopping the old query and
    * starting the new one — the history rewrite and fence reset are one
    * logical act, serialized against appends by the store lease but not
    * atomic against a stream started mid-rebase. */
  def rebaseAppendStore(spark: SparkSession, stateDir: String,
      keyCols: Seq[String], valCol: String): Unit = {
    require(keyCols.nonEmpty,
      "rebase needs the store's key columns — an empty key list would " +
        "fold the keys away and destroy the store")
    val fs = StateStore.fsOf(spark, stateDir)
    if (StateStore.storeHasData(fs, storePath(stateDir)))
      compactAppendStore(spark, stateDir, keyCols, valCol)
    val lease = StateStore.acquireLease(spark, stateDir)
    try {
      // ORDER MATTERS across crash windows: the stale checkpoint dies
      // FIRST — once the fence is reset, a resumed OLD stream's replay
      // of a folded batch would land next to the base (double-count).
      // With the checkpoint gone first, every intermediate crash is
      // LOUD instead: a new stream against the still-present old owner
      // marker throws, and the operator re-runs the rebase.
      fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/checkpoint"),
        true)
      appendStore(stateDir).disown(fs)
    } finally lease.release()
  }

  /** Highest batch id materialized as its own `__batch=` partition in
    * an append store (-1 when none — empty store or everything folded
    * into the base). One driver-side directory listing; the guard a
    * composed caller uses to compact only BELOW the batch it is about
    * to process (see [[graft.ops.CuratedFeed]]). */
  def maxStoredBatch(spark: SparkSession, stateDir: String): Long =
    appendStore(stateDir).batches(spark).foldLeft(-1L)(math.max)

  /** Compact iff the store holds more than `maxBatchParts` batch
    * partitions — the generic [[maybeCompactVocabStore]]. */
  def maybeCompactAppendStore(spark: SparkSession, stateDir: String,
      maxBatchParts: Int, keyCols: Seq[String], valCol: String): Boolean =
    appendStore(stateDir).maybeCompact(spark, maxBatchParts)(
      compactAppendStore(spark, stateDir, keyCols, valCol))

  /** Fold the append-only store back to ONE row per (bucket, term),
    * stored under the reserved base batch -1 — call every K batches to
    * bound read amplification ([[compactAppendStore]]). */
  def compactVocabStore(spark: SparkSession, stateDir: String): Unit =
    compactAppendStore(spark, stateDir, Seq("term"), "n")

  /** Read-only access to a store maintained by [[run]] — the search-side
    * entry point for derived-index surfaces
    * ([[Indexing.searchIndexIncremental]], [[Similarity.pqSearchIncremental]]):
    * answer FROM the stored partials without paying a maintenance pass.
    * `__bucket` (and, for append stores, `__batch`) are dropped — they
    * are layout, not data. Works over BOTH store shapes: the
    * churn-priced [[run]] store and the [[appendFold]] LSM store (whose
    * un-compacted batches simply contribute more partial rows — readers
    * that aggregate, like the index search, are shape-oblivious).
    * Throws when no store exists — a missing state must never silently
    * answer empty. */
  def readStore(spark: SparkSession, stateDir: String): DataFrame = {
    val fs = StateStore.fsOf(spark, stateDir)
    StateStore.heal(fs, storePath(stateDir))
    require(StateStore.storeHasData(fs, storePath(stateDir)),
      s"no incremental store at $stateDir — run the maintenance " +
        "surface first")
    spark.read.parquet(storePath(stateDir))
      .drop("__bucket", "__batch", "__bgroup")
  }

  /** Compact iff the store has accumulated more than `maxBatchParts`
    * batch partitions (the base `__batch=-1` does not count) — the
    * bounded-read-amplification policy a long-running stream needs
    * without an operator remembering to call [[compactVocabStore]].
    * The partition count is one driver-side directory listing; the
    * compaction itself takes the lease as always. Returns whether a
    * compaction ran. */
  def maybeCompactVocabStore(spark: SparkSession, stateDir: String,
      maxBatchParts: Int): Boolean =
    maybeCompactAppendStore(spark, stateDir, maxBatchParts,
      Seq("term"), "n")

  /** Named instance: churn-priced CORPUS VOCABULARY — per-term token
    * counts over a document table, maintained at churn price. The store
    * holds per-(bucket, term) counts (Heaps-sublinear in the corpus);
    * the merge is a store-sized groupBy(term). Tokenization is the
    * engine contract shared with the DuckDB oracle: lower(text) split
    * on `[^a-z0-9]+`, empties dropped. Feeds the same places
    * [[TextAnalysis.vocabCoverage]]/[[TextAnalysis.corpusFreqScore]]
    * derive their vocabularies from — but a daily re-count of a churned
    * corpus prices at the churn, not the corpus. */
  def vocab(docs: DataFrame, stateDir: String, idCol: String = "doc_id",
      textCol: String = "text", nBuckets: Int = 256,
      dirtyFractionLimit: Double = 0.5,
      bucketCol: Option[String] = None): (DataFrame, IncrementalReport) = {
    val (store, rep) = run(docs, idCol, Seq(textCol), vocabPartial(textCol),
      aggKey = s"vocab:$textCol", stateDir, nBuckets,
      dirtyFractionLimit, bucketCol)
    (store.groupBy("term").agg(sum(col("n")).as("n")), rep)
  }

  /** Named instance: churn-priced BIGRAM MODEL TABLE — the corpus
    * count table that [[TextAnalysis.ngramLmSurprisal]] / DSIR-style
    * scoring builds, maintained at churn price. This is the workload
    * where incremental aggregation actually pays (rehearsal leg:
    * incremental cost flat while the full recompute-and-rewrite grows
    * with the corpus — 1.94x at 50x under a fixed churn): the bigram
    * key space is data-sized, so map-side combine cannot collapse the
    * full pass the way it does for a small vocabulary. Tokenization is
    * the engine contract (lower, split `[^a-z0-9]+`); pairs touching
    * an empty token are dropped (they only arise at text boundaries).
    * Output: ((w1, w2, n) merged from the store, prune record). */
  def bigrams(docs: DataFrame, stateDir: String, idCol: String = "doc_id",
      textCol: String = "text", nBuckets: Int = 256,
      dirtyFractionLimit: Double = 0.5,
      bucketCol: Option[String] = None): (DataFrame, IncrementalReport) = {
    val partial = (slice: DataFrame) => slice
      .select(col("__bucket"),
        split(lower(col(textCol)), "[^a-z0-9]+").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("__bucket"), explode(expr(
        "filter(transform(sequence(0, size(t)-2), " +
          "i -> struct(t[i] AS w1, t[i+1] AS w2)), " +
          "p -> p.w1 <> '' AND p.w2 <> '')")).as("bg"))
      .groupBy(col("__bucket"), col("bg.w1").as("w1"),
        col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("n"))
    val (store, rep) = run(docs, idCol, Seq(textCol), partial,
      aggKey = s"bigrams:$textCol", stateDir, nBuckets,
      dirtyFractionLimit, bucketCol)
    (store.groupBy("w1", "w2").agg(sum(col("n")).as("n")), rep)
  }
}
