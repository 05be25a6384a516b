package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.state.StateStore

/** CONTINUOUS LOADER FEED — incremental fixed-length sequence
  * construction over an arriving document stream: the streaming twin of
  * [[Chunking.fixedSequences]]. Each batch's token streams concatenate
  * onto the per-shard STORED CARRY (the tail of the previous batch's
  * stream that didn't fill a sequence), complete `seqLen`-token rows cut
  * off and append to the store, and the new tail becomes the carry —
  * so at any point the store holds exactly the complete sequences
  * `fixedSequences` would emit over everything that has arrived, in
  * arrival order, with per-shard `seq_id` continuous across batches.
  * Training can consume the feed while ingestion runs; nothing is ever
  * re-cut.
  *
  * State (tiny — per shard: one < seqLen id buffer + its doc list):
  *  - `{stateDir}/carry/batch=<K>`: the carry AFTER batch K, one row per
  *    shard (shard, next_seq, ids, docs). EVERY batch's carry is kept
  *    (metadata-sized), which is what makes replays recomputable.
  *  - `{stateDir}/seqstore/__batch=<K>/__bucket=<shard>`: batch K's
  *    complete sequences (the [[Chunking.fixedSequences]] row shape,
  *    always `complete = true` — the incomplete tail lives in the
  *    carry, never the store).
  *
  * Discipline: the store's append and compaction cycles are
  * [[graft.state.StateStore.AppendStore]]'s (lease, heal, stream-owner
  * pin, replay fence, fenced compaction). What is the feed's own:
  *  - the seqLen pin, and batch ids IN SEQUENCE (`lastBatch + 1`):
  *    unlike a summable fold, the cut is order-dependent, so a gap is
  *    an error, not a skip;
  *  - replays (batchId <= lastBatch) recompute from the RETAINED
  *    carry of batchId-1 and replace their own `__batch` partition —
  *    byte-identical rows, at-least-once safe. The carry lands whole
  *    (staged, renamed in at the `carry.commit` point), so a crash
  *    between the store write and the carry heals the same way:
  *    re-deliver the batch;
  *  - a stream-owner mismatch (reset checkpoint over a kept feed)
  *    cannot be rebased: recovery is a fresh stateDir (sequence
  *    identity IS the arrival order).
  *
  * Scale: each batch pays one shard-keyed exchange of ITS OWN rows plus
  * a per-partition sweep with a constant-size buffer (the
  * [[Chunking.fixedSequences]] memory shape); the carry round-trips
  * through the driver but is nShards × seqLen ints. Reads
  * ([[sequencesFromStore]]) scan only the store.
  */
object SequenceFeed {

  private def storePath(stateDir: String) = s"$stateDir/seqstore"
  private def carryDir(stateDir: String) = s"$stateDir/carry"
  private def carryPath(stateDir: String, batchId: Long) =
    s"${carryDir(stateDir)}/batch=$batchId"
  private def seqLenPath(stateDir: String) = s"$stateDir/feed_seqlen"
  private def snapshotsDir(stateDir: String) = s"$stateDir/snapshots"
  private def snapshotPath(stateDir: String, snapId: Long) =
    s"${snapshotsDir(stateDir)}/snap=$snapId"

  // These encoder case classes must NOT be plain `private`: that compiles
  // to private bytecode, and the Janino-generated encoder projections
  // (a different package) then throw CompileException on every accessor
  // and fall back to interpreted row conversion for the whole feed path.
  // `private[graft]` is public in bytecode (same pattern as
  // Chunking.FixedSeq) while keeping the source-level encapsulation.

  /** One stored carry row / one shard's in-flight tail. */
  private[graft] final case class Carry(shard: Long, next_seq: Long,
      ids: Array[Int], docs: Array[Long])

  /** The carry files' schema, passed to every carry read (no inference
    * job). */
  private val carrySchema =
    org.apache.spark.sql.Encoders.product[Carry].schema

  /** One emitted complete sequence (the fixedSequences shape; always
    * complete here, pads never apply mid-stream). */
  private[graft] final case class FeedSeq(shard: Long, seq_id: Long,
      n_tokens: Long, n_docs: Long, first_doc: Long, last_doc: Long,
      token_ids: Array[Int], ids_sum: Long)

  /** One sweep output row: a complete sequence (is_carry = false,
    * docs empty) or a shard's new tail (is_carry = true, docs = the
    * buffer's contributing doc ids — the carry needs the full list so
    * n_docs/first_doc stay exact across the batch boundary). */
  private[graft] final case class SweepRow(is_carry: Boolean, shard: Long,
      seq_id: Long, n_tokens: Long, n_docs: Long, first_doc: Long,
      last_doc: Long, token_ids: Array[Int], ids_sum: Long,
      docs: Array[Long])

  /** The feed's sequence store. */
  private def feedStore(stateDir: String) =
    new StateStore.AppendStore(stateDir, "seqstore", "feed_compact_watermark",
      "feed_owner", (owner, query) => new IllegalStateException(
        s"sequence feed at $stateDir was built by streaming query " +
          s"$owner but this batch comes from query $query — the " +
          "checkpoint was reset while the feed was kept. Batch ids " +
          "are not comparable across query lifetimes and the cut " +
          "is arrival-order-dependent, so the feed cannot be " +
          "rebased; start a fresh stateDir (the exported store " +
          "remains readable)."))

  /** Highest batch id this feed has processed (-1 when none): the max
    * retained carry that holds data — a carry a crashed write left
    * without data is not a landed batch. One driver-side directory
    * listing, plus one of that carry. */
  def lastBatch(spark: SparkSession, stateDir: String): Long = {
    val fs = StateStore.fsOf(spark, stateDir)
    StateStore.listIds(fs, carryDir(stateDir), "batch").sorted.reverseIterator
      .find(b => StateStore.storeHasData(fs, carryPath(stateDir, b)))
      .getOrElse(-1L)
  }

  /** The carry after batch `batchId`, read with its explicit schema (no
    * inference job). A carry directory without data is a torn write: it
    * throws, where reading it as empty would restart every shard's
    * `seq_id`. */
  private def readCarry(spark: SparkSession, stateDir: String,
      batchId: Long): DataFrame = {
    val p = carryPath(stateDir, batchId)
    if (!StateStore.storeHasData(StateStore.fsOf(spark, stateDir), p))
      throw new IllegalStateException(s"the carry at $p holds no data " +
        s"(a torn write); deliver batch $batchId again")
    spark.read.schema(carrySchema).parquet(p)
  }

  /** Append one batch of encoded documents to the feed. `enc` carries
    * (shardCol, orderCol, idCol, idsCol) — the same contract as
    * [[Chunking.fixedSequences]] (orderCol orders the stream WITHIN the
    * batch per shard, ties broken by the id; across batches the order
    * is arrival order, which is the point). Empty-shard batches carry
    * the previous tail forward untouched. */
  def sequencesAppend(enc: DataFrame, batchId: Long, stateDir: String,
      shardCol: String, orderCol: String, idCol: String, idsCol: String,
      seqLen: Int): Option[(Long, Long)] = {
    require(seqLen > 0, "seqLen must be positive")
    val spark = enc.sparkSession
    import spark.implicits._
    feedStore(stateDir).append(spark, batchId) { (fs, _) =>
      // sequence-length guard: the store's rows are seqLen-token facts
      // and the carry's buffer is mid-cut at that length, so a changed
      // seqLen mid-feed would silently mix row lengths in one store and
      // mis-cut every shard at the carry boundary. The first append
      // pins it; a mismatch is a config error, never a skip.
      StateStore.pinMarker(fs, seqLenPath(stateDir), seqLen.toString) { v =>
        new IllegalArgumentException(
          s"sequence feed at $stateDir was built with seqLen $v but " +
            s"this batch declares $seqLen — a feed cuts ONE length " +
            "for its whole lifetime. Fix the caller's seqLen or " +
            "start a fresh stateDir.")
      }
      val last = lastBatch(spark, stateDir)
      require(batchId <= last + 1,
        s"batch $batchId arrived over a feed at batch $last — a GAP in " +
          "an order-dependent feed loses stream content; deliver " +
          s"batch ${last + 1} first")
      // a batch at or below the replay fence is skipped by the cycle:
      // its rows are present, since the fold only ever covers batches
      // whose carry landed (see [[compactFeedStore]])
    } {
      // replay or first delivery: either way the cut derives from the
      // carry BEFORE this batch, which is always retained
      val prev: Map[Long, Carry] =
        if (batchId == 0) Map.empty
        else readCarry(spark, stateDir, batchId - 1)
          .as[Carry].collect().map(c => c.shard -> c).toMap
      val bc = spark.sparkContext.broadcast(prev)
      val cut = enc
        .select(col(shardCol).cast("long").as("shard"),
          col(orderCol).cast("long").as("ord"),
          col(idCol).cast("long").as("doc"),
          coalesce(col(idsCol), typedLit(Array.empty[Int])).as("ids"))
        .repartition(col("shard"))
        .sortWithinPartitions(col("shard"), col("ord"), col("doc"))
        .as[(Long, Long, Long, Array[Int])]
        .mapPartitions { it =>
          // the LAZY fixedSequences sweep, seeded per shard from the
          // carry — memory is one seqLen buffer + the pending queue of
          // the current input row, never a batch's worth
          new Iterator[SweepRow] {
            private val carries = bc.value
            private val pending =
              scala.collection.mutable.Queue.empty[SweepRow]
            private var shard = Long.MinValue
            private var seqId = 0L
            private var buf = new ArrayBuffer[Int]()
            private var docs = ArrayBuffer.empty[Long]
            private var drained = false
            private def seed(s: Long): Unit = {
              shard = s
              carries.get(s) match {
                case Some(c) =>
                  seqId = c.next_seq
                  buf = ArrayBuffer.from(c.ids)
                  docs = ArrayBuffer.from(c.docs)
                case None =>
                  seqId = 0L
                  buf = new ArrayBuffer[Int]()
                  docs = ArrayBuffer.empty[Long]
              }
            }
            private def emitCarry(): Unit =
              if (shard != Long.MinValue)
                pending += SweepRow(is_carry = true, shard, seqId,
                  buf.length.toLong, docs.length.toLong,
                  if (docs.isEmpty) -1L else docs.head,
                  if (docs.isEmpty) -1L else docs.last,
                  buf.toArray, buf.map(_.toLong).sum, docs.toArray)
            private def advance(): Unit = {
              while (pending.isEmpty && it.hasNext) {
                val (s, _, doc, ids) = it.next()
                if (s != shard) { emitCarry(); seed(s) }
                if (ids.nonEmpty) {
                  var i = 0
                  var counted = false
                  while (i < ids.length) {
                    if (!counted) { docs += doc; counted = true }
                    buf += ids(i)
                    if (buf.length == seqLen) {
                      val arr = buf.toArray
                      pending += SweepRow(is_carry = false, shard, seqId,
                        seqLen.toLong, docs.length.toLong, docs.head,
                        docs.last, arr, arr.map(_.toLong).sum,
                        Array.empty[Long])
                      seqId += 1
                      buf = new ArrayBuffer[Int]()
                      docs = ArrayBuffer.empty[Long]
                      counted = false
                    }
                    i += 1
                  }
                }
              }
              if (pending.isEmpty && !it.hasNext && !drained) {
                drained = true
                emitCarry()
              }
            }
            override def hasNext: Boolean = { advance(); pending.nonEmpty }
            override def next(): SweepRow = { advance(); pending.dequeue() }
          }
        }
      (prev, cut)
    } { case ((prev, cut), lease) =>
      cut.persist()
      try {
        StateStore.writeBatches(cut.filter(!col("is_carry"))
          .drop("is_carry", "docs").withColumn("__batch", lit(batchId))
          .withColumn("__bucket", col("shard")),
          None, storePath(stateDir), "__bucket", None, replace = true)
        // the new carry: shards touched this batch take their fresh
        // tail; untouched shards carry the previous one forward —
        // nShards rows, driver-merged (metadata-sized by contract)
        val fresh = cut.filter(col("is_carry"))
          .collect()
          .map(r => Carry(r.shard, r.seq_id, r.token_ids, r.docs))
        val freshShards = fresh.map(_.shard).toSet
        val rows = fresh.toSeq ++
          prev.view.filterKeys(s => !freshShards.contains(s)).values.toSeq
        val target = carryPath(stateDir, batchId)
        StateStore.landStaged(StateStore.fsOf(spark, stateDir),
            target + "__staging", target, lease.check("carry.commit")) {
          StateStore.writer(spark.createDataset(rows).coalesce(1))
            .parquet(_)
        }
        // both carry totals are already on the driver — return them so a
        // composed caller (the curated feed's ledger) can price the
        // batch's cut without re-reading two carry files
        (prev.values.map(_.next_seq).sum, rows.map(_.next_seq).sum)
      } finally cut.unpersist()
    }
  }

  /** Fold batch partitions into the base (`__batch=-1`) — the
    * read-amplification bound for a LONG-RUNNING feed (a month of
    * minute-batches is ~43k partitions; readers merge across all of
    * them). Rows are immutable unique facts, so the fold is a plain
    * rewrite (no aggregation), swapped in by
    * [[graft.state.StateStore.swap]] with the replay watermark written
    * BEFORE the renames (over-fencing is safe — a fenced replay's rows
    * are in the base either way).
    *
    * The fold covers ONLY batches whose carry landed: a batch whose
    * store write committed but whose carry write crashed heals by
    * REPLAY (recompute + dynamic overwrite), which fencing would
    * forbid — so its partition passes through un-folded and un-fenced,
    * and the restarted stream's replay completes it. Carries at or
    * below the new fence (minus the one the next batch seeds from) are
    * PRUNED — they can never be read again (fenced replays skip
    * without recomputing), and without pruning the per-append
    * `lastBatch` listing would grow with feed age forever. */
  def compactFeedStore(spark: SparkSession, stateDir: String): Unit =
    feedStore(stateDir).compact(spark) { (fs, _) =>
      val lastCarried = lastBatch(spark, stateDir)
      if (!fs.exists(new Path(storePath(stateDir))) || lastCarried < 0) None
      else Some(lastCarried -> { tmp =>
        StateStore.writeBatches(spark.read.parquet(storePath(stateDir))
          .withColumn("__batch",
            when(col("__batch").cast("long") <= lastCarried, lit(-1L))
              .otherwise(col("__batch").cast("long"))),
          None, tmp, "__bucket", None, replace = false)
      })
    } { (fs, lastCarried) =>
      // prune dead carries: a fenced batch never recomputes, so only
      // carry(lastCarried) (the next batch's seed / replay base) and
      // above can ever be read again
      StateStore.listIds(fs, carryDir(stateDir), "batch")
        .filter(_ < lastCarried)
        .foreach(b => fs.delete(new Path(carryPath(stateDir, b)), true))
    }

  /** Compact iff more than `maxBatchParts` batch partitions have
    * accumulated (the base `__batch=-1` does not count) — one
    * driver-side listing per call; see INCREMENTAL.md for sizing. */
  def maybeCompactFeedStore(spark: SparkSession, stateDir: String,
      maxBatchParts: Int): Boolean =
    feedStore(stateDir).maybeCompact(spark, maxBatchParts)(
      compactFeedStore(spark, stateDir))

  /** Every COMPLETE sequence the feed has cut so far, the
    * [[Chunking.fixedSequences]] row shape minus the
    * `complete`/`n_pad` columns (always true / 0 here). Store-sized
    * scan; empty frame when nothing has been cut. */
  def sequencesFromStore(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    val fs = StateStore.fsOf(spark, stateDir)
    StateStore.heal(fs, storePath(stateDir))
    if (StateStore.storeHasData(fs, storePath(stateDir)))
      spark.read.parquet(storePath(stateDir)).drop("__batch", "__bucket")
    else
      Seq.empty[FeedSeq].toDF()
  }

  /** FSCK for the sequence store — one aggregation pass verifying every
    * invariant the feed discipline promises, so an operator can check a
    * store's health WITHOUT trusting the code that wrote it (after a
    * crash, a manual surgery, or a suspected replay bug). Per shard:
    * `n_rows`, `max_seq_id`, and four violation counters that are all
    * zero on a healthy store — `n_dup` (repeated seq_ids: a replay that
    * double-appended), `n_gap` (holes in the dense 0..max id range: a
    * lost batch), `n_len_bad` (a row whose `token_ids` length disagrees
    * with its `n_tokens`, or whose `n_tokens` is not `seqLen` — the
    * store holds only complete rows), `n_sum_bad` (a row whose
    * recomputed token sum disagrees with its stored `ids_sum` checksum:
    * bit rot or a corrupted write).
    *
    * Scale: one store-sized scan, one shard-keyed aggregate (the exact
    * distinct count is two-phase; everything else map-side combines).
    * Empty output = empty store. */
  def auditStore(spark: SparkSession, stateDir: String,
      seqLen: Int): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    sequencesFromStore(spark, stateDir)
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_rows"),
        max(col("seq_id")).as("max_seq_id"),
        (count(lit(1)) - countDistinct(col("seq_id"))).as("n_dup"),
        (max(col("seq_id")) + lit(1L) - countDistinct(col("seq_id")))
          .as("n_gap"),
        sum(when(size(col("token_ids")) =!= col("n_tokens") ||
            col("n_tokens") =!= lit(seqLen.toLong), 1L).otherwise(0L))
          .as("n_len_bad"),
        sum(when(aggregate(col("token_ids"), lit(0L),
            (acc, x) => acc + x) =!= col("ids_sum"), 1L).otherwise(0L))
          .as("n_sum_bad"))
      .orderBy("shard")
  }

  /** The current incomplete per-shard tails (shard, next_seq, ids,
    * docs) — what a final [[Chunking.fixedSequences]]-style flush would
    * emit as `complete = false` rows. */
  def carrySnapshot(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    val last = lastBatch(spark, stateDir)
    if (last < 0) Seq.empty[Carry].toDF()
    else readCarry(spark, stateDir, last)
  }

  /** PUBLISH A TRAINING SNAPSHOT — a frozen, named row set over the
    * live feed, so training reads a fixed corpus while ingestion and
    * compaction keep running. The snapshot is NOT a file list (the
    * Iceberg/Delta manifest idea doesn't survive [[compactFeedStore]]'s
    * wholesale rewrite); it is per-shard `seq_id` HIGH-WATER MARKS —
    * the store's own identity keys. They come straight from the last
    * retained carry (`next_seq` = the count of complete rows cut per
    * shard, exact by the sweep's construction), so publishing is
    * METADATA-priced: one nShards-row read, one nShards-row write, no
    * corpus scan. Rows below a mark are immutable (appends only add
    * ids at or above it; compaction moves files, never rows), so the
    * snapshot's row set is frozen forever:
    *  - [[Chunking.shuffleSequences]] over a snapshot gives the same
    *    epoch permutation on every read — [[Chunking.epochResume]]
    *    cursors stay meaningful across loader restarts (over the LIVE
    *    store they do not: new arrivals shift `row_number` positions);
    *  - the snapshot id IS the batch id it covers (publishing twice
    *    after the same batch is a no-op), so "train on everything
    *    through Tuesday" is `publishSnapshot` in Tuesday's last pass.
    *
    * Returns the snapshot id. Requires at least one delivered batch. */
  def publishSnapshot(spark: SparkSession, stateDir: String): Long = {
    val lease = StateStore.acquireLease(spark, stateDir)
    try {
      val last = lastBatch(spark, stateDir)
      require(last >= 0,
        s"nothing to publish at $stateDir — the feed has no batches")
      val fin = snapshotPath(stateDir, last)
      val fs = StateStore.fsOf(spark, stateDir)
      if (fs.exists(new Path(fin))) return last // idempotent republication
      // readers probe for the final directory: the rename is the commit,
      // so a crashed publish leaves only ignorable staging garbage
      StateStore.landStaged(fs, fin + "__staging", fin,
          lease.check("snapshots.publish")) {
        StateStore.writer(readCarry(spark, stateDir, last)
          .select(col("shard"), col("next_seq").as("hwm"))
          .coalesce(1))
          .parquet(_)
      }
      last
    } finally lease.release()
  }

  /** Published snapshot ids, ascending. One directory listing. */
  def listSnapshots(spark: SparkSession, stateDir: String): Seq[Long] =
    StateStore.listIds(StateStore.fsOf(spark, stateDir),
      snapshotsDir(stateDir), "snap").sorted

  /** Total complete rows cut through batch `batchId` — the sum of the
    * carry's `next_seq` marks (exact by the sweep's construction).
    * Metadata-priced; 0 when the carry is absent (batchId < 0, or
    * pruned below the compaction fence). Two consecutive totals
    * difference to one batch's contribution — how the ledger prices a
    * batch without scanning the store. */
  private[ops] def carrySeqTotal(spark: SparkSession, stateDir: String,
      batchId: Long): Long = {
    if (batchId < 0 || !StateStore.fsOf(spark, stateDir).exists(
        new Path(carryPath(stateDir, batchId)))) 0L
    else readCarry(spark, stateDir, batchId)
      .agg(coalesce(sum(col("next_seq")), lit(0L))).head().getLong(0)
  }

  /** One-row state summary, METADATA-priced (marker reads + one
    * nShards-row carry read — no store scan): last_batch, seq_len (the
    * pinned cut length; null before the first append), owner (the
    * streaming query uuid; null for direct batch callers),
    * compact_fence (highest folded batch; -1 when never compacted),
    * shards_touched and total_sequences (from the last carry — the
    * exact complete-row count, the same marks a snapshot publishes),
    * n_snapshots and latest_snapshot (-1 when none). */
  def describe(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    val fs = StateStore.fsOf(spark, stateDir)
    val last = lastBatch(spark, stateDir)
    val (shards, total) =
      if (last < 0) (0L, 0L)
      else {
        val c = readCarry(spark, stateDir, last)
          .agg(count(lit(1)), coalesce(sum(col("next_seq")), lit(0L)))
          .head()
        (c.getLong(0), c.getLong(1))
      }
    val snaps = listSnapshots(spark, stateDir)
    Seq((last,
        StateStore.readMarker(fs, seqLenPath(stateDir))
          .map(_.toInt).getOrElse(-1),
        feedStore(stateDir).owner(fs).orNull,
        feedStore(stateDir).fence(fs),
        shards, total, snaps.size.toLong,
        if (snaps.isEmpty) -1L else snaps.last))
      .toDF("last_batch", "seq_len", "owner", "compact_fence",
        "shards_touched", "total_sequences", "n_snapshots",
        "latest_snapshot")
  }

  /** Exactly the complete sequences the feed held when snapshot
    * `snapId` was published — [[sequencesFromStore]] filtered to the
    * marks, byte-identical on every read regardless of appends or
    * compactions since. One store-sized scan + a broadcast of the
    * nShards-row mark table; shards first touched after the publish
    * drop at the join. */
  def readSnapshot(spark: SparkSession, stateDir: String,
      snapId: Long): DataFrame = {
    val p = snapshotPath(stateDir, snapId)
    require(StateStore.fsOf(spark, p).exists(new Path(p)), {
      val avail = listSnapshots(spark, stateDir)
      s"no snapshot $snapId at $stateDir — published: " +
        (if (avail.isEmpty) "none" else avail.mkString(", "))
    })
    val hwm = spark.read.parquet(p)
    sequencesFromStore(spark, stateDir)
      .join(broadcast(hwm), Seq("shard"))
      .filter(col("seq_id") < col("hwm"))
      .drop("hwm")
  }
}
