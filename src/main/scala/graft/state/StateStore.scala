package graft.state

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.IncrementalValidation.IncrementalReport

/** The stored-state primitives every incremental surface is built on:
  * the single-writer lease, marker files, the renames-only swap and its
  * heal, the grouped `__bgroup` layout with its group surgery, the
  * one-file digest witness that guards a store (the driver-side compare
  * and the maintenance cycle around it), and the
  * append-store cycle: replay fence, stream-owner pin, batch listing,
  * `__batch` layout writer and fenced compaction.
  *
  * Surfaces decide WHAT they store; this object decides how a store
  * changes on disk, so the crash discipline is written once.
  * INCREMENTAL.md's invariants 1-5 are its contract:
  *  - every mutation runs under a [[Lease]] that is re-verified at each
  *    named commit point ([[Lease.check]]);
  *  - every rename's boolean result is checked ([[mustRename]]);
  *  - a whole-store replacement is a renames-only [[swap]], so every
  *    crash window leaves a complete copy under a known name, and
  *    [[heal]] restores it without ever touching a live store.
  */
object StateStore {

  /** The filesystem that holds `path`. */
  private[graft] def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Test seam: fired with a commit point's name just before the lease
    * is re-verified there ([[Lease.check]]) — lets a spec break the
    * lease, interleave a second writer or crash exactly at that point. */
  private[graft] var hook: String => Unit = _ => ()

  private def readFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  // ---- lease ------------------------------------------------------------

  /** Single-writer guard on a state directory. The swap discipline is
    * crash-safe for ONE writer; two concurrent runs could interleave
    * deletes and renames (or, on the report surface, partition deletes
    * with appends) — so every mutating surface takes this lease at run
    * start and re-verifies it at each commit point. The lease is an
    * exclusively-created file whose body is (nonce, pid, epoch-millis):
    * a second run fails fast on the create, and a run whose lease was
    * broken mid-flight aborts BEFORE its next mutation instead of
    * tearing a state another writer now owns.
    *
    * A crashed run leaves its lease behind by design (auto-expiry would
    * steal the lease out from under a legitimately long run) — the error
    * message carries the holder's pid/timestamp and the recovery action
    * is [[breakLease]]. Exclusive-create atomicity is the filesystem's:
    * HDFS and local FS give it outright; on S3-style stores front this
    * with an external coordinator if two schedulers can race. */
  private[graft] final class Lease private[StateStore] (fs: FileSystem,
      path: Path, nonce: String) {
    private def held: Boolean =
      try readFile(fs, path).startsWith(nonce)
      catch { case NonFatal(_) => false }

    /** Commit point `point`: fire the test [[hook]], then abort unless
      * the lease file still carries OUR nonce — called before every
      * state mutation. */
    def check(point: String): Unit = {
      hook(point)
      if (!held)
        throw new IllegalStateException(
          s"incremental-state lease at $path is no longer held by this " +
            "run (broken or taken by another writer); aborting before " +
            "any state mutation")
    }

    def release(): Unit =
      // delete only if still ours: never remove a successor's lease
      if (held)
        try fs.delete(path, false)
        catch { case NonFatal(_) => () }
  }

  private def leasePath(stateDir: String) = new Path(s"$stateDir/lease")

  private[graft] def acquireLease(spark: SparkSession,
      stateDir: String): Lease = {
    val p = leasePath(stateDir)
    val fs = fsOf(spark, stateDir)
    fs.mkdirs(p.getParent)
    val nonce = java.util.UUID.randomUUID().toString
    val payload = nonce + "\n" +
      ProcessHandle.current().pid() + "\n" +
      System.currentTimeMillis() + "\n"
    val out =
      try fs.create(p, /* overwrite = */ false)
      catch {
        case e: java.io.IOException =>
          val holder =
            try readFile(fs, p).trim.replace('\n', ' ')
            catch { case NonFatal(_) => "<unreadable>" }
          throw new IllegalStateException(
            s"incremental state at $stateDir is locked by another " +
              s"validation run (lease nonce/pid/epoch-ms: $holder); " +
              "concurrent writers would tear the stored state. If the " +
              "holder crashed, clear it with StateStore.breakLease(spark, " +
              "stateDir) or graft.Main --break-lease <stateDir>, and re-run.",
            e)
      }
    try out.write(payload.getBytes("UTF-8")) finally out.close()
    new Lease(fs, p, nonce)
  }

  /** Operator recovery: remove a lease a CRASHED run left behind. Never
    * call while the holder may still be alive — that reintroduces the
    * concurrent-writer exposure the lease exists to close. */
  def breakLease(spark: SparkSession, stateDir: String): Unit = {
    val p = leasePath(stateDir)
    val fs = fsOf(spark, stateDir)
    if (fs.exists(p)) fs.delete(p, false)
  }

  // ---- renames and markers ---------------------------------------------

  /** Hadoop FileSystems report rename failure by RETURNING FALSE, not by
    * throwing — an unchecked rename(p, old) that failed would let the
    * following rename(tmp, p) move the staging directory INSIDE the
    * still-present store (rename-into-existing-dir semantics), nesting a
    * `__staging` subtree that corrupts partition discovery. Every rename
    * goes through this: a false ABORTS, leaving the recoverable layout
    * for [[heal]]. */
  private[graft] def mustRename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(
        s"rename $from -> $to failed (filesystem returned false); " +
          "store left in its recoverable pre-swap layout")

  /** Small marker file, read fully and trimmed; None when absent. */
  private[graft] def readMarker(fs: FileSystem, path: String): Option[String] = {
    val p = new Path(path)
    if (!fs.exists(p)) None else Some(readFile(fs, p).trim)
  }

  /** Atomic (write-tmp + rename) small marker write. */
  private[graft] def writeMarker(fs: FileSystem, path: String,
      value: String): Unit = {
    val p = new Path(path)
    val tmp = new Path(path + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(value.getBytes("UTF-8")) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    mustRename(fs, tmp, p)
  }

  /** A value fixed for a store's lifetime: the first writer pins
    * `value`; any later caller declaring a different one gets
    * `mismatch(pinned)` thrown. Returns whether this call pinned it. */
  private[graft] def pinMarker(fs: FileSystem, path: String, value: String)(
      mismatch: String => Exception): Boolean =
    readMarker(fs, path) match {
      case Some(pinned) if pinned != value => throw mismatch(pinned)
      case Some(_) => false
      case None => writeMarker(fs, path, value); true
    }

  /** Does the store hold at least one file a reader reads? An
    * empty-table maintenance pass writes only markers (_SUCCESS), and a
    * crashed write leaves its files under `_temporary` — neither can a
    * reader see, so only those cases may read as empty; any OTHER read
    * failure (corrupt footer, transient FS error) must PROPAGATE, not
    * silently answer empty. */
  private[graft] def storeHasData(fs: FileSystem, path: String): Boolean = {
    // Spark's file index skips these names, files or directories: a
    // writer's `_temporary` and `.spark-staging-*` trees, `_SUCCESS`,
    // checksums; `__batch=…`-style partition directories are read
    def holds(p: Path): Boolean = fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !(n.startsWith("_") && !n.contains("=")) && !n.startsWith(".") &&
        (!st.isDirectory || holds(st.getPath))
    }
    val p = new Path(path)
    fs.exists(p) && holds(p)
  }

  /** The ids of the `<prefix>=<id>` entries directly under `dir` (none
    * when it does not exist) — one driver-side listing. A name whose id
    * part is not a number (a staging copy) is not an id. */
  private[graft] def listIds(fs: FileSystem, dir: String,
      prefix: String): Seq[Long] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix + "="))
      .flatMap(_.stripPrefix(prefix + "=").toLongOption)
  }

  /** Land a small per-batch artifact whole: `stage` writes it at
    * `staging` (a path no reader lists), `commit` runs — the caller's
    * lease check — and the staged copy then replaces `target` by
    * rename. A crash leaves at most the staging copy, never a torn
    * `target`; the next attempt discards it. */
  private[graft] def landStaged(fs: FileSystem, staging: String,
      target: String, commit: => Unit)(stage: String => Unit): Unit = {
    val (s, t) = (new Path(staging), new Path(target))
    if (fs.exists(s)) fs.delete(s, true)
    stage(staging)
    commit
    if (fs.exists(t)) fs.delete(t, true)
    fs.mkdirs(t.getParent)
    mustRename(fs, s, t)
  }

  // ---- swap and heal ----------------------------------------------------

  private def siblings(target: String): (Path, Path, Path) = {
    val p = new Path(target)
    (p, new Path(p.getParent, p.getName + "__staging"),
      new Path(p.getParent, p.getName + "__old"))
  }

  /** Restore an APPEND store (one that cannot rebuild itself) a crashed
    * swap left absent. Acts ONLY when the target is missing: a staging
    * copy next to an absent target is complete (the target is renamed
    * aside only after staging finishes, and an older delete-then-rename
    * swap deleted it only then), so it is promoted and any `__old` copy
    * dropped; otherwise an `__old` copy is restored. With a live target
    * nothing is touched — a sibling may be a running swap's staging,
    * and readers call this without the lease. Never call it on a
    * witness or other rebuildable state: its leftover staging may be
    * cut from older inputs, and [[swap]] discards it under the lease. */
  private[graft] def heal(fs: FileSystem, target: String): Unit = {
    val (p, tmp, old) = siblings(target)
    if (!fs.exists(p)) {
      if (fs.exists(tmp)) {
        mustRename(fs, tmp, p)
        if (fs.exists(old)) fs.delete(old, true)
      } else if (fs.exists(old)) mustRename(fs, old, p)
    }
  }

  /** Replace `target` by RENAMES ONLY: drop stale siblings, `stage` the
    * new copy into `target__staging` (the long step), re-verify the
    * lease, run `fence`, rename the target aside to `target__old`,
    * rename the staging copy in, delete `__old`. The target is never
    * deleted while it is the only copy, so every crash window leaves a
    * complete copy under a known name. A swap never promotes a sibling
    * it did not stage: an append store's caller [[heal]]s first, and a
    * stale sibling of anything else is discarded. Commit points:
    * `<name>.stage` and `<name>.swap`. */
  private[graft] def swap(fs: FileSystem, target: String, lease: Lease,
      fence: => Unit)(stage: String => Unit): Unit = {
    val (p, tmp, old) = siblings(target)
    lease.check(s"${p.getName}.stage")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) fs.delete(old, true)
    stage(tmp.toString)
    lease.check(s"${p.getName}.swap")
    fence
    val had = fs.exists(p)
    if (had) mustRename(fs, p, old)
    mustRename(fs, tmp, p)
    if (had) fs.delete(old, true)
  }

  /** [[swap]] in `df`, written as parquet. */
  private[graft] def swapWrite(df: DataFrame, target: String,
      lease: Lease): Unit =
    swap(fsOf(df.sparkSession, target), target, lease, ()) { tmp =>
      df.write.mode(SaveMode.Overwrite).parquet(tmp)
    }

  // ---- grouped layout ---------------------------------------------------

  /** Physical directories of a bucketed store. One directory per logical
    * bucket makes every dirty-bucket surgery pay a fixed per-directory
    * commit price (delete + writer open/close + footer + commit rename,
    * ~14 ms/dir locally) and every store read a per-directory
    * listing/footer price — costs that scale with the BUCKET COUNT, not
    * the data. Physical directories are bucket GROUPS (`__bgroup =
    * bucket mod groups`) with the bucket a SORTED data column, so
    * per-bucket reads prune on parquet row-group stats and the digest
    * granularity is untouched. ~16 buckets per group, floor 16: the
    * clean-row copy a surgery pays stays bounded at ~16x the dirty
    * buckets' rows at every scale, while the directory count drops 16x
    * (4096 buckets keep 256 directories; 256 keep 16). */
  private[graft] def groupCount(nBuckets: Int): Int =
    math.min(nBuckets, math.max(16, nBuckets / 16))

  private[graft] def groupOf(bucket: Long, groups: Int): Long =
    ((bucket % groups) + groups) % groups

  /** [[groupOf]] of the `bucketCol` column. */
  private def groupCol(bucketCol: String, groups: Int): Column =
    pmod(col(bucketCol), lit(groups.toLong))

  /** Write `rows` at `path` in the grouped layout: one file per group
    * directory, rows sorted by (group, bucket, `sortCols`) so per-bucket
    * reads and any `sortCols` filter prune on row-group min/max stats. */
  private def writeLaidOut(rows: DataFrame, bucketCol: String,
      groups: Int, sortCols: Seq[String], path: String): Unit =
    rows.withColumn("__bgroup", groupCol(bucketCol, groups))
      .repartition(col("__bgroup"))
      .sortWithinPartitions(
        (col("__bgroup") +: col(bucketCol) +: sortCols.map(col)): _*)
      .write.mode(SaveMode.Overwrite).partitionBy("__bgroup").parquet(path)

  /** Group-granular surgery on a grouped store: the dirty buckets'
    * GROUPS rewrite as (`recomputed` dirty rows) ∪ (the same groups'
    * carried clean rows), staged fully in `store__swap` and moved in by
    * per-group renames. The caller has already deleted its digest
    * witness, so a crash at any point makes the next run rebuild
    * wholesale. Commit point: `<store name>.renames`. */
  private def groupSurgery(store: String, recomputed: DataFrame,
      bucketCol: String, dirty: Seq[Long], groups: Int,
      sortCols: Seq[String], lease: Lease): Unit = {
    val spark = recomputed.sparkSession
    val fs = fsOf(spark, store)
    val dirtyGroups = dirty.map(groupOf(_, groups)).distinct
    // an all-clean prior store can be data-less — carried is then empty
    // by construction. Any other read failure propagates: an empty
    // stand-in would silently drop the clean buckets' rows. The explicit
    // schema needs no inference job, and the LongType group IN-list
    // compares the raw partition attribute, so it prunes directories
    val storeSchema = StructType(
      recomputed.schema.fields.map(_.copy(nullable = true)) :+
        StructField("__bgroup", LongType))
    val carried =
      if (storeHasData(fs, store))
        spark.read.schema(storeSchema).parquet(store)
          .filter(col("__bgroup").isin(dirtyGroups: _*) &&
            !col(bucketCol).isin(dirty: _*))
          .drop("__bgroup")
          .select(recomputed.columns.map(col).toIndexedSeq: _*)
      else recomputed.limit(0)
    val staging = new Path(store + "__swap")
    if (fs.exists(staging)) fs.delete(staging, true)
    writeLaidOut(recomputed.unionByName(carried), bucketCol, groups,
      sortCols, staging.toString)
    // the staging write is the long step: re-verify the lease right
    // before the renames, never move groups under a broken one
    lease.check(s"${new Path(store).getName}.renames")
    fs.mkdirs(new Path(store))
    for (g <- dirtyGroups) {
      val dst = new Path(s"$store/__bgroup=$g")
      if (fs.exists(dst)) fs.delete(dst, true)
      val src = new Path(s"$staging/__bgroup=$g")
      // a group with no staged dir drained entirely — the delete IS the swap
      if (fs.exists(src)) mustRename(fs, src, dst)
    }
    fs.delete(staging, true)
  }

  // ---- witness-guarded stores -------------------------------------------

  /** The digest compare of one run: the current per-bucket digest `rows`
    * of `schema`, whether a state of this identity with a readable
    * witness exists, and the dirty buckets against it as (bucket, present
    * in current) — None without one. A bucket can go dirty by VANISHING
    * (every row deleted); its store rows must still be dropped. */
  private[graft] final case class Compared(schema: StructType, rows: Seq[Row],
      haveState: Boolean, dirtyRows: Option[Seq[(Long, Boolean)]]) {
    def total: Long = rows.size.toLong
    def dirty: Option[Seq[Long]] = dirtyRows.map(_.map(_._1))
    def tooDirty(limit: Double): Boolean =
      dirty.exists(d => total > 0 && d.size.toDouble / total > limit)
    /** The column-sum of a LongType digest field, on the driver. */
    def sum(field: String): Long =
      rows.map(r => r.getLong(r.fieldIndex(field))).sum
    /** The run's record: a rebuild re-validated every bucket. */
    def record(rebuild: Boolean): IncrementalReport = IncrementalReport(
      rebuilt = rebuild,
      totalBuckets = total,
      dirtyBuckets =
        if (rebuild) total else dirty.map(_.size.toLong).getOrElse(0L),
      cleanBuckets =
        if (rebuild) 0L
        else total - dirtyRows.map(_.count(_._2).toLong).getOrElse(0L))
  }

  /** A stored state guarded by a digest WITNESS: the one file at `path`
    * holds the state's identity (`version`, `nBuckets`, `key`, a line
    * each) and then the per-bucket digest rows the state was cut from,
    * one tab-separated line each. Longs and DECIMAL(38,0) sums are plain
    * digits, so the compare stays exact. The rows are <= nBuckets+1 BY
    * CONTRACT, metadata-sized at every scale: the witness is written
    * and read on the driver, never by a Spark job. A bucket whose
    * current digest equals its witness line is clean — its stored rows
    * stand. `key` (the surface's mode or aggregate signature) may hold
    * any character but a newline. */
  private[graft] final case class Witness(fs: FileSystem, path: String,
      version: Int, nBuckets: Int, key: String) {
    private def header = Seq(version.toString, nBuckets.toString, key)

    private def cells(r: Row): Seq[String] = r.toSeq.map {
      case d: java.math.BigDecimal => d.toPlainString
      case v => String.valueOf(v)
    }

    /** The stored digest lines by bucket. A missing or unreadable file
      * (a legacy witness directory too), another identity's header or a
      * line that is not `width` integers reads as None: no state, the
      * rebuild direction. */
    private def stored(width: Int,
        bucket: Int): Option[Map[Long, Seq[String]]] =
      try {
        val lines = readFile(fs, new Path(path)).split("\n", -1).toSeq
        val rows = lines.drop(3).map(_.split("\t", -1).toSeq)
        def parses(r: Seq[String]) =
          r.size == width && r.forall(_.matches("-?\\d+"))
        if (lines.take(3) != header || !rows.forall(parses)) None
        else Some(rows.map(r => r(bucket).toLong -> r).toMap)
      } catch { case NonFatal(_) => None }

    /** Compare the current `digests` with the witness, on the driver:
      * one job for the digest scan, one file read for the witness. */
    def compare(digests: DataFrame): Compared = {
      val schema = digests.schema
      val rows = digests.collect().toSeq
      val bucket = schema.fieldIndex("bucket")
      val cur = rows.map(r => r.getLong(bucket) -> cells(r)).toMap
      val old = stored(schema.size, bucket)
      Compared(schema, rows, old.isDefined, old.map { prev =>
        (cur.keySet ++ prev.keySet).toSeq.collect {
          case b if cur.get(b) != prev.get(b) => b -> cur.contains(b)
        }
      })
    }

    /** The witness cycle around one mutation of the `store` this witness
      * guards: check the lease at `<store name>.mutate`, DELETE the
      * witness, run `mutation`, check the lease at `<witness name>.commit`
      * and land the current digests as the new witness file (write-tmp +
      * rename). A crash anywhere in between leaves no witness, so the
      * next run rebuilds instead of reading a torn store as clean. A kept
      * state with zero dirty buckets leaves store and witness untouched. */
    def mutate(c: Compared, store: String, rebuild: Boolean, lease: Lease)(
        mutation: => Unit): Unit = {
      lease.check(s"${new Path(store).getName}.mutate")
      if (rebuild || c.dirty.exists(_.nonEmpty)) {
        fs.delete(new Path(path), true)
        mutation
        lease.check(s"${new Path(path).getName}.commit")
        writeMarker(fs, path,
          (header ++ c.rows.map(cells(_).mkString("\t"))).mkString("\n"))
      }
    }

    /** One maintenance pass of a grouped `store` this witness guards
      * ([[mutate]]): a rebuild (no state, or more than
      * `dirtyFractionLimit` of the buckets dirty) rewrites the whole
      * store from `full`; otherwise only the dirty buckets' groups are
      * recomputed from `recompute(dirty)` ([[groupSurgery]]). Returns
      * whether it rebuilt. */
    def maintain(c: Compared, store: String, bucketCol: String,
        sortCols: Seq[String], dirtyFractionLimit: Double, lease: Lease)(
        full: => DataFrame, recompute: Seq[Long] => DataFrame): Boolean = {
      val rebuild = !c.haveState || c.tooDirty(dirtyFractionLimit)
      val groups = groupCount(nBuckets)
      mutate(c, store, rebuild, lease) {
        if (rebuild) writeLaidOut(full, bucketCol, groups, sortCols, store)
        else groupSurgery(store, recompute(c.dirty.get), bucketCol,
          c.dirty.get, groups, sortCols, lease)
      }
      rebuild
    }
  }

  // ---- append stores ----------------------------------------------------

  /** Write `rows` in an append store's layout at `path`:
    * `__batch=<id>/<level>=<v>` directories, one file each. `batch`
    * stamps every row with one batch id; without it each row carries
    * its own `__batch`. With `groups` the level is `__bgroup`, the bucket
    * group of `bucketCol` ([[groupOf]]), and the bucket rides along as a
    * sorted data column; without, `bucketCol` itself is the level.
    * `replace` overwrites only the batches `rows` hold, so a replayed
    * batch replaces its own partitions; otherwise `path` is written
    * whole. */
  private[graft] def writeBatches(rows: DataFrame, batch: Option[Long],
      path: String, bucketCol: String, groups: Option[Int],
      replace: Boolean): Unit = {
    val level = if (groups.isDefined) "__bgroup" else bucketCol
    val stamped = batch.fold(rows)(b => rows.withColumn("__batch", lit(b)))
    // a stamped id is a literal, which the writer's required ordering
    // skips: sorting by it too would make the writer re-sort by the
    // group alone and lose the bucket order
    val sortCols = batch.fold(Seq("__batch"))(_ => Nil) :+ "__bgroup" :+
      bucketCol
    val w = groups.fold(stamped.repartition(col(level)))(g =>
      stamped.withColumn("__bgroup", groupCol(bucketCol, g))
        .repartition(col("__bgroup"))
        .sortWithinPartitions(sortCols.map(col): _*))
      .write.mode(SaveMode.Overwrite)
    (if (replace) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy("__batch", level).parquet(path)
  }

  /** Pin the streaming query writing into `stateDir` as the owner the
    * `marker` file records. The query's identity: Structured Streaming
    * writes `{"id":"<uuid>"}` to `metadata` at the checkpoint root before
    * any batch runs — stable across restarts of the SAME checkpoint,
    * fresh when it is reset — and the streaming maintainers put the
    * checkpoint at `{stateDir}/checkpoint`. Batch ids are only comparable
    * within one query's lifetime: if the checkpoint was reset while the
    * state was kept, ids restart at 0, so a different recorded owner
    * throws `foreign(owner, query)`. Returns the query id and whether
    * this call adopted it; None for a direct batch caller, which has no
    * checkpoint and so no identity. */
  private[graft] def pinStreamOwner(fs: FileSystem, stateDir: String,
      marker: String)(
      foreign: (String, String) => Exception): Option[(String, Boolean)] =
    readMarker(fs, s"$stateDir/checkpoint/metadata")
      .flatMap(""""id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(_))
      .map(_.group(1))
      .map(id => id -> pinMarker(fs, marker, id)(foreign(_, id)))

  /** An APPEND-ONLY store at `stateDir/<name>`: one `__batch=<id>`
    * partition per delivered batch, plus the base `__batch=-1` that
    * compaction folds them into. It cannot rebuild itself (the stream's
    * past batches are gone from the source), so every writer [[heal]]s
    * it first. Beside it sit the replay-fence marker `fenceName` and the
    * stream-owner marker `ownerName` ([[pinStreamOwner]], thrown as
    * `foreign`). */
  private[graft] final class AppendStore(stateDir: String, name: String,
      fenceName: String, ownerName: String,
      foreign: (String, String) => Exception) {
    val path: String = s"$stateDir/$name"
    private def fencePath = s"$stateDir/$fenceName"
    private def ownerPath = s"$stateDir/$ownerName"

    /** The replay fence: the highest batch id a compaction folded into
      * the base, -1 when none. A batch whose store write committed but
      * whose streaming checkpoint did not is replayed after a restart;
      * once folded, its own partitions no longer exist for the replay
      * to replace, so [[append]] skips any batch at or below the fence.
      * Its rows are present: folded, or still in their own partitions
      * (the fence is written before the fold's renames, so it can only
      * over-fence). */
    def fence(fs: FileSystem): Long =
      readMarker(fs, fencePath).map(_.toLong).getOrElse(-1L)

    /** The recorded stream owner; None for a direct batch caller's. */
    def owner(fs: FileSystem): Option[String] = readMarker(fs, ownerPath)

    /** Reset the fence to -1 and forget the owner, so a new batch-id
      * sequence can feed the store. A crash between the two leaves the
      * old owner pinned: the new stream throws and the caller re-runs. */
    def disown(fs: FileSystem): Unit = {
      writeMarker(fs, fencePath, "-1")
      fs.delete(new Path(ownerPath), false)
    }

    /** The batch ids held as their own partitions, the base excluded. */
    def batches(spark: SparkSession): Seq[Long] =
      listIds(fsOf(spark, stateDir), path, "__batch").filter(_ >= 0)

    /** The compaction policy: run `compact` iff more than `maxBatchParts`
      * batch partitions have accumulated — one directory listing.
      * Returns whether it ran. */
    def maybeCompact(spark: SparkSession, maxBatchParts: Int)(
        compact: => Unit): Boolean = {
      require(maxBatchParts >= 1, "maxBatchParts must be >= 1")
      val due = batches(spark).size > maxBatchParts
      if (due) compact
      due
    }

    /** The append cycle for batch `batchId`: take the lease (a
      * compaction staged before this batch landed would otherwise swap
      * it away), heal, pin the stream owner, run the surface's `admit`
      * checks, and skip the batch (None) at or below the fence.
      * Otherwise `compute` its rows, check the lease at `<name>.append`
      * and `write` them — through [[writeBatches]]' `replace`, so a
      * replay replaces its own partitions instead of double-counting. */
    def append[A, T](spark: SparkSession, batchId: Long)(
        admit: (FileSystem, Lease) => Unit)(compute: => A)(
        write: (A, Lease) => T): Option[T] = {
      require(batchId >= 0, "batch ids are non-negative (-1 is the base)")
      val lease = acquireLease(spark, stateDir)
      try {
        val fs = fsOf(spark, stateDir)
        heal(fs, path)
        val wm = fence(fs)
        val query = pinStreamOwner(fs, stateDir, ownerPath)(foreign)
        for ((id, adopted) <- query if adopted && wm >= 0)
          log.warn(s"adopted streaming query $id as owner of the append " +
            s"store at $path: its fence $wm predates ownership tracking")
        admit(fs, lease)
        if (batchId > wm) {
          val rows = compute
          lease.check(s"$name.append")
          Some(write(rows, lease))
        } else {
          // a direct batch caller has no verifiable identity: the skip
          // is right for a replay but loses data if the caller restarted
          // its own id sequence — say so
          if (query.isEmpty)
            log.warn(s"append store at $path: skipping batch $batchId at " +
              s"or below the replay fence $wm; unless it replays a folded " +
              "batch, its data is being dropped")
          None
        }
      } finally lease.release()
    }

    /** The compaction cycle: take the lease, heal, and let `plan` choose
      * the fold — the highest batch id it consumes and the write that
      * stages the folded store — then [[swap]] it in with the fence
      * raised to that id BEFORE the renames. A crash between the two
      * over-fences, which is safe (the folded rows are present either
      * way); fencing after the swap would leave a window where a replay
      * re-appends folded rows. `plan` answering None leaves the store
      * as it is; `after` runs under the same lease once the fold is in,
      * given the fold's id. Commit points `<name>.stage` and
      * `<name>.swap`. */
    def compact(spark: SparkSession)(
        plan: (FileSystem, Lease) => Option[(Long, String => Unit)])(
        after: (FileSystem, Long) => Unit): Unit = {
      val lease = acquireLease(spark, stateDir)
      try {
        val fs = fsOf(spark, stateDir)
        heal(fs, path)
        plan(fs, lease).foreach { case (upTo, fold) =>
          swap(fs, path, lease, fence =
            if (upTo > fence(fs)) writeMarker(fs, fencePath, upTo.toString))(
            fold)
          after(fs, upTo)
        }
      } finally lease.release()
    }
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)
}
