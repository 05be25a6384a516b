package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.core.IncrementalValidation

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
  * Crash discipline is [[IncrementalValidation.reportIncremental]]'s,
  * verbatim: the digest witness is DELETED before any store partition is
  * mutated and swapped back only after, so a torn store can never read
  * clean; the single-writer lease guards every mutating run; a missing /
  * version-skewed / `aggKey`-mismatched state rebuilds wholesale (the
  * safe direction). `aggKey` must encode the aggregate's identity AND
  * parameters — two different aggregates pointed at one stateDir must
  * never answer from each other's partials.
  */
object IncrementalAgg {

  /** One run's execution record (same shape as validation's). */
  type IncrementalReport = IncrementalValidation.IncrementalReport
  // v2: marker-file meta + bucket-GROUP physical layout for the [[run]]
  // store (see runGroupCount). A v1 state mismatches the meta check and
  // rebuilds wholesale — the safe direction; run() stores are always
  // rebuildable from the table.
  private val STATE_VERSION = 2

  private def storePath(stateDir: String) = s"$stateDir/agg"

  /** The append store's data path, for sibling operators whose PARTIAL
    * must read the store itself (e.g. [[Curation.seenAppend]]'s novelty
    * anti-join needs the raw `__batch`/`__bucket` partition columns the
    * public [[readStore]] drops). Layout remains this object's. */
  private[ops] def appendStorePath(stateDir: String): String =
    storePath(stateDir)

  /** [[storeHasData]] against the append store — the sibling-operator
    * twin of [[appendStorePath]]. */
  private[ops] def appendStoreHasData(spark: SparkSession,
      stateDir: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    storeHasData(fs, storePath(stateDir))
  }
  private def digestsPath(stateDir: String) = s"$stateDir/agg_digests"
  private def metaPath(stateDir: String) = s"$stateDir/meta"
  private def watermarkPath(stateDir: String) = s"$stateDir/agg_compact_watermark"

  /** Hadoop FileSystems report rename failure by RETURNING FALSE, not by
    * throwing — an unchecked rename(p, old) that failed would let the
    * following rename(tmp, p) move the staging directory INSIDE the
    * still-present store (rename-into-existing-dir semantics), nesting a
    * `__staging` subtree that corrupts partition discovery. Every swap
    * rename goes through this: a false ABORTS the swap, leaving the
    * recoverable tmp/old layout for [[recoverStore]]. */
  private[graft] def mustRename(fs: org.apache.hadoop.fs.FileSystem,
      from: org.apache.hadoop.fs.Path, to: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(
        s"rename $from -> $to failed (filesystem returned false); " +
          "store left in its recoverable pre-swap layout")

  /** Small marker file, read fully; None when absent. */
  private[graft] def readMarker(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](256)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        Some(new String(buf.toByteArray, "UTF-8").trim)
      } finally in.close()
    }
  }

  /** Atomic (write-tmp + rename) small marker write. */
  private[graft] def writeMarker(fs: org.apache.hadoop.fs.FileSystem,
      path: String, value: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(value.getBytes("UTF-8")) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    mustRename(fs, tmp, p)
  }

  /** Highest batch id COMPACTION has folded into the base partition
    * (-1 when none) — the replay fence: a micro-batch whose store write
    * committed but whose streaming checkpoint did not is replayed by
    * Structured Streaming after restart, and if compaction ran in
    * between, its `__batch=<id>` partitions no longer exist for the
    * dynamic overwrite to replace — the replay would APPEND a second
    * copy of already-folded counts. [[vocabAppend]] therefore skips any
    * batch id at or below this watermark: the batch's counts are
    * guaranteed present (folded into the base, or still in their own
    * partitions if the fold's swap hasn't landed — the watermark is
    * written BEFORE the swap, so it can only over-fence, never
    * under-fence). */
  private def readWatermark(fs: org.apache.hadoop.fs.FileSystem,
      stateDir: String): Long =
    readMarker(fs, watermarkPath(stateDir)).map(_.toLong).getOrElse(-1L)

  private def writeWatermark(fs: org.apache.hadoop.fs.FileSystem,
      stateDir: String, value: Long): Unit =
    // a crash inside writeMarker's delete+rename window only LOWERS the
    // fence (no watermark / the old one) — replays then fall back to
    // the dynamic-overwrite idempotency, which is still correct pre-swap
    writeMarker(fs, watermarkPath(stateDir), value.toString)

  private def fenceOwnerPath(stateDir: String) = s"$stateDir/agg_fence_owner"

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
  private[graft] val APPEND_PHYS_PARTS = 16L
  private[graft] def appendGroup(bucket: Column): Column =
    pmod(bucket, lit(APPEND_PHYS_PARTS))
  private[graft] def appendGroupOf(bucket: Long): Long =
    ((bucket % APPEND_PHYS_PARTS) + APPEND_PHYS_PARTS) % APPEND_PHYS_PARTS

  // ---- churn-priced (run) store physical layout -----------------------
  // The same disease and cure for the [[run]] store: one directory per
  // logical `__bucket` makes every dirty-bucket surgery pay a fixed
  // per-directory commit price (delete + writer open/close + footer +
  // commit rename, ~14 ms/dir locally) and every store READ pay a
  // per-directory listing/footer price — costs that scale with the
  // BUCKET COUNT, not the data. Physical directories are bucket GROUPS
  // (`__bgroup = __bucket mod groups`) with `__bucket` a SORTED data
  // column, so the dirty-input pruning (which filters the INPUT table by
  // bucket, not the store) and the digest granularity are untouched; a
  // surgery rewrites the dirty buckets' GROUPS (recomputed dirty rows +
  // carried clean rows of the same groups, staged then swapped by
  // renames). The group count grows with nBuckets — ~16 buckets per
  // group, floor 16 — so the clean-row copy a surgery pays is bounded at
  // ~16x the dirty buckets' store rows at EVERY scale, while the
  // directory count drops 16x (a 4096-bucket production state keeps 256
  // physical partitions; a 256-bucket state keeps 16).
  private[graft] def runGroupCount(nBuckets: Int): Int =
    math.min(nBuckets, math.max(16, nBuckets / 16))
  private[graft] def runGroupOf(bucket: Long, groups: Int): Long =
    ((bucket % groups) + groups) % groups
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
      lease: IncrementalValidation.Lease): Unit = {
    val p = new org.apache.hadoop.fs.Path(storePath(stateDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (readMarker(fs, layoutPath(stateDir)).contains(APPEND_LAYOUT_VERSION))
      return
    if (!storeHasData(fs, storePath(stateDir))) {
      writeMarker(fs, layoutPath(stateDir), APPEND_LAYOUT_VERSION)
      return
    }
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, p.getName + "__staging")
    val old = new org.apache.hadoop.fs.Path(p.getParent, p.getName + "__old")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) fs.delete(old, true)
    // the migration is a store mutation like any other: re-verify the
    // caller's lease before staging and again immediately before the
    // commit-point renames — a broken lease must never swap over a
    // successor writer's store
    lease.check()
    val store = spark.read.parquet(storePath(stateDir))
    store
      .withColumn("__bucket", col("__bucket").cast("long"))
      .withColumn("__bgroup", appendGroup(col("__bucket")))
      .repartition(col("__batch"), col("__bgroup"))
      .sortWithinPartitions("__batch", "__bgroup", "__bucket")
      .write.mode(SaveMode.Overwrite)
      .partitionBy("__batch", "__bgroup")
      .parquet(tmp.toString)
    lease.check()
    mustRename(fs, p, old)
    mustRename(fs, tmp, p)
    fs.delete(old, true)
    writeMarker(fs, layoutPath(stateDir), APPEND_LAYOUT_VERSION)
  }

  /** The streaming query that feeds this store, when one is co-located:
    * Structured Streaming writes `{"id":"<uuid>"}` to `metadata` at the
    * checkpoint root before any batch runs — stable across restarts of
    * the SAME checkpoint, fresh when the checkpoint is reset. The
    * [[graft.streaming.StreamingOps]] maintainers put the checkpoint at
    * `{stateDir}/checkpoint`, so the identity is readable here without
    * any API plumbing; direct batch callers have none. */
  private[ops] def streamIdentity(fs: org.apache.hadoop.fs.FileSystem,
      stateDir: String): Option[String] =
    readMarker(fs, s"$stateDir/checkpoint/metadata").flatMap { s =>
      """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(s).map(_.group(1))
    }

  /** Does the store hold at least one data file? An empty-table
    * maintenance pass writes only markers (_SUCCESS), which parquet
    * cannot infer a schema from — that case falls back to an empty
    * frame; any OTHER read failure (corrupt footer, transient FS
    * error) must PROPAGATE, not silently answer empty. */
  private[graft] def storeHasData(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    fs.exists(p) && {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val name = it.next().getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) found = true
      }
      found
    }
  }

  /** Test seam — fired after the read-only prune, before the first
    * mutation (the [[IncrementalValidation.beforeMutationHook]] twin). */
  private[graft] var beforeMutationHook: () => Unit = () => ()

  /** Per-bucket single-table digests: (bucket, n, ha, hb). Map-side
    * combinable end to end; the two row hashes are independently salted
    * (see [[IncrementalValidation.digests]] — same 2^-128 false-clean
    * argument at matching counts). Package-private for the plan spec. */
  /** Position-salted row-value hash over `dependsOn` — the
    * [[IncrementalValidation.multiValueExpr]] contract, with ONE digest
    * refinement: ARRAY columns (embeddings) hash natively instead of
    * through a cast to string. Stringifying a dim-64 float array per
    * row made the digest scan cost a material fraction of a full
    * re-encode (rehearsal-measured); the native XxHash64 over the array
    * is a few fused multiplies per element and equally
    * session/partition-stable. Scalar columns keep the string cast —
    * their digest values (and every committed vocab/bigram/posting
    * state) are unchanged. */
  private def valueExpr(table: DataFrame, dependsOn: Seq[String]): Column =
    xxhash64(dependsOn.zipWithIndex.map { case (c, j) =>
      val base = table.schema(c).dataType match {
        case _: org.apache.spark.sql.types.ArrayType => col(c)
        case _ => col(c).cast(StringType)
      }
      xxhash64(lit(j), base)
    }: _*)

  private[graft] def digests(table: DataFrame, idCol: String,
      dependsOn: Seq[String], nBuckets: Int,
      bucketCol: Option[String]): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val id = col(idCol).cast(StringType)
    val v = valueExpr(table, dependsOn)
    table.select(
        bucketCol.map(c => col(c).cast("long")).getOrElse(
          when(col(idCol).isNull, lit(-1L))
            .otherwise(pmod(xxhash64(id), lit(nBuckets.toLong)))).as("bucket"),
        xxhash64(id, v).as("h"),
        xxhash64(lit(1L), id, v).as("h2"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(col("h").cast(dec)).as("ha"),
        sum(col("h2").cast(dec)).as("hb"))
  }

  /** State-identity meta as a MARKER FILE (version, bucket count, agg
    * key), not a parquet table: checking it is a driver-side read, never
    * a Spark job — every maintenance run pays this check, and at 100 TB
    * as at sf0.001 it is three fields. A legacy (v1) parquet meta
    * DIRECTORY fails the marker read and reads as no-state — the rebuild
    * direction. aggKey may contain any character but a newline. */
  private def metaMatches(spark: SparkSession, stateDir: String,
      nBuckets: Int, aggKey: String): Boolean =
    try {
      val p = new org.apache.hadoop.fs.Path(metaPath(stateDir))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(p) && !fs.getFileStatus(p).isDirectory &&
        readMarker(fs, metaPath(stateDir)).exists { s =>
          s.split("\n", 3) match {
            case Array(v, n, k) =>
              v == STATE_VERSION.toString && n == nBuckets.toString &&
                k == aggKey
            case _ => false
          }
        }
    } catch { case scala.util.control.NonFatal(_) => false }

  private def writeMeta(fs: org.apache.hadoop.fs.FileSystem,
      stateDir: String, nBuckets: Int, aggKey: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(metaPath(stateDir))
    // a legacy parquet meta is a non-empty directory: clear it first
    // (writeMarker's own delete is non-recursive)
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory) fs.delete(p, true)
    writeMarker(fs, metaPath(stateDir), s"$STATE_VERSION\n$nBuckets\n$aggKey")
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
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = IncrementalValidation.acquireLease(spark, stateDir)
    try {
      // digests are <= nBuckets+1 rows BY CONTRACT (metadata-sized at
      // every scale) — collect them and compare on the driver: one job
      // for the scan instead of localCheckpoint + count + a join job,
      // and the rewritten witness is one file instead of one per
      // shuffle partition
      val cdDf = digests(table, idCol, dependsOn, nBuckets, bucketCol)
      val cdSchema = cdDf.schema
      val cdRows = cdDf.collect()
      val total = cdRows.length.toLong
      val haveState = metaMatches(spark, stateDir, nBuckets, aggKey)
      // explicit schema: the witness is written from cdSchema, and
      // skipping parquet schema inference skips its per-read Spark job
      val old: Option[Array[org.apache.spark.sql.Row]] =
        if (haveState)
          try Some(spark.read.schema(cdSchema)
            .parquet(digestsPath(stateDir)).collect())
          catch { case scala.util.control.NonFatal(_) => None }
        else None
      def triples(rows: Array[org.apache.spark.sql.Row])
          : Map[Long, (Long, java.math.BigDecimal, java.math.BigDecimal)] =
        rows.map { r =>
          r.getLong(r.fieldIndex("bucket")) ->
            ((r.getLong(r.fieldIndex("n")),
              r.getDecimal(r.fieldIndex("ha")),
              r.getDecimal(r.fieldIndex("hb"))))
        }.toMap
      def decEq(a: java.math.BigDecimal, b: java.math.BigDecimal): Boolean =
        (a eq b) || (a != null && b != null && a.compareTo(b) == 0)
      // (bucket, present-in-current): a bucket can go dirty by VANISHING
      // (every row deleted) — its store partition must still be dropped
      val dirtyRows: Option[Seq[(Long, Boolean)]] = old.map { st =>
        val cur = triples(cdRows)
        val prev = triples(st)
        (cur.keySet ++ prev.keySet).toSeq.flatMap { b =>
          (cur.get(b), prev.get(b)) match {
            case (Some(c), Some(p))
                if c._1 == p._1 && decEq(c._2, p._2) && decEq(c._3, p._3) =>
              None
            case (c, _) => Some(b -> c.isDefined)
          }
        }
      }
      val dirty: Option[Seq[Long]] = dirtyRows.map(_.map(_._1))
      // the witness rewrite source: the collected digest rows as one
      // local partition (one output file)
      def cdLocal: DataFrame = spark.createDataFrame(
        spark.sparkContext.parallelize(cdRows.toSeq, 1), cdSchema)

      def bucketOf(df: DataFrame): Column =
        bucketCol.map(c => col(c).cast("long")).getOrElse(
          when(col(idCol).isNull, lit(-1L)).otherwise(
            pmod(xxhash64(col(idCol).cast(StringType)),
              lit(nBuckets.toLong))))
      def withBucketCol(df: DataFrame) = df.withColumn("__bucket", bucketOf(df))
      // dirty-row predicate: a typed attribute IN-list (partition-pruning
      // on a withBucket layout) when materialized, else the hash expr
      def dirtySlice(d: Seq[Long]): DataFrame = bucketCol match {
        case Some(_) => table.filter(
          IncrementalValidation.dirtyPred(table, bucketCol, nBuckets, d))
        case None => table.filter(bucketOf(table).isin(d: _*))
      }

      val tooDirty = dirty.exists(d =>
        total > 0 && d.size.toDouble / total > dirtyFractionLimit)
      val rebuild = dirty.isEmpty || tooDirty
      beforeMutationHook()
      lease.check()

      val groups = runGroupCount(nBuckets)
      // grouped physical layout (see runGroupCount): repartition on the
      // GROUP so each group directory holds one file per write; within a
      // file rows sort by (__bucket, storeSortCols) so per-bucket reads
      // and any storeSortCols filter prune on parquet row-group min/max
      def laidOut(df: DataFrame): DataFrame =
        df.withColumn("__bgroup", pmod(col("__bucket"), lit(groups.toLong)))
          .repartition(col("__bgroup"))
          .sortWithinPartitions((col("__bgroup") +: col("__bucket") +:
            storeSortCols.map(col)): _*)

      if (rebuild) {
        // witness first: torn store must never read clean
        if (fs.exists(new org.apache.hadoop.fs.Path(digestsPath(stateDir))))
          fs.delete(new org.apache.hadoop.fs.Path(digestsPath(stateDir)), true)
        laidOut(partial(withBucketCol(table)))
          .write.mode(SaveMode.Overwrite).partitionBy("__bgroup")
          .parquet(storePath(stateDir))
        IncrementalValidation.swapWrite(spark, cdLocal, digestsPath(stateDir))
        if (!haveState) writeMeta(fs, stateDir, nBuckets, aggKey)
      } else if (dirty.get.nonEmpty) {
        val d = dirty.get
        val dirtyGroups = d.map(b => runGroupOf(b, groups)).distinct
        fs.delete(new org.apache.hadoop.fs.Path(digestsPath(stateDir)), true)
        // the dirty buckets' GROUPS rewrite: recomputed dirty partials
        // plus the same groups' carried clean rows (group-dir-pruned
        // read), staged fully and swapped in by renames — a crash at any
        // point leaves no witness, so the next run rebuilds wholesale
        val recomputed = partial(withBucketCol(dirtySlice(d)))
        // explicit schema (store files carry the partial's columns, the
        // directory level is __bgroup): no inference job, and the long-
        // typed partition column makes the group IN-list prune without
        // a cast
        val storeSchema = org.apache.spark.sql.types.StructType(
          recomputed.schema.fields :+
            org.apache.spark.sql.types.StructField("__bgroup",
              org.apache.spark.sql.types.LongType))
        val carried =
          if (storeHasData(fs, storePath(stateDir)))
            spark.read.schema(storeSchema).parquet(storePath(stateDir))
              .filter(col("__bgroup").isin(dirtyGroups: _*) &&
                !col("__bucket").isin(d: _*))
              .drop("__bgroup")
              .select(recomputed.columns.map(col): _*)
          else recomputed.limit(0)
        val staging = new org.apache.hadoop.fs.Path(
          storePath(stateDir) + "__swap")
        if (fs.exists(staging)) fs.delete(staging, true)
        laidOut(recomputed.unionByName(carried))
          .write.mode(SaveMode.Overwrite).partitionBy("__bgroup")
          .parquet(staging.toString)
        fs.mkdirs(new org.apache.hadoop.fs.Path(storePath(stateDir)))
        for (g <- dirtyGroups) {
          val dst = new org.apache.hadoop.fs.Path(
            s"${storePath(stateDir)}/__bgroup=$g")
          if (fs.exists(dst)) fs.delete(dst, true)
          val src = new org.apache.hadoop.fs.Path(
            s"$staging/__bgroup=$g")
          // a group with no staged dir drained entirely (every bucket in
          // it vanished): the delete above IS the whole swap
          if (fs.exists(src)) mustRename(fs, src, dst)
        }
        fs.delete(staging, true)
        IncrementalValidation.swapWrite(spark, cdLocal, digestsPath(stateDir))
      } // zero dirty: store and witness both stand untouched

      // empty-table passes leave a data-less store dir (schema
      // uninferable) — only THAT case answers empty; real read
      // failures propagate
      val current =
        if (storeHasData(fs, storePath(stateDir)))
          spark.read.parquet(storePath(stateDir))
            .drop("__bucket", "__bgroup")
        else partial(withBucketCol(table.limit(0))).drop("__bucket")
      val dirtyInCurrent =
        dirtyRows.map(_.count(_._2).toLong).getOrElse(0L)
      val report = IncrementalValidation.IncrementalReport(
        rebuilt = rebuild,
        totalBuckets = total,
        dirtyBuckets =
          if (rebuild) total else dirty.map(_.size.toLong).getOrElse(0L),
        cleanBuckets = if (rebuild) 0L else total - dirtyInCurrent)
      (current, report)
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

  /** Crash recovery for the append-only store. [[compactVocabStore]]
    * swaps by RENAMES ONLY (stage → rename store aside → rename staged
    * copy in → delete the old copy): the store path is never
    * recursively deleted while it is the only copy, so every crash
    * window leaves at least one COMPLETE copy under a known name — and
    * unlike the digest-witnessed batch state, an append store cannot
    * rebuild itself (the stream's past batches are gone from the
    * source). Recovery, on every entry point, when the store path is
    * missing: prefer the staged compacted copy (complete by the swap
    * order — the aside-rename only happens after staging finishes),
    * else restore the aside copy. Leftover siblings are only discarded
    * when the store exists. */
  private def recoverStore(spark: SparkSession, stateDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(storePath(stateDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(
      p.getParent, p.getName + "__staging")
    val old = new org.apache.hadoop.fs.Path(
      p.getParent, p.getName + "__old")
    if (!fs.exists(p)) {
      if (fs.exists(tmp) && fs.exists(old)) {
        // crash between the two swap renames: tmp is the complete
        // compacted copy, old the complete pre-compaction copy
        mustRename(fs, tmp, p); fs.delete(old, true)
      } else if (fs.exists(tmp)) mustRename(fs, tmp, p)
      else if (fs.exists(old)) mustRename(fs, old, p)
    }
  }

  /** Append-only fold for streaming (foreachBatch) callers: add one
    * micro-batch's per-bucket vocabulary partials to the store WITHOUT
    * digest pricing — over an APPEND-ONLY source nothing already stored
    * can change, so addition is the whole maintenance and each batch
    * costs exactly its own partial aggregation plus a write into the
    * touched buckets' partitions.
    *
    * Idempotent under Structured Streaming's at-least-once foreachBatch
    * retries: partials land under a `__batch=<id>` partition level and
    * the write is a DYNAMIC partition overwrite, so a replayed batch
    * REPLACES its own partitions instead of double-counting — and a
    * replay arriving AFTER a compaction folded the batch away (its
    * partitions no longer exist to replace) is fenced by the compaction
    * watermark: batch ids at or below it are skipped outright. The store
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
    * document stream. */
  def appendFold(batch: DataFrame, batchId: Long, stateDir: String,
      partial: DataFrame => DataFrame, idCol: String,
      nBuckets: Int): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    require(batchId >= 0, "batch ids are non-negative (-1 is the base)")
    // the append IS a store mutation: it must hold the same lease
    // compaction takes, or a compact that staged its copy before this
    // batch's partitions landed would swap them away (the streaming
    // checkpoint has already recorded the batch — it never replays).
    // Per-batch acquire/release: micro-batches are sequential within a
    // query, and a concurrent compact now fails fast instead of racing.
    val lease = IncrementalValidation.acquireLease(batch.sparkSession,
      stateDir)
    try {
      recoverStore(batch.sparkSession, stateDir)
      ensureAppendLayout(batch.sparkSession, stateDir, lease)
      val wmFs = new org.apache.hadoop.fs.Path(stateDir)
        .getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
      // fence OWNERSHIP before the fence: batch ids are only comparable
      // within ONE streaming query's lifetime. If the checkpoint was
      // reset while the store was kept, ids restart at 0 — the fence
      // would silently swallow real data and the dynamic overwrite
      // would replace the OLD stream's same-numbered partitions. The
      // co-located checkpoint's query uuid is the identity; a mismatch
      // with the recorded owner fails LOUDLY (recover with
      // [[rebaseAppendStore]], the deliberate act).
      val streamId = streamIdentity(wmFs, stateDir)
      val wm = readWatermark(wmFs, stateDir)
      streamId.foreach { sid =>
        readMarker(wmFs, fenceOwnerPath(stateDir)) match {
          case Some(owner) if owner != sid =>
            throw new IllegalStateException(
              s"append store at $stateDir was built by streaming query " +
                s"$owner but this batch comes from query $sid — the " +
                "checkpoint was reset (or a different stream points " +
                "here) while the store was kept; batch ids are not " +
                "comparable across query lifetimes, so appending would " +
                "silently lose or double-count data. To keep the store " +
                "and feed it from a new stream, run " +
                "IncrementalAgg.rebaseAppendStore first; to start over, " +
                "delete the state directory.")
          case None =>
            if (wm >= 0)
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"adopting streaming query $sid as fence owner of the " +
                  s"existing append store at $stateDir (watermark $wm " +
                  "predates ownership tracking — earlier batches cannot " +
                  "be verified against this query's id space)")
            writeMarker(wmFs, fenceOwnerPath(stateDir), sid)
          case _ => ()
        }
      }
      // replay fence: a batch at or below the compaction watermark has
      // already been FOLDED into the base partition — its own
      // `__batch=<id>` partitions are gone, so the dynamic overwrite
      // would append a second copy instead of replacing. Skip; the
      // counts are provably present (see [[readWatermark]]).
      if (batchId <= wm) {
        if (streamId.isEmpty && wm >= 0)
          // a direct batch caller has no verifiable identity — the skip
          // is correct for a same-run replay but silent data loss if
          // the caller restarted its own id sequence; say so
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"append store at $stateDir: skipping batch $batchId at or " +
              s"below the compaction watermark $wm (no co-located " +
              "streaming checkpoint to verify the caller's id space — " +
              "if this batch is NOT a replay of the fenced one, its " +
              "data is being dropped; rebaseAppendStore resets the " +
              "fence for a new id sequence)")
        return
      }
      val withB = batch.withColumn("__bucket",
        when(col(idCol).isNull, lit(-1L)).otherwise(
          pmod(xxhash64(col(idCol).cast(StringType)),
            lit(nBuckets.toLong))))
      // grouped physical layout: `__bucket` rides as a SORTED data
      // column, directories are bucket groups (see APPEND_PHYS_PARTS)
      val out = partial(withB)
        .withColumn("__batch", lit(batchId))
        .withColumn("__bgroup", appendGroup(col("__bucket")))
        .repartition(col("__bgroup"))
        .sortWithinPartitions("__bgroup", "__bucket")
      lease.check()
      out.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch", "__bgroup")
        .parquet(storePath(stateDir))
    } finally lease.release()
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
    recoverStore(spark, stateDir)
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (storeHasData(fs, storePath(stateDir)))
      spark.read.parquet(storePath(stateDir))
        .groupBy(keyCols.map(col): _*).agg(sum(col(valCol)).as(valCol))
    else empty
  }

  /** Generic compaction for an [[appendFold]] store: fold back to ONE
    * row per (bucket, keyCols), under the reserved base batch -1 —
    * call every K batches to bound read amplification. Lease, replay
    * watermark and renames-only swap are [[compactVocabStore]]'s
    * verbatim (that surface now delegates here). */
  def compactAppendStore(spark: SparkSession, stateDir: String,
      keyCols: Seq[String], valCol: String): Unit =
    compactWith(spark, stateDir, keyCols, valCol)

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
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (storeHasData(fs, storePath(stateDir)))
      compactWith(spark, stateDir, keyCols, valCol)
    val lease = IncrementalValidation.acquireLease(spark, stateDir)
    try {
      // ORDER MATTERS across crash windows: the stale checkpoint dies
      // FIRST — once the fence is reset, a resumed OLD stream's replay
      // of a folded batch would land next to the base (double-count).
      // With the checkpoint gone first, every intermediate crash is
      // LOUD instead: a new stream against the still-present old owner
      // marker throws, and the operator re-runs the rebase.
      fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/checkpoint"),
        true)
      writeWatermark(fs, stateDir, -1L)
      fs.delete(new org.apache.hadoop.fs.Path(fenceOwnerPath(stateDir)),
        false)
    } finally lease.release()
  }

  /** Highest batch id materialized as its own `__batch=` partition in
    * an append store (-1 when none — empty store or everything folded
    * into the base). One driver-side directory listing; the guard a
    * composed caller uses to compact only BELOW the batch it is about
    * to process (see [[graft.ops.CuratedFeed]]). */
  def maxStoredBatch(spark: SparkSession, stateDir: String): Long =
    batchPartitions(spark, storePath(stateDir)).foldLeft(-1L)(math.max)

  /** The batch ids a `__batch=`-partitioned store holds as their own
    * partitions (the folded base `__batch=-1` excluded; empty when the
    * store does not exist) — one driver-side directory listing. */
  private[ops] def batchPartitions(spark: SparkSession,
      storeDir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("__batch=") && n != "__batch=-1")
      .map(_.stripPrefix("__batch=").toLong)
  }

  /** Compact iff the store holds more than `maxBatchParts` batch
    * partitions — the generic [[maybeCompactVocabStore]]. */
  def maybeCompactAppendStore(spark: SparkSession, stateDir: String,
      maxBatchParts: Int, keyCols: Seq[String], valCol: String): Boolean = {
    require(maxBatchParts >= 1, "maxBatchParts must be >= 1")
    if (batchPartitions(spark, storePath(stateDir)).size > maxBatchParts) {
      compactAppendStore(spark, stateDir, keyCols, valCol); true
    } else false
  }

  /** Fold the append-only store back to ONE row per (bucket, term),
    * stored under the reserved base batch -1 — call every K batches to
    * bound read amplification. Takes the single-writer lease (it
    * rewrites history a concurrent append could interleave with) and
    * swap-writes, the same discipline as the batch state. */
  def compactVocabStore(spark: SparkSession, stateDir: String): Unit =
    compactWith(spark, stateDir, Seq("term"), "n")

  private def compactWith(spark: SparkSession, stateDir: String,
      keyCols: Seq[String], valCol: String): Unit = {
    val lease = IncrementalValidation.acquireLease(spark, stateDir)
    try {
      recoverStore(spark, stateDir) // a prior crash's stranded swap
      ensureAppendLayout(spark, stateDir, lease)
      val p = new org.apache.hadoop.fs.Path(storePath(stateDir))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmp = new org.apache.hadoop.fs.Path(
        p.getParent, p.getName + "__staging")
      val old = new org.apache.hadoop.fs.Path(
        p.getParent, p.getName + "__old")
      // store exists here (recovered or live): siblings are garbage
      // (a partial staging, or an already-swapped-out old copy)
      if (fs.exists(tmp)) fs.delete(tmp, true)
      if (fs.exists(old)) fs.delete(old, true)
      // stage FULLY (partition layout preserved — later appends land in
      // __batch=K dirs next to the compacted __batch=-1), then swap by
      // RENAMES ONLY: the store is never recursively deleted while it
      // is the only copy, so no crash point can truncate the history
      // (a mid-delete crash under the delete+rename discipline would
      // leave a TORN store that later entries would trust)
      val store = spark.read.parquet(storePath(stateDir))
      // the replay fence: the highest batch id this fold consumes —
      // monotone across compactions (an already-compacted store's max
      // is the base -1, which never lowers a previous fence)
      // partition discovery infers `__batch=<k>` directories as INT —
      // cast, or getLong throws on the boxed Integer
      val maxBatch = store.agg(max(col("__batch").cast("long"))).head() match {
        case r if r.isNullAt(0) => -1L
        case r => r.getLong(0)
      }
      store
        .groupBy(("__bucket" +: keyCols).map(col): _*)
        .agg(sum(col(valCol)).as(valCol))
        // sum() widens (int -> long): cast back to the store's column
        // type, or post-compaction batch appends would mix parquet
        // physical types across files and break reads. Lossless for
        // count stores (already long) and for fact stores (one row per
        // key group — the "sum" IS the value)
        .withColumn(valCol, col(valCol).cast(store.schema(valCol).dataType))
        .withColumn("__batch", lit(-1L))
        .withColumn("__bgroup", appendGroup(col("__bucket")))
        .repartition(col("__bgroup"))
        .sortWithinPartitions("__bgroup", "__bucket")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("__batch", "__bgroup")
        .parquet(tmp.toString)
      lease.check()
      // fence BEFORE the swap: if the crash lands between fence and
      // swap, fenced batches' partitions still exist (over-fencing is
      // safe — their counts remain present either way); fencing after
      // the swap would leave a window where a replay re-appends
      // already-folded counts
      if (maxBatch > readWatermark(fs, stateDir))
        writeWatermark(fs, stateDir, maxBatch)
      mustRename(fs, p, old)
      mustRename(fs, tmp, p)
      fs.delete(old, true)
    } finally lease.release()
  }

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
    recoverStore(spark, stateDir)
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(storeHasData(fs, storePath(stateDir)),
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
