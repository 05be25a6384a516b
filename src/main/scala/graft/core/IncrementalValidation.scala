package graft.core

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Incremental validation — the shape a DAILY 100 TB validation run
  * actually wants.
  *
  * [[Validator.summaryFast]] is one keyed shuffle of |rows1|+|rows2| —
  * optimal for a first validation, but a re-validation after a day of
  * churn re-shuffles 100 TB to rediscover that 99% of it did not change.
  * This surface splits the run into:
  *
  *  1. a DIGEST pass: each side is scanned once (column-pruned to
  *     (id, check)) and aggregated into `nBuckets` per-bucket multiset
  *     digests — row count plus two independent 64-bit wrap-around hash
  *     sums per side. The aggregation is fully map-side combinable
  *     (sum/count over `pmod(xxhash64(id), n)` groups), so the only
  *     shuffle is ~`nBuckets` rows per task: the pass costs a scan,
  *     never a data-sized exchange.
  *  2. a PRUNE: the digests are compared with the stored state from the
  *     previous run. A bucket whose six digest fields all match carries
  *     its stored summary terms forward; only DIRTY buckets re-enter
  *     the summaryFast algebra, with both sides filtered to the dirty
  *     bucket set — the expensive keyed shuffle moves only the churned
  *     slice of the data.
  *  3. a MERGE: per-bucket summary terms are additive (buckets partition
  *     the id space), so the global summary is a sum over the state
  *     rows; the updated state is swapped in for the next run.
  *
  * On a table stored bucket- or range-clustered by key (the layout
  * [[graft.ops.Compaction.compactClustered]] / `Layout.zBucket` emit),
  * the dirty-bucket filter additionally prunes FILES; on an arbitrary
  * layout the savings are the avoided shuffle + per-id aggregation,
  * which dominate a wide validation run.
  *
  * Digest honesty: a bucket is declared clean when its (count, sum of
  * xxhash64(id, value), sum of xxhash64(SALT, id, value)) triple
  * matches per side. The two hashes are INDEPENDENTLY computed over the
  * row (the second is salted with a distinct leading literal, not
  * derived from the first — a collision in one says nothing about the
  * other), and the sums are multiset-homomorphic (order- and
  * partitioning-independent), accumulating in DECIMAL(38,0) — exact in
  * both ANSI and legacy modes, never a silent wrap difference between
  * engines. A false "clean" requires a simultaneous coincidence across
  * both 64-bit sums at equal counts (~2^-128 per bucket per run under
  * the standard independent-hash heuristic) — the same class of
  * guarantee every checksum-based snapshot differ rests on. Any doubt
  * is resolved toward DIRTY: digests hash the RAW
  * string-cast value, so changes invisible to a mode's coercion (e.g.
  * "1.0" -> "1.00" under Numeric) re-validate their bucket and get the
  * same terms back.
  *
  * The state is a parquet directory (`<stateDir>/state` + a 1-row
  * `<stateDir>/meta` carrying (n_buckets, mode, version)); a missing or
  * parameter-mismatched state — or a run whose dirty fraction exceeds
  * `dirtyFractionLimit` — falls back to a full rebuild, so a stale or
  * foreign state can never silently answer. Updates write to a sibling
  * staging directory and swap (delete + rename), the standard
  * rename-based exposure outside transactional table formats.
  */
object IncrementalValidation {

  /** One run's execution record: what the prune actually did. */
  final case class IncrementalReport(
      rebuilt: Boolean,      // full recompute (no state / params / too dirty)
      totalBuckets: Long,    // buckets observed in the current inputs
      dirtyBuckets: Long,    // buckets re-validated this run
      cleanBuckets: Long,    // buckets answered from stored terms
      // surface-specific operator signals (e.g. the PQ index's frozen-
      // codebook seed error — the baseline its re-fit drift measure,
      // graft.ops.Similarity.pqDrift, compares against)
      meta: Map[String, String] = Map.empty)

  // v2: second digest sum independently salted (was derived from the
  // first — a single-row xxhash64 collision used to fool both sums);
  // a v1 state mismatches on version and rebuilds, the safe direction.
  // v3: marker-file meta (no Spark job to check state identity) +
  // bucket-GROUP physical layout for the report stores (see
  // reportGroupCount); a v2 state reads as no-state and rebuilds.
  private val STATE_VERSION = 3

  // report-store physical layout: one directory per logical bucket costs
  // a fixed per-directory price on every surgery write and every read
  // (the IncrementalAgg.runGroupCount rationale, verbatim) — physical
  // dirs are bucket GROUPS of ~16, the bucket rides as a data column
  private def reportGroupCount(nBuckets: Int): Int =
    math.min(nBuckets, math.max(16, nBuckets / 16))
  private def reportGroupOf(bucket: Long, groups: Int): Long =
    ((bucket % groups) + groups) % groups

  private def modeKey(mode: CompareMode): String = mode match {
    case CompareMode.Numeric  => "numeric"
    case CompareMode.Date     => "date"
    case CompareMode.Fuzzy(t) => s"fuzzy:$t"
  }

  /** The grouped physical layout for report rows: one file per group
    * directory, rows sorted by (group, bucket) so per-bucket reads prune
    * on parquet row-group min/max stats. */
  private def reportLaidOut(rows: DataFrame, groups: Int): DataFrame =
    rows.withColumn("__bgroup", pmod(col("bucket"), lit(groups.toLong)))
      .repartition(col("__bgroup"))
      .sortWithinPartitions("__bgroup", "bucket")

  /** Group-granular report surgery: the dirty buckets' GROUPS rewrite as
    * (recomputed dirty rows) ∪ (the same groups' carried clean rows),
    * staged fully and swapped in by renames. Caller has already deleted
    * the digest witness, so any crash mid-swap rebuilds wholesale. */
  private def reportSurgery(rowsPath: String, recomputed: DataFrame,
      dirty: Seq[Long], groups: Int): Unit = {
    val spark = recomputed.sparkSession
    val p = new org.apache.hadoop.fs.Path(rowsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirtyGroups = dirty.map(b => reportGroupOf(b, groups)).distinct
    // an all-clean prior report can be an EMPTY store — carried is then
    // empty by construction. Any other read failure propagates: an
    // empty stand-in would silently drop the clean buckets' rows. The
    // explicit schema (files hold the recomputed columns, directories
    // a LongType `__bgroup`) needs no inference job, and the group
    // IN-list compares the raw partition attribute, so it prunes
    val storeSchema = StructType(
      recomputed.schema.fields.map(_.copy(nullable = true)) :+
        StructField("__bgroup", LongType))
    val carried =
      if (graft.ops.IncrementalAgg.storeHasData(fs, rowsPath))
        spark.read.schema(storeSchema).parquet(rowsPath)
          .filter(col("__bgroup").isin(dirtyGroups: _*) &&
            !col("bucket").isin(dirty: _*))
          .drop("__bgroup")
          .select(recomputed.columns.map(col): _*)
      else recomputed.limit(0)
    val staging = new org.apache.hadoop.fs.Path(rowsPath + "__swap")
    if (fs.exists(staging)) fs.delete(staging, true)
    reportLaidOut(recomputed.unionByName(carried), groups)
      .write.mode(SaveMode.Overwrite).partitionBy("__bgroup")
      .parquet(staging.toString)
    fs.mkdirs(p)
    for (g <- dirtyGroups) {
      val dst = new org.apache.hadoop.fs.Path(s"$rowsPath/__bgroup=$g")
      if (fs.exists(dst)) fs.delete(dst, true)
      val src = new org.apache.hadoop.fs.Path(s"$staging/__bgroup=$g")
      // a group with no staged dir drained entirely — the delete IS the swap
      if (fs.exists(src)) graft.ops.IncrementalAgg.mustRename(fs, src, dst)
    }
    fs.delete(staging, true)
  }

  /** Null ids live in their own sidecar bucket (-1): they never join, so
    * their terms are count-only and derivable from the digest row alone. */
  private[graft] def bucketExpr(nBuckets: Int): Column =
    when(col("id").isNull, lit(-1L))
      .otherwise(pmod(xxhash64(col("id").cast(StringType)), lit(nBuckets.toLong)))

  /** Append the bucket column [[run]] computes internally — the LAYOUT
    * hook: write the table partitioned (or clustered) by this column and
    * pass its name as `run(..., bucketCol = Some(...))`, and the dirty-
    * bucket filter becomes a partition-pruning predicate — a re-run
    * after small churn then skips the clean buckets' FILES, not just
    * their shuffle. The column MUST be produced by this method (or the
    * identical expression): `run` trusts the labels, because verifying
    * them would cost the very scan the layout exists to avoid.
    *
    * Layout discipline: `repartition(col(bucketCol))` BEFORE
    * `partitionBy(bucketCol)` so each bucket directory holds one file —
    * otherwise every writing task leaves a sliver in every directory
    * and the layout becomes the small-files problem it exists to
    * avoid (then govern with [[graft.ops.Compaction.compactPartitioned]]). */
  def withBucket(df: DataFrame, nBuckets: Int,
      bucketCol: String = "bucket"): DataFrame =
    df.withColumn(bucketCol, bucketExpr(nBuckets))

  private val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)

  /** Whole-row digest payload for a k-column check list: one 64-bit
    * value combining every check column, POSITION-SALTED — each column
    * hashes with its index first (`xxhash64(lit(j), c_j)`), so a null
    * column can never make two different rows collide by letting a
    * value slide into another column's position (bare multi-arg
    * xxhash64 skips nulls, which would do exactly that). */
  private[graft] def multiValueExpr(checkCols: Seq[String]): Column =
    xxhash64(checkCols.zipWithIndex.map { case (c, j) =>
      xxhash64(lit(j), col(c).cast(StringType))
    }: _*)

  /** Per-bucket multiset digests of both sides in ONE aggregation over
    * the tagged union: (bucket, n1, h1a, h1b, n2, h2a, h2b). Map-side
    * combinable end to end; the exchange moves ~nBuckets rows per task.
    * Exposed package-private so the plan spec can pin exactly that. */
  private[graft] def digests(first: DataFrame, second: DataFrame,
      nBuckets: Int, bucketCol: Option[String] = None,
      valueExpr: Column = col("check").cast(StringType)): DataFrame = {
    // internal bucket ids are always LONG — a materialized partition
    // column may read back as INT (partition-type inference), and the
    // state/terms join must not depend on that
    // the two row hashes are independently salted (the second leads with
    // a literal), never derived from each other: a collision of one for
    // a substituted row does not imply a collision of the other, which
    // is what the 2^-128 false-clean claim rests on
    def side(df: DataFrame, tag: Int) = df.select(
      bucketCol.map(c => col(c).cast("long"))
        .getOrElse(bucketExpr(nBuckets)).as("bucket"),
      xxhash64(col("id").cast(StringType), valueExpr)
        .as("h"),
      xxhash64(lit(1L), col("id").cast(StringType), valueExpr)
        .as("h2"),
      lit(tag).as("side"))
    def s1(c: Column) = sum(when(col("side") === 1, c).otherwise(lit(0L))
      .cast(dec))
    def s0(c: Column) = sum(when(col("side") === 0, c).otherwise(lit(0L))
      .cast(dec))
    side(first, 1).unionByName(side(second, 0))
      .groupBy("bucket")
      .agg(
        s1(lit(1L)).cast("long").as("n1"),
        s1(col("h")).as("h1a"), s1(col("h2")).as("h1b"),
        s0(lit(1L)).cast("long").as("n2"),
        s0(col("h")).as("h2a"), s0(col("h2")).as("h2b"))
  }

  /** summaryFast's per-id algebra with the bucket carried through,
    * aggregated per BUCKET instead of globally — the additive unit the
    * incremental merge needs. Same single tagged-union exchange, same
    * modes, same dirty-key |V1|+|V2| bound (see [[Validator.summaryFast]]);
    * null-id rows are excluded here (their sidecar bucket's terms come
    * straight from the digest counts). */
  private[graft] def perBucketTerms(first: DataFrame, second: DataFrame,
      mode: CompareMode, nBuckets: Int): DataFrame = {
    val coerce: Column => Column = mode match {
      case CompareMode.Numeric  => Validator.toNumeric
      case CompareMode.Date     => Validator.toTs
      case CompareMode.Fuzzy(_) => c => c.cast(StringType)
    }
    def keyedSide(df: DataFrame) = df
      .filter(col("id").isNotNull)
      .select(col("id").cast(StringType).as("id"), coerce(col("check")).as("v"))
    val combined = keyedSide(first).withColumn("side", lit(1))
      .unionByName(keyedSide(second).withColumn("side", lit(0)))
      .repartition(col("id"))
      .withColumn("bucket", pmod(xxhash64(col("id")), lit(nBuckets.toLong)))
    // bucket is a pure function of id, so grouping by (bucket, id, v)
    // keeps the hashpartitioning(id) distribution valid — no new exchange
    val counted = combined.groupBy("bucket", "id", "v").agg(
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("c1"),
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("c2"))
    val perId = mode match {
      case CompareMode.Fuzzy(t) if t < 1.0 =>
        val a = counted.filter(col("c1") > 0)
          .select(col("bucket"), col("id"), col("v").as("v1"), col("c1"))
        val b = counted.filter(col("c2") > 0)
          .select(col("id"), col("v").as("v2"), col("c2"))
        val eq = a.select(col("id"), col("v1"), col("c1"))
          .join(b, Seq("id"))
          .groupBy("id")
          .agg(sum(when(Validator.differs(col("v1"), col("v2"), mode), lit(0L))
            .otherwise(col("c1") * col("c2"))).as("eq_pairs"))
        counted.groupBy("bucket", "id")
          .agg(sum("c1").as("tot1"), sum("c2").as("tot2"))
          .join(eq, Seq("id"), "left_outer")
          .select(col("bucket"), col("tot1"),
            coalesce(col("eq_pairs"), lit(0L)).as("eq_pairs"), col("tot2"))
      case _ =>
        counted.groupBy("bucket", "id")
          .agg(sum("c1").as("tot1"),
            sum(col("c1") * col("c2")).as("eq_pairs"),
            sum("c2").as("tot2"))
    }
    perId.groupBy("bucket").agg(
      sum(col("tot1")).as("n_first"),
      sum(col("tot2")).as("n_second"),
      sum(when(col("tot1") === 0L, col("tot2")).otherwise(0L)).as("missing_in_first"),
      sum(when(col("tot2") === 0L, col("tot1")).otherwise(0L)).as("missing_in_second"),
      sum(when(col("tot1") > 0L && col("tot2") > 0L,
        col("tot1") * col("tot2") - col("eq_pairs")).otherwise(0L)).as("n_differing"),
      sum(when(col("tot1") > 0L, col("tot2")).otherwise(0L)).as("n_matched"))
  }

  private val termCols = Seq("n_first", "n_second", "missing_in_first",
    "missing_in_second", "n_differing", "n_matched")

  // written-state schemas, stated explicitly so state reads skip parquet
  // schema inference (one Spark job per read otherwise)
  private def fullStateSchema(pr: PruneResult) =
    org.apache.spark.sql.types.StructType(pr.cd.schema.fields ++
      termCols.map(c => org.apache.spark.sql.types.StructField(
        c, org.apache.spark.sql.types.LongType)))
  private val multiTermsSchema = org.apache.spark.sql.types.StructType(
    Seq(org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.IntegerType)) ++
      termCols.map(c => org.apache.spark.sql.types.StructField(
        c, org.apache.spark.sql.types.LongType)))

  /** The null-id sidecar bucket's terms, derived from its digest counts:
    * n1 null-id rows on the first side count toward (n_first,
    * missing_in_second), n2 toward (n_second, missing_in_first) — exactly
    * [[Validator.summaryFast]]'s sidecar semantics. */
  private def nullBucketTerms(cd: DataFrame): DataFrame =
    cd.filter(col("bucket") === -1L).select(
      col("bucket"),
      col("n1").as("n_first"), col("n2").as("n_second"),
      col("n2").as("missing_in_first"), col("n1").as("missing_in_second"),
      lit(0L).as("n_differing"), lit(0L).as("n_matched"))

  private def statePath(stateDir: String) = s"$stateDir/state"
  private def metaPath(stateDir: String) = s"$stateDir/meta"
  private def termsPath(stateDir: String) = s"$stateDir/terms"

  /** [[Validator.summaryMulti]]'s per-(id, column) algebra with the
    * bucket carried through, aggregated per (BUCKET, column position) —
    * the additive unit of the multi-column incremental merge. One
    * id-keyed exchange regardless of k (post-shuffle posexplode, the
    * summaryMulti shape); null-id rows excluded (sidecar from digest
    * counts, identical for every column). */
  private[graft] def perBucketTermsMulti(first: DataFrame,
      second: DataFrame, checks: Seq[(String, CompareMode)],
      nBuckets: Int): DataFrame = {
    def keyedSide(df: DataFrame, sideTag: Int) = df
      .filter(col("id").isNotNull)
      .select(col("id").cast(StringType).as("id") +:
        checks.zipWithIndex.map { case ((c, m), j) =>
          Validator.multiGroupKey(col(c), m).as(s"__v$j") } :+
        lit(sideTag).as("side"): _*)
    val exploded = keyedSide(first, 1).unionByName(keyedSide(second, 0))
      .repartition(col("id"))
      .withColumn("bucket", pmod(xxhash64(col("id")), lit(nBuckets.toLong)))
      .select(col("bucket"), col("id"),
        posexplode(array(checks.indices.map(j => col(s"__v$j")): _*))
          .as(Seq("pos", "v")),
        col("side"))
    val grouped = exploded.groupBy("bucket", "id", "pos", "v").agg(
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("c1"),
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("c2"))
    var perIdPos = grouped.groupBy("bucket", "id", "pos").agg(
      sum("c1").as("tot1"),
      sum(col("c1") * col("c2")).as("eq_pairs"),
      sum("c2").as("tot2"))
    for (((_, m), j) <- checks.zipWithIndex) m match {
      case CompareMode.Fuzzy(t) if t < 1.0 =>
        val a = grouped.filter(col("pos") === j && col("c1") > 0)
          .select(col("id"), col("v").as("v1"), col("c1"))
        val b = grouped.filter(col("pos") === j && col("c2") > 0)
          .select(col("id"), col("v").as("v2"), col("c2"))
        val eqj = a.join(b, Seq("id")).groupBy("id").agg(
          sum(when(Validator.differs(col("v1"), col("v2"), m), lit(0L))
            .otherwise(col("c1") * col("c2"))).as("__eqf"))
        perIdPos = perIdPos.join(eqj, Seq("id"), "left_outer")
          .withColumn("eq_pairs",
            when(col("pos") === j, coalesce(col("__eqf"), lit(0L)))
              .otherwise(col("eq_pairs")))
          .drop("__eqf")
      case _ => ()
    }
    perIdPos.groupBy("bucket", "pos").agg(
      sum(col("tot1")).as("n_first"),
      sum(col("tot2")).as("n_second"),
      sum(when(col("tot1") === 0L, col("tot2")).otherwise(0L)).as("missing_in_first"),
      sum(when(col("tot2") === 0L, col("tot1")).otherwise(0L)).as("missing_in_second"),
      sum(when(col("tot1") > 0L && col("tot2") > 0L,
        col("tot1") * col("tot2") - col("eq_pairs")).otherwise(0L)).as("n_differing"),
      sum(when(col("tot1") > 0L, col("tot2")).otherwise(0L)).as("n_matched"))
  }

  /** State-identity meta as a MARKER FILE (version, bucket count, mode
    * key): checking it is a driver-side read, never a Spark job — every
    * incremental run pays this check. A legacy parquet meta DIRECTORY
    * fails the marker read and reads as no-state — the rebuild
    * direction. */
  private def metaMatches(spark: SparkSession, stateDir: String,
      nBuckets: Int, modeStr: String): Boolean =
    try {
      val p = new org.apache.hadoop.fs.Path(metaPath(stateDir))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(p) && !fs.getFileStatus(p).isDirectory &&
        graft.ops.IncrementalAgg.readMarker(fs, metaPath(stateDir))
          .exists { s =>
            s.split("\n", 3) match {
              case Array(v, n, k) =>
                v == STATE_VERSION.toString && n == nBuckets.toString &&
                  k == modeStr
              case _ => false
            }
          }
    } catch { case scala.util.control.NonFatal(_) => false }

  private def writeMeta(spark: SparkSession, stateDir: String,
      nBuckets: Int, modeStr: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(metaPath(stateDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a legacy parquet meta is a non-empty directory: clear it first
    // (writeMarker's own delete is non-recursive)
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory) fs.delete(p, true)
    graft.ops.IncrementalAgg.writeMarker(fs, metaPath(stateDir),
      s"$STATE_VERSION\n$nBuckets\n$modeStr")
  }

  /** Swap-write `df` as the new state: stage to a sibling directory,
    * then delete + rename — the staged write fully materializes before
    * the old state (which the plan may be reading) is touched. */
  private[graft] def swapWrite(spark: SparkSession, df: DataFrame,
      target: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(target)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(
      p.getParent, p.getName + "__staging")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (fs.exists(p)) fs.delete(p, true)
    fs.rename(tmp, p)
  }

  private def leasePath(stateDir: String) = s"$stateDir/lease"

  /** Single-writer guard on a state directory. The swap-write discipline
    * is crash-safe for ONE writer; two concurrent runs could interleave
    * delete/rename (or, on the report surface, partition deletes with
    * appends) — so every mutating surface takes this lease at run start
    * and re-verifies it before each mutation. The lease is an
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
  private[graft] final class Lease(
      fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path,
      nonce: String) {
    private def holder(): String =
      try {
        val in = fs.open(path)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
          buf.toString("UTF-8")
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => "" }
    /** Abort unless the lease file still carries OUR nonce — called
      * before every state mutation. */
    def check(): Unit =
      if (!holder().startsWith(nonce))
        throw new IllegalStateException(
          s"incremental-state lease at $path is no longer held by this " +
            "run (broken or taken by another writer); aborting before " +
            "any state mutation")
    def release(): Unit =
      // delete only if still ours: never remove a successor's lease
      if (holder().startsWith(nonce))
        try fs.delete(path, false)
        catch { case scala.util.control.NonFatal(_) => () }
  }

  private[graft] def acquireLease(spark: SparkSession,
      stateDir: String): Lease = {
    val p = new org.apache.hadoop.fs.Path(leasePath(stateDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    val nonce = java.util.UUID.randomUUID().toString
    val payload = nonce + "\n" +
      ProcessHandle.current().pid() + "\n" +
      System.currentTimeMillis() + "\n"
    val out =
      try fs.create(p, /* overwrite = */ false)
      catch {
        case e: java.io.IOException =>
          val held = try {
            val in = fs.open(p)
            try {
              val buf = new java.io.ByteArrayOutputStream()
              org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
              buf.toString("UTF-8").trim.replace('\n', ' ')
            } finally in.close()
          } catch { case scala.util.control.NonFatal(_) => "<unreadable>" }
          throw new IllegalStateException(
            s"incremental state at $stateDir is locked by another " +
              s"validation run (lease nonce/pid/epoch-ms: $held); " +
              "concurrent writers would tear the stored state. If the " +
              "holder crashed, clear it with IncrementalValidation" +
              ".breakLease(spark, stateDir) and re-run.", e)
      }
    try out.write(payload.getBytes("UTF-8")) finally out.close()
    new Lease(fs, p, nonce)
  }

  /** Operator recovery: remove a lease a CRASHED run left behind. Never
    * call while the holder may still be alive — that reintroduces the
    * concurrent-writer exposure the lease exists to close. */
  def breakLease(spark: SparkSession, stateDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(leasePath(stateDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Test seam: invoked after the read-only prune phase, before the
    * first state mutation — lets a spec interleave a second run at the
    * exact point a concurrent writer would be most destructive. */
  private[graft] var beforeMutationHook: () => Unit = () => ()

  /** The digest-compare phase shared by every incremental surface:
    * current digests (localCheckpointed), meta check, dirty set vs the
    * stored digest frame at `digestPath`. */
  private final case class PruneResult(
      cd: DataFrame, total: Long, haveState: Boolean,
      dirtyRows: Option[Seq[(Long, Boolean)]]) {
    def dirty: Option[Seq[Long]] = dirtyRows.map(_.map(_._1))
    def dirtyInCurrent: Long = dirtyRows.map(_.count(_._2).toLong).getOrElse(0L)
  }

  private val digestFields = Seq("n1", "h1a", "h1b", "n2", "h2a", "h2b")

  private def prune(first: DataFrame, second: DataFrame, nBuckets: Int,
      bucketCol: Option[String], valueExpr: Column, stateDir: String,
      modeStr: String, digestPath: String): PruneResult = {
    val spark = first.sparkSession
    // digests are <= nBuckets+1 rows BY CONTRACT (metadata-sized at any
    // scale): collect and compare on the driver — one job for the scan
    // instead of localCheckpoint + count + a join job, and the witness
    // rewrite becomes a single local partition (one file)
    val cdSrc = digests(first, second, nBuckets, bucketCol, valueExpr)
    val cdSchema = cdSrc.schema
    val cdRows = cdSrc.collect()
    val total = cdRows.length.toLong
    val haveState = metaMatches(spark, stateDir, nBuckets, modeStr)
    // explicit schema: every witness/state read below is of rows this
    // module wrote with a known schema — skipping parquet inference
    // skips one Spark job per read
    val old: Option[Array[org.apache.spark.sql.Row]] =
      if (haveState)
        try Some(spark.read.schema(cdSchema).parquet(digestPath).collect())
        catch { case scala.util.control.NonFatal(_) => None }
      else None
    def sig(rows: Array[org.apache.spark.sql.Row])
        : Map[Long, Seq[Any]] =
      rows.map { r =>
        r.getLong(r.fieldIndex("bucket")) ->
          digestFields.map(f => r.get(r.fieldIndex(f)): Any)
      }.toMap
    def fieldEq(a: Any, b: Any): Boolean = (a, b) match {
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
        x.compareTo(y) == 0
      case _ => a == b
    }
    val dirtyRows = old.map { st =>
      val cur = sig(cdRows)
      val prev = sig(st)
      (cur.keySet ++ prev.keySet).toSeq.flatMap { b =>
        (cur.get(b), prev.get(b)) match {
          case (Some(c), Some(p))
              if c.zip(p).forall { case (x, y) => fieldEq(x, y) } => None
          case (c, _) => Some(b -> c.isDefined)
        }
      }
    }
    val cdLocal = spark.createDataFrame(
      spark.sparkContext.parallelize(cdRows.toSeq, 1), cdSchema)
    PruneResult(cdLocal, total, haveState && old.isDefined, dirtyRows)
  }

  /** The dirty-bucket row predicate FOR ONE SIDE: a plain attribute
    * IN-list when a materialized bucket column exists — typed to THAT
    * side's raw column type, so a cast never wraps the attribute and
    * defeats partition pruning. The two sides can legitimately disagree
    * on the type (partition inference reads small values as INT, an
    * explicit reader schema as LONG, inference-off as STRING) — build
    * the predicate per DataFrame, never share one across sides.
    * Falls back to the hash expression per row when no bucket column
    * is materialized. */
  private[graft] def dirtyPred(df: DataFrame, bucketCol: Option[String],
      nBuckets: Int, dirty: Seq[Long]): Column =
    bucketCol.map { c =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.IntegerType =>
          col(c).isin(dirty.map(_.toInt): _*)
        case org.apache.spark.sql.types.StringType =>
          col(c).isin(dirty.map(_.toString): _*)
        case _ => col(c).isin(dirty: _*)
      }
    }.getOrElse(bucketExpr(nBuckets).isin(dirty: _*))

  /** Incremental [[Validator.summaryFast]]: identical one-row summary
    * (same six columns, same semantics for every mode, duplicate ids and
    * null ids included), but answered from the stored per-bucket state
    * wherever the bucket digests prove the data unchanged. See the
    * object doc for the three phases and the digest contract.
    *
    * The state is FILTER-AGNOSTIC by construction: digests are computed
    * over the inputs AS GIVEN, so changing an upstream predicate (e.g.
    * the YAML `start_date`/`end_date` range) changes the filtered inputs
    * and every bucket whose filtered content moved reads dirty — the
    * summary self-corrects to the new range, it never answers the old
    * one (spec-pinned).
    *
    * @param dirtyFractionLimit above this dirty-bucket share the run
    *        falls back to one full recompute — when most of the table
    *        churned, one pass beats digest + filtered pass. Expectation
    *        for operators: a fallback run costs the digest scan PLUS the
    *        full pass, i.e. slightly MORE than a plain summaryFast — the
    *        limit bounds the worst case near full-churn, it does not
    *        make heavy-churn runs free.
    * @param bucketCol name of a PRE-MATERIALIZED bucket column on both
    *        inputs (produced by [[withBucket]] with the same nBuckets —
    *        trusted, see there). When the tables are partitioned or
    *        clustered by it, the dirty filter prunes files, turning the
    *        recompute's I/O proportional to the churn instead of the
    *        table.
    * @param minRowsForIncremental opt-in size floor: when > 0 and the
    *        two inputs together hold fewer rows, skip the digest
    *        machinery entirely and answer with one plain
    *        [[Validator.summaryFast]] pass (the 1x rehearsal leg shows
    *        full winning below ~1M rows — fixed digest/state costs
    *        dominate there). Any stored state is left untouched; the
    *        next above-floor run's digest compare simply marks churned
    *        buckets dirty against it, the safe direction. The floor
    *        check itself counts both inputs (empty-projection scans) —
    *        leave it 0 on genuinely large tables.
    * @return (summary, report); [[summaryIncremental]] returns just the
    *         summary. */
  def run(first: DataFrame, second: DataFrame, mode: CompareMode,
      stateDir: String, nBuckets: Int = 4096,
      dirtyFractionLimit: Double = 0.25,
      bucketCol: Option[String] = None,
      minRowsForIncremental: Long = 0L): (DataFrame, IncrementalReport) = {
    require(nBuckets > 0, "nBuckets must be positive")
    val spark = first.sparkSession
    import spark.implicits._
    if (minRowsForIncremental > 0 &&
        first.count() + second.count() < minRowsForIncremental)
      return (Validator.summaryFast(first, second, mode),
        IncrementalReport(rebuilt = true, totalBuckets = 0L,
          dirtyBuckets = 0L, cleanBuckets = 0L))
    val lease = acquireLease(spark, stateDir)
    try {

    // phases 1+2: current digests (one scan of each side, tiny
    // exchange; localCheckpointed — they steer pruning AND become the
    // new state's digest columns) compared with the stored row per
    // bucket; one-sided buckets (appeared or fully drained) are dirty
    // by the full-outer null mismatch
    val pr = prune(first, second, nBuckets, bucketCol,
      col("check").cast(StringType), stateDir, modeKey(mode),
      statePath(stateDir))
    val cdDf = pr.cd
    val total = pr.total
    val oldState: Option[DataFrame] =
      if (pr.haveState) Some(spark.read.schema(fullStateSchema(pr))
        .parquet(statePath(stateDir)))
      else None
    val dirtyBuckets: Option[Seq[Long]] = pr.dirty

    val tooDirty = dirtyBuckets.exists(d =>
      total > 0 && d.size.toDouble / total > dirtyFractionLimit)
    val rebuild = oldState.isEmpty || tooDirty

    val newState: DataFrame = {
      val nullTerms = nullBucketTerms(cdDf)
      if (rebuild) {
        val terms = perBucketTerms(first, second, mode, nBuckets)
          .unionByName(nullTerms)
        cdDf.join(terms, Seq("bucket"), "left_outer")
          .na.fill(0L, termCols)
      } else {
        val dirty = dirtyBuckets.get
        val dirtyData = dirty.filter(_ >= 0L)
        val recomputed =
          if (dirtyData.isEmpty)
            // zero data-bucket churn: nothing re-enters the keyed shuffle
            spark.range(0).select(col("id").as("bucket") +:
              termCols.map(c => col("id").as(c)): _*)
          else perBucketTerms(
            first.filter(dirtyPred(first, bucketCol, nBuckets, dirtyData)),
            second.filter(dirtyPred(second, bucketCol, nBuckets, dirtyData)),
            mode, nBuckets)
        val carried0 = oldState.get
          .select(col("bucket") +: termCols.map(col): _*)
          .filter(col("bucket") =!= -1L)
        val carried =
          if (dirty.isEmpty) carried0
          else carried0.filter(!col("bucket").isin(dirty: _*))
        val terms = carried
          .unionByName(recomputed)
          .unionByName(nullTerms)
        // current digests drive membership: a bucket that drained to
        // zero rows has no cd row and drops out of the state entirely
        cdDf.join(terms, Seq("bucket"), "left_outer")
          .na.fill(0L, termCols)
      }
    }

    // a zero-dirty re-run (the daily no-change case) proves the state
    // current — rewriting it would only churn bytes; leave it in place
    val noChange = !rebuild && dirtyBuckets.exists(_.isEmpty)
    beforeMutationHook()
    lease.check()
    // the state is nBuckets-sized (metadata) — one output file, not one
    // per shuffle partition (repartition, not coalesce: coalesce(1)
    // would collapse the upstream terms computation into one task)
    if (!noChange)
      swapWrite(spark, newState.repartition(1), statePath(stateDir))
    if (!pr.haveState) writeMeta(spark, stateDir, nBuckets, modeKey(mode))

    // phase 3: the global summary is the column-sum over the stored
    // per-bucket terms — read back from the swapped-in state so the
    // returned frame is self-contained and re-executable
    val summary = spark.read.schema(fullStateSchema(pr))
      .parquet(statePath(stateDir))
      .agg(
        sum("n_first").as("n_first"),
        sum("n_second").as("n_second"),
        sum("missing_in_first").as("missing_in_first"),
        sum("missing_in_second").as("missing_in_second"),
        sum("n_differing").as("n_differing"),
        sum("n_matched").as("n_matched"))
      .na.fill(0L)
    val report = IncrementalReport(
      rebuilt = rebuild,
      totalBuckets = total,
      dirtyBuckets =
        if (rebuild) total else dirtyBuckets.map(_.size.toLong).getOrElse(0L),
      cleanBuckets = if (rebuild) 0L else total - pr.dirtyInCurrent)
    (summary, report)
    } finally lease.release()
  }

  /** The summary-only surface — drop-in for [[Validator.summaryFast]]
    * with a state directory. */
  def summaryIncremental(first: DataFrame, second: DataFrame,
      mode: CompareMode, stateDir: String, nBuckets: Int = 4096,
      dirtyFractionLimit: Double = 0.25,
      bucketCol: Option[String] = None): DataFrame =
    run(first, second, mode, stateDir, nBuckets, dirtyFractionLimit,
      bucketCol)._1

  /** Multi-column incremental validation — [[Validator.summaryMulti]]'s
    * per-column summary answered through stored per-(bucket, column)
    * terms: the WHOLE-ROW digest (one position-salted 64-bit value over
    * all k check columns — see [[multiValueExpr]]) decides dirtiness per
    * bucket, clean buckets carry all k columns' terms forward, and only
    * dirty buckets re-enter the one-exchange summaryMulti algebra. A
    * change in ANY check column dirties its bucket for ALL columns —
    * per-column digests would multiply digest state by k to save
    * recomputing columns that share the same dirty rows anyway.
    *
    * State layout: `<stateDir>/state` (per-bucket digests),
    * `<stateDir>/terms` (per-(bucket, pos) metric rows), `<stateDir>/meta`
    * (version, n_buckets, the full check list as the mode key — a state
    * built for different columns/modes/thresholds never answers).
    * Same fallback/no-change/swap discipline as [[run]]; same
    * [[withBucket]]/`bucketCol` layout hook. Null-id rows contribute the
    * count-only sidecar identically for every column (summaryMulti's
    * contract). Output schema and row-per-column contract are exactly
    * [[Validator.summaryMulti]]'s. */
  def runMulti(first: DataFrame, second: DataFrame,
      checks: Seq[(String, CompareMode)], stateDir: String,
      nBuckets: Int = 4096, dirtyFractionLimit: Double = 0.25,
      bucketCol: Option[String] = None,
      minRowsForIncremental: Long = 0L): (DataFrame, IncrementalReport) = {
    require(nBuckets > 0, "nBuckets must be positive")
    require(checks.nonEmpty, "runMulti needs at least one check column")
    val spark = first.sparkSession
    import spark.implicits._
    if (minRowsForIncremental > 0 &&
        first.count() + second.count() < minRowsForIncremental)
      return (Validator.summaryMulti(first, second, checks),
        IncrementalReport(rebuilt = true, totalBuckets = 0L,
          dirtyBuckets = 0L, cleanBuckets = 0L))
    val modeStr = "multi:" + checks
      .map { case (c, m) => s"$c=${modeKey(m)}" }.mkString(",")
    val lease = acquireLease(spark, stateDir)
    try {

    val pr = prune(first, second, nBuckets, bucketCol,
      multiValueExpr(checks.map(_._1)), stateDir, modeStr,
      statePath(stateDir))
    val cdDf = pr.cd
    val total = pr.total
    val oldTerms: Option[DataFrame] =
      if (pr.haveState)
        try Some(spark.read.schema(multiTermsSchema)
          .parquet(termsPath(stateDir)))
        catch { case scala.util.control.NonFatal(_) => None } // torn state
      else None
    val dirtyBuckets: Option[Seq[Long]] =
      if (oldTerms.isEmpty) None else pr.dirty
    val tooDirty = dirtyBuckets.exists(d =>
      total > 0 && d.size.toDouble / total > dirtyFractionLimit)
    val rebuild = oldTerms.isEmpty || tooDirty

    // null sidecar: one row PER COLUMN POSITION off the -1 digest counts
    val posSeed = spark.range(checks.size).select(col("id").cast("int").as("pos"))
    val nullTerms = cdDf.filter(col("bucket") === -1L)
      .crossJoin(broadcast(posSeed))
      .select(col("bucket"), col("pos"),
        col("n1").as("n_first"), col("n2").as("n_second"),
        col("n2").as("missing_in_first"), col("n1").as("missing_in_second"),
        lit(0L).as("n_differing"), lit(0L).as("n_matched"))

    val newTerms: DataFrame = {
      if (rebuild)
        perBucketTermsMulti(first, second, checks, nBuckets)
          .unionByName(nullTerms)
      else {
        val dirty = dirtyBuckets.get
        val dirtyData = dirty.filter(_ >= 0L)
        val recomputed =
          if (dirtyData.isEmpty)
            spark.range(0).select(col("id").as("bucket") +:
              (col("id").cast("int").as("pos") +:
                termCols.map(c => col("id").as(c))): _*)
          else perBucketTermsMulti(
            first.filter(dirtyPred(first, bucketCol, nBuckets, dirtyData)),
            second.filter(dirtyPred(second, bucketCol, nBuckets, dirtyData)),
            checks, nBuckets)
        val carried0 = oldTerms.get
          .select(col("bucket") +: col("pos") +: termCols.map(col): _*)
          .filter(col("bucket") =!= -1L)
        val carried =
          if (dirty.isEmpty) carried0
          else carried0.filter(!col("bucket").isin(dirty: _*))
        // membership tracks the current digests: drained buckets drop.
        // cdDf is a local nBuckets-row frame with no stats — hint the
        // broadcast explicitly or the planner sort-merges this semi-join
        carried.unionByName(recomputed).unionByName(nullTerms)
          .join(broadcast(cdDf.select("bucket")), Seq("bucket"), "left_semi")
      }
    }

    val noChange = !rebuild && dirtyBuckets.exists(_.isEmpty)
    beforeMutationHook()
    lease.check()
    if (!noChange) {
      // terms first, then digests: a crash between the two leaves the
      // NEW terms with the OLD digests, which over-marks buckets dirty
      // on the next run (safe direction); the reverse order could mark
      // stale terms clean
      swapWrite(spark, newTerms.repartition(1), termsPath(stateDir))
      swapWrite(spark, cdDf, statePath(stateDir))
    }
    if (!pr.haveState) writeMeta(spark, stateDir, nBuckets, modeStr)

    val names = array(checks.map { case (c, _) => lit(c) }: _*)
    val perCol = spark.read.schema(multiTermsSchema)
      .parquet(termsPath(stateDir))
      .groupBy("pos").agg(
        sum("n_first").as("n_first"),
        sum("n_second").as("n_second"),
        sum("missing_in_first").as("missing_in_first"),
        sum("missing_in_second").as("missing_in_second"),
        sum("n_differing").as("n_differing"),
        sum("n_matched").as("n_matched"))
    val summary = posSeed.join(broadcast(perCol), Seq("pos"), "left_outer")
      .na.fill(0L, termCols)
      .select(element_at(names, col("pos").cast("int") + 1).as("column_name") +:
        termCols.map(col): _*)
    val report = IncrementalReport(
      rebuilt = rebuild,
      totalBuckets = total,
      dirtyBuckets =
        if (rebuild) total else dirtyBuckets.map(_.size.toLong).getOrElse(0L),
      cleanBuckets = if (rebuild) 0L else total - pr.dirtyInCurrent)
    (summary, report)
    } finally lease.release()
  }

  /** The summary-only multi-column surface — drop-in for
    * [[Validator.summaryMulti]] with a state directory. */
  def summaryMultiIncremental(first: DataFrame, second: DataFrame,
      checks: Seq[(String, CompareMode)], stateDir: String,
      nBuckets: Int = 4096, dirtyFractionLimit: Double = 0.25,
      bucketCol: Option[String] = None): DataFrame =
    runMulti(first, second, checks, stateDir, nBuckets,
      dirtyFractionLimit, bucketCol)._1

  private def reportRowsPath(stateDir: String) = s"$stateDir/report"
  private def reportDigestsPath(stateDir: String) = s"$stateDir/report_digests"

  private val reportSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("kind", StringType),
    org.apache.spark.sql.types.StructField("id", StringType),
    org.apache.spark.sql.types.StructField("check_first", StringType),
    org.apache.spark.sql.types.StructField("check_second", StringType)))

  /** Incrementally-maintained ROW-LEVEL report — the reference's actual
    * outputs (missing ids both ways + differing value pairs,
    * `running_validation.py:262-275`) as a STORED, bucket-partitioned
    * table where a re-run rewrites only the churned buckets'
    * partitions:
    *
    * the long frame (kind ∈ {missing_in_first, missing_in_second,
    * differing}, id, check_first, check_second) lives at
    * `<stateDir>/report` hive-partitioned by the id's bucket (null ids
    * in bucket -1 — they appear in the missing frames, never the join,
    * exactly [[Validator.validate]]'s semantics). Anti-joins and the
    * diff join are per-id, and buckets partition ids, so the full
    * report is EXACTLY the union of per-bucket reports — a dirty
    * bucket's partition is recomputed by running validate() over both
    * sides filtered to the dirty set (pruning files on a
    * [[withBucket]]-partitioned layout), clean partitions are never
    * touched, and report I/O is proportional to the churn.
    *
    * Crash discipline: the digest witness is DELETED before the report
    * partitions are mutated and swapped back in only after — a crash
    * mid-mutation leaves no witness, so the next run rebuilds the
    * report wholesale instead of trusting torn partitions. Use a
    * DEDICATED stateDir per surface (the meta file is shared; pointing
    * two surfaces at one directory degrades to rebuild-every-run, never
    * to a wrong answer).
    *
    * Size `nBuckets` for the REPORT table, not the inputs: the stored
    * table has one partition directory per bucket, and a report is tiny
    * next to its inputs — hundreds of buckets usually suffice, while
    * thousands of near-empty directories cost more in listing/footer
    * overhead than the finer recompute granularity buys.
    *
    * @return (current full report — a read of the stored table, so
    *         collect it before the next maintenance run — and the
    *         prune record). */
  def reportIncremental(first: DataFrame, second: DataFrame,
      mode: CompareMode, stateDir: String, nBuckets: Int = 4096,
      dirtyFractionLimit: Double = 0.25,
      bucketCol: Option[String] = None): (DataFrame, IncrementalReport) = {
    require(nBuckets > 0, "nBuckets must be positive")
    val spark = first.sparkSession
    import spark.implicits._
    val rowsPath = reportRowsPath(stateDir)
    val digPath = reportDigestsPath(stateDir)
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = acquireLease(spark, stateDir)
    try {

    val pr = prune(first, second, nBuckets, bucketCol,
      col("check").cast(StringType), stateDir, s"report:${modeKey(mode)}",
      digPath)

    def reportRows(f: DataFrame, s: DataFrame): DataFrame = {
      val out = Validator.validate(f, s, mode)
      def shaped(df: DataFrame, kind: String, cf: Column, cs: Column) =
        df.select(lit(kind).as("kind"), col("id").cast(StringType).as("id"),
          cf.cast(StringType).as("check_first"),
          cs.cast(StringType).as("check_second"))
      shaped(out.missingInFirst, "missing_in_first", lit(null), lit(null))
        .unionByName(shaped(out.missingInSecond, "missing_in_second",
          lit(null), lit(null)))
        .unionByName(shaped(out.differing, "differing",
          col("check_first"), col("check_second")))
        .withColumn("bucket", bucketExpr(nBuckets))
    }

    val dirty = pr.dirty
    val tooDirty = dirty.exists(d =>
      pr.total > 0 && d.size.toDouble / pr.total > dirtyFractionLimit)
    val rebuild = !pr.haveState || tooDirty
    beforeMutationHook()
    lease.check()

    val groups = reportGroupCount(nBuckets)
    if (rebuild) {
      // invalidate the witness first: torn output must never read clean
      if (fs.exists(new org.apache.hadoop.fs.Path(digPath)))
        fs.delete(new org.apache.hadoop.fs.Path(digPath), true)
      reportLaidOut(reportRows(first, second), groups)
        .write.mode(SaveMode.Overwrite).partitionBy("__bgroup")
        .parquet(rowsPath)
      swapWrite(spark, pr.cd, digPath)
      if (!pr.haveState)
        writeMeta(spark, stateDir, nBuckets, s"report:${modeKey(mode)}")
    } else if (dirty.get.nonEmpty) {
      val d = dirty.get
      fs.delete(new org.apache.hadoop.fs.Path(digPath), true)
      // persist the CHURN-SIZED slices: the report is three joins (two
      // anti, one inner) and each would otherwise rescan + re-filter
      // both inputs — six passes for data that is, by definition of the
      // dirty set, a small fraction of the table
      val fD = first.filter(dirtyPred(first, bucketCol, nBuckets, d)).persist()
      val sD = second.filter(dirtyPred(second, bucketCol, nBuckets, d)).persist()
      try reportSurgery(rowsPath, reportRows(fD, sD), d, groups)
      finally { fD.unpersist(); sD.unpersist() }
      swapWrite(spark, pr.cd, digPath)
    } // zero dirty: report and witness both stand untouched

    // an all-clean table pair can leave an empty report directory —
    // parquet cannot infer a schema from zero files, so shape it by hand
    val current =
      try spark.read.parquet(rowsPath)
        .select("kind", "id", "check_first", "check_second")
      catch {
        case scala.util.control.NonFatal(_) =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            reportSchema)
      }
    val report = IncrementalReport(
      rebuilt = rebuild,
      totalBuckets = pr.total,
      dirtyBuckets =
        if (rebuild) pr.total else dirty.map(_.size.toLong).getOrElse(0L),
      cleanBuckets = if (rebuild) 0L else pr.total - pr.dirtyInCurrent)
    (current, report)
    } finally lease.release()
  }

  /** The six-metric summary derived from a MAINTAINED report store —
    * call after [[reportIncremental]] has run for the same inputs. Row
    * counts come from the digest witness (per-bucket n1/n2 sums),
    * mismatch counts from the stored report rows; the identities
    *
    *   n_matched    = n_second - missing_in_first
    *   n_differing  = |differing report rows|   (m-by-n pair multiplicity)
    *
    * hold exactly for [[Validator.summaryFast]]'s semantics (a
    * second-side row either matches some first id or is missing from
    * first; null ids sit in the missing frames and the digest counts on
    * both sides). So a YAML run that maintains the report gets its
    * summary for a metadata-sized read — ONE digest scan prices the
    * whole daily run, no second state surface, no third pass over the
    * inputs. */
  def summaryFromStoredReport(spark: SparkSession,
      stateDir: String): DataFrame = {
    val dig = spark.read.parquet(reportDigestsPath(stateDir))
      .agg(sum(col("n1")).as("n_first"), sum(col("n2")).as("n_second"))
      .na.fill(0L)
    val rep =
      try spark.read.parquet(reportRowsPath(stateDir)).select("kind")
      catch {
        case scala.util.control.NonFatal(_) =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            reportSchema).select("kind")
      }
    val kinds = rep.agg(
      sum(when(col("kind") === "missing_in_first", 1L).otherwise(0L))
        .as("missing_in_first"),
      sum(when(col("kind") === "missing_in_second", 1L).otherwise(0L))
        .as("missing_in_second"),
      sum(when(col("kind") === "differing", 1L).otherwise(0L))
        .as("n_differing")).na.fill(0L)
    dig.crossJoin(broadcast(kinds)).select(
      col("n_first"), col("n_second"),
      col("missing_in_first"), col("missing_in_second"),
      col("n_differing"),
      (col("n_second") - col("missing_in_first")).as("n_matched"))
  }

  /** The per-column six-metric summary derived from a MAINTAINED
    * multi-column report store — call after [[reportIncrementalMulti]]
    * has run for the same inputs. Row counts come from the digest
    * witness; the id-level missing counts (identical for every column)
    * and the per-column differing-pair counts come from the stored
    * report rows; n_matched = n_second - missing_in_first. Exactly
    * [[Validator.summaryMulti]]'s output contract (one row per check
    * column, zeros when a column never differs), for a metadata-sized
    * read — the multi-column daily run needs ONE digest scan, total. */
  def summaryMultiFromStoredReport(spark: SparkSession, stateDir: String,
      columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "need the check-column list (names, in order)")
    val dig = spark.read.parquet(reportDigestsPath(stateDir))
      .agg(sum(col("n1")).as("n_first"), sum(col("n2")).as("n_second"))
      .na.fill(0L)
    val rep =
      try spark.read.parquet(reportRowsPath(stateDir))
        .select("kind", "column_name")
      catch {
        case scala.util.control.NonFatal(_) =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            multiReportSchema).select("kind", "column_name")
      }
    val missing = rep.agg(
      sum(when(col("kind") === "missing_in_first", 1L).otherwise(0L))
        .as("missing_in_first"),
      sum(when(col("kind") === "missing_in_second", 1L).otherwise(0L))
        .as("missing_in_second")).na.fill(0L)
    val perCol = rep.filter(col("kind") === "differing")
      .groupBy("column_name").agg(count(lit(1)).as("n_differing"))
    import spark.implicits._
    val seed = columns.toDF("column_name")
    // broadcast the RIGHT side: left-outer cannot build left
    seed.join(broadcast(perCol), Seq("column_name"), "left_outer")
      .na.fill(0L, Seq("n_differing"))
      .crossJoin(broadcast(dig))
      .crossJoin(broadcast(missing))
      .select(col("column_name"), col("n_first"), col("n_second"),
        col("missing_in_first"), col("missing_in_second"),
        col("n_differing"),
        (col("n_second") - col("missing_in_first")).as("n_matched"))
  }

  private val multiReportSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("kind", StringType),
    org.apache.spark.sql.types.StructField("id", StringType),
    org.apache.spark.sql.types.StructField("column_name", StringType),
    org.apache.spark.sql.types.StructField("check_first", StringType),
    org.apache.spark.sql.types.StructField("check_second", StringType)))

  /** Incrementally-maintained MULTI-COLUMN row-level report: the two
    * id-level missing frames (kind ∈ {missing_in_first,
    * missing_in_second} — one row per unmatched input row, null ids
    * included, column_name null: missingness is a property of the id,
    * not of any one column) PLUS [[Validator.diffMulti]]'s long frame
    * (kind = differing; one row per differing (row-pair, column), m-by-n
    * duplicate-key multiplicity) as a stored, bucket-partitioned table
    * where a re-run rewrites only the churned buckets' partitions.
    *
    * Dirtiness comes from the WHOLE-ROW digest ([[multiValueExpr]]'s
    * position-salted hash over all k check columns — one witness decides
    * all columns, exactly [[runMulti]]'s discipline): a change in any
    * check column dirties its id's bucket, the bucket's partition is
    * deleted and recomputed from both sides filtered to the dirty set
    * (file-pruning on a [[withBucket]] layout), clean partitions are
    * never touched. All three frames are per-id, and buckets partition
    * ids, so the full report is exactly the union of per-bucket reports;
    * null ids ride the -1 sidecar bucket's partition (they appear in the
    * missing frames, never the join).
    *
    * Because the store carries the missing rows AND the digest witness
    * carries the per-bucket row counts, the per-column summary is
    * DERIVABLE from the store ([[summaryMultiFromStoredReport]]) — the
    * multi-column daily run needs one digest scan, total.
    *
    * Crash discipline is [[reportIncremental]]'s, verified by the same
    * torn-state spec shape: the digest witness is DELETED before any
    * partition is mutated and swapped back only after, so a crash
    * mid-mutation leaves no witness and the next run rebuilds wholesale.
    * Use a DEDICATED stateDir per surface; size `nBuckets` for the
    * report table (hundreds, not thousands — see [[reportIncremental]]).
    *
    * @return (current DIFFERING long frame — diffMulti's shape, read
    *         from the stored table — and the prune record); the missing
    *         frames are in the store under their kinds. */
  def reportIncrementalMulti(first: DataFrame, second: DataFrame,
      checks: Seq[(String, CompareMode)], stateDir: String,
      nBuckets: Int = 4096, dirtyFractionLimit: Double = 0.25,
      bucketCol: Option[String] = None): (DataFrame, IncrementalReport) = {
    require(nBuckets > 0, "nBuckets must be positive")
    require(checks.nonEmpty,
      "reportIncrementalMulti needs at least one check column")
    val spark = first.sparkSession
    import spark.implicits._
    val rowsPath = reportRowsPath(stateDir)
    val digPath = reportDigestsPath(stateDir)
    // ".v2": the store gained the kind column + missing rows — a
    // prior-format state mismatches on meta and rebuilds, never misreads
    val modeStr = "multireport.v2:" + checks
      .map { case (c, m) => s"$c=${modeKey(m)}" }.mkString(",")
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = acquireLease(spark, stateDir)
    try {

    val pr = prune(first, second, nBuckets, bucketCol,
      multiValueExpr(checks.map(_._1)), stateDir, modeStr, digPath)

    // all three frames emit the id string-cast; bucketExpr hashes the
    // same cast, so a report row's bucket equals its input rows' bucket
    def reportRows(f: DataFrame, s: DataFrame): DataFrame = {
      val fid = f.select(col("id").cast(StringType).as("id"))
      val sid = s.select(col("id").cast(StringType).as("id"))
      def missing(kind: String, probe: DataFrame, build: DataFrame) =
        probe.join(build, Seq("id"), "left_anti").select(
          lit(kind).as("kind"), col("id"),
          lit(null).cast(StringType).as("column_name"),
          lit(null).cast(StringType).as("check_first"),
          lit(null).cast(StringType).as("check_second"))
      missing("missing_in_first", sid, fid)
        .unionByName(missing("missing_in_second", fid, sid))
        .unionByName(Validator.diffMulti(f, s, checks)
          .select(lit("differing").as("kind"), col("id"),
            col("column_name"), col("check_first"), col("check_second")))
        .withColumn("bucket", bucketExpr(nBuckets))
    }

    val dirty = pr.dirty
    val tooDirty = dirty.exists(d =>
      pr.total > 0 && d.size.toDouble / pr.total > dirtyFractionLimit)
    val rebuild = !pr.haveState || tooDirty
    beforeMutationHook()
    lease.check()

    val groups = reportGroupCount(nBuckets)
    if (rebuild) {
      // invalidate the witness first: torn output must never read clean
      if (fs.exists(new org.apache.hadoop.fs.Path(digPath)))
        fs.delete(new org.apache.hadoop.fs.Path(digPath), true)
      reportLaidOut(reportRows(first, second), groups)
        .write.mode(SaveMode.Overwrite).partitionBy("__bgroup")
        .parquet(rowsPath)
      swapWrite(spark, pr.cd, digPath)
      if (!pr.haveState)
        writeMeta(spark, stateDir, nBuckets, modeStr)
    } else if (dirty.get.nonEmpty) {
      val d = dirty.get
      fs.delete(new org.apache.hadoop.fs.Path(digPath), true)
      // churn-sized slices persisted: two anti-joins + the k-column diff
      // join would otherwise rescan + re-filter both inputs per frame
      val fD = first.filter(dirtyPred(first, bucketCol, nBuckets, d))
        .persist()
      val sD = second.filter(dirtyPred(second, bucketCol, nBuckets, d))
        .persist()
      try reportSurgery(rowsPath, reportRows(fD, sD), d, groups)
      finally { fD.unpersist(); sD.unpersist() }
      swapWrite(spark, pr.cd, digPath)
    } // zero dirty: report and witness both stand untouched

    val current =
      try spark.read.parquet(rowsPath)
        .filter(col("kind") === "differing")
        .select("id", "column_name", "check_first", "check_second")
      catch {
        case scala.util.control.NonFatal(_) =>
          // an all-equal table pair leaves an empty report directory —
          // parquet cannot infer a schema from zero files
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            multiReportSchema)
            .select("id", "column_name", "check_first", "check_second")
      }
    val report = IncrementalReport(
      rebuilt = rebuild,
      totalBuckets = pr.total,
      dirtyBuckets =
        if (rebuild) pr.total else dirty.map(_.size.toLong).getOrElse(0L),
      cleanBuckets = if (rebuild) 0L else pr.total - pr.dirtyInCurrent)
    (current, report)
    } finally lease.release()
  }
}
