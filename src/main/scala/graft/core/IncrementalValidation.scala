package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType,
  StringType, StructField, StructType, TimestampType}

import graft.state.StateStore

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
  *     the summaryMulti algebra, with both sides filtered to the dirty
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
  * partitioning-independent) and EXACT, stored as DECIMAL(38,0) — never
  * a silent wrap difference between ANSI and legacy modes or between
  * engines. The kernel never does per-row DECIMAL arithmetic: each hash
  * splits into three 21-bit limbs whose sums accumulate in `long`
  * (exact below 2^42 rows per bucket) and recombine into DECIMAL(38,0)
  * once per bucket ([[limbSums]]). A false "clean" requires a
  * simultaneous coincidence across both 64-bit sums at equal counts
  * (~2^-128 per bucket per run under the standard independent-hash
  * heuristic) — the same class of guarantee every checksum-based
  * snapshot differ rests on. Any doubt
  * is resolved toward DIRTY: digests hash the RAW
  * string-cast value, so changes invisible to a mode's coercion (e.g.
  * "1.0" -> "1.00" under Numeric) re-validate their bucket and get the
  * same terms back.
  *
  * The state is `<stateDir>/state`, the digest witness — one file
  * holding the state's identity (version, n_buckets, mode key) and the
  * per-bucket digests — and `<stateDir>/terms`, the per-(bucket, column)
  * summary terms. A missing, unreadable or parameter-mismatched witness
  * — or a run whose dirty fraction exceeds `dirtyFractionLimit` — falls
  * back to a full rebuild, so a stale or foreign state can never
  * silently answer. The witness is deleted before the terms change and
  * written back after, landing at the commit point `state.commit`
  * ([[graft.state.StateStore.Witness.mutate]]); the terms replacement
  * is renames-only.
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
  // StateStore.groupCount); a v2 state reads as no-state and rebuilds.
  // v4: the witness is one driver-written file holding the identity and
  // the digests, and a TIMESTAMP column also hashes its instant
  // ([[rowHash]]); a v3 state (a parquet witness directory) reads as
  // no-state and rebuilds once.
  private val STATE_VERSION = 4

  private def modeKey(mode: CompareMode): String = mode match {
    case CompareMode.Numeric  => "numeric"
    case CompareMode.Date     => "date"
    case CompareMode.Fuzzy(t) => s"fuzzy:$t"
  }

  /** Null ids live in their own sidecar bucket (-1): they never join, so
    * their terms are count-only and derivable from the digest row alone. */
  private[graft] def bucketExpr(nBuckets: Int): Column =
    bucketOf(col("id"), nBuckets)

  /** [[bucketExpr]] over any id column: the one bucket function every
    * digest, store and dirty filter shares. */
  private[graft] def bucketOf(id: Column, nBuckets: Int): Column =
    when(id.isNull, lit(-1L))
      .otherwise(pmod(xxhash64(id.cast(StringType)), lit(nBuckets.toLong)))

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

  private val LIMB_BITS = 21
  private val LIMB_MASK = (1L << LIMB_BITS) - 1

  /** Exact per-group sums of 64-bit hash columns, without per-row DECIMAL
    * arithmetic: h = hi·2^42 + mid·2^21 + lo with hi = h >> 42 (signed,
    * |hi| <= 2^21) and mid, lo in [0, 2^21), so each limb sums in `long`
    * without overflow below 2^42 rows per group. Returns the limb
    * aggregates (to pass to one `agg`) and, per `(name, h)`, the column
    * that recombines them into the exact DECIMAL(38,0) sum named `name`
    * (to `select` after the `agg`) — bit-identical to
    * `sum(h.cast(DECIMAL(38,0)))`. Shared by [[digests]] and
    * [[graft.ops.IncrementalAgg.digests]]. */
  private[graft] def limbSums(hashes: Seq[(String, Column)])
      : (Seq[Column], Seq[Column]) = {
    val wide = org.apache.spark.sql.types.DataTypes.createDecimalType(20, 0)
    def limbs(h: Column) = Seq(shiftright(h, 2 * LIMB_BITS),
      shiftright(h, LIMB_BITS).bitwiseAND(LIMB_MASK), h.bitwiseAND(LIMB_MASK))
    def limbName(name: String, i: Int) = s"__${name}_limb$i"
    val aggs = hashes.flatMap { case (name, h) =>
      limbs(h).zipWithIndex.map { case (l, i) => sum(l).as(limbName(name, i)) }
    }
    val totals = hashes.map { case (name, _) =>
      (0 to 2).map { i =>
        col(limbName(name, i)).cast(wide) *
          lit(java.math.BigDecimal.valueOf(1L << ((2 - i) * LIMB_BITS)))
      }.reduce(_ + _).cast(dec).as(name)
    }
    (aggs, totals)
  }

  /** The row hash of every digest kernel: one 64-bit value over the
    * columns `cols` of `df`, POSITION-SALTED — each column hashes with
    * its index first (`xxhash64(lit(j), c_j)`), so a null column can
    * never make two different rows collide by letting a value slide into
    * another column's position (bare multi-arg xxhash64 skips nulls,
    * which would do exactly that). A column hashes as its string cast,
    * with two refinements. An ARRAY (an embedding) hashes natively:
    * stringifying a dim-64 float array per row made the digest scan a
    * material fraction of a full re-encode. A TIMESTAMP hashes as its
    * string cast AND its `unix_micros`: under a daylight-saving session
    * zone the two instants of a repeated local hour cast to one string,
    * while a change of session zone still changes the string. */
  private[graft] def rowHash(df: DataFrame, cols: Seq[String]): Column =
    xxhash64(cols.zipWithIndex.map { case (c, j) =>
      val v = col(c)
      xxhash64(lit(j) +: (df.select(v).schema.head.dataType match {
        case _: ArrayType => Seq(v)
        case TimestampType => Seq(v.cast(StringType), unix_micros(v))
        case _ => Seq(v.cast(StringType))
      }): _*)
    }: _*)

  /** Per-bucket multiset digests of both sides in ONE aggregation over
    * the tagged union: (bucket, n1, h1a, h1b, n2, h2a, h2b). Map-side
    * combinable end to end; the exchange moves ~nBuckets rows per task.
    * `valueExpr` is each side's row payload. Exposed package-private so
    * the plan spec can pin exactly that. */
  private[graft] def digests(first: DataFrame, second: DataFrame,
      nBuckets: Int, bucketCol: Option[String] = None,
      valueExpr: DataFrame => Column = _ => col("check").cast(StringType))
      : DataFrame = {
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
      xxhash64(col("id").cast(StringType), valueExpr(df)).as("h"),
      xxhash64(lit(1L), col("id").cast(StringType), valueExpr(df)).as("h2"),
      lit(tag).as("side"))
    def on(tag: Int, c: Column) =
      when(col("side") === tag, c).otherwise(lit(0L))
    val (limbAggs, totals) = limbSums(Seq(
      "h1a" -> on(1, col("h")), "h1b" -> on(1, col("h2")),
      "h2a" -> on(0, col("h")), "h2b" -> on(0, col("h2"))))
    side(first, 1).unionByName(side(second, 0))
      .groupBy("bucket")
      .agg(sum(on(1, lit(1L))).as("n1"),
        sum(on(0, lit(1L))).as("n2") +: limbAggs: _*)
      .select(col("bucket"), col("n1"), totals(0), totals(1), col("n2"),
        totals(2), totals(3))
  }

  private val termCols = Seq("n_first", "n_second", "missing_in_first",
    "missing_in_second", "n_differing", "n_matched")

  // the written terms' schema, stated so reads skip parquet inference
  private val multiTermsSchema = StructType(StructField("bucket", LongType) +:
    StructField("pos", IntegerType) +: termCols.map(StructField(_, LongType)))

  private def statePath(stateDir: String) = s"$stateDir/state"
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

  /** The digest-compare phase shared by every incremental surface: the
    * current whole-row digests of both sides over `checkCols` against
    * the witness at `digestPath` ([[StateStore.Witness.compare]]). */
  private def prune(first: DataFrame, second: DataFrame, nBuckets: Int,
      bucketCol: Option[String], checkCols: Seq[String], modeStr: String,
      digestPath: String): (StateStore.Witness, StateStore.Compared) = {
    val w = StateStore.Witness(
      StateStore.fsOf(first.sparkSession, digestPath), digestPath,
      STATE_VERSION, nBuckets, modeStr)
    (w, w.compare(digests(first, second, nBuckets, bucketCol,
      rowHash(_, checkCols))))
  }

  /** The dirty-bucket row predicate FOR ONE SIDE: a plain attribute
    * IN-list when a materialized bucket column exists — typed to THAT
    * side's raw column type, so a cast never wraps the attribute and
    * defeats partition pruning. The two sides can legitimately disagree
    * on the type (partition inference reads small values as INT, an
    * explicit reader schema as LONG, inference-off as STRING) — build
    * the predicate per DataFrame, never share one across sides.
    * Falls back to the hash expression over `idCol` per row when no
    * bucket column is materialized. */
  private[graft] def dirtyPred(df: DataFrame, bucketCol: Option[String],
      nBuckets: Int, dirty: Seq[Long], idCol: String = "id"): Column =
    bucketCol.map { c =>
      df.schema(c).dataType match {
        case IntegerType => col(c).isin(dirty.map(_.toInt): _*)
        case StringType => col(c).isin(dirty.map(_.toString): _*)
        case _ => col(c).isin(dirty: _*)
      }
    }.getOrElse(bucketOf(col(idCol), nBuckets).isin(dirty: _*))

  /** [[Validator.summaryFast]]'s one-row summary through stored state:
    * [[runMulti]] with the one check column `check`, `column_name`
    * dropped. Same parameters, state layout and digest contract. */
  def run(first: DataFrame, second: DataFrame, mode: CompareMode,
      stateDir: String, nBuckets: Int = 4096,
      dirtyFractionLimit: Double = 0.25,
      bucketCol: Option[String] = None,
      minRowsForIncremental: Long = 0L): (DataFrame, IncrementalReport) = {
    val (summary, report) = runMulti(first, second, Seq("check" -> mode),
      stateDir, nBuckets, dirtyFractionLimit, bucketCol,
      minRowsForIncremental)
    (summary.drop("column_name"), report)
  }

  /** The summary-only surface — drop-in for [[Validator.summaryFast]]
    * with a state directory. */
  def summaryIncremental(first: DataFrame, second: DataFrame,
      mode: CompareMode, stateDir: String, nBuckets: Int = 4096,
      dirtyFractionLimit: Double = 0.25,
      bucketCol: Option[String] = None): DataFrame =
    run(first, second, mode, stateDir, nBuckets, dirtyFractionLimit,
      bucketCol)._1

  /** Incremental [[Validator.summaryMulti]]: the identical per-column
    * summary (same columns, same semantics for every mode, duplicate and
    * null ids included), answered through stored per-(bucket, column)
    * terms wherever the bucket digests prove the data unchanged. The
    * WHOLE-ROW digest (one position-salted 64-bit value over all k check
    * columns — see [[rowHash]]) decides dirtiness per bucket,
    * clean buckets carry all k columns' terms forward, and only dirty
    * buckets re-enter the one-exchange summaryMulti algebra. A change in
    * ANY check column dirties its bucket for ALL columns — per-column
    * digests would multiply digest state by k to save recomputing
    * columns that share the same dirty rows anyway. Null-id rows
    * contribute the count-only sidecar identically for every column.
    * k = 1 is the single-check surface, [[run]].
    *
    * State layout: see the object doc; the witness's mode key is the full
    * check list, so a state built for different columns, modes or
    * thresholds never answers. The state is FILTER-AGNOSTIC: digests are
    * computed over the inputs AS GIVEN, so changing an upstream predicate
    * (e.g. the YAML `start_date`/`end_date` range) dirties every bucket
    * whose filtered content moved — the summary self-corrects to the new
    * range, it never answers the old one (spec-pinned).
    *
    * @param dirtyFractionLimit above this dirty-bucket share the run
    *        falls back to one full recompute. A fallback run costs the
    *        digest scan PLUS the full pass — the limit bounds the worst
    *        case near full churn, it does not make heavy churn free.
    * @param bucketCol name of a PRE-MATERIALIZED bucket column on both
    *        inputs (produced by [[withBucket]] with the same nBuckets —
    *        trusted, see there). When the tables are partitioned or
    *        clustered by it, the dirty filter prunes files.
    * @param minRowsForIncremental opt-in size floor: when > 0 and the
    *        two inputs together hold fewer rows, answer with one plain
    *        [[Validator.summaryMulti]] pass (fixed digest and state costs
    *        dominate on small inputs; the historical 1x measurement put
    *        the crossover near 1M rows). Any stored state is left
    *        untouched; the next above-floor run's digest compare marks
    *        churned buckets dirty against it. The floor check counts both
    *        inputs — leave it 0 on genuinely large tables.
    * @return (summary, the prune record); [[summaryMultiIncremental]]
    *         returns just the summary. */
  def runMulti(first: DataFrame, second: DataFrame,
      checks: Seq[(String, CompareMode)], stateDir: String,
      nBuckets: Int = 4096, dirtyFractionLimit: Double = 0.25,
      bucketCol: Option[String] = None,
      minRowsForIncremental: Long = 0L): (DataFrame, IncrementalReport) = {
    require(nBuckets > 0, "nBuckets must be positive")
    require(checks.nonEmpty, "runMulti needs at least one check column")
    val spark = first.sparkSession
    if (minRowsForIncremental > 0 &&
        first.count() + second.count() < minRowsForIncremental)
      return (Validator.summaryMulti(first, second, checks),
        IncrementalReport(rebuilt = true, totalBuckets = 0L,
          dirtyBuckets = 0L, cleanBuckets = 0L))
    val modeStr = "multi:" + checks
      .map { case (c, m) => s"$c=${modeKey(m)}" }.mkString(",")
    val lease = StateStore.acquireLease(spark, stateDir)
    try {

    // current digests (one scan of each side, tiny exchange) against the
    // witness; one-sided buckets (appeared or fully drained) are dirty
    val (w, pr) = prune(first, second, nBuckets, bucketCol,
      checks.map(_._1), modeStr, statePath(stateDir))
    val cdDf = spark.createDataFrame(pr.rows.asJava, pr.schema)
    val oldTerms: Option[DataFrame] =
      if (pr.haveState)
        try Some(spark.read.schema(multiTermsSchema)
          .parquet(termsPath(stateDir)))
        catch { case scala.util.control.NonFatal(_) => None } // torn state
      else None
    val rebuild = oldTerms.isEmpty || pr.tooDirty(dirtyFractionLimit)

    // null sidecar: one row PER COLUMN POSITION off the -1 digest counts
    val posSeed = spark.range(checks.size).select(col("id").cast("int").as("pos"))
    val nullTerms = cdDf.filter(col("bucket") === -1L)
      .crossJoin(broadcast(posSeed))
      .select(col("bucket"), col("pos"),
        col("n1").as("n_first"), col("n2").as("n_second"),
        col("n2").as("missing_in_first"), col("n1").as("missing_in_second"),
        lit(0L).as("n_differing"), lit(0L).as("n_matched"))

    def newTerms: DataFrame = {
      if (rebuild)
        perBucketTermsMulti(first, second, checks, nBuckets)
          .unionByName(nullTerms)
      else {
        val dirty = pr.dirty.get
        val dirtyData = dirty.filter(_ >= 0L)
        val recomputed =
          if (dirtyData.isEmpty)
            // zero data-bucket churn: nothing re-enters the keyed shuffle
            spark.range(0).select(col("id").as("bucket") +:
              (col("id").cast("int").as("pos") +:
                termCols.map(c => col("id").as(c))): _*)
          else perBucketTermsMulti(
            first.filter(dirtyPred(first, bucketCol, nBuckets, dirtyData)),
            second.filter(dirtyPred(second, bucketCol, nBuckets, dirtyData)),
            checks, nBuckets)
        val carried = oldTerms.get
          .select(col("bucket") +: col("pos") +: termCols.map(col): _*)
          .filter(!col("bucket").isin(-1L +: dirty: _*))
        // membership tracks the current digests: drained buckets drop.
        // cdDf is the digests' local nBuckets-row relation: broadcast it
        carried.unionByName(recomputed).unionByName(nullTerms)
          .join(broadcast(cdDf.select("bucket")), Seq("bucket"), "left_semi")
      }
    }

    // the terms are nBuckets·k-sized (metadata) — one output file, not
    // one per shuffle partition (repartition, not coalesce: coalesce(1)
    // would collapse the upstream terms computation into one task)
    w.mutate(pr, termsPath(stateDir), rebuild, lease) {
      StateStore.swapWrite(newTerms.repartition(1), termsPath(stateDir), lease)
    }

    // the global summary is the per-column sum over the stored terms —
    // read back from the swapped-in store so the returned frame is
    // self-contained and re-executable
    val names = array(checks.map { case (c, _) => lit(c) }: _*)
    val perCol = spark.read.schema(multiTermsSchema)
      .parquet(termsPath(stateDir))
      .groupBy("pos").agg(sum("n_first").as("n_first"),
        termCols.tail.map(c => sum(c).as(c)): _*)
    val summary = posSeed.join(broadcast(perCol), Seq("pos"), "left_outer")
      .na.fill(0L, termCols)
      .select(element_at(names, col("pos").cast("int") + 1).as("column_name") +:
        termCols.map(col): _*)
    (summary, pr.record(rebuild))
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

  private val reportSchema = StructType(
    Seq("kind", "id", "column_name", "check_first", "check_second")
      .map(StructField(_, StringType)))

  /** One run's outputs of the row-level report: the stored report read
    * once and materialized (`current`), the prune record, and the
    * summary derived from both. */
  final case class MaintainedReport(current: DataFrame,
      report: IncrementalReport, summary: DataFrame)

  private val summarySchema = StructType(StructField("column_name",
    StringType) +: termCols.map(StructField(_, LongType)))

  /** Incrementally-maintained ROW-LEVEL report — the reference's actual
    * outputs (missing ids both ways + differing value pairs,
    * `running_validation.py:262-275`) for k check columns, as a STORED,
    * bucket-grouped table where a re-run rewrites only the churned
    * buckets' groups. The one report path: [[reportIncremental]],
    * [[reportIncrementalWithSummary]] and [[reportIncrementalMulti]] are
    * its callers.
    *
    * The store at `<stateDir>/report` is the long frame (kind, id,
    * column_name, check_first, check_second): the two id-level missing
    * kinds (one row per unmatched input row, null ids included,
    * column_name null — missingness is a property of the id) plus
    * [[Validator.diffMulti]]'s rows under kind `differing` (one row per
    * differing (row-pair, column), m-by-n duplicate-key multiplicity).
    * All three are per-id, and buckets partition ids (null ids ride the
    * -1 sidecar bucket), so the full report is exactly the union of the
    * per-bucket reports.
    *
    * Dirtiness comes from the WHOLE-ROW digest ([[rowHash]] — one
    * witness decides all columns, [[runMulti]]'s discipline); a dirty
    * bucket's group is recomputed from both sides filtered to the dirty
    * set (file-pruning on a [[withBucket]] layout), each slice
    * materialized once — the report is several joins, each would
    * otherwise rescan and re-filter the inputs. The witness cycle
    * (delete before mutating, write back after, so a crash rebuilds) is
    * [[StateStore.Witness.maintain]]'s. Use a DEDICATED stateDir per
    * surface. Size `nBuckets` for the REPORT table, not the inputs:
    * hundreds of buckets usually suffice.
    *
    * The stored report is read ONCE, with its explicit schema, and
    * materialized; the same pass observes the two missing kinds and
    * each column's differing rows. The summary is then
    * [[Validator.summaryMulti]]'s per-column shape, built on the driver:
    * `n_first` / `n_second` are the current digests' per-side sums and
    *
    *   n_matched    = n_second - missing_in_first
    *   n_differing  = |the column's differing report rows|
    *
    * (a second-side row either matches some first id or is missing from
    * first). Collecting the summary launches no Spark job. */
  def reportIncrementalMultiWithSummary(first: DataFrame, second: DataFrame,
      checks: Seq[(String, CompareMode)], stateDir: String, nBuckets: Int,
      dirtyFractionLimit: Double,
      bucketCol: Option[String]): MaintainedReport = {
    require(nBuckets > 0, "nBuckets must be positive")
    require(checks.nonEmpty, "the report needs at least one check column")
    val spark = first.sparkSession
    val rowsPath = reportRowsPath(stateDir)
    // ".v2": the store gained the kind column + missing rows — a
    // prior-format state mismatches on its key and rebuilds, never misreads
    val modeStr = "multireport.v2:" + checks
      .map { case (c, m) => s"$c=${modeKey(m)}" }.mkString(",")
    val lease = StateStore.acquireLease(spark, stateDir)
    try {

    val (w, pr) = prune(first, second, nBuckets, bucketCol,
      checks.map(_._1), modeStr, reportDigestsPath(stateDir))

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
    def slice(df: DataFrame, dirty: Seq[Long]) =
      df.filter(dirtyPred(df, bucketCol, nBuckets, dirty)).localCheckpoint()
    val rebuild = w.maintain(pr, rowsPath, "bucket", Nil, dirtyFractionLimit,
        lease)(reportRows(first, second),
      dirty => reportRows(slice(first, dirty), slice(second, dirty)))

    // the files add the row's `bucket`, the directories a LongType
    // `__bgroup`; an all-clean table pair can leave a data-less store,
    // any other read failure propagates
    val counted = (col("kind") === "missing_in_first") +:
      (col("kind") === "missing_in_second") +: checks.map { case (c, _) =>
        col("kind") === "differing" && col("column_name") === c }
    val (current, counts) =
      if (!StateStore.storeHasData(StateStore.fsOf(spark, rowsPath), rowsPath))
        (spark.createDataFrame(java.util.Collections.emptyList[Row](),
          reportSchema), counted.map(_ => 0L))
      else {
        val obs = Observation()
        val metrics = counted.zipWithIndex.map { case (p, i) =>
          count_if(p).as(s"n$i") }
        val cur = spark.read.schema(StructType(reportSchema.fields ++
            Seq("bucket", "__bgroup").map(StructField(_, LongType))))
          .parquet(rowsPath)
          .select(reportSchema.fieldNames.map(col).toIndexedSeq: _*)
          .observe(obs, metrics.head, metrics.tail: _*)
          .localCheckpoint()
        val got = obs.get
        (cur, counted.indices.map(i => got(s"n$i").asInstanceOf[Long]))
      }
    val (missingInFirst, missingInSecond) = (counts(0), counts(1))
    val (nFirst, nSecond) = (pr.sum("n1"), pr.sum("n2"))
    val summary = spark.createDataFrame(checks.zip(counts.drop(2)).map {
      case ((c, _), nDiffering) => Row(c, nFirst, nSecond, missingInFirst,
        missingInSecond, nDiffering, nSecond - missingInFirst)
    }.asJava, summarySchema)
    MaintainedReport(current, pr.record(rebuild), summary)
    } finally lease.release()
  }

  /** The differing rows of a report's `current` frame, in
    * [[Validator.diffMulti]]'s shape. */
  private[core] def differingRows(current: DataFrame): DataFrame =
    current.filter(col("kind") === "differing")
      .select("id", "column_name", "check_first", "check_second")

  /** [[reportIncrementalMultiWithSummary]] with the one check column
    * `check`: `current` is the stored report (kind, id, check_first,
    * check_second) and `summary` [[Validator.summaryFast]]'s one row. */
  def reportIncrementalWithSummary(first: DataFrame, second: DataFrame,
      mode: CompareMode, stateDir: String, nBuckets: Int = 4096,
      dirtyFractionLimit: Double = 0.25,
      bucketCol: Option[String] = None): MaintainedReport = {
    val m = reportIncrementalMultiWithSummary(first, second,
      Seq("check" -> mode), stateDir, nBuckets, dirtyFractionLimit, bucketCol)
    MaintainedReport(m.current.drop("column_name"), m.report,
      m.summary.drop("column_name"))
  }

  /** [[reportIncrementalWithSummary]] without the summary. */
  def reportIncremental(first: DataFrame, second: DataFrame,
      mode: CompareMode, stateDir: String, nBuckets: Int = 4096,
      dirtyFractionLimit: Double = 0.25,
      bucketCol: Option[String] = None): (DataFrame, IncrementalReport) = {
    val m = reportIncrementalWithSummary(first, second, mode, stateDir,
      nBuckets, dirtyFractionLimit, bucketCol)
    (m.current, m.report)
  }

  /** [[reportIncrementalMultiWithSummary]]'s differing rows
    * ([[Validator.diffMulti]]'s shape) and prune record; the missing
    * rows stay in the store under their kinds. */
  def reportIncrementalMulti(first: DataFrame, second: DataFrame,
      checks: Seq[(String, CompareMode)], stateDir: String,
      nBuckets: Int = 4096, dirtyFractionLimit: Double = 0.25,
      bucketCol: Option[String] = None): (DataFrame, IncrementalReport) = {
    val m = reportIncrementalMultiWithSummary(first, second, checks,
      stateDir, nBuckets, dirtyFractionLimit, bucketCol)
    (differingRows(m.current), m.report)
  }
}
