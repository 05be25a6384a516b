package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, TimestampType}

import graft.functions.{compositeKey, seqRatioGte}

/** Comparison mode — reference `data_type: integer | string | date`
  * (`config.yaml:8`, `running_validation.py:643-650`). */
sealed trait CompareMode
object CompareMode {
  /** pandas `to_numeric(errors='coerce')` parity: values coerced to double,
    * unparseable -> null (reference V2, `running_validation.py:242-249`). */
  case object Numeric extends CompareMode
  /** pandas `to_datetime(errors='coerce')` parity (reference V3,
    * `running_validation.py:412-415`). */
  case object Date extends CompareMode
  /** difflib fuzzy ratio >= threshold (reference F1,
    * `running_validation.py:306-316`); threshold >= 1 degenerates to exact
    * null-safe equality (ratio == 1.0 iff strings equal). */
  final case class Fuzzy(threshold: Double) extends CompareMode
}

/** The three independent result sets of one validation run — reference
  * emits them padded side-by-side into one CSV (V5,
  * `running_validation.py:262-275`); we keep them tidy. */
final case class ValidationOutput(
    missingInFirst: DataFrame,   // ids present in second, absent in first
    missingInSecond: DataFrame,  // ids present in first, absent in second
    differing: DataFrame)        // inner-joined rows whose check values differ

/** Spark-native core of the table-diff engine.
  *
  * Scale notes (100 TB):
  *  - both anti-joins and the inner join shuffle on `id` once each; Catalyst
  *    reuses the exchange where plans align, and AQE converts to broadcast
  *    when one side is small (the reference's recorded workload was 2 rows
  *    vs 1.94 M — a textbook broadcast case).
  *  - the diff predicates are pure expressions (`<=>` under whole-stage
  *    codegen); the fuzzy UDF only runs when threshold < 1, post-join.
  *  - duplicate ids produce many-to-many join multiplicity — intended
  *    reference behavior (pandas merge semantics, SURVEY §2.3 J3).
  */
object Validator {

  /** Project a source down to `(id, check)` — composite key construction +
    * column pruning, the reference's synthesized SELECT
    * (`running_validation.py:489-504`). Catalyst pushes the pruning into
    * the scan. */
  def keyed(df: DataFrame, keyCols: Seq[String], checkCol: String): DataFrame =
    df.select(compositeKey(keyCols).as("id"), col(checkCol).as("check"))

  /** Optional date-range filter — exclusive on both ends, matching the
    * reference (`running_validation.py:495-496`: `> start AND < end`). */
  def dateFiltered(df: DataFrame, dateCol: String, start: String, end: String): DataFrame =
    df.filter(col(dateCol) > to_timestamp(lit(start)) && col(dateCol) < to_timestamp(lit(end)))

  /** Coercion used by Numeric mode. `try_cast` ≙ pandas errors='coerce'
    * (works under ANSI mode too). */
  def toNumeric(c: Column): Column = c.cast(StringType).try_cast(DoubleType)

  /** Coercion used by Date mode. */
  def toTs(c: Column): Column = c.try_cast(TimestampType)

  /** The per-mode "values differ" predicate over two check columns.
    * Truth tables (reference V2/V3/F1): both-null -> equal; one-null ->
    * differ; otherwise typed comparison. `<=>` (null-safe equal) negated
    * encodes the whole table in one codegen'd expression. */
  def differs(a: Column, b: Column, mode: CompareMode): Column = mode match {
    case CompareMode.Numeric => !(toNumeric(a) <=> toNumeric(b))
    case CompareMode.Date    => !(toTs(a) <=> toTs(b))
    case CompareMode.Fuzzy(t) if t >= 1.0 => !(a.cast(StringType) <=> b.cast(StringType))
    case CompareMode.Fuzzy(t) =>
      // guarded form: difflib's O(1)/O(n) upper bounds short-circuit the
      // O(n^2) matcher on pairs that can't reach the threshold
      !seqRatioGte(a.cast(StringType), b.cast(StringType), t)
  }

  /** Full validation of two keyed frames (each `(id, check)`).
    *
    * @param firstName/secondName suffix the check columns in the differing
    *        output, matching the reference's `suffixes=(f'_{db1}', f'_{db2}')`
    *        (`running_validation.py:233-239`).
    */
  def validate(
      first: DataFrame,
      second: DataFrame,
      mode: CompareMode,
      firstName: String = "first",
      secondName: String = "second",
      checkName: String = "check"): ValidationOutput = {
    val f = first.select(col("id").cast(StringType).as("id"), col("check"))
    val s = second.select(col("id").cast(StringType).as("id"), col("check"))

    val missingInFirst  = s.select("id").join(f.select("id"), Seq("id"), "left_anti")
    val missingInSecond = f.select("id").join(s.select("id"), Seq("id"), "left_anti")

    val ca = s"${checkName}_$firstName"
    val cb = s"${checkName}_$secondName"
    val joined = f.select(col("id"), col("check").as(ca))
      .join(s.select(col("id"), col("check").as(cb)), Seq("id"), "inner")
    val differing = joined.filter(differs(col(ca), col(cb), mode))

    ValidationOutput(missingInFirst, missingInSecond, differing)
  }

  /** Bucket-level checksums for incremental/merkle-style validation: rows
    * are hashed into `nBuckets` by key; each bucket carries (row count,
    * exact cent-sum of the numeric check column). Comparing the two
    * tables' bucket vectors finds WHERE they differ for the cost of two
    * scans + a tiny aggregate — at 100 TB you run this first and row-diff
    * only the differing buckets (each a 1/nBuckets slice), instead of
    * shuffling both full tables on id.
    */
  /** Conflict-resolution strategy for [[reconcile]]. */
  sealed trait Resolution
  object Resolution {
    case object PreferFirst extends Resolution
    case object PreferSecond extends Resolution
    case object NullOnConflict extends Resolution
  }

  /** Reconciliation: merge the two keyed tables into one corrected
    * `(id, check, status)` table — the natural downstream of a diff
    * report. Equal (null-safe) values pass through; conflicts resolve per
    * strategy; one-sided keys are kept and labeled. One full-outer join,
    * one shuffle.
    *
    * status ∈ {match, conflict, only_first, only_second}. */
  def reconcile(first: DataFrame, second: DataFrame,
      resolution: Resolution = Resolution.PreferFirst): DataFrame = {
    val f = first.select(col("id").cast(StringType).as("id"),
      col("check").as("check_first")).withColumn("in_first", lit(true))
    val s = second.select(col("id").cast(StringType).as("id"),
      col("check").as("check_second")).withColumn("in_second", lit(true))
    val j = f.join(s, Seq("id"), "full_outer")
    val equal = col("check_first") <=> col("check_second")
    val conflictValue = resolution match {
      case Resolution.PreferFirst    => col("check_first")
      case Resolution.PreferSecond   => col("check_second")
      case Resolution.NullOnConflict => lit(null)
    }
    j.select(
      col("id"),
      when(col("in_first").isNull, col("check_second"))
        .when(col("in_second").isNull, col("check_first"))
        .when(equal, col("check_first"))
        .otherwise(conflictValue).as("check"),
      when(col("in_first").isNull, "only_second")
        .when(col("in_second").isNull, "only_first")
        .when(equal, "match")
        .otherwise("conflict").as("status"))
  }

  def bucketChecksums(keyed: DataFrame, bucketExpr: Column): DataFrame =
    keyed.groupBy(bucketExpr.as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(ROUND(CAST(check AS DOUBLE) * 100) AS BIGINT)")).as("check_cents"))

  /** Buckets whose (count, checksum) differ between the two sides —
    * null-safe full-outer compare so one-sided buckets surface too. */
  def differingBuckets(first: DataFrame, second: DataFrame,
      bucketExpr: Column): DataFrame = {
    val a = bucketChecksums(first, bucketExpr)
      .select(col("bucket"), col("n_rows").as("n_first"), col("check_cents").as("cents_first"))
    val b = bucketChecksums(second, bucketExpr)
      .select(col("bucket"), col("n_rows").as("n_second"), col("check_cents").as("cents_second"))
    a.join(b, Seq("bucket"), "full_outer")
      .filter(!(col("n_first") <=> col("n_second")) ||
        !(col("cents_first") <=> col("cents_second")))
  }

  /** Schema drift between the two sides — the metadata pre-check a
    * validation run should do before shuffling a single row: per column
    * (union of both sides), the Spark type on each side and a status in
    * {match, type_mismatch, only_first, only_second}. Pure driver-side
    * metadata (no job); the result is a tiny local DataFrame. */
  def schemaDiff(first: DataFrame, second: DataFrame): DataFrame = {
    val f = first.schema.map(sf => sf.name -> sf.dataType.simpleString).toMap
    val s = second.schema.map(sf => sf.name -> sf.dataType.simpleString).toMap
    val rows = (f.keySet ++ s.keySet).toSeq.sorted.map { c =>
      val status = (f.get(c), s.get(c)) match {
        case (Some(a), Some(b)) if a == b => "match"
        case (Some(_), Some(_))           => "type_mismatch"
        case (Some(_), None)              => "only_first"
        case (None, Some(_))              => "only_second"
        case (None, None)                 => "unreachable"
      }
      (c, f.get(c).orNull, s.get(c).orNull, status)
    }
    val spark = first.sparkSession
    import spark.implicits._
    rows.toDF("column_name", "type_first", "type_second", "status")
  }

  /** One-row metrics summary of a validation run (counts + match rate) —
    * the aggregate surface the reference lacked but a report needs.
    * Multi-action: counts each result set separately (6 jobs, repeated
    * scans). Kept as the reference implementation that [[summaryFast]] —
    * the single-job production path for every mode — is tested against. */
  def summary(first: DataFrame, second: DataFrame, out: ValidationOutput): DataFrame = {
    val nF = first.count()
    val nS = second.count()
    val m1 = out.missingInFirst.count()
    val m2 = out.missingInSecond.count()
    val nd = out.differing.count()
    val matched = nS - m1 // keys of second found in first (with multiplicity)
    val spark = first.sparkSession
    import spark.implicits._
    Seq((nF, nS, m1, m2, nd, matched))
      .toDF("n_first", "n_second", "missing_in_first", "missing_in_second",
        "n_differing", "n_matched")
  }

  /** Single-pass summary — identical numbers to [[summary]] but ONE Spark
    * job, ONE shuffle for every mode:
    *
    * both sides are tagged with a single `side` indicator column and
    * UNIONED before one `repartition(id)`; a `(id, v)` aggregation then
    * carries per-side counts side by side, and per-id pair algebra
    * yields every metric, including the m-by-n duplicate-key
    * multiplicity of the inner-join diff (differing pairs per id =
    * tot1*tot2 - equal pairs). At 100 TB this replaces six scan+join
    * jobs with one shuffle of |rows1|+|rows2| rows and codegen hash
    * aggregations throughout.
    *
    * Equality modes (Numeric / Date / Fuzzy(t>=1)): the `(id, v)`
    * grouping itself aligns equal coerced values (groupBy's
    * NormalizeFloatingNumbers canonicalizes NaN/-0.0 first, so group
    * identity agrees with `<=>`'s truth table, and a null v is its own
    * group — both-null pairs multiply through c1*c2 like any other), so
    * eq_pairs = sum(c1*c2) with no join and no per-value lookup
    * structure; a dirty id carrying thousands of distinct values costs
    * |V1|+|V2| grouped rows, never their product.
    *
    * Fuzzy(t<1) — not an equivalence relation — must SCORE every
    * distinct (v1, v2) pair (the same pairs [[validate]]'s inner join
    * scores row-by-row, deduplicated), so that cross product is
    * intrinsic and runs as an id-only self-join of the grouped union;
    * id-partitioned on both sides, it adds no exchange, and the shared
    * one is reused across all three consumers (see the single-tag
    * comment in the body for why that reuse holds).
    *
    * Null-id rows (impossible via compositeKey, possible on raw nullable
    * inputs) contribute through count-only sidecar aggregates with
    * exactly [[summary]]'s semantics: they count toward their side's
    * total and its missing-in-the-other metric, never toward
    * differing/matched. */
  def summaryFast(first: DataFrame, second: DataFrame, mode: CompareMode): DataFrame = {
    val coerce: Column => Column = mode match {
      case CompareMode.Numeric  => toNumeric
      case CompareMode.Date     => toTs
      case CompareMode.Fuzzy(_) => c => c.cast(StringType)
    }
    // hashpartitioning(id) satisfies every downstream distribution — the
    // (id, v) grouping (id is a subset of the clustering keys, so
    // same-(id,v) rows are already co-located), the per-id totals, and
    // the fuzzy path's id equi-join — so one explicit repartition per
    // input stream replaces what would otherwise be several exchanges.
    // Map-side combine is not missed: validation keys are near-unique, so
    // pre-exchange partials save ~nothing. A HOT key necessarily lands in
    // one partition (its rows must meet to be counted); that task's work
    // is the hot key's row share — the skewed-key rehearsal leg measures
    // the bound, and a key hot enough to dominate would indict the key
    // CHOICE (validation keys are meant to be near-unique), not the plan.
    //
    // The explicit isnotnull(id) filter is load-bearing on the fuzzy
    // path: the grouped union feeds THREE consumers there (per-id totals
    // and the two pair-join sides), and the single exchange is reused
    // only while every consumer's subtree below it stays canonically
    // IDENTICAL. The pair join infers isnotnull(id) into ITS copies;
    // with a nullable id column (any parquet read) the totals copy would
    // lack that filter, the subtrees would stop matching, and the union
    // would be scanned and shuffled three times — the regression class
    // the dupkey rehearsal leg caught in round 10. Filtering up front
    // keeps every copy identical; null-id rows re-enter through the
    // sidecar aggregates below with exact summary() semantics. For the
    // production path (compositeKey ids, provably non-null) both the
    // filter and the sidecars constant-fold away to nothing.
    def keyedSide(df: DataFrame): DataFrame = df
      .filter(col("id").isNotNull)
      .select(col("id").cast(StringType).as("id"), coerce(col("check")).as("v"))

    // ONE exchange for every mode: both sides tagged with a single
    // `side` indicator and unioned BEFORE the repartition(id). The tag
    // being ONE column is load-bearing: each fuzzy pair-join side needs
    // only its own count, and with two indicator columns each consumer
    // would prune the other's below the exchange, the three consumer
    // subtrees would stop being canonically identical, and exchange
    // reuse would never fire (measured: three full scans). With one
    // shared `side` column every consumer's below-exchange footprint is
    // exactly (id, v, side), so the union is scanned and shuffled once.
    val combined = keyedSide(first).withColumn("side", lit(1))
      .unionByName(keyedSide(second).withColumn("side", lit(0)))
      .repartition(col("id"))
    def counted(df: DataFrame) = df.groupBy("id", "v").agg(
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("c1"),
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("c2"))

    // per-id (tot1, eq_pairs, tot2); tot == 0 <=> the id is absent from
    // that side (plain counts — no nullable full-outer columns to test)
    val perId = mode match {
      case CompareMode.Fuzzy(t) if t < 1.0 =>
        // not an equivalence relation: every distinct (v1, v2) pair must
        // be SCORED — the cross product is intrinsic and runs as an
        // id-only equi-join (v in the join keys would demand a
        // hashpartitioning(id, v) distribution and re-shuffle both sides)
        val g = counted(combined)
        val a = g.filter(col("c1") > 0).select(col("id"), col("v").as("v1"), col("c1"))
        val b = g.filter(col("c2") > 0).select(col("id"), col("v").as("v2"), col("c2"))
        val eq = a.join(b, Seq("id"))
          .groupBy("id")
          .agg(sum(when(differs(col("v1"), col("v2"), mode), lit(0L))
            .otherwise(col("c1") * col("c2"))).as("eq_pairs"))
        g.groupBy("id")
          .agg(sum("c1").as("tot1"), sum("c2").as("tot2"))
          .join(eq, Seq("id"), "left_outer") // both id-partitioned: no exchange
          .select(col("tot1"),
            coalesce(col("eq_pairs"), lit(0L)).as("eq_pairs"), col("tot2"))
      case _ =>
        // equality modes: the (id, v) grouping itself aligns equal
        // coerced values, so eq_pairs = sum(c1*c2) — no join at all
        counted(combined).groupBy("id")
          .agg(sum("c1").as("tot1"),
            sum(col("c1") * col("c2")).as("eq_pairs"),
            sum("c2").as("tot2"))
    }
    // null-id sidecars: a null id never joins (and never matches in
    // summary()'s anti-joins), so each side's null rows contribute
    // count-only — to (n_first, missing_in_second) resp. (n_second,
    // missing_in_first). Shaped as extra (tot1, eq_pairs, tot2) rows so
    // the final aggregate's existing CASE arithmetic absorbs them: a
    // (n, 0, 0) row adds n to n_first and — tot2 being 0 — to
    // missing_in_second, and nothing anywhere else. Cost: a pushed-down
    // `id IS NULL` scan per side when id is nullable (row-group stats
    // skip null-free files); an empty-relation constant when it is not.
    def nullSide(df: DataFrame, firstSide: Boolean) = {
      val n = df.filter(col("id").isNull).agg(count(lit(1)).as("n"))
      if (firstSide)
        n.select(col("n").as("tot1"), lit(0L).as("eq_pairs"), lit(0L).as("tot2"))
      else
        n.select(lit(0L).as("tot1"), lit(0L).as("eq_pairs"), col("n").as("tot2"))
    }
    perId.select(col("tot1"), col("eq_pairs"), col("tot2"))
      .unionByName(nullSide(first, firstSide = true))
      .unionByName(nullSide(second, firstSide = false))
      .agg(
        sum(col("tot1")).as("n_first"),
        sum(col("tot2")).as("n_second"),
        sum(when(col("tot1") === 0L, col("tot2")).otherwise(0L)).as("missing_in_first"),
        sum(when(col("tot2") === 0L, col("tot1")).otherwise(0L)).as("missing_in_second"),
        sum(when(col("tot1") > 0L && col("tot2") > 0L,
          col("tot1") * col("tot2") - col("eq_pairs")).otherwise(0L)).as("n_differing"),
        sum(when(col("tot1") > 0L, col("tot2")).otherwise(0L)).as("n_matched"))
      .na.fill(0L) // empty inputs: global agg yields nulls, report zeros
  }

  /** Multi-column [[summaryFast]]: validate k check columns in ONE pass —
    * one scan of each side, ONE keyed shuffle total regardless of k,
    * emitting a per-column summary row (same metrics and semantics as k
    * independent summaryFast calls, which would cost k full passes).
    *
    * `first`/`second` must carry an `id` column plus every named check
    * column. Mechanics: each side is tagged with a single `side`
    * indicator, the union rides one `repartition(id)`, and AFTER the
    * shuffle each row fans out via posexplode into (id, pos, v) — so the
    * exchange moves each input row once (all k values side by side),
    * never k copies of the id. Per-column values are pre-coerced to a
    * STRING group key whose equality agrees with the mode's `<=>` over
    * coerced values: doubles are zero-normalized (-0.0 -> 0.0; NaN is
    * already one group, matching Spark's NaN = NaN semantics) and
    * double/timestamp -> string casts are injective, so the (id, pos, v)
    * grouping aligns exactly the pairs the mode calls equal. Fuzzy(t<1)
    * columns re-score their eq_pairs through the intrinsic per-column
    * pair join (id-only keys, id-partitioned — no added exchange; the
    * pos filter stays above the shared exchange so reuse holds).
    *
    * The only other keyed exchange is the k-row final per-column rollup
    * (post-partial-agg: ~numPartitions x k rows — metadata-sized).
    * Null-id rows contribute through the same count-only sidecar
    * semantics as [[summaryFast]], identically for every column. */
  /** The per-mode STRING group key whose equality agrees with the mode's
    * `<=>` over coerced values (zero-normalized doubles; injective
    * double/timestamp -> string casts) — shared by [[summaryMulti]] and
    * [[IncrementalValidation]]'s multi-column terms. */
  private[core] def multiGroupKey(c: Column, mode: CompareMode): Column =
    mode match {
      case CompareMode.Numeric =>
        val d = toNumeric(c)
        when(d === lit(0.0), lit(0.0)).otherwise(d).cast(StringType)
      case CompareMode.Date     => toTs(c).cast(StringType)
      case CompareMode.Fuzzy(_) => c.cast(StringType)
    }

  def summaryMulti(first: DataFrame, second: DataFrame,
      checks: Seq[(String, CompareMode)]): DataFrame = {
    require(checks.nonEmpty, "summaryMulti needs at least one check column")
    def groupKey(c: Column, mode: CompareMode): Column = multiGroupKey(c, mode)
    // single side tag + explicit isnotnull(id): both load-bearing for
    // exchange reuse across the fuzzy legs' consumers — see summaryFast
    def keyedSide(df: DataFrame, sideTag: Int) = df
      .filter(col("id").isNotNull)
      .select(col("id").cast(StringType).as("id") +:
        checks.zipWithIndex.map { case ((c, m), j) =>
          groupKey(col(c), m).as(s"__v$j") } :+
        lit(sideTag).as("side"): _*)
    val exploded = keyedSide(first, 1).unionByName(keyedSide(second, 0))
      .repartition(col("id"))
      .select(col("id"),
        posexplode(array(checks.indices.map(j => col(s"__v$j")): _*))
          .as(Seq("pos", "v")),
        col("side"))
    val grouped = exploded.groupBy("id", "pos", "v").agg(
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("c1"),
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("c2"))
    var perIdPos = grouped.groupBy("id", "pos").agg(
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
          sum(when(differs(col("v1"), col("v2"), m), lit(0L))
            .otherwise(col("c1") * col("c2"))).as("__eqf"))
        perIdPos = perIdPos.join(eqj, Seq("id"), "left_outer")
          .withColumn("eq_pairs",
            when(col("pos") === j, coalesce(col("__eqf"), lit(0L)))
              .otherwise(col("eq_pairs")))
          .drop("__eqf")
      case _ => ()
    }
    val perCol = perIdPos.groupBy("pos").agg(
      sum(col("tot1")).as("__nf"),
      sum(col("tot2")).as("__ns"),
      sum(when(col("tot1") === 0L, col("tot2")).otherwise(0L)).as("__mif"),
      sum(when(col("tot2") === 0L, col("tot1")).otherwise(0L)).as("__mis"),
      sum(when(col("tot1") > 0L && col("tot2") > 0L,
        col("tot1") * col("tot2") - col("eq_pairs")).otherwise(0L)).as("n_differing"),
      sum(when(col("tot1") > 0L, col("tot2")).otherwise(0L)).as("n_matched"))
    // null-id sidecars: one count per side, identical for every column
    def nulls(df: DataFrame, as: String) =
      df.filter(col("id").isNull).agg(count(lit(1)).as(as))
    val names = array(checks.map { case (c, _) => lit(c) }: _*)
    // k-row pos seed: with EMPTY (or all-null-id) inputs perCol has no
    // rows, but the contract is one row per check column — and the
    // null-id sidecar counts must survive even when no non-null id
    // exists (summaryFast's zeros-row behavior, per column)
    val seed = first.sparkSession.range(checks.size)
      .select(col("id").cast("int").as("pos"))
    seed.join(broadcast(perCol), Seq("pos"), "left_outer")
      .na.fill(0L, Seq("__nf", "__ns", "__mif", "__mis",
        "n_differing", "n_matched"))
      .crossJoin(broadcast(nulls(first, "__nn1")))
      .crossJoin(broadcast(nulls(second, "__nn2")))
      .select(
        element_at(names, col("pos").cast("int") + 1).as("column_name"),
        (col("__nf") + col("__nn1")).as("n_first"),
        (col("__ns") + col("__nn2")).as("n_second"),
        (col("__mif") + col("__nn2")).as("missing_in_first"),
        (col("__mis") + col("__nn1")).as("missing_in_second"),
        col("n_differing"), col("n_matched"))
  }

  /** Multi-column tidy diff: the per-column differing pairs of k check
    * columns from ONE inner join on id (k single-column [[validate]]
    * calls would join k times). Long format: (id, column_name,
    * check_first, check_second), one row per differing (row-pair,
    * column) with [[validate]]'s m-by-n duplicate-key multiplicity.
    * Values are string-cast up front — safe for every mode because the
    * coercions themselves parse from strings (pandas-parity). */
  def diffMulti(first: DataFrame, second: DataFrame,
      checks: Seq[(String, CompareMode)]): DataFrame = {
    require(checks.nonEmpty, "diffMulti needs at least one check column")
    def sideSel(df: DataFrame, pfx: String) = df.select(
      col("id").cast(StringType).as("id") +:
        checks.map { case (c, _) => col(c).cast(StringType).as(s"$pfx$c") }: _*)
    val joined = sideSel(first, "__f_").join(sideSel(second, "__s_"), Seq("id"))
    val legs = array(checks.map { case (c, m) =>
      struct(lit(c).as("column_name"),
        col(s"__f_$c").as("check_first"),
        col(s"__s_$c").as("check_second"),
        differs(col(s"__f_$c"), col(s"__s_$c"), m).as("__d"))
    }: _*)
    joined
      .select(col("id"), explode(legs).as("leg"))
      .filter(col("leg.__d"))
      .select(col("id"), col("leg.column_name").as("column_name"),
        col("leg.check_first").as("check_first"),
        col("leg.check_second").as("check_second"))
  }
}
