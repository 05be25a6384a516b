package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface of the engine — continuous validation over
  * an event stream (`events`: event_id, ts, user_id, event_type, value,
  * props). The reference is strictly batch (SURVEY §2.8); this is the §7
  * extension phase: the same diff semantics applied continuously.
  *
  * Scale notes: all aggregations are keyed (event_type / user_id) so state
  * is partitioned across executors; watermarks bound state size; the
  * static reference side of [[streamingValidate]] is broadcast when small.
  */
object StreamingOps {

  /** Normalizes the events table's `ts` to plain TIMESTAMP across the
    * parquet physical types the driver has shipped: TIMESTAMP(NANOS)
    * (rejected by Spark's reader — sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` and this converts the
    * nano-long back to a micro timestamp) and TIMESTAMP(MICROS) without
    * UTC adjustment (read as TIMESTAMP_NTZ, which event-time watermarks
    * and `unix_micros` reject — cast back; sessions run in UTC, so the
    * cast is value-preserving and agrees with DuckDB's naive read of the
    * same file). No-op when ts is already a timestamp. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Streaming reader over a parquet directory (or single parquet file —
    * FileStreamSource wants a directory, so a file gets its parent as
    * basePath) with the schema inferred from a batch sample (streams need
    * an explicit schema). */
  // one symlink dir per resolved file path, reused across calls (repeated
  // invocations — e.g. bench warmup + timed run — must not accumulate temp
  // dirs); deleteOnExit in reverse creation order (file before dir)
  private val symlinkDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def readEvents(spark: SparkSession, path: String): DataFrame = {
    val schema = spark.read.parquet(path).schema
    val f = new java.io.File(path)
    val streamDir =
      if (f.isFile) {
        // FileStreamSource requires a directory: expose the file through a
        // symlink in a temp dir (no data copy). compute() (not
        // computeIfAbsent) revalidates a cached entry: a tmp-cleaner (or
        // test teardown) may have removed the dir mid-session, and handing
        // the reader a stale path would fail every later stream
        symlinkDirs.compute(f.getCanonicalPath, { (_, cached) =>
          if (cached != null &&
              java.nio.file.Files.exists(java.nio.file.Paths.get(cached, f.getName)))
            cached
          else {
            val d = java.nio.file.Files.createTempDirectory("graft_stream_")
            d.toFile.deleteOnExit() // registered first => deleted last (reverse order)
            val link = java.nio.file.Files.createSymbolicLink(
              d.resolve(f.getName), f.toPath.toAbsolutePath)
            link.toFile.deleteOnExit()
            d.toString
          }
        })
      } else path
    normalizeEventTs(spark.readStream.schema(schema).parquet(streamDir))
  }

  /** Windowed per-type metrics with a watermark: tumbling windows of
    * `windowDur`, late data beyond `watermark` dropped. */
  def windowedCounts(events: DataFrame, windowDur: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(ROUND(value*100) AS BIGINT)")).as("value_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("value_cents"))

  /** Streaming exact dedup on event_id within the watermark horizon —
    * the streaming form of Dedup.exact. */
  def dedupedEvents(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Continuous validation of a stream against a static reference table:
    * each event's `value` compared to the reference value for its key;
    * mismatches (null-safe) are emitted as they arrive. The static side
    * joins map-side when small (broadcast) — the streaming analogue of the
    * reference's recorded 2-row-vs-1.94M workload. */
  def streamingValidate(events: DataFrame, reference: DataFrame,
      keyCol: String = "event_id", checkCol: String = "value"): DataFrame = {
    val ref = reference.select(col(keyCol).as("id"),
      col(checkCol).as("check_expected"))
    events.select(col(keyCol).as("id"), col(checkCol).as("check_observed"))
      .join(ref, Seq("id"), "left_outer")
      .filter(!(col("check_observed") <=> col("check_expected")))
  }

  /** total_cents (cent-rounded per event, summed exactly as Long) keeps the
    * result order-independent — a Double running sum would differ from the
    * oracle by float association.
    *
    * `epoch_us` identifies the state FRAGMENT the row belongs to: it is
    * fixed when the user's state is (re)created — micros of the first
    * event seen for the fragment — and never changes until eviction. A
    * user who returns after an idle eviction starts a NEW fragment with a
    * strictly larger epoch (post-eviction events sit above the watermark
    * that fired the timeout), so downstream consumers reduce exactly:
    * max_by(n_events) within (user_id, epoch_us) — the counter is monotone
    * within a fragment — then SUM fragments per user. Without the epoch, a
    * returning user's restarted counter made a global per-user max keep
    * only the largest fragment. */
  final case class UserSession(user_id: Long, epoch_us: Long, n_events: Long,
      total_cents: Long, first_ts: java.sql.Timestamp, last_ts: java.sql.Timestamp)
  final case class EventRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  /** Custom per-key state: running per-user session stats via
    * `mapGroupsWithState` (the KeyValueGroupedDataset stateful surface).
    * Emits the updated session row on every trigger for every active user.
    *
    * State is BOUNDED: with `idleMinutes` set (the default), a user idle
    * for that long past the event-time watermark has their final row
    * re-emitted and their state EVICTED — over an unbounded user universe
    * the store holds only recently-active users, mirroring
    * [[sessionWindows]]. Downstream consumers reconstruct exact per-user
    * totals across evictions via the fragment key: max_by(n_events) per
    * (user_id, epoch_us), then sum fragments per user (see
    * [[UserSession]]) — valid for any number of micro-batches and
    * return-after-eviction patterns. Pass `idleMinutes = None` for the
    * unbounded accumulate-forever variant (bounded-key demos only).
    */
  def userSessions(events: DataFrame, watermark: String = "10 minutes",
      idleMinutes: Option[Int] = Some(60)): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val src = idleMinutes match {
      case Some(_) => events.withWatermark("ts", watermark)
      case None    => events
    }
    val timeoutConf = idleMinutes match {
      case Some(_) => GroupStateTimeout.EventTimeTimeout()
      case None    => GroupStateTimeout.NoTimeout()
    }
    src.as[EventRow]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserSession, UserSession](timeoutConf) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[UserSession]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove() // evict: final row re-emitted, store entry freed
            last
          } else {
            val prev = state.getOption.getOrElse(
              UserSession(uid, -1L, 0L, 0L, null, null))
            var n = prev.n_events
            var tot = prev.total_cents
            var first = prev.first_ts
            var last = prev.last_ts
            rows.foreach { r =>
              n += 1
              tot += sqlRoundCents(r.value)
              if (first == null || r.ts.before(first)) first = r.ts
              if (last == null || r.ts.after(last)) last = r.ts
            }
            // fragment epoch: fixed at state creation, stable until
            // eviction (a late-but-in-watermark event may move first_ts
            // backward, so first_ts itself is NOT a safe fragment key)
            val epoch = if (prev.epoch_us >= 0) prev.epoch_us else tsToMicros(first)
            val next = UserSession(uid, epoch, n, tot, first, last)
            state.update(next)
            idleMinutes.foreach { idle =>
              // event-time eviction point; must sit past the current
              // watermark or Spark rejects it
              state.setTimeoutTimestamp(math.max(
                last.getTime + idle * 60000L,
                state.getCurrentWatermarkMs() + 1))
            }
            next
          }
      }
  }

  final case class SessionWindow(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_cents: Long)
  /** public: the state encoder's generated code must construct it.
    * start/end are epoch MICROseconds — Timestamp.getTime alone drops the
    * sub-millisecond part the event timestamps carry. */
  final case class SessionState(start: Long, end: Long, n: Long, cents: Long)

  private def tsToMicros(t: java.sql.Timestamp): Long =
    (t.getTime / 1000) * 1000000L + t.getNanos / 1000

  /** SQL ROUND semantics (half away from zero) at cent scale — Scala's
    * math.round is floor(x+0.5), which disagrees on negative halves. */
  private def sqlRoundCents(v: Double): Long = {
    val x = v * 100
    if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong
  }
  private def microsToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000)
    t.setNanos(((us % 1000000L) * 1000).toInt)
    t
  }

  /** Streaming session windows via `flatMapGroupsWithState` with an
    * event-time timeout: a user's session closes after `gapMinutes` of
    * inactivity past the watermark, emitting one row per closed session.
    * State per key is one small SessionState — bounded by active users,
    * evicted on timeout. */
  def sessionWindows(events: DataFrame, gapMinutes: Int = 30,
      watermark: String = "10 minutes"): Dataset[SessionWindow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000
    events.withWatermark("ts", watermark)
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionWindow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionWindow(uid,
              microsToTs(s.start), microsToTs(s.end), s.n, s.cents))
          } else {
            val sorted = rows.toSeq.sortBy(r => tsToMicros(r.ts))
            var closed = List.empty[SessionWindow]
            var cur = state.getOption
            sorted.foreach { r =>
              val t = tsToMicros(r.ts)
              val cents = sqlRoundCents(r.value)
              cur match {
                case Some(s) if t - s.end <= gapUs =>
                  cur = Some(SessionState(s.start, math.max(s.end, t), s.n + 1, s.cents + cents))
                case Some(s) =>
                  closed ::= SessionWindow(uid, microsToTs(s.start),
                    microsToTs(s.end), s.n, s.cents)
                  cur = Some(SessionState(t, t, 1, cents))
                case None =>
                  cur = Some(SessionState(t, t, 1, cents))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // timeout is in millis; round up so it fires strictly after
              // end + gap in event time
              state.setTimeoutTimestamp((s.end + gapUs) / 1000 + 1)
            }
            closed.reverseIterator
          }
      }
  }

  /** Stream-stream interval join: each left event joined to right events
    * of the same key within `[left.ts - lookback, left.ts]` — the
    * streaming form of a bounded as-of/attribution join. Both sides carry
    * watermarks so Spark can evict join state; state size is bounded by
    * (lookback + watermark) per key. */
  def streamStreamIntervalJoin(left: DataFrame, right: DataFrame,
      keyCol: String, lookback: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(keyCol).as("k"), col("ts").as("l_ts"),
        col("event_id").as("l_event_id"))
    val r = right.withWatermark("ts", watermark)
      .select(col(keyCol).as("rk"), col("ts").as("r_ts"),
        col("event_id").as("r_event_id"), col("value").as("r_value"))
    l.join(r,
      col("k") === col("rk") &&
        col("r_ts") <= col("l_ts") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $lookback"),
      "inner")
      .select(col("k").as(keyCol), col("l_event_id"), col("l_ts"),
        col("r_event_id"), col("r_ts"), col("r_value"))
  }

  /** Streaming HDR quantile sketch — the incremental form of
    * `Quantile.sketch`: a running `groupBy(keys, bucket).count()` over the
    * stream. The sketch is distributive/always-mergeable by construction
    * (integer bucket of each value + a count), so the streaming state is
    * EXACTLY the batch sketch at every point in time — bounded at
    * ~64·2^m rows per key regardless of how much data has streamed
    * through, which is what makes continuous percentile monitoring viable
    * at ingest scale. Complete-mode output equals the batch sketch (the
    * oracle). */
  def streamingSketch(events: DataFrame, keys: Seq[String], vCol: String,
      m: Int): DataFrame =
    events.groupBy(keys.map(col) :+
        graft.ops.Quantile.bucketIdx(vCol, m).as("bucket"): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Continuous distinct-count sketch — the streaming twin of
    * `Frequency.hllSketch`: HyperLogLog registers maintained as a running
    * `groupBy(register).max(rho)` over the stream. Max is distributive
    * and order-independent, so the state is EXACTLY the batch sketch at
    * every point in time and is bounded at 2^p rows FOREVER regardless
    * of stream volume — continuous cardinality monitoring (distinct
    * users/keys/fingerprints seen so far) with fixed memory at any
    * ingest rate. Complete-mode output equals the batch sketch (the
    * oracle). */
  def streamingHll(events: DataFrame, keyCol: String, p: Int = 8): DataFrame =
    graft.ops.Frequency.hllSketch(events, keyCol, p)

  /** Continuous frequency sketch — the streaming twin of
    * `Frequency.countMinSketch`, completing the sketch-family symmetry
    * with [[streamingHll]]: the depth x width counter matrix maintained
    * as a running `groupBy(r, cell).count` over the stream. Counter sums
    * are distributive and order-independent, so the state is EXACTLY the
    * batch sketch at every point in time and is bounded at depth*width
    * rows FOREVER regardless of stream volume or distinct-key count —
    * continuous heavy-hitter monitoring with fixed memory at any ingest
    * rate (point-estimate any key against the complete-mode output with
    * `Frequency.countMinEstimate`). Complete-mode output equals the
    * batch sketch (the oracle). */
  def streamingCountMin(events: DataFrame, keyCol: String, depth: Int = 4,
      width: Int = 256): DataFrame =
    graft.ops.Frequency.countMinSketch(events, keyCol, depth, width)

  /** Continuously-maintained CDC snapshot — the streaming twin of
    * `ChangeData.cdcMerge`: the per-key latest-wins winner maintained as
    * a running `max_by` aggregate over the tagged change stream (base
    * rows enter as seq = -2^63 inserts, exactly as in the batch op; a
    * static base unions in as a second file stream). max_by over the
    * (seq, op, first-payload) struct is distributive and
    * order-independent — the lexicographic struct max IS the batch
    * window's (seq desc, op desc, payload desc) winner — so the
    * complete-mode output equals the batch merge at every point in time
    * and deletes stay filtered the moment a 'D' becomes a key's latest.
    * State is one row per live key (snapshot-sized, the floor for any
    * upsert view), never per-change. */
  def streamingCdcMerge(tagged: DataFrame, keyCols: Seq[String],
      seqCol: String, opCol: String): DataFrame = {
    val payload = tagged.columns
      .filterNot(c => keyCols.contains(c) || c == seqCol || c == opCol).toSeq
    val ordKey = struct(
      (Seq(seqCol, opCol) ++ payload.headOption.toSeq).map(col): _*)
    tagged.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct((Seq(opCol) ++ payload).map(col): _*), ordKey)
        .as("__w"))
      .select(keyCols.map(col) ++
        (Seq(opCol) ++ payload).map(c => col(s"__w.$c").as(c)): _*)
      .filter(col(opCol) =!= "D")
      .drop(opCol)
  }

  /** Continuous TABLE DIFF — the full, both-directional streaming form of
    * the engine's namesake batch validation (`Validator.validate`):
    * an observed stream diffed against a reference stream (or a static
    * snapshot replayed as a file stream), continuously emitting per key
    *  - `missing_in_reference` — observed but never expected,
    *  - `missing_in_stream`   — expected but never observed,
    *  - `differing`           — present on both sides with null-safe
    *    unequal check values (per-side MAX for multi-valued keys — a
    *    deterministic, order-independent choice; dedup upstream with
    *    [[dedupedEvents]] when keys must be unique);
    * matched keys emit nothing. [[streamingValidate]] covers only the
    * differing direction; this is the whole truth table.
    *
    * Distributive by construction (counts + maxes), so the complete-mode
    * output equals the batch full-outer diff at EVERY point in time, for
    * any micro-batch slicing and any late-data arrival order — a key
    * flagged missing_in_stream self-corrects to differing/matched the
    * moment its event arrives. State is one small row per DISTINCT key
    * (the floor for any diff that must remember what it has seen),
    * exactly [[streamingCdcMerge]]'s class; for an unbounded key
    * universe use [[streamingTableDiffBounded]]. */
  def streamingTableDiff(stream: DataFrame, reference: DataFrame,
      keyCol: String, checkCol: String): DataFrame = {
    val e = stream.select(col(keyCol).as("id"), col(checkCol).as("v"),
      lit("E").as("side"))
    val r = reference.select(col(keyCol).as("id"), col(checkCol).as("v"),
      lit("R").as("side"))
    e.unionByName(r)
      .groupBy("id")
      .agg(
        count(when(col("side") === "E", 1)).as("n_stream"),
        count(when(col("side") === "R", 1)).as("n_reference"),
        max(when(col("side") === "E", col("v"))).as("observed"),
        max(when(col("side") === "R", col("v"))).as("expected"))
      .withColumn("kind",
        when(col("n_reference") === 0, "missing_in_reference")
          .when(col("n_stream") === 0, "missing_in_stream")
          .when(!(col("observed") <=> col("expected")), "differing"))
      .filter(col("kind").isNotNull)
      .select("id", "kind", "observed", "expected")
  }

  /** Multi-column [[streamingTableDiff]] — the streaming twin of
    * `Validator.diffMulti`: diff k check columns against the reference
    * in ONE stateful aggregation (state stays one row per DISTINCT key,
    * now carrying 2k per-side maxes), emitting the long format
    * (id, column_name, kind, observed, expected). Values are string-cast
    * up front so the long format is uniform; per-side MAX over the cast
    * is the same deterministic, order-independent choice as the
    * single-column op. missing_in_* keys emit one row per column
    * (uniform with the per-column counts a consumer aggregates).
    * Distributive counts + maxes ⇒ complete-mode output equals the
    * batch per-column full-outer diff at every point in time, for any
    * micro-batch slicing and late order. The explode runs AFTER the
    * aggregation — stateless post-processing, k output rows per changed
    * key, nothing extra in state. */
  def streamingTableDiffMulti(stream: DataFrame, reference: DataFrame,
      keyCol: String, checkCols: Seq[String]): DataFrame = {
    require(checkCols.nonEmpty, "streamingTableDiffMulti needs check columns")
    def sideSel(df: DataFrame, tag: String) = df.select(
      col(keyCol).as("id") +:
        checkCols.map(c => col(c).cast("string").as(s"__c_$c")) :+
        lit(tag).as("side"): _*)
    val aggCols =
      count(when(col("side") === "E", 1)).as("n_stream") +:
      count(when(col("side") === "R", 1)).as("n_reference") +:
      checkCols.flatMap(c => Seq(
        max(when(col("side") === "E", col(s"__c_$c"))).as(s"__o_$c"),
        max(when(col("side") === "R", col(s"__c_$c"))).as(s"__e_$c")))
    val agg = sideSel(stream, "E").unionByName(sideSel(reference, "R"))
      .groupBy("id")
      .agg(aggCols.head, aggCols.tail: _*)
    val legs = array(checkCols.map(c => struct(
      lit(c).as("column_name"),
      col(s"__o_$c").as("observed"),
      col(s"__e_$c").as("expected"))): _*)
    agg
      .select(col("id"), col("n_stream"), col("n_reference"),
        explode(legs).as("leg"))
      .withColumn("kind",
        when(col("n_reference") === 0, "missing_in_reference")
          .when(col("n_stream") === 0, "missing_in_stream")
          .when(!(col("leg.observed") <=> col("leg.expected")), "differing"))
      .filter(col("kind").isNotNull)
      .select(col("id"), col("leg.column_name").as("column_name"),
        col("kind"), col("leg.observed").as("observed"),
        col("leg.expected").as("expected"))
  }

  /** Watermark-BOUNDED continuous table diff for unbounded key universes:
    * a stream-stream FULL OUTER join on the key with a `horizon`
    * time-range bound — matched-and-equal pairs emit nothing, unequal
    * pairs emit `differing` as they meet, and a side unmatched within
    * the horizon emits its missing row when the watermark passes (which
    * is also when its join state is EVICTED — per-key state lives
    * horizon + watermark, not forever, the property the complete-mode
    * [[streamingTableDiff]] cannot offer).
    *
    * The horizon defines simultaneity: a key whose observed and expected
    * rows are further than `horizon` apart in event time reports as
    * missing on BOTH sides (a real monitoring semantic: the reference
    * was not confirmed in time). Append-mode; late rows beyond the
    * watermark are dropped by the join, exactly Spark's documented
    * outer-join contract. */
  def streamingTableDiffBounded(stream: DataFrame, reference: DataFrame,
      keyCol: String, checkCol: String, tsCol: String = "ts",
      horizon: String = "1 hour", watermark: String = "10 minutes"): DataFrame = {
    val e = stream.withWatermark(tsCol, watermark)
      .select(col(keyCol).as("id"), col(checkCol).as("observed"),
        col(tsCol).as("e_ts"))
    val r = reference.withWatermark(tsCol, watermark)
      .select(col(keyCol).as("rid"), col(checkCol).as("expected"),
        col(tsCol).as("r_ts"))
    e.join(r,
      col("id") === col("rid") &&
        col("r_ts") >= col("e_ts") - expr(s"INTERVAL $horizon") &&
        col("r_ts") <= col("e_ts") + expr(s"INTERVAL $horizon"),
      "full_outer")
      .select(coalesce(col("id"), col("rid")).as("id"),
        when(col("rid").isNull, "missing_in_reference")
          .when(col("id").isNull, "missing_in_stream")
          .when(!(col("observed") <=> col("expected")), "differing").as("kind"),
        col("observed"), col("expected"))
      .filter(col("kind").isNotNull)
  }

  final case class DriftRow(window_start: java.sql.Timestamp, n_events: Long,
      tvd_ppm: Long, top_term: String, top_dev_ppm: Long)
  /** public: the state encoder's generated code must construct them. */
  final case class DriftCounts(counts: Map[String, Long])
  final case class DriftWin(start: java.sql.Timestamp, end: java.sql.Timestamp)

  /** Continuous DISTRIBUTION-DRIFT monitoring — the streaming twin of
    * `TextAnalysis.corpusDrift`: per tumbling event-time window, the
    * total-variation distance between the window's categorical
    * distribution (of `termCol`) and a static `reference` distribution,
    * plus the argmax-deviation term — the alarm a pipeline raises when a
    * crawl/ingest snapshot stops looking like the corpus it feeds.
    *
    * Exact integer arithmetic (BigInt over counts — the per-window term
    * loop is vocabulary-sized, never row-sized, so it is not a hot
    * path): tvd_ppm = ⌊10^6·Σ_t|n_t·R − N·r_t| / (2·N·R)⌋ over the UNION
    * of window and reference terms, identical to the batch formula, so
    * the final update-mode row per window equals the batch answer under
    * ANY micro-batch slicing or (within-watermark) late-data order —
    * counts are distributive, and each update emits the window's
    * complete drift-so-far (n_events strictly grows per update, so
    * "latest row per window" is selectable with one max). State is one
    * vocabulary-sized count map per OPEN window, evicted by event-time
    * timeout two window-lengths past the window start once the watermark
    * passes — unbounded time costs bounded state. `watermark = None` is
    * the accumulate-forever variant (the [[userSessions]] trade): exact
    * under arbitrarily-late replay, state one map per DISTINCT window —
    * for bounded-history demos and equivalence testing, not for an
    * unbounded clock. */
  def streamingDrift(events: DataFrame, reference: Map[String, Long],
      termCol: String = "event_type", tsCol: String = "ts",
      windowMinutes: Int = 60,
      watermark: Option[String] = Some("10 minutes"))
      : Dataset[DriftRow] = {
    require(reference.nonEmpty && reference.values.forall(_ > 0),
      "reference distribution must be non-empty with positive counts")
    require(reference.keysIterator.forall(_ != null),
      "reference terms must be non-null")
    val spark = events.sparkSession
    import spark.implicits._
    val rtot = reference.values.sum
    val winMs = windowMinutes * 60000L
    // null terms are DROPPED, the same contract as the batch twin
    // (corpusDrift filters null slices): a null key would otherwise NPE
    // the sorted union below and crash the query
    val src = (watermark match {
      case Some(w) => events.withWatermark(tsCol, w)
      case None    => events
    }).filter(col(termCol).isNotNull)
    val timeoutConf = watermark match {
      case Some(_) => GroupStateTimeout.EventTimeTimeout()
      case None    => GroupStateTimeout.NoTimeout()
    }
    // the tumbling-window struct column CARRIES the watermark tag the
    // event-time timeout needs — projecting `.start` out of it would
    // strip that metadata and fail analysis, so the whole struct is the
    // grouping key
    src
      .select(
        window(col(tsCol), s"$windowMinutes minutes").as("w"),
        col(termCol).cast("string").as("term"))
      .as[(DriftWin, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[DriftCounts, DriftRow](
        OutputMode.Update(), timeoutConf) {
        (win: DriftWin, rows: Iterator[(DriftWin, String)],
            state: GroupState[DriftCounts]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val ws = win.start
            // the row loop is the ROW-SIZED path (millions per window)
            // — mutable accumulation, one immutable snapshot at the end;
            // per-row immutable Map.updated would allocate a HAMT copy
            // per event
            val acc = scala.collection.mutable.HashMap.empty[String, Long]
            state.getOption.foreach(_.counts.foreach { case (k, v) =>
              acc(k) = v
            })
            rows.foreach { case (_, t) =>
              acc(t) = acc.getOrElse(t, 0L) + 1L
            }
            val m = acc.toMap
            state.update(DriftCounts(m))
            if (watermark.isDefined)
              state.setTimeoutTimestamp(math.max(ws.getTime + 2 * winMs,
                state.getCurrentWatermarkMs() + 1))
            val n = m.valuesIterator.sum
            val bigN = BigInt(n)
            val bigR = BigInt(rtot)
            var sumAbs = BigInt(0)
            var topD = BigInt(-1)
            var topT: String = null
            (m.keySet ++ reference.keySet).toSeq.sorted.foreach { t =>
              val d = (BigInt(m.getOrElse(t, 0L)) * bigR -
                bigN * BigInt(reference.getOrElse(t, 0L))).abs
              sumAbs += d
              if (d > topD) { topD = d; topT = t } // sorted ASC: ties keep
                                                   // the smallest term
            }
            Iterator.single(DriftRow(ws, n,
              (sumAbs * 1000000 / (bigN * bigR * 2)).toLong, topT,
              (topD * 1000000 / (bigN * bigR)).toLong))
          }
      }
  }

  /** Stream-static incremental ingest dedup — the streaming twin of
    * `Curation.incrementalNew`: each micro-batch is anti-joined against a
    * STATIC corpus fingerprint set; rows whose fingerprint is already
    * known are dropped as they arrive.
    *
    * STATELESS by construction — no watermark, no state store: "seen" is
    * defined by the existing corpus, not within-stream history, so
    * nothing accumulates across batches (contrast
    * [[dedupedEvents]], which keys a state store by id). At scale the
    * static side broadcasts when small; when not, it shuffles per
    * micro-batch on the fingerprint — and the batch-side Bloom pre-filter
    * of `incrementalNew` composes in front of this join unchanged. */
  def streamStaticNew(stream: DataFrame, corpusFps: DataFrame,
      fpCol: String): DataFrame =
    stream.join(corpusFps.select(col(fpCol)).distinct(), Seq(fpCol), "left_anti")

  /** CONTINUOUS materialized aggregate: fold an append-only document
    * stream into the [[graft.ops.IncrementalAgg]] vocabulary store via
    * foreachBatch — each micro-batch appends its own (bucket, term,
    * count) partials under a `__batch=<id>` partition (a dynamic
    * partition overwrite, so foreachBatch's at-least-once replays are
    * IDEMPOTENT: a retried batch replaces its partitions, never
    * double-counts). The batch surface prices CHURN through digests;
    * this surface prices ARRIVAL — an append-only stream can never
    * dirty stored rows, so addition is the whole maintenance.
    * [[graft.ops.IncrementalAgg.vocabFromStore]] answers at any point.
    *
    * Read amplification is bounded AUTOMATICALLY: with `maxBatchParts`
    * > 0 (default 16), whenever the store exceeds that many batch
    * partitions the fold compacts them into the base partition inside
    * the same foreachBatch turn
    * ([[graft.ops.IncrementalAgg.maybeCompactVocabStore]] — one driver
    * directory listing per batch; the compaction holds the store lease,
    * and its replay watermark fences any batch it folds away). Set 0 to
    * manage [[graft.ops.IncrementalAgg.compactVocabStore]] manually.
    * Caller stops the query. */
  def maintainVocab(docs: DataFrame, stateDir: String, nBuckets: Int = 256,
      idCol: String = "doc_id", textCol: String = "text",
      maxBatchParts: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    maintained(docs, stateDir, maxBatchParts)(
      graft.ops.IncrementalAgg.vocabAppend(_, _, stateDir, idCol, textCol,
        nBuckets))(
      graft.ops.IncrementalAgg.maybeCompactVocabStore(_, stateDir,
        maxBatchParts))

  /** CONTINUOUS inverted-index maintenance: fold an APPEND-ONLY document
    * stream into an [[graft.ops.Indexing.searchIndexIncremental]]-servable
    * posting store via foreachBatch — each micro-batch appends its own
    * per-bucket (term, doc, tf) partials + doc-count sentinels under a
    * `__batch=<id>` partition (the [[graft.ops.IncrementalAgg.appendFold]]
    * discipline: dynamic-overwrite idempotent under replays, compaction
    * replay fence, single-writer lease, auto-compaction past
    * `maxBatchParts`). The search side is the SAME
    * `searchIndexIncremental` the churn-priced batch store serves — df
    * and the corpus size sum across batch partials, so retrieval at any
    * point equals a fresh index over everything that has arrived.
    *
    * Append-only contract: a document id arrives AT MOST ONCE across
    * the stream's lifetime (arrivals add postings; re-sending an id
    * would double its tf — that workload is the CHURN-priced
    * [[graft.ops.Indexing.indexIncremental]]'s). Use a dedicated
    * stateDir, never shared with a churn-priced state. */
  def maintainIndex(docs: DataFrame, stateDir: String, nBuckets: Int = 256,
      idCol: String = "doc_id", textCol: String = "text",
      maxBatchParts: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    maintained(docs, stateDir, maxBatchParts)(
      graft.ops.IncrementalAgg.appendFold(_, _, stateDir,
        graft.ops.Indexing.postingsPartial(idCol, textCol), idCol,
        nBuckets))(
      graft.ops.IncrementalAgg.maybeCompactAppendStore(_, stateDir,
        maxBatchParts, Seq("term", "__id"), "tf"))

  /** CONTINUOUS ANN-index maintenance: fold an APPEND-ONLY embedding
    * stream into a PQ code store — each micro-batch's vectors encode
    * against the FROZEN stored codebooks
    * ([[graft.ops.Similarity.pqBooksWrite]] on a bootstrap corpus
    * first) and their codes append under the
    * [[graft.ops.IncrementalAgg.appendFold]] discipline (idempotent
    * replays, compaction replay fence, lease, auto-compaction past
    * `maxBatchParts` — code compaction is an identity fold, one fact
    * row per (id, sub)). [[graft.ops.Similarity.pqSearchIncremental]]
    * answers at any point over everything that has arrived. Same
    * append-only contract as [[maintainIndex]]: an id arrives at most
    * once; churn belongs to [[graft.ops.Similarity.pqIndexIncremental]]. */
  def maintainPqIndex(vecs: DataFrame, stateDir: String, m: Int = 4,
      nBuckets: Int = 256, idCol: String = "vec_id",
      vecCol: String = "embedding", maxBatchParts: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    maintained(vecs, stateDir, maxBatchParts)(
      graft.ops.Similarity.pqAppend(_, _, stateDir, m, idCol, vecCol,
        nBuckets))(
      graft.ops.IncrementalAgg.maybeCompactAppendStore(_, stateDir,
        maxBatchParts, Seq(idCol, "sub"), "code"))

  /** CONTINUOUS near-dup SIGNATURE maintenance: fold an APPEND-ONLY
    * document stream into a [[graft.ops.Dedup.signaturesFromStore]]-
    * servable MinHash signature store — each micro-batch shingles and
    * signs its own documents and appends the (id, h, sigv) facts under
    * a `__batch=<id>` partition (the
    * [[graft.ops.IncrementalAgg.appendFold]] discipline: idempotent
    * replays, compaction replay fence, fence ownership, single-writer
    * lease, auto-compaction past `maxBatchParts` — signature compaction
    * is an identity fold, one fact row per (id, h)). The read side is
    * the SAME `signaturesFromStore` the churn-priced
    * [[graft.ops.Dedup.minhashIncremental]] store serves, so LSH
    * candidate generation / dedup at any point equals a fresh
    * [[graft.ops.Dedup.minhashSignatures]] pass over everything that
    * has arrived — while only ever paying the shingle cost of each
    * batch once, at arrival.
    *
    * Append-only contract: a document id arrives AT MOST ONCE across
    * the stream's lifetime (re-sending an id would stack a second
    * signature onto it); churn is the batch surface's workload. Use a
    * dedicated stateDir, never shared with a churn-priced state. */
  def maintainSignatures(docs: DataFrame, stateDir: String,
      nBuckets: Int = 256, idCol: String = "doc_id",
      textCol: String = "text", shingleLen: Int = 3, numHashes: Int = 64,
      maxBatchParts: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    maintained(docs, stateDir, maxBatchParts)(
      graft.ops.Dedup.minhashAppend(_, _, stateDir, idCol, textCol,
        shingleLen, numHashes, nBuckets))(
      graft.ops.IncrementalAgg.maybeCompactAppendStore(_, stateDir,
        maxBatchParts, Seq("id", "h"), "sigv"))

  /** CONTINUOUS first-occurrence ingest dedup with a PERSISTENT seen
    * set: filter an arriving stream to the first occurrence of each
    * `fpCol` fingerprint across the stream's ENTIRE history and
    * materialize the survivors as a parquet store — the deduped corpus
    * itself ([[graft.ops.Curation.seenRows]] serves it at any point,
    * mid-stream included). Unlike [[dedupedEvents]], whose seen set
    * lives in the streaming state store (checkpoint-lifetime, readable
    * by nothing else), this survives checkpoint resets loudly (fence
    * ownership), restarts cheaply (the store IS the state), and prices
    * each batch by the store partitions its fingerprints hash into —
    * the [[graft.ops.Curation.seenAppend]] contract (idempotent
    * replays, replay fence, lease, auto-compaction past
    * `maxBatchParts`). Within-batch ties keep the min-`orderCol` row. */
  def maintainSeen(rows: DataFrame, stateDir: String, fpCol: String,
      orderCol: String, nBuckets: Int = 256, maxBatchParts: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    maintained(rows, stateDir, maxBatchParts)(
      graft.ops.Curation.seenAppend(_, _, stateDir, fpCol, orderCol,
        nBuckets))(
      graft.ops.Curation.maybeCompactSeenStore(_, stateDir, maxBatchParts))

  /** CONTINUOUS LOADER FEED: cut fixed-length training sequences from an
    * APPEND-ONLY document stream as it arrives — each micro-batch
    * byte-BPE encodes its documents (with the boundary special — the
    * sequences contract), hash-shards them, and appends the complete
    * `seqLen`-token rows to the [[graft.ops.SequenceFeed]] store, the
    * incomplete per-shard tails carrying to the next batch. At any
    * point [[graft.ops.SequenceFeed.sequencesFromStore]] serves exactly
    * what a single [[graft.ops.Chunking.fixedSequences]] cut over
    * everything arrived (in arrival order) would emit — training can
    * consume the feed while ingestion runs.
    *
    * Disciplines: single-writer lease, in-sequence batch ids (a GAP
    * throws — the cut is order-dependent), idempotent replays from
    * retained carries, fence ownership (a reset checkpoint over a kept
    * feed throws; a feed cannot be rebased — start a fresh stateDir).
    * Same append-only contract as the other maintainers: an id arrives
    * at most once. */
  def maintainSequences(docs: DataFrame, stateDir: String,
      merges: Seq[(String, String)], seqLen: Int, nShards: Int = 8,
      idCol: String = "doc_id", textCol: String = "text",
      specials: Seq[String] = Seq("<|endoftext|>"),
      boundary: Option[String] = Some("<|endoftext|>"),
      maxBatchParts: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    maintained(docs, stateDir, maxBatchParts) { (batch, batchId) =>
      val enc = graft.ops.Tokenize.bpeEncodeIds(batch, idCol, textCol,
          merges, specials = specials, boundary = boundary)
        .select(col("id"), col("token_ids"))
        .withColumn("h", xxhash64(col("id")))
        .withColumn("shard", pmod(col("h"), lit(nShards.toLong)))
      graft.ops.SequenceFeed.sequencesAppend(enc, batchId, stateDir,
        "shard", "h", "id", "token_ids", seqLen)
    }(graft.ops.SequenceFeed.maybeCompactFeedStore(_, stateDir,
      maxBatchParts))

  /** CONTINUOUS CURATED LOADER FEED: the full curation chain — quality
    * filter → PII redaction → persistent first-occurrence dedup →
    * boundary-tokened byte-BPE encode → incremental fixed-length
    * sequence cut — over an arriving raw-document stream, one
    * [[graft.ops.CuratedFeed.curatedAppend]] per micro-batch. The
    * streaming twin of the whole declarative pipeline
    * ([[graft.core.PipelineJob]]): at any point
    * [[graft.ops.CuratedFeed.sequences]] serves training-ready samples
    * of exactly the curated, deduplicated corpus that has arrived, and
    * [[graft.ops.CuratedFeed.corpus]] the deduped documents themselves.
    * Disciplines are the composed operator's: single-writer lease,
    * in-sequence batch ids, idempotent replays across every
    * crash-between-appends interleaving, composed fence ownership (a
    * reset checkpoint over kept state throws — sample identity is
    * arrival order, so curated state cannot be rebased; start a fresh
    * stateDir). Append-only contract: an id arrives at most once. */
  def maintainCuratedFeed(docs: DataFrame, stateDir: String,
      merges: Seq[(String, String)], seqLen: Int, nShards: Int = 8,
      idCol: String = "doc_id", textCol: String = "text",
      minWords: Int = 1, maxWords: Int = Int.MaxValue,
      specials: Seq[String] = Seq("<|endoftext|>"),
      boundary: Option[String] = Some("<|endoftext|>"),
      nBuckets: Int = 256, maxBatchParts: Int = 16,
      benchmark: Option[DataFrame] = None, decontaminateNgram: Int = 8,
      writeLedger: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery =
    // curatedAppend runs both stores' compaction policy itself, in the
    // order its crash discipline needs
    maintained(docs, stateDir, maxBatchParts = 0)(
      graft.ops.CuratedFeed.curatedAppend(_, _, stateDir, merges, seqLen,
        nShards, idCol, textCol, minWords, maxWords, specials, boundary,
        nBuckets, maxBatchParts, benchmark, decontaminateNgram,
        writeLedger))(_ => ())

  /** Drive `rows` into the store at `stateDir` one micro-batch at a
    * time (foreachBatch, with the checkpoint at `{stateDir}/checkpoint`,
    * where the stores read the stream's identity): `append` each batch,
    * then run the store's `maybeCompact` policy unless `maxBatchParts`
    * is 0. Caller stops the query. */
  private def maintained(rows: DataFrame, stateDir: String,
      maxBatchParts: Int)(append: (DataFrame, Long) => Unit)(
      maybeCompact: SparkSession => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$stateDir/checkpoint")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        append(batch, batchId)
        if (maxBatchParts > 0) maybeCompact(batch.sparkSession)
      }
      .start()

  /** Run a streaming frame to completion against currently-available data
    * (test/driver harness: memory sink, processAllAvailable). */
  def runToMemory(df: DataFrame, name: String, outputMode: OutputMode = OutputMode.Append()): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode).start()
    try q.processAllAvailable()
    finally q.stop() // never leave a zombie stream holding state
    df.sparkSession.table(name)
  }

  /** Stateful streaming cost scales with the number of state-store
    * partitions, fixed from `spark.sql.shuffle.partitions` at query start.
    * Scope a small-stream query to fewer partitions without disturbing the
    * session (restored afterwards). */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }
}
