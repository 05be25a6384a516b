package graft.ops

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-session persistence plumbing shared by the stored-index
  * builders ([[Similarity.pqIndexWrite]], [[Indexing.indexWrite]],
  * [[Curation.writeFingerprintIndex]]), whose one cycle is [[fitOnce]].
  *
  * The fit-once/search-many contract only pays off if "once" survives
  * process boundaries: each builder stamps its input + parameters into a
  * `{name}_meta` table, and a later invocation that computes the SAME
  * stamp reuses the stored artifact instead of rebuilding — including
  * from a fresh session whose in-memory catalog has forgotten the
  * tables (the warehouse directories survive; the catalog is re-pointed
  * at them by DDL, restoring the bucket spec, which lives in catalog
  * metadata rather than in the files). A stamp mismatch — changed rows,
  * changed ids, or changed build parameters — rebuilds from scratch, so
  * a stale index can never silently answer for new data.
  *
  * At 100 TB the stamp is one column-pruned scan of the id column (no
  * shuffle — `count` + a wrap-around `sum` of per-row hashes are both
  * map-side combinable): the difference between re-fitting a PQ
  * codebook over the corpus every run and PROVING the stored code table
  * is current for the price of one id-column pass.
  */
private[ops] object StoredArtifacts {

  /** Deterministic content stamp of the index input: (row count, exact
    * DECIMAL(38,0) sum of xxhash64(id), as a string). Sum, not a fold:
    * associative and order-independent, so partitioning can never
    * perturb it; xxhash64 is Spark's stable seed-42 hash, identical
    * across sessions. The sum accumulates in DECIMAL(38,0) — |hash| <
    * 2^63 times any corpus under ~10^18 rows stays inside 38 digits —
    * because a BIGINT sum of uniform hashes overflows almost surely,
    * which is silent wrap-around in legacy mode but an
    * ARITHMETIC_OVERFLOW crash under ANSI mode (Spark 4's default);
    * the op library must stamp identically in either mode.
    *
    * Contract: the stamp detects membership changes (rows added/removed,
    * ids changed), parameter changes, and — via the file witness below —
    * any regeneration of a file-backed input by a Spark-style writer
    * (fresh part-file names). It does NOT detect a byte-in-place edit of
    * an existing file under unchanged names, nor a payload mutation of a
    * non-file input under unchanged ids. That residue is deliberate:
    * hashing payloads would scan the text/embedding column (at 100 TB,
    * the corpus) on every call, defeating the skip. A caller in that
    * corner passes `force = true` or drops `{name}_meta`.
    *
    * The file witness is a 64-bit MD5 prefix over the SORTED
    * `df.inputFiles` list — pure driver-side plan metadata, zero data
    * scan. Any overwrite by Spark/Hadoop writers produces fresh UUID
    * part-file names, so "same ids, regenerated payloads" (the
    * ADVICE-flagged stale-reuse case) now misses the stamp and
    * rebuilds. Non-file inputs (views, in-memory frames) have an empty
    * list — a stable witness, falling back to the membership-only
    * contract. */
  def stamp(df: DataFrame, idCol: String): (Long, String) = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val r = df.agg(count(lit(1)).as("n"),
      sum(xxhash64(col(idCol)).cast(dec)).cast("string").as("h")).head()
    val files = try df.inputFiles.sorted.mkString("\n")
      catch { case _: Exception => "" }
    // 64-bit, stable across JVMs: a 32-bit hash would put single-witness
    // collisions (stale reuse after an in-place regeneration) at ~2^-32,
    // too likely for the failure mode the witness exists to close
    val witness = java.security.MessageDigest.getInstance("MD5")
      .digest(files.getBytes("UTF-8")).take(8)
      .map(b => f"${b & 0xff}%02x").mkString
    val h = if (r.isNullAt(1)) "0" else r.getString(1)
    (r.getLong(0), s"$h|f$witness")
  }

  /** `saveAsTable` lowercases identifiers, so the warehouse directory is
    * the LOWERCASED table name — checking the verbatim name would miss
    * orphans for mixed-case callers on a case-sensitive filesystem. */
  def warehousePath(spark: SparkSession, table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      table.toLowerCase(java.util.Locale.ROOT))

  /** Drop `table` from the catalog AND delete its warehouse directory —
    * the orphan-location discipline: a fresh in-memory catalog does not
    * know a previous session's tables, but their directories persist
    * and make saveAsTable refuse with LOCATION_ALREADY_EXISTS. */
  def dropAndClean(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val p = warehousePath(spark, table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Re-point the catalog at an existing warehouse directory for
    * `table`, restoring the bucket spec by DDL — bucket metadata lives
    * in the catalog, not the data files, so without this a reused index
    * would silently lose bucket pruning (the property the stored layout
    * exists for). No-op when the catalog already knows the table.
    * Throws if the directory is missing/unreadable — callers treat that
    * as a damaged artifact and rebuild. */
  def register(spark: SparkSession, table: String,
      buckets: Option[(Seq[String], Seq[String], Int)] = None): Unit = {
    if (spark.catalog.tableExists(table)) return
    val p = warehousePath(spark, table)
    val schema = spark.read.parquet(p.toString).schema.toDDL
    val bucketClause = buckets.map { case (by, sort, n) =>
      s" CLUSTERED BY (${by.mkString(", ")})" +
        (if (sort.nonEmpty) s" SORTED BY (${sort.mkString(", ")})" else "") +
        s" INTO $n BUCKETS"
    }.getOrElse("")
    spark.sql(s"CREATE TABLE $table ($schema) USING parquet$bucketClause " +
      s"LOCATION '${p.toString}'")
  }

  /** True iff a stored `metaTable` exists — in the catalog or as a
    * surviving warehouse directory — whose (stamp_rows, stamp_hash,
    * params) row matches: the stored artifact was built from EXACTLY
    * this input and configuration. Any read failure reads as "no
    * match" (rebuild), never as reuse. */
  def metaMatches(spark: SparkSession, metaTable: String,
      rows: Long, hash: String, params: String): Boolean = {
    val df =
      if (spark.catalog.tableExists(metaTable)) Some(spark.table(metaTable))
      else {
        val p = warehousePath(spark, metaTable)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p))
          try Some(spark.read.parquet(p.toString))
          catch { case _: Exception => None }
        else None
      }
    df.exists { d =>
      try {
        Set("stamp_rows", "stamp_hash", "params").subsetOf(d.columns.toSet) && {
          val r = d.select("stamp_rows", "stamp_hash", "params").head()
          r.getLong(0) == rows && r.getString(1) == hash && r.getString(2) == params
        }
      } catch { case _: Exception => false }
    }
  }

  /** The fit-once cycle every stored-index builder runs: stamp `input`
    * by `idCol`; unless `force`, when the stored `meta` table matches
    * the stamp and `params`, re-register `meta` and then `tables` (name
    * and bucket spec) and answer `reuse`. Otherwise — or when the
    * re-register or `reuse` fails on a damaged artifact, which is
    * logged — drop `tables` and `meta`, `build` the tables from the
    * stamp's row count, and write `meta` LAST from `metaRow(rows,
    * hash)`: a crashed build can leave partial tables but never a
    * matching stamp, so the next run always rebuilds. NonFatal only:
    * an interrupt or OOM propagates instead of turning into a rebuild. */
  def fitOnce[A](input: DataFrame, idCol: String, params: String,
      force: Boolean, meta: String,
      tables: Seq[(String, Option[(Seq[String], Seq[String], Int)])])(
      metaRow: (Long, String) => DataFrame)(reuse: => A)(
      build: Long => A): A = {
    val spark = input.sparkSession
    val (rows, hash) = stamp(input, idCol)
    val reused =
      if (force || !metaMatches(spark, meta, rows, hash, params)) None
      else try {
        register(spark, meta)
        for ((t, buckets) <- tables) register(spark, t, buckets)
        Some(reuse)
      } catch {
        case NonFatal(e) =>
          log.warn(s"stored artifact '$meta' stamp hit but re-register " +
            s"failed (${e.getClass.getSimpleName}: ${e.getMessage}); " +
            "rebuilding")
          None
      }
    reused.getOrElse {
      for (t <- tables.map(_._1) :+ meta) dropAndClean(spark, t)
      val out = build(rows)
      metaRow(rows, hash).coalesce(1).write.mode("overwrite")
        .saveAsTable(meta)
      out
    }
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)
}
