package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.state.StateStore

/** Small-file compaction — the file-size governance a 100 TB table needs.
  *
  * Streaming micro-batches, over-parallel writers and incremental loads
  * leave tables as millions of KB-sized files; at scale the SCAN cost of
  * such a table is dominated by per-file open/footer overhead and the
  * driver's listing, not by bytes (the classic lakehouse "small files
  * problem" that Delta/Iceberg `OPTIMIZE` exists to fix). Compaction
  * rewrites the data as ~`targetBytes` files.
  *
  * Two surfaces:
  *
  *  - [[compactionPlan]] — the INSPECTION surface: list the directory
  *    (driver-side METADATA, file-count-sized — the same listing Spark's
  *    own `InMemoryFileIndex` does) and bin-pack sizes best-fit-decreasing
  *    into `targetBytes` bins. Returns one row per file with its assigned
  *    bin, so an operator can see what a rewrite would do before paying
  *    for it. The packer itself ([[packBins]]) is a pure function,
  *    O(n log n) via a capacity-keyed tree — fine at 10^7 files.
  *
  *  - [[compact]] — the EXECUTION surface, and deliberately NOT
  *    `repartition(n)`: a repartition is a full shuffle of every byte
  *    (write amplification ×2 across the cluster). Instead the rewrite
  *    rides Spark's own scan packing — `spark.sql.files.maxPartitionBytes`
  *    / `openCostInBytes` make the parquet scan itself coalesce many
  *    small files into ~targetBytes `FilePartition`s (size-desc first-fit,
  *    the same shape as [[packBins]]) — and the write emits one file per
  *    scan partition. One narrow, shuffle-free, whole-stage-codegen pass:
  *    read bytes once, write bytes once, nothing crosses the network on
  *    a co-located cluster. Column pruning/pushdown don't apply (every
  *    column survives a rewrite by definition).
  *
  * Limits (documented, standard for OPTIMIZE-style tools): output sizes
  * track INPUT bytes per bin, so recompression differences show up in
  * the output sizes, not the binning. Hive-partitioned layouts go
  * through [[compactPartitioned]], which governs each leaf partition
  * independently (the flat packer would happily mix partitions, which
  * `partitionBy` on rewrite would then re-split). */
object Compaction {

  /** Best-fit-decreasing bin packing of (name, bytes) into bins of
    * `targetBytes`: files in size-DESC order (name-ASC ties — fully
    * deterministic) each land in the fullest bin that still fits them,
    * else open a new bin. Oversized files get a bin of their own —
    * already the right rewrite unit, and the same choice the
    * scan-packing execution makes. Returns (name, bytes, bin) with bins
    * numbered by opening order.
    *
    * O(n log n): the open bins live in a TreeMap keyed by remaining
    * capacity, so best-fit is one `ceilingEntry` probe. */
  def packBins(files: Seq[(String, Long)], targetBytes: Long)
      : Seq[(String, Long, Int)] = {
    require(targetBytes > 0, "targetBytes must be positive")
    // best-fit = the bin with the SMALLEST remaining capacity that still
    // fits: TreeMap[remaining -> bin ids at that remaining]
    val byRemaining = new java.util.TreeMap[Long, List[Int]]()
    val remaining = scala.collection.mutable.ArrayBuffer.empty[Long]
    def open(): Int = { remaining += targetBytes; remaining.length - 1 }
    def take(rem: Long): Int = {
      val ids = byRemaining.get(rem)
      ids match {
        case id :: rest =>
          if (rest.isEmpty) byRemaining.remove(rem)
          else byRemaining.put(rem, rest)
          id
        case Nil =>
          // unreachable (put never stores empty lists and keys come from
          // ceilingKey) — fail at the violation site rather than letting
          // a sentinel index corrupt `remaining` and the output rows
          sys.error(s"packBins invariant broken: empty bin list at remaining=$rem")
      }
    }
    def put(id: Int): Unit = {
      val rem = remaining(id)
      if (rem > 0)
        byRemaining.put(rem, id :: Option(byRemaining.get(rem)).getOrElse(Nil))
    }
    files.sortBy { case (name, bytes) => (-bytes, name) }.map {
      case (name, bytes) =>
        val fitKey = Option(byRemaining.ceilingKey(bytes))
        val id = fitKey match {
          case Some(rem) => take(rem)
          case None => open()
        }
        remaining(id) = math.max(0L, remaining(id) - bytes)
        put(id)
        (name, bytes, id)
    }
  }

  /** Recursive data-file listing with Spark's own visibility rule: a
    * file is data only if NO path segment below `dir` starts with `_` or
    * `.` — `fs.listFiles(recursive)` descends into `_temporary`/hidden
    * directories (a killed write's leftovers), and filtering just the
    * leaf name would count those phantom files while the scan ignores
    * them. One lister shared by [[compactionPlan]] and [[compact]]'s
    * stats so the two surfaces can never disagree on what counts. */
  private def listDataFiles(spark: SparkSession, dir: String)
      : Seq[(String, Long)] = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val baseUri = fs.makeQualified(base).toUri
    val it = fs.listFiles(base, true)
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      val rel = baseUri.relativize(f.getPath.toUri).getPath
      val visible = rel.split('/').forall(seg =>
        !seg.startsWith("_") && !seg.startsWith("."))
      if (f.isFile && visible) files += ((f.getPath.toString, f.getLen))
    }
    files.toSeq
  }

  /** One row per data file under `dir` with its best-fit-decreasing
    * compaction bin: (file, bytes, bin). Driver-side listing only —
    * metadata-sized, no data read. Hidden/committer entries (`_`- and
    * `.`-prefixed path segments) are skipped, as Spark's own file index
    * does. */
  def compactionPlan(spark: SparkSession, dir: String, targetBytes: Long)
      : DataFrame = {
    import spark.implicits._
    packBins(listDataFiles(spark, dir), targetBytes)
      .toDF("file", "bytes", "bin")
  }

  /** Rewrite the parquet table at `srcDir` into `dstDir` as ~`targetBytes`
    * files with ZERO shuffle: the scan's FilePartition packing is the bin
    * assignment (maxPartitionBytes = targetBytes, openCostInBytes scaled
    * to 1/256 of it so padding never dominates real bytes), and each scan
    * partition writes exactly one output file. Runs eagerly on an
    * ISOLATED child session carrying the packing confs — the caller's
    * session is never mutated.
    *
    * Contract: `dstDir` is ALWAYS a complete copy of the table on
    * return. When `srcDir` already has the shape this rewrite emits (see
    * [[alreadyCompact]]) the files are COPIED byte-for-byte instead of
    * decoded and re-encoded (`rewritten = false` — no parquet decode, no
    * recompression, no job), so callers that read `dstDir` afterwards
    * always find the data. When the cheaper "do nothing at all on an
    * already-governed table" is wanted, that is [[compactInPlace]] —
    * there the no-op costs ONE listing and touches no file.
    *
    * Returns a 1-row frame (files_in, bytes_in, files_out, bytes_out,
    * files_planned, rewritten); `files_planned` is [[compactionPlan]]'s
    * best-fit bin count for the same listing, so plan-vs-actual
    * (best-fit vs the scan's first-fit) divergence is visible per run. */
  def compact(spark: SparkSession, srcDir: String, dstDir: String,
      targetBytes: Long): DataFrame = {
    import spark.implicits._
    require(targetBytes > 0, "targetBytes must be positive")
    val in = listDataFiles(spark, srcDir)
    val (fi, bi) = (in.size.toLong, in.map(_._2).sum)
    // files_planned: what the best-fit-decreasing PLAN would produce for
    // the same listing, so [[compactionPlan]]-vs-actual (best-fit vs the
    // scan's size-desc first-fit) divergence is visible per run
    val planned =
      if (in.isEmpty) 0L
      else packBins(in, targetBytes).map(_._3).distinct.size.toLong
    if (alreadyCompact(in, targetBytes)) {
      // already governed: materialize dstDir by BYTE COPY (the contract
      // is "dst holds the table", and a raw stream copy skips the decode/
      // recompress/codegen cost of a parquet rewrite)
      copyInto(spark, srcDir, dstDir, in)
      return Seq((fi, bi, fi, bi, planned, false))
        .toDF("files_in", "bytes_in", "files_out", "bytes_out",
          "files_planned", "rewritten")
    }
    rewriteInto(rewriteSession(spark, targetBytes), srcDir, dstDir)
    val out = listDataFiles(spark, dstDir)
    Seq((fi, bi, out.size.toLong, out.map(_._2).sum, planned, true))
      .toDF("files_in", "bytes_in", "files_out", "bytes_out",
        "files_planned", "rewritten")
  }

  /** In-place governance — the surface a RE-RUN wants: govern the table
    * at `dir` where it stands. When the directory is already compact the
    * call returns after ONE listing and touches no file (re-running
    * governance over a governed 100 TB table costs metadata, not bytes).
    * Otherwise the data is rewritten through the same zero-shuffle path
    * into a sibling staging directory (`<dir>__graft_compact_tmp`) and
    * swapped in (delete + rename — same-filesystem metadata operations).
    *
    * The swap is NOT atomic (the window between delete and rename is the
    * standard exposure of every rename-based OPTIMIZE outside a
    * transactional table format), but it IS self-healing: a crash inside
    * that window strands the only copy in the staging sibling, and the
    * next call detects (base missing, staging present) and renames the
    * staging copy back into place before proceeding. Callers needing
    * true atomicity compact into a fresh directory via [[compact]] and
    * flip their own pointer. Same stats frame as [[compact]]. */
  def compactInPlace(spark: SparkSession, dir: String,
      targetBytes: Long): DataFrame = {
    import spark.implicits._
    require(targetBytes > 0, "targetBytes must be positive")
    val base0 = new org.apache.hadoop.fs.Path(dir)
    val fs0 = base0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp0 = new org.apache.hadoop.fs.Path(
      base0.getParent, base0.getName + "__graft_compact_tmp")
    // crash recovery: a prior run that died between its delete(base) and
    // rename(tmp, base) left the ONLY copy stranded in the staging
    // sibling — rename it back into place before anything else, so a
    // re-run heals instead of throwing FileNotFound at the listing
    if (!fs0.exists(base0) && fs0.exists(tmp0))
      StateStore.mustRename(fs0, tmp0, base0)
    val in = listDataFiles(spark, dir)
    val (fi, bi) = (in.size.toLong, in.map(_._2).sum)
    val planned =
      if (in.isEmpty) 0L
      else packBins(in, targetBytes).map(_._3).distinct.size.toLong
    if (alreadyCompact(in, targetBytes))
      return Seq((fi, bi, fi, bi, planned, false))
        .toDF("files_in", "bytes_in", "files_out", "bytes_out",
          "files_planned", "rewritten")
    val base = base0; val fs = fs0; val tmp = tmp0
    // a prior crash's PARTIAL staging leftovers — only safe to discard
    // because the base dir exists (verified by the listing above); when
    // base is missing the staging copy is the data and was renamed back
    if (fs.exists(tmp)) fs.delete(tmp, true)
    rewriteInto(rewriteSession(spark, targetBytes), dir, tmp.toString)
    val out = listDataFiles(spark, tmp.toString)
    fs.delete(base, true)
    StateStore.mustRename(fs, tmp, base)
    Seq((fi, bi, out.size.toLong, out.map(_._2).sum, planned, true))
      .toDF("files_in", "bytes_in", "files_out", "bytes_out",
        "files_planned", "rewritten")
  }

  /** Raw byte-stream copy of `files` (absolute paths under `srcDir`)
    * into `dstDir`, preserving names and relative layout — the no-op
    * materialization path: no parquet decode, no recompression, no Spark
    * job. Driver-side loop; it only runs over directories that are
    * already compact (bounded file count by construction), and the
    * listing-only alternative for a pure re-run is [[compactInPlace]]. */
  private def copyInto(spark: SparkSession, srcDir: String, dstDir: String,
      files: Seq[(String, Long)]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(srcDir)
    val fs = src.getFileSystem(conf)
    val srcUri = fs.makeQualified(src).toUri
    val dst = new org.apache.hadoop.fs.Path(dstDir)
    val dfs = dst.getFileSystem(conf)
    dfs.mkdirs(dst)
    for ((path, _) <- files) {
      val p = new org.apache.hadoop.fs.Path(path)
      val rel = srcUri.relativize(fs.makeQualified(p).toUri).getPath
      val target = new org.apache.hadoop.fs.Path(dst, rel)
      dfs.mkdirs(target.getParent)
      org.apache.hadoop.fs.FileUtil.copy(fs, p, dfs, target,
        false /* keep source */, true /* overwrite dst */, conf)
    }
  }

  /** The no-op criterion: nothing over 2x target (the rewrite's own
    * upper bound) and at most ONE file under half target — every finite
    * table has a remainder tail, and merging a lone tail into an
    * already-full neighbor costs a full rewrite of both for a file-count
    * gain of one. Matches the shape [[compact]] itself emits, so
    * compact's output always re-runs as a no-op. */
  private def alreadyCompact(files: Seq[(String, Long)],
      targetBytes: Long): Boolean =
    files.nonEmpty &&
      files.forall(_._2 <= 2L * targetBytes) &&
      files.count(_._2 < targetBytes / 2) <= 1

  /** An ISOLATED session (shared context and catalog, own SQLConf)
    * carrying the three scan-packing settings: mutating the caller's
    * session conf for the duration of the rewrite would silently
    * re-shape every concurrently planned scan on that session. */
  private def rewriteSession(spark: SparkSession, targetBytes: Long)
      : SparkSession = {
    val rw = spark.newSession()
    rw.conf.set("spark.sql.files.maxPartitionBytes", targetBytes.toString)
    rw.conf.set("spark.sql.files.openCostInBytes",
      math.max(targetBytes / 256, 1L).toString)
    // without this Spark SHRINKS partitions below maxPartitionBytes to
    // fill every core (bytesPerCore in FilePartition.maxSplitBytes) —
    // right for a query, wrong for a rewrite whose whole point is the
    // output file size
    rw.conf.set("spark.sql.files.minPartitionNum", "1")
    rw
  }

  private def rewriteInto(rw: SparkSession, srcDir: String,
      dstDir: String): Unit =
    rw.read.parquet(srcDir).write.mode(SaveMode.Overwrite).parquet(dstDir)

  /** Hive-partition-aware [[compact]]: detect `key=value` partition
    * directories under `srcDir` and compact each LEAF partition with the
    * same zero-shuffle rewrite, preserving the partition layout at
    * `dstDir` (the flat packer would happily mix partitions, which a
    * `partitionBy` re-write would then re-split and shuffle). Leaves are
    * compacted independently — exactly the unit a partitioned table
    * wants governed — and an already-compact leaf is BYTE-COPIED instead
    * of re-encoded (`rewritten = false`), so under the default
    * (all-leaves) filter `dstDir` is always a COMPLETE partition tree.
    * With a narrowing `partitionFilter` only the selected leaves are
    * materialized (the OPTIMIZE WHERE contract — the caller is swapping
    * per-partition, keyed by the `partition` column). For the
    * touch-nothing re-run, [[compactInPlace]] on a leaf (or the whole
    * table when unpartitioned) is the one-listing path. Returns one row
    * per selected leaf plus the `rewritten` flag; non-partitioned
    * directories (no `key=value` segment) fall back to a single
    * [[compact]]-shaped pass labeled `/`.
    *
    * Driver-side loop, one narrow job per rewritten leaf — at 10^4+
    * partitions prefer governing recent partitions only (the usual
    * OPTIMIZE WHERE predicate): pass `partitionFilter` to select leaves
    * by their relative path. */
  def compactPartitioned(spark: SparkSession, srcDir: String,
      dstDir: String, targetBytes: Long,
      partitionFilter: String => Boolean = _ => true): DataFrame = {
    import spark.implicits._
    require(targetBytes > 0, "targetBytes must be positive")
    val base = new org.apache.hadoop.fs.Path(srcDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val baseUri = fs.makeQualified(base).toUri
    val hivePart = "[^/=]+=[^/=]*".r
    val leaves = listDataFiles(spark, srcDir)
      .map { case (path, bytes) =>
        val rel = baseUri.relativize(new org.apache.hadoop.fs.Path(path).toUri)
          .getPath
        val segs = rel.split('/').dropRight(1)
        val partSegs = segs.takeWhile(sg => hivePart.pattern.matcher(sg).matches)
        (if (partSegs.isEmpty) "/" else partSegs.mkString("/"), (path, bytes))
      }
      .groupBy(_._1).toSeq.sortBy(_._1)
    val rw = rewriteSession(spark, targetBytes)
    val rows = for ((part, members) <- leaves if partitionFilter(part)) yield {
      val files = members.map(_._2)
      val (fi, bi) = (files.size.toLong, files.map(_._2).sum)
      val (src, dst) =
        if (part == "/") (srcDir, dstDir)
        else (s"$srcDir/$part", s"$dstDir/$part")
      if (alreadyCompact(files, targetBytes)) {
        // complete-tree contract: materialize the governed leaf by byte
        // copy (see [[compact]]'s no-op path)
        copyInto(spark, src, dst, files)
        (part, fi, bi, fi, bi, false)
      } else {
        rewriteInto(rw, src, dst)
        val out = listDataFiles(spark, dst)
        (part, fi, bi, out.size.toLong, out.map(_._2).sum, true)
      }
    }
    rows.toDF("partition", "files_in", "bytes_in", "files_out",
      "bytes_out", "rewritten")
  }

  /** CLUSTERED compaction — the `OPTIMIZE ... ORDER BY` shape: rewrite
    * into ~targetBytes files that are additionally RANGE-CLUSTERED on
    * `clusterCol`, so every output file covers a narrow, pairwise-
    * disjoint slice of the cluster key's domain and min/max file stats
    * (parquet footers / lakehouse zone maps) prune scans on that key.
    * This variant deliberately PAYS one range-partitioned shuffle — the
    * price of clustering; [[compact]] is the shuffle-free rewrite when
    * only file sizes need fixing, and `Layout.zBucket` the
    * multi-dimensional layout when two keys must both prune.
    *
    * Bin count = ceil(input bytes / targetBytes) (output sizes track
    * input bytes per range; compression differences show up in sizes,
    * not the clustering). Range boundaries come from Spark's reservoir
    * sampling — skewed keys get proportionally more files, which is the
    * behavior a clustered rewrite wants. Same stats frame as [[compact]]
    * plus `n_bins`. */
  def compactClustered(spark: SparkSession, srcDir: String, dstDir: String,
      targetBytes: Long, clusterCol: String): DataFrame = {
    import spark.implicits._
    require(targetBytes > 0, "targetBytes must be positive")
    val in = listDataFiles(spark, srcDir)
    val bytesIn = in.map(_._2).sum
    val nBins = math.max(1, math.ceil(bytesIn.toDouble / targetBytes).toInt)
    spark.read.parquet(srcDir)
      .repartitionByRange(nBins, col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode(SaveMode.Overwrite).parquet(dstDir)
    val out = listDataFiles(spark, dstDir)
    Seq((in.size.toLong, bytesIn, out.size.toLong, out.map(_._2).sum,
        nBins.toLong))
      .toDF("files_in", "bytes_in", "files_out", "bytes_out", "n_bins")
  }
}
