package graft

import org.apache.spark.sql.{Row, SparkSession}

import graft.config.ConfigLoader
import graft.core.ValidationJob

/** One-command CLI — the engine's equivalent of the reference's canonical
  * lifecycle `python config.py config.yaml` (`config.py:57-71`): load the
  * YAML config, read both sources, validate, write the tidy + compat
  * reports under `output_directory`, and print the one-row summary.
  *
  * Usage: `sbt "runMain graft.Main config.yaml"` (or `spark-submit --class
  * graft.Main` on a cluster — the session builder only sets master/confs
  * when nothing is set, so cluster submission wins).
  */
object Main {

  /** JSON string literal with `\`, `"` and the C0 control range escaped —
    * a column NAME is user data too (a `"` in one would otherwise emit
    * invalid JSON lines). */
  private def jstr(v: String): String =
    "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1F]", " ") + "\""

  /** Run the config-driven lifecycle on an existing session; returns the
    * summary row (also printed). Factored out of [[main]] so tests and
    * embedding callers reuse their session. */
  def run(spark: SparkSession, configPath: String): Row = {
    // a `feed:` root key dispatches to the continuous curated loader
    // feed (FeedJob — one catch-up pass per invocation); `epoch:` to
    // the snapshot epoch export (EpochJob); `pipeline:` to the batch
    // curation/tokenize/export lifecycle (PipelineJob); everything else
    // is the classic validation surface
    if (ConfigLoader.isFeed(configPath)) {
      val fcfg = ConfigLoader.feedFromYamlFile(configPath)
      val summary = graft.core.FeedJob.run(spark, fcfg)
      val row = summary.collect().head
      println(s"""{"batches_total":${row.getLong(0)},"corpus_docs":${row.getLong(1)},"sequences":${row.getLong(2)}}""")
      println(s"curated feed state at ${fcfg.stateDirectory} " +
        "(seen/ = deduped corpus, feed/ = training sequences)")
      return row
    }
    // an `epoch:` root key exports one training epoch from a published
    // feed snapshot (EpochJob)
    if (ConfigLoader.isEpoch(configPath)) {
      val ecfg = ConfigLoader.epochFromYamlFile(configPath)
      val summary = graft.core.EpochJob.run(spark, ecfg)
      val row = summary.collect().head
      println(s"""{"snapshot":${row.getLong(0)},"seed":${row.getLong(1)},"sequences":${row.getLong(2)},"n_out":${row.getInt(3)}}""")
      println(s"epoch ${ecfg.seed} written to " +
        s"${ecfg.output}/epoch=${ecfg.seed} (partitioned by out_shard, " +
        "pos order within each shard)")
      return row
    }
    if (ConfigLoader.isPipeline(configPath)) {
      val pcfg = ConfigLoader.pipelineFromYamlFile(configPath)
      val (summary, _) = graft.core.PipelineJob.run(spark, pcfg)
      val rows = summary.collect()
      rows.foreach { r =>
        println(s"""{"stage":${jstr(r.getString(0))},"rows_in":${r.getLong(1)},"rows_out":${r.getLong(2)}}""")
      }
      pcfg.export.foreach(e => println(
        s"packed export written to ${e.outputDirectory}/packed"))
      return rows.head
    }
    val cfg = ConfigLoader.fromYamlFile(configPath)
    // a config with `check_columns:` (a list or `all`) opts into the
    // one-pass whole-row validation; the classic single-column lifecycle
    // is unchanged
    if (cfg.checkColumns.nonEmpty || cfg.checkAllColumns) {
      val (summary, _) = ValidationJob.runMulti(spark, cfg)
      val rows = summary.orderBy("column_name").collect()
      val cols = summary.columns
      rows.foreach { r =>
        println(cols.zipWithIndex
          .map { case (c, i) => s"${jstr(c)}:${r.get(i) match {
            case s: String => jstr(s)
            case v => v
          }}" }
          .mkString("{", ",", "}"))
      }
      println(s"reports written to ${cfg.outputDirectory}/multi_diff " +
        s"(hive-partitioned by column_name)")
      return rows.head
    }
    val (_, summary) = ValidationJob.run(spark, cfg)
    val row = summary.collect()(0)
    val fields = summary.columns.zipWithIndex
      .map { case (c, i) => s"${jstr(c)}:${row.get(i)}" }
    // one machine-readable line + a human echo of where the reports went
    println(fields.mkString("{", ",", "}"))
    println(s"reports written to ${cfg.outputDirectory} " +
      s"(tidy/ + result/output_${cfg.firstName}_${cfg.secondName}_${cfg.checkColumn}_result.csv)")
    row
  }

  /** Operational recovery after a CRASHED incremental run: break the
    * stale single-writer lease on a state directory so the next run can
    * proceed — the action the lease error message names, now reachable
    * without writing Scala. Refuses nothing: breaking a LIVE run's
    * lease is the operator's call (the abandoned run aborts before its
    * next mutation). */
  def runBreakLease(spark: SparkSession, stateDir: String): Unit = {
    graft.state.StateStore.breakLease(spark, stateDir)
    println(s"lease broken at $stateDir")
  }

  /** Operational recovery after a streaming CHECKPOINT RESET over a kept
    * append store — the action [[graft.ops.IncrementalAgg]]'s fence-
    * ownership error names, reachable without writing Scala:
    * `--rebase-append <stateDir> <keyCol[,keyCol...]> <valCol>` folds
    * all history into the base partition, resets the replay fence and
    * clears the fence owner + stale checkpoint, so a NEW streaming
    * query (batch ids restarting at 0) can safely feed the store. Run
    * OFFLINE, between stopping the old query and starting the new one.
    * Key/value columns name the store's fold shape (vocab: `term n`;
    * text index: `term,__id tf`; PQ codes: `vec_id,sub code`). */
  def runRebaseAppend(spark: SparkSession, stateDir: String,
      keyCols: Seq[String], valCol: String): Unit = {
    graft.ops.IncrementalAgg.rebaseAppendStore(spark, stateDir, keyCols,
      valCol)
    println(s"append store rebased at $stateDir (fence reset; a new " +
      "streaming query may start at batch 0)")
  }

  def main(args: Array[String]): Unit = {
    if (args.length == 2 && args(0) == "--break-lease") {
      val spark = SparkSession.builder()
        .appName("graft-break-lease")
        .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[2]"))
        .getOrCreate()
      try runBreakLease(spark, args(1))
      catch {
        case e: Exception =>
          System.err.println(s"break-lease failed: ${e.getMessage}")
          spark.stop()
          sys.exit(1)
      }
      spark.stop()
      return
    }
    if (args.length == 4 && args(0) == "--rebase-append") {
      val spark = SparkSession.builder()
        .appName("graft-rebase-append")
        .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try runRebaseAppend(spark, args(1),
        args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq, args(3))
      catch {
        case e: Exception =>
          System.err.println(s"rebase-append failed: ${e.getMessage}")
          spark.stop()
          sys.exit(1)
      }
      spark.stop()
      return
    }
    if (args.length != 1) {
      System.err.println(
        "Usage: graft.Main <config.yaml> | --break-lease <stateDir> | " +
          "--rebase-append <stateDir> <keyCol[,keyCol...]> <valCol>")
      sys.exit(1)
    }
    val spark = SparkSession.builder()
      .appName("graft-validate")
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false") // pandas-coerce parity
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args(0))
    catch {
      case e: Exception =>
        System.err.println(s"validation failed: ${e.getMessage}")
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
  }
}
