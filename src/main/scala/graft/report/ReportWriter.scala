package graft.report

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.ValidationOutput

/** Sinks for validation results.
  *
  * Tidy-first: three independent result sets written as three datasets
  * (parquet or CSV). The reference instead pads them with nulls to equal
  * length and zips them positionally into ONE csv (V5,
  * `running_validation.py:262-275`) with Python-dict literals in the third
  * column (V4, `:256-259`) — kept here only as a compat formatter, with
  * JSON instead of Python `repr` (documented divergence, SURVEY §2.4).
  */
object ReportWriter {

  /** Tidy output: one directory per result set. Parquet by default
    * (columnar, splittable — the right call at scale); CSV opt-in for
    * reference-shaped output. */
  def writeTidy(out: ValidationOutput, dir: String, format: String = "parquet"): Unit = {
    def w(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).format(format)
        .option("header", "true").save(s"$dir/$name")
    w(out.missingInFirst, "missing_in_first")
    w(out.missingInSecond, "missing_in_second")
    w(out.differing, "differing_values")
  }

  /** Partition-aware sink for large datasets — the write path a 100 TB
    * output actually needs, making the two small/huge-file failure modes
    * impossible by construction:
    *
    *  - without the `repartition`, EVERY task holding a sliver of a
    *    partition writes its own file into that partition's directory:
    *    tasks x partitions tiny files, the classic small-files problem;
    *  - with one task per partition but no `maxRecordsPerFile`, a hot
    *    partition becomes one monolithic file.
    *
    * Here each output directory is written by `tasksPerPartition` tasks
    * (deterministic salt from the row content — no RNG), each rolling to
    * a new file every `maxRecordsPerFile` rows.
    */
  def writePartitioned(df: DataFrame, dir: String, partitionCols: Seq[String],
      maxRecordsPerFile: Long = 5000000L, tasksPerPartition: Int = 1,
      format: String = "parquet"): Unit = {
    require(tasksPerPartition >= 1)
    val keyed =
      if (tasksPerPartition == 1) df.repartition(partitionCols.map(col): _*)
      else df.repartition(
        partitionCols.map(col) :+
          pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*), lit(tasksPerPartition)): _*)
    keyed.write.mode(SaveMode.Overwrite).format(format)
      .partitionBy(partitionCols: _*)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .save(dir)
  }

  /** Reference-compatible padded summary frame: the three result sets
    * positionally zipped by their own row order, null-padded to the
    * longest — exactly the shape of the reference's summary CSV (minus
    * Python-repr: dicts become JSON).
    *
    * One shuffle: the three sets are tagged and unioned, each row takes
    * `monotonically_increasing_id()` (its set's own order) BEFORE one
    * `repartition(1)` — upstream stages keep their parallelism, which a
    * `coalesce(1)` would collapse — then `row_number` per set, one
    * `groupBy` on the row number and the final sort all run in that one
    * partition, needing no further exchange.
    *
    * Scale note: that single partition is a one-task bottleneck by
    * construction — acceptable because diff reports are small relative
    * to inputs; for huge reports use [[writeTidy]] instead (the padded
    * shape is inherently ordered).
    */
  def paddedSummary(out: ValidationOutput): DataFrame = {
    val sets = Seq(
      "missing_in_first" -> out.missingInFirst.select(col("id")),
      "missing_in_second" -> out.missingInSecond.select(col("id")),
      "differing_values" -> out.differing.select(
        to_json(struct(out.differing.columns.toIndexedSeq.map(col): _*))))
    val names = sets.map(_._1)
    val types = sets.map(_._2.schema.head.dataType)
    // one column per set, null outside its own rows
    val tagged = sets.zipWithIndex.map { case ((_, df), k) =>
      df.select(lit(k).as("__tag") +: names.indices.map { j =>
        (if (j == k) col(df.columns.head) else lit(null).cast(types(j)))
          .as(names(j))
      }: _*)
    }.reduce(_ unionByName _)
    tagged.withColumn("__mono", monotonically_increasing_id())
      .repartition(1)
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__tag").orderBy("__mono")))
      .groupBy("__rn")
      .agg(max(names.head).as(names.head),
        names.tail.map(n => max(n).as(n)): _*)
      .orderBy("__rn")
      .select(names.map(col): _*)
  }

  /** Reference-named CSV pair:
    * `output_{db1}_{db2}_{check}_result.csv` (padded summary) and
    * `..._result.csv_differing_values.csv` (reference naming convention —
    * see golden artifact
    * `output/result/output_oracle_postgres_MODEL_result.csv_differing_values.csv`).
    */
  def writeCompat(out: ValidationOutput, dir: String, db1: String, db2: String,
      check: String): Unit = {
    val base = s"$dir/output_${db1}_${db2}_${check}_result.csv"
    paddedSummary(out).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(base)
    // single partition sorted within => deterministic in-file row order
    // (by id) — byte-reproducible output, matching the reference's golden
    // differing-values artifact byte for byte (pinned in ReportSpec)
    out.differing.coalesce(1).sortWithinPartitions("id")
      .write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(s"${base}_differing_values.csv")
  }
}
