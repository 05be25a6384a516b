package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.ConfigLoader
import graft.core.{CompareMode, IncrementalValidation, ValidationJob, Validator}
import graft.ops.{IncrementalAgg, Similarity}
import graft.state.StateStore

/** Stored-state commit points: a lease broken during the staging write
  * stops the swap before any rename, a stale witness staging copy is
  * never promoted, a summary run that crashes after its terms swap
  * leaves no witness, a crash between the PQ books swap
  * and its marker never serves mixed codebooks, and a multi-report store
  * that cannot be read fails the run instead of reporting nothing. */
class CommitPointSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20261017)

  private def freshStateDir(): String =
    Files.createTempDirectory("graft_commit").toString

  private def viaParquet(df: DataFrame): DataFrame = {
    val p = Files.createTempDirectory("graft_commitin").toString
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  /** (id, check) with duplicate ids, null ids and null values. */
  private def randomKeyed(n: Int, keySpace: Int): DataFrame =
    Seq.fill(n) {
      (if (rnd.nextDouble() < 0.04) null else rnd.nextInt(keySpace).toString,
        if (rnd.nextDouble() < 0.2) null else rnd.nextInt(40).toString)
    }.toDF("id", "check")

  /** Perturb the values of about 5% of the ids. */
  private def churn(df: DataFrame, salt: Int): DataFrame =
    df.withColumn("check", when(
      pmod(xxhash64(col("id"), lit(salt)), lit(100L)) < 5L,
      concat(coalesce(col("check"), lit("")), lit("~"))).otherwise(col("check")))

  /** Every regular file under `dir` with its bytes. */
  private def files(dir: String): Map[String, Seq[Byte]] = {
    val st = Files.walk(Paths.get(dir))
    try st.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.readAllBytes(p).toSeq).toMap
    finally st.close()
  }

  private def parquetFiles(dir: String): List[Path] = {
    val st = Files.walk(Paths.get(dir))
    try st.iterator().asScala.filter(p =>
      Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toList
    finally st.close()
  }

  /** Run `f` with the commit-point hook set, restoring it after. */
  private def withHook[T](hook: String => Unit)(f: => T): T = {
    StateStore.hook = hook
    try f finally StateStore.hook = _ => ()
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  test("report surgery: a lease broken after the staging write throws " +
      "before any rename, and the next run heals to the correct report") {
    val stateDir = freshStateDir()
    val mode = CompareMode.Fuzzy(1.0)
    val f = viaParquet(randomKeyed(300, 150))
    val s0 = viaParquet(randomKeyed(300, 150))
    IncrementalValidation.reportIncremental(f, s0, mode, stateDir,
      nBuckets = 32, dirtyFractionLimit = 1.0)
    val before = files(s"$stateDir/report")
    val s1 = viaParquet(churn(s0, salt = 3))
    val e = withHook {
      case "report.renames" => StateStore.breakLease(spark, stateDir)
      case _ => ()
    } {
      intercept[IllegalStateException] {
        IncrementalValidation.reportIncremental(f, s1, mode, stateDir,
          nBuckets = 32, dirtyFractionLimit = 1.0)
      }
    }
    assert(e.getMessage.contains("lease"), e.getMessage)
    assert(files(s"$stateDir/report") == before,
      "no group directory may be renamed under a broken lease")
    val (healed, r) = IncrementalValidation.reportIncremental(f, s1, mode,
      stateDir, nBuckets = 32, dirtyFractionLimit = 1.0)
    assert(r.rebuilt, "the deleted witness must force a rebuild")
    val (fresh, _) = IncrementalValidation.reportIncremental(f, s1, mode,
      freshStateDir(), nBuckets = 32)
    assert(rows(healed) == rows(fresh))
  }

  /** [[Validator.validate]]'s three frames in the stored report's long
    * shape, as a multiset. */
  private def validated(f: DataFrame, s: DataFrame,
      mode: CompareMode): Map[Seq[Any], Int] = {
    val out = Validator.validate(f, s, mode)
    def shaped(df: DataFrame, kind: String, cf: String, cs: String) =
      df.select(lit(kind), col("id").cast("string"),
        (if (cf == null) lit(null) else col(cf)).cast("string"),
        (if (cs == null) lit(null) else col(cs)).cast("string"))
    bag(shaped(out.missingInFirst, "missing_in_first", null, null)
      .union(shaped(out.missingInSecond, "missing_in_second", null, null))
      .union(shaped(out.differing, "differing", "check_first",
        "check_second")))
  }

  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map {
      case (k, v) => k -> v.size
    }

  test("witness swap: a stale staging copy from an earlier aborted run " +
      "is never promoted, so a run aborted at the witness swap rebuilds") {
    val stateDir = freshStateDir()
    val mode = CompareMode.Fuzzy(1.0)
    val f = viaParquet(randomKeyed(300, 150))
    val s0 = viaParquet(randomKeyed(300, 150))
    IncrementalValidation.reportIncremental(f, s0, mode, stateDir,
      nBuckets = 32, dirtyFractionLimit = 1.0)
    // an earlier run's complete witness of s0, left in staging
    val fs = StateStore.fsOf(spark, stateDir)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$stateDir/report_digests"), fs,
      new org.apache.hadoop.fs.Path(s"$stateDir/report_digests__staging"),
      false, spark.sparkContext.hadoopConfiguration)
    // a churned run rewrites the store, then aborts at the witness swap
    val s1 = viaParquet(churn(s0, salt = 7))
    withHook {
      case "report_digests.swap" => StateStore.breakLease(spark, stateDir)
      case _ => ()
    } {
      intercept[IllegalStateException] {
        IncrementalValidation.reportIncremental(f, s1, mode, stateDir,
          nBuckets = 32, dirtyFractionLimit = 1.0)
      }
    }
    // back on s0: no live witness may vouch for the churned store
    val (report, r) = IncrementalValidation.reportIncremental(f, s0, mode,
      stateDir, nBuckets = 32, dirtyFractionLimit = 1.0)
    assert(r.rebuilt, "without a witness the store must rebuild")
    assert(bag(report) == validated(f, s0, mode))
    assert(validated(f, s0, mode) != validated(f, s1, mode),
      "the churn must change the report")
  }

  test("churn-aggregate group surgery: a lease broken after the staging " +
      "write throws before any rename, and the next run heals") {
    val stateDir = freshStateDir()
    val t0 = viaParquet(randomKeyed(400, 200))
    def run(t: DataFrame) = IncrementalAgg.run(t, "id", Seq("check"),
      s => s.groupBy(col("__bucket"), col("check")).agg(count(lit(1)).as("c")),
      aggKey = "checkcount", stateDir, nBuckets = 32, dirtyFractionLimit = 1.0)
    def totals(store: DataFrame) = rows(store.groupBy("check")
      .agg(sum("c").as("c")))
    run(t0)
    val before = files(s"$stateDir/agg")
    val t1 = viaParquet(churn(t0, salt = 5))
    val e = withHook {
      case "agg.renames" => StateStore.breakLease(spark, stateDir)
      case _ => ()
    } {
      intercept[IllegalStateException](run(t1))
    }
    assert(e.getMessage.contains("lease"), e.getMessage)
    assert(files(s"$stateDir/agg") == before,
      "no group directory may be renamed under a broken lease")
    val (healed, r) = run(t1)
    assert(r.rebuilt, "the deleted witness must force a rebuild")
    assert(totals(healed) == rows(t1.groupBy("check").agg(count(lit(1)).as("c"))))
  }

  test("multi-column summary: a run that crashes after the terms swap " +
      "leaves no witness, so a re-run on the earlier inputs rebuilds") {
    val stateDir = freshStateDir()
    val checks = Seq("check" -> CompareMode.Numeric,
      "alt" -> CompareMode.Fuzzy(1.0))
    def twoCol(df: DataFrame) =
      df.withColumn("alt", concat(coalesce(col("check"), lit("")), lit("!")))
    val f = viaParquet(twoCol(randomKeyed(300, 150)))
    val s0 = viaParquet(twoCol(randomKeyed(300, 150)))
    def run(s: DataFrame) = IncrementalValidation.runMulti(f, s, checks,
      stateDir, nBuckets = 32, dirtyFractionLimit = 1.0)
    def byColumn(df: DataFrame) =
      df.collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    run(s0)
    // a churned run swaps its terms in, then crashes before the witness
    val s1 = viaParquet(churn(s0, salt = 11))
    withHook {
      case "state.stage" => throw new RuntimeException("crash at state.stage")
      case _ => ()
    } {
      intercept[RuntimeException](run(s1))
    }
    // back on s0 (a rolled-back load): the old witness must not vouch
    // for the churned run's terms
    val (summary, r) = run(s0)
    assert(byColumn(summary) ==
      byColumn(Validator.summaryMulti(f, s0, checks)))
    assert(r.rebuilt, s"without a witness the terms must rebuild: $r")
    assert(byColumn(Validator.summaryMulti(f, s0, checks)) !=
      byColumn(Validator.summaryMulti(f, s1, checks)),
      "the churn must change the summary")
  }

  test("multi-column report: an unreadable stored report fails " +
      "ValidationJob.runMulti instead of reporting zero differing rows") {
    val d = Files.createTempDirectory("graft_multicorrupt").toString
    spark.range(500).selectExpr("id AS pk", "CAST(id % 13 AS STRING) AS a",
      "id % 7 AS b").write.parquet(s"$d/left")
    spark.range(500).selectExpr("id AS pk",
      "CASE WHEN id % 25 = 0 THEN 'x' ELSE CAST(id % 13 AS STRING) END AS a",
      "id % 7 AS b").write.parquet(s"$d/right")
    val cfg = ConfigLoader.fromYamlString(
      s"""databases: [left, right]
         |composite_id_columns: [pk]
         |check_columns:
         |  - column: a
         |  - column: b
         |    data_type: integer
         |incremental: true
         |output_directory: $d/out
         |sources:
         |  left: { format: parquet, path: $d/left }
         |  right: { format: parquet, path: $d/right }
         |""".stripMargin)
    val (sum0, _) = ValidationJob.runMulti(spark, cfg)
    assert(sum0.filter(col("column_name") === "a").head()
      .getAs[Long]("n_differing") == 20L)
    val stored = parquetFiles(
      s"$d/out/validation_state/multi_report_surface/report")
    assert(stored.nonEmpty)
    stored.foreach(p => Files.write(p, "not parquet".getBytes))
    // unchanged inputs: zero dirty buckets, so only the final reads of
    // the store see the damage
    intercept[org.apache.spark.SparkException] {
      val (summary, _) = ValidationJob.runMulti(spark, cfg)
      summary.collect()
    }
  }

  /** Embeddings: unique ids, deterministic float vectors, dim 8. */
  private def embCorpus(n: Int, salt: Int = 0): DataFrame =
    (0 until n).map { i =>
      val r = new scala.util.Random(i * 7919 + salt)
      (i.toLong, Array.fill(8)(r.nextFloat() * 2f - 1f))
    }.toDF("vec_id", "embedding")

  test("PQ re-fit: a crash between the books swap and the signature " +
      "marker leaves no stale marker — the next run recomputes the " +
      "signature from the stored books and never serves mixed codebooks") {
    val stateDir = freshStateDir()
    val e0 = viaParquet(embCorpus(300))
    Similarity.pqIndexIncremental(e0, stateDir, m = 4, ksub = 8,
      nBuckets = 16)
    // re-fit request on a moved distribution: different books
    new java.io.File(s"$stateDir/books").listFiles().foreach(_.delete())
    new java.io.File(s"$stateDir/books").delete()
    val e1 = viaParquet(embCorpus(300, salt = 7)
      .withColumn("embedding",
        expr("transform(embedding, x -> float(x * 3.0 + 1.0))")))
    withHook {
      case "pq.books_sig" => throw new RuntimeException("crash at marker")
      case _ => ()
    } {
      intercept[RuntimeException](Similarity.pqBooksWrite(e1, stateDir,
        m = 4, ksub = 8))
    }
    assert(!new java.io.File(s"$stateDir/books_sig").exists(),
      "the old books' marker must be gone once the new books are in")
    // the unchanged corpus: a stale signature would call every bucket
    // clean and serve codes of the old books against the new ones
    val (codes, r) = Similarity.pqIndexIncremental(e0, stateDir, m = 4,
      ksub = 8, nBuckets = 16)
    assert(r.rebuilt, "the new books' signature must rebuild the codes")
    val books = spark.read.parquet(s"$stateDir/books")
    def codeSet(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.get(2))).toSet
    assert(codeSet(codes) == codeSet(Similarity.pqEncode(e0, books, m = 4)))
  }
}
