package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FilterFileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CompareMode, IncrementalValidation, Validator}
import graft.ops.{IncrementalAgg, SequenceFeed, Similarity}
import graft.state.StateStore

/** The local filesystem under the `faulty` scheme (registered as
  * `fs.faulty.impl`): inside [[FaultyFs.failing]], `open` or
  * `listStatus` of the paths it names throws. */
class FaultyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")
  override def getScheme: String = "faulty"
  override def open(f: Path, bufferSize: Int) = {
    FaultyFs.check("open", f)
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path) = {
    FaultyFs.check("listStatus", f)
    super.listStatus(f)
  }
}

object FaultyFs {
  @volatile private var fault: (String, String => Boolean) = ("", _ => false)

  private def check(op: String, f: Path): Unit =
    if (fault._1 == op && fault._2(f.toUri.getPath))
      throw new java.io.IOException(s"injected $op fault at $f")

  /** Run `body` with `op` failing on every path whose URI path `at`
    * accepts. */
  def failing[A](op: String, at: String => Boolean)(body: => A): A = {
    fault = (op, at)
    try body finally fault = ("", _ => false)
  }
}

/** The stored-state module: checked renames in the swap, heal never
  * touching a live store, one owner of the primitives, the pinned list
  * of commit points each surface crosses, and read faults on a witness
  * or a store. */
class StateStoreSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20261017)

  private def freshDir(): String =
    Files.createTempDirectory("graft_state").toString

  private def viaParquet(df: DataFrame): DataFrame = {
    val p = Files.createTempDirectory("graft_statein").toString
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  /** Every regular file under `dir` with its bytes. */
  private def files(dir: String): Map[String, Seq[Byte]] = {
    val st = Files.walk(Paths.get(dir))
    try st.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.readAllBytes(p).toSeq).toMap
    finally st.close()
  }

  private def xs(path: String): Set[Long] =
    spark.read.parquet(path).as[Long].collect().toSet

  test("swap: a rename that returns false throws, and the target or its " +
      "__old copy still reads complete") {
    for (failAt <- 1 to 2) {
      val stateDir = freshDir()
      val target = s"$stateDir/store"
      val lease = StateStore.acquireLease(spark, stateDir)
      try {
        StateStore.swapWrite(spark.range(100).toDF("x"), target, lease)
        var renames = 0
        val failing = new FilterFileSystem(StateStore.fsOf(spark, target)) {
          override def rename(src: Path, dst: Path): Boolean = {
            renames += 1
            renames != failAt && super.rename(src, dst)
          }
        }
        intercept[java.io.IOException] {
          StateStore.swap(failing, target, lease, ()) { tmp =>
            spark.range(100, 105).toDF("x").write.parquet(tmp)
          }
        }
        if (failAt == 1)
          assert(xs(target) == (0L until 100L).toSet, "target untouched")
        else {
          assert(!Files.exists(Paths.get(target)))
          assert(xs(s"${target}__old") == (0L until 100L).toSet,
            "the aside copy is complete")
          // the staged copy is complete too: heal promotes it
          StateStore.heal(StateStore.fsOf(spark, target), target)
          assert(xs(target) == (100L until 105L).toSet)
          assert(!Files.exists(Paths.get(s"${target}__old")))
        }
      } finally lease.release()
    }
  }

  test("a feed read never deletes a staging sibling next to a live store " +
      "(it may be a running compaction's copy)") {
    val stateDir = freshDir()
    val batch = (0L until 30L).map { i =>
      (i % 3, i * 10, i, Array.fill(1 + rnd.nextInt(40))(rnd.nextInt(300)))
    }.toDF("shard", "ord", "doc", "ids")
    SequenceFeed.sequencesAppend(batch, 0L, stateDir, "shard", "ord", "doc",
      "ids", seqLen = 16)
    val fs = StateStore.fsOf(spark, stateDir)
    val staging = s"$stateDir/seqstore__staging"
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(s"$stateDir/seqstore"),
      fs, new Path(staging), false, spark.sparkContext.hadoopConfiguration)
    val before = files(staging)
    assert(SequenceFeed.sequencesFromStore(spark, stateDir).count() > 0)
    assert(files(staging) == before, "the staging sibling must be untouched")
  }

  test("storeHasData counts only the files a reader reads: a crashed " +
      "write's _temporary or .spark-staging files are no data") {
    val fs = StateStore.fsOf(spark, freshDir())
    def storeWith(file: String): String = {
      val store = s"${freshDir()}/store"
      val p = Paths.get(store, file)
      Files.createDirectories(p.getParent)
      Files.write(p, "PAR1".getBytes)
      store
    }
    assert(!StateStore.storeHasData(fs,
      storeWith("_temporary/0/part-0.parquet")))
    assert(!StateStore.storeHasData(fs,
      storeWith(".spark-staging-1/__batch=0/part-0.parquet")))
    assert(!StateStore.storeHasData(fs, storeWith("_SUCCESS")))
    assert(StateStore.storeHasData(fs,
      storeWith("__batch=0/__bgroup=3/part-0.parquet")))
  }

  test("drift guard: only graft/state renames paths or defines the lease, " +
      "marker, meta, swap, heal or grouped-layout primitives") {
    val root = Paths.get("src/main/scala")
    val owned = root.resolve("graft/state")
    val forbidden = Seq(
      """\.rename\(""",
      """class\s+\w*Lease\b""",
      """def\s+(acquireLease|breakLease|mustRename|readMarker|writeMarker|""" +
        """pinMarker|storeHasData|writeMeta|swapWrite|swap|heal|""" +
        """recover\w*Store|groupSurgery|groupCount|groupOf|landStaged|""" +
        """writeBatches|pinStreamOwner)\b""",
      // the state-identity marker check (StoredArtifacts.metaMatches is
      // the unrelated parquet-table stamp check, taking a SparkSession)
      """def\s+metaMatches\(fs\b""",
      """GroupCount""",
      """beforeMutationHook|commitPointHook""",
      // the append-store cycle: the dynamic-overwrite batch write, the
      // replay fence, the stream-owner identity, `<prefix>=<id>` listings
      // and the bucket-group function under any name
      """partitionOverwriteMode""",
      """def\s+\w*([Ww]atermark|[Ff]ence)\w*""",
      """def\s+\w*([Ss]treamId|[Ss]treamOwner)\w*""",
      """def\s+(batchPartitions|list\w*Ids|\w*BatchIds)\b""",
      """stripPrefix\("\w*=""",
      """def\s+(\w*[Gg]roupOf|appendGroup\w*)\b""").map(_.r)
    val st = Files.walk(root)
    val sources =
      try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    assert(sources.exists(_.startsWith(owned)), "the state module is missing")
    val hits = for {
      f <- sources if !f.startsWith(owned)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      re <- forbidden if re.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: $line"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  /** Names the commit-point hook fires while `f` runs, in order. */
  private def points(f: => Unit): Seq[String] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    StateStore.hook = seen += _
    try f finally StateStore.hook = _ => ()
    seen.toSeq
  }

  private def keyed(n: Int): DataFrame =
    Seq.fill(n)((rnd.nextInt(n / 2).toString, rnd.nextInt(40).toString))
      .toDF("id", "check")

  private def churned(df: DataFrame): DataFrame =
    df.withColumn("check", when(pmod(xxhash64(col("id")), lit(10L)) === 0L,
      concat(col("check"), lit("~"))).otherwise(col("check")))

  test("commit-point inventory: the points each stateful surface crosses") {
    // churned daily report: surgery on the report groups, then the witness
    val f = viaParquet(keyed(300))
    val s0 = viaParquet(keyed(300))
    val repDir = freshDir()
    def report(s: DataFrame) = IncrementalValidation.reportIncremental(f, s,
      CompareMode.Numeric, repDir, nBuckets = 32, dirtyFractionLimit = 1.0)
    report(s0)
    val s1 = viaParquet(churned(s0))
    assert(points(assert(!report(s1)._2.rebuilt)) == Seq("report.mutate",
      "report.renames", "report_digests.commit"))

    // churned summaries, single- and multi-check: the terms swap inside
    // the witness cycle, then the witness file lands
    val sumDir = freshDir()
    def summary(s: DataFrame) = IncrementalValidation.run(f, s,
      CompareMode.Numeric, sumDir, nBuckets = 32, dirtyFractionLimit = 1.0)
    summary(s0)
    val summaryPoints = Seq("terms.mutate", "terms.stage", "terms.swap",
      "state.commit")
    assert(points(assert(!summary(s1)._2.rebuilt)) == summaryPoints)
    val multiDir = freshDir()
    def alt(df: DataFrame) = df.withColumn("alt", upper(col("check")))
    def multi(s: DataFrame) = IncrementalValidation.runMulti(alt(f), alt(s),
      Seq("check" -> CompareMode.Numeric, "alt" -> CompareMode.Fuzzy(1.0)),
      multiDir, nBuckets = 32, dirtyFractionLimit = 1.0)
    multi(s0)
    assert(points(assert(!multi(s1)._2.rebuilt)) == summaryPoints)

    // churned aggregate: the same surgery on the agg store
    val aggDir = freshDir()
    def agg(t: DataFrame) = IncrementalAgg.run(t, "id", Seq("check"),
      _.groupBy(col("__bucket"), col("check")).agg(count(lit(1)).as("c")),
      aggKey = "checkcount", aggDir, nBuckets = 32, dirtyFractionLimit = 1.0)
    agg(s0)
    assert(points(assert(!agg(s1)._2.rebuilt)) == Seq("agg.mutate",
      "agg.renames", "agg_digests.commit"))

    // append fold, then the renames-only compaction with its fence
    val appDir = freshDir()
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    assert(points {
      IncrementalAgg.vocabAppend(docs, 0L, appDir, nBuckets = 16)
      IncrementalAgg.vocabAppend(docs, 1L, appDir, nBuckets = 16)
      IncrementalAgg.compactVocabStore(spark, appDir)
    } == Seq("agg.append", "agg.append", "agg.stage", "agg.swap"))

    // sequence feed: the store write, the carry landing, the compaction
    val feedDir = freshDir()
    val batch = (0L until 20L).map(i => (i % 2, i, i, Array.fill(7)(i.toInt)))
      .toDF("shard", "ord", "doc", "ids")
    assert(points {
      SequenceFeed.sequencesAppend(batch, 0L, feedDir, "shard", "ord", "doc",
        "ids", seqLen = 8)
      SequenceFeed.compactFeedStore(spark, feedDir)
    } == Seq("seqstore.append", "carry.commit", "seqstore.stage",
      "seqstore.swap"))

    // PQ codebook fit: books, their signature marker, the seed error
    val corpus = (0 until 100).map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Array.fill(8)(r.nextFloat()))
    }.toDF("vec_id", "embedding")
    assert(points(Similarity.pqBooksWrite(corpus, freshDir(), m = 4,
      ksub = 8)) == Seq("pq.books", "books.stage", "books.swap",
      "pq.books_sig", "books_err.stage", "books_err.swap"))
  }

  /** A fresh state directory on the `faulty` filesystem. */
  private def faultyDir(): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFs].getName)
    s"faulty://${freshDir()}"
  }

  test("read faults: a witness file that cannot be opened reads as no " +
      "state, so the run rebuilds and answers what a fresh computation " +
      "does") {
    val f = viaParquet(keyed(300))
    val s = viaParquet(churned(keyed(300)))
    val mode = CompareMode.Numeric
    val partial: DataFrame => DataFrame =
      _.groupBy(col("__bucket"), col("check")).agg(count(lit(1)).as("c"))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val surfaces = Seq[(String, String => (Any, Boolean), Any)](
      ("state", { d =>
        val (sum, r) = IncrementalValidation.run(f, s, mode, d, nBuckets = 16)
        (rows(sum), r.rebuilt)
      }, rows(Validator.summaryFast(f, s, mode))),
      ("report_digests", { d =>
        val (cur, r) = IncrementalValidation.reportIncremental(f, s, mode, d,
          nBuckets = 16)
        (rows(cur.filter(col("kind") === "differing").drop("kind")), r.rebuilt)
      }, rows(Validator.validate(f, s, mode).differing
        .selectExpr("id", "CAST(check_first AS STRING)",
          "CAST(check_second AS STRING)"))),
      ("agg_digests", { d =>
        val (store, r) = IncrementalAgg.run(s, "id", Seq("check"), partial,
          aggKey = "checkcount", d, nBuckets = 16)
        (rows(store.groupBy("check").agg(sum("c"))), r.rebuilt)
      }, rows(s.groupBy("check").agg(count(lit(1))))))
    for ((witness, run, want) <- surfaces) {
      val dir = faultyDir()
      assert(run(dir) == (want, true), s"$witness: first build")
      assert(run(dir) == (want, false), s"$witness: kept state")
      val got = FaultyFs.failing("open", _.endsWith(s"/$witness"))(run(dir))
      assert(got == (want, true), s"$witness: an unopenable witness")
    }
  }

  test("read faults: a report store whose files cannot be opened or " +
      "listed fails the run; it never answers empty") {
    val f = viaParquet(keyed(300))
    val s = viaParquet(churned(keyed(300)))
    for (op <- Seq("open", "listStatus")) {
      val dir = faultyDir()
      def report() = IncrementalValidation.reportIncremental(f, s,
        CompareMode.Numeric, dir, nBuckets = 16)._1.collect()
      assert(report().nonEmpty)
      // unchanged inputs: zero dirty buckets, so the fault hits the read
      val store = new Path(s"$dir/report").toUri.getPath
      intercept[Exception] {
        FaultyFs.failing(op, p => p == store || p.startsWith(s"$store/"))(
          report())
      }
    }
  }
}
