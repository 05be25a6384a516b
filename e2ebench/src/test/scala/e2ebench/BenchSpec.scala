package e2ebench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DifflibRatio
import graft.ops.Curation

class BenchSpec extends AnyFunSuite {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Relative path -> bytes of every file under `dir`. */
  private def files(dir: String): Map[String, Seq[Byte]] = {
    val root = new File(dir).toPath
    val walk = Files.walk(root)
    try walk.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  private def smallDiff(seed: Long) = DiffGen(seed, rows = 3000, reserve = 200, changesPerDay = 12, files = 2)

  private def diffInputs(seed: Long, days: Int): Map[String, Seq[Byte]] = {
    val g = smallDiff(seed)
    val d = new g.Days
    (0 until days).foreach(_ => d.advance())
    val dir = tmp("e2e_diff")
    g.writeDay(d.current, dir)
    files(dir)
  }

  private val vocab = FeedGen.vocabulary(
    ParquetOut.readStrings("../src/test/resources/bpe_word_tokens.parquet", "word"))

  private def feedInputs(seed: Long, batch: Long): Map[String, Seq[Byte]] = {
    val dir = tmp("e2e_feed")
    FeedGen(seed, 500, 8, vocab).writeBatch(batch, dir)
    files(dir)
  }

  test("the same seed gives byte-identical inputs and another seed different ones") {
    val a = diffInputs(7, 3)
    assert(a.keySet == Set("first/part-00000.snappy.parquet", "first/part-00001.snappy.parquet",
      "second/part-00000.snappy.parquet", "second/part-00001.snappy.parquet"))
    assert(a == diffInputs(7, 3))
    assert(a.keySet == diffInputs(8, 3).keySet && a != diffInputs(8, 3))
    assert(a != diffInputs(7, 4), "a later day must differ")
    val f = feedInputs(7, 2)
    assert(f == feedInputs(7, 2))
    assert(f != feedInputs(8, 2))
  }

  test("written tables hold exactly the rows the truth counts") {
    val g = smallDiff(3)
    val d = new g.Days
    (0 until 5).foreach(_ => d.advance())
    val dir = tmp("e2e_rows")
    g.writeDay(d.current, dir)
    assert(ParquetOut.rowCount(s"$dir/first") == d.truth.nFirst)
    assert(ParquetOut.rowCount(s"$dir/second") == d.truth.nSecond)
  }

  test("the change log's truth equals a recount of every key's state") {
    val g = smallDiff(11)
    val d = new g.Days
    (1 to 6).foreach { _ =>
      d.advance()
      assert(d.changed.size == 12)
      val recount = (0L until g.universe).map(i => DiffTruth.of(d.state(i))).reduce(_ + _)
      assert(d.truth == recount)
    }
    assert(d.truth.missingInFirst > 0 && d.truth.missingInSecond > 0 && d.truth.differing > 0)
  }

  test("near edits stay at or above the 0.9 threshold and far edits score 0") {
    val g = smallDiff(5)
    (0L until 2000L).foreach { i =>
      assert(DifflibRatio.ratio(g.value(i), g.nearValue(i)) >= 0.9)
      assert(DifflibRatio.ratio(g.value(i), g.farValue(i)) == 0.0)
    }
  }

  test("feed truth matches a replay of the gate, the masking and the dedup") {
    val gen = FeedGen(9, 400, 8, vocab)
    val norm = (s: String) => s.toLowerCase.replaceAll("\\s+", " ").trim
    val seen = scala.collection.mutable.Set.empty[String]
    (0L until 4L).foreach { b =>
      val docs = gen.batch(b)
      assert(docs.size == 400)
      val kept = docs.map(_._2).filter(t => norm(t).split(" ").length >= 8)
      assert(kept.size == gen.truth(b).qualityKept)
      val novel = kept.map(t => norm(t.replaceAll(Curation.EmailRe, "<EMAIL>"))).distinct
        .filterNot(seen)
      seen ++= novel
      assert(novel.size == gen.truth(b).novel, s"batch $b")
    }
  }

  test("a job's module is the first engine frame of its call site") {
    val site = Seq("org.apache.spark.sql.Dataset.collect(Dataset.scala:3500)",
      "graft.report.ReportWriter$.w$1(ReportWriter.scala:26)",
      "graft.core.ValidationJob$.run(ValidationJob.scala:250)").mkString("\n")
    assert(JobRecorder.moduleOf(site) == "report.ReportWriter")
    assert(JobRecorder.moduleOf("org.apache.spark.rdd.RDD.count(RDD.scala:1)\n" +
      "graft.ops.Dedup$.minhash(Dedup.scala:9)") == "ops.other")
    assert(JobRecorder.moduleOf("org.apache.spark.rdd.RDD.count(RDD.scala:1)\n" +
      "e2ebench.DiffWorkload.run(Workloads.scala:9)\n" +
      "graft.core.ValidationJob$.run(ValidationJob.scala:250)") == "unattributed")
  }

  test("module busy times and the driver gap add up to the op's wall time") {
    val s = Accounting.split(0, 100, Seq((10.0, 30.0, "a"), (20.0, 40.0, "b"), (90.0, 120.0, "a")))
    assert(s.busyMs("a") == 10 + 5 + 10)
    assert(s.busyMs("b") == 5 + 10)
    assert(s.gapMs == 100 - 40)
    assert(s.busyMs.values.sum + s.gapMs == 100)
  }

  private def args(work: String) = BenchMain.Args("diff_daily", 1, seconds = 0, trace = false,
    work, work, commit = "test", loadStart = 0, ambientBusyCores = 0)

  test("an op whose result disagrees with the expectation is counted as failed") {
    def run(wrong: Boolean): String = {
      val work = tmp("e2e_run")
      val w = new DiffWorkload("diff_daily", incremental = true, smallDiff(2), work) {
        override def expected: DiffTruth =
          if (wrong) super.expected.copy(differing = super.expected.differing + 1) else super.expected
      }
      val r = new Runner(args(work), w, minOps = 1)
      try {
        r.setUp()
        r.measure()
        r.resultLines().last
      } finally r.close()
    }
    val right = run(wrong = false)
    // two set-up ops (the day-0 build and day 1) and one measured op
    assert(right.startsWith("""{"correct":true,"attempted":3,"failed":0,"""), right)
    val wrong = run(wrong = true)
    assert(wrong.startsWith("""{"correct":false,"attempted":3,"failed":3,"""), wrong)
  }
}
