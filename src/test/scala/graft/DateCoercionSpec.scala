package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** pandas `to_datetime(errors='coerce')` parity for Date mode. The
  * reference feeds this path values already typed as datetimes by the DB
  * driver (where coercion is the identity — that case is exact); for
  * string inputs, ISO-shaped formats must agree, while pandas'
  * free-form parsing (`01/05/2024`, `Jan 5 2024`, `20240105`) is
  * documented as out of scope — those coerce to null in Spark, which is
  * the conservative direction for a validator (flagged as differing
  * rather than silently matched via a guessed format). */
class DateCoercionSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** pandas parses these; Spark try_cast(TIMESTAMP) does not (-> null). */
  private val outOfScope = Set("2024/01/05", "01/05/2024", "Jan 5 2024", "20240105")

  test("ISO-shaped inputs match the pandas fixture; free-form documented out of scope") {
    val in = getClass.getResourceAsStream("/pandas_datetime.json")
    assert(in != null)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(in)
    in.close()
    val cases = (0 until root.size()).map { i =>
      val t = root.get(i)
      (if (t.get(0).isNull) null else t.get(0).asText(),
        if (t.get(1).isNull) None else Some(t.get(1).asText()))
    }
    val got = cases.map(_._1).toDF("s")
      .select(col("s"),
        date_format(graft.core.Validator.toTs(col("s")),
          "yyyy-MM-dd HH:mm:ss.SSSSSS").as("v"))
      .collect()
      .map(r => r.getAs[String]("s") -> Option(r.getAs[String]("v"))).toMap

    for ((s, want) <- cases) {
      val g = got(s)
      if (s != null && outOfScope(s)) {
        assert(g.isEmpty, s"out-of-scope format '$s' unexpectedly parsed: $g")
      } else {
        // normalize pandas rendering (no sub-second -> .000000)
        val w = want.map(x => if (x.contains('.')) {
          val Array(b, f) = x.split("\\.")
          s"$b.${f.padTo(6, '0')}"
        } else s"$x.000000")
        assert(g == w, s"input '$s': spark=$g pandas=$w")
      }
    }
  }

  test("typed timestamp inputs coerce as identity (the reference's real path)") {
    val ts = java.sql.Timestamp.valueOf("2024-01-05 13:45:00.123456")
    val got = Seq(ts).toDF("t")
      .select(graft.core.Validator.toTs(col("t")).as("v"))
      .collect()(0).getTimestamp(0)
    assert(got == ts)
  }

  test("Date mode compares instants: the two instants of a repeated local " +
      "hour differ in diffMulti, summaryMulti and run as in validate and " +
      "summaryFast") {
    import graft.core.{CompareMode, IncrementalValidation, Validator}
    val conf = spark.conf
    val zone = conf.get("spark.sql.session.timeZone")
    // 05:30Z and 06:30Z are both 01:30 local on the day New York leaves
    // daylight saving: one local-time string, two instants
    conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      def side(instant: String) = {
        val p = java.nio.file.Files.createTempDirectory("graft_dst").toString
        Seq(("1", java.sql.Timestamp.from(java.time.Instant.parse(instant))))
          .toDF("id", "check").write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      }
      val (f, s) = (side("2024-11-03T05:30:00Z"), side("2024-11-03T06:30:00Z"))
      val mode = CompareMode.Date
      val want = Validator.validate(f, s, mode).differing
        .select(col("id"), col("check_first").cast("string"),
          col("check_second").cast("string"))
        .collect().map(_.toSeq).toSet
      assert(want.size == 1)
      val got = Validator.diffMulti(f, s, Seq("check" -> mode))
        .select("id", "check_first", "check_second")
        .collect().map(_.toSeq).toSet
      assert(got == want)
      val fast = Validator.summaryFast(f, s, mode).collect().head.toSeq
      assert(fast(4) == 1L, s"summaryFast: $fast")
      val multi = Validator.summaryMulti(f, s, Seq("check" -> mode))
        .drop("column_name").collect().head.toSeq
      assert(multi == fast, s"summaryMulti $multi vs summaryFast $fast")
      val stateDir = java.nio.file.Files.createTempDirectory("graft_dstst")
        .toString
      val (sum, _) = IncrementalValidation.run(f, s, mode, stateDir,
        nBuckets = 8)
      assert(sum.collect().head.toSeq == fast)
    } finally conf.set("spark.sql.session.timeZone", zone)
  }
}
