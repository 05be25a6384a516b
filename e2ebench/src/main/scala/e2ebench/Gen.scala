package e2ebench

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Seeded, stateless randomness: every generated value is a pure function
  * of (seed, coordinates), so the ground truth can be recomputed without
  * reading the generated tables. */
object Rand {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long =
    mix(mix(mix(mix(seed) ^ a) ^ b) ^ c)
  def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))
  def below(x: Long, n: Int): Int = java.lang.Long.remainderUnsigned(x, n.toLong).toInt
}

/** Writes generated rows as parquet files with fixed names and no
  * per-write metadata, so the same seed gives byte-identical files. The
  * driver writes them directly: no Spark job runs before the op does. */
object ParquetOut {
  def write(file: String, schema: String)(fill: (SimpleGroupFactory, Group => Unit) => Unit): Unit = {
    val f = new File(file)
    f.getParentFile.mkdirs()
    val t = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(f.toPath)).withType(t)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try fill(new SimpleGroupFactory(t), w.write) finally w.close()
  }

  /** Rows in the parquet files of a directory, from their footers. */
  def rowCount(dir: String): Long = {
    val conf = new Configuration()
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(f.toURI), conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** The values of one string column of a parquet file. */
  def readStrings(file: String, column: String): Seq[String] = {
    val r = ParquetReader.builder(new GroupReadSupport(), new HPath(new File(file).toURI)).build()
    try Iterator.continually(r.read()).takeWhile(_ != null).map(_.getString(column, 0)).toList
    finally r.close()
  }
}

/** The state of one key across the two sides of a table pair. */
object KeyState {
  final val Eq = 0        // both sides, same value
  final val Near = 1      // second = first + one char: ratio >= 0.9, not differing
  final val Far = 2       // second shares no character with first: ratio 0, differing
  final val NullSecond = 3
  final val NullFirst = 4
  final val BothNull = 5  // equal under null-safe comparison
  final val OnlyFirst = 6 // missing in second
  final val OnlySecond = 7 // missing in first
  final val Gone = 8
  final val Count = 9

  def inFirst(s: Int): Boolean = s <= OnlyFirst
  def inSecond(s: Int): Boolean = s <= BothNull || s == OnlySecond
  def differing(s: Int): Boolean = s == Far || s == NullSecond || s == NullFirst
}

/** Exact summary counts of one day's table pair, from the generator. */
final case class DiffTruth(nFirst: Long, nSecond: Long, missingInFirst: Long,
    missingInSecond: Long, differing: Long) {
  def +(o: DiffTruth): DiffTruth = DiffTruth(nFirst + o.nFirst,
    nSecond + o.nSecond, missingInFirst + o.missingInFirst,
    missingInSecond + o.missingInSecond, differing + o.differing)
  def unary_- : DiffTruth = DiffTruth(-nFirst, -nSecond, -missingInFirst,
    -missingInSecond, -differing)
}

object DiffTruth {
  val zero: DiffTruth = DiffTruth(0, 0, 0, 0, 0)
  def of(s: Int): DiffTruth = DiffTruth(
    if (KeyState.inFirst(s)) 1 else 0, if (KeyState.inSecond(s)) 1 else 0,
    if (s == KeyState.OnlySecond) 1 else 0, if (s == KeyState.OnlyFirst) 1 else 0,
    if (KeyState.differing(s)) 1 else 0)
}

/** A lineitem-shaped table pair, keyed by (l_orderkey, l_linenumber), with a
  * `model` string column checked by the fuzzy comparator, and a seeded
  * sequence of days. Day 0 is the base pair; each later day changes
  * `changesPerDay` scattered keys (inserts, deletes, value edits, null
  * flips: every change moves a key to another [[KeyState]]). `rows` keys
  * exist on day 0; `reserve` more keys are free for inserts. */
final case class DiffGen(seed: Long, rows: Int, reserve: Int, changesPerDay: Int,
    files: Int = 4) {
  import KeyState._

  val universe: Int = rows + reserve

  // day-0 state shares: the rest of the keys are equal on both sides
  private val shares = Array(Near -> 0.006, Far -> 0.006, NullSecond -> 0.003,
    NullFirst -> 0.003, BothNull -> 0.002, OnlyFirst -> 0.005, OnlySecond -> 0.005)

  def baseState(i: Long): Int =
    if (i >= rows) Gone
    else {
      var u = Rand.unit(Rand.h(seed, i, 1))
      var s = Eq
      var k = 0
      while (s == Eq && k < shares.length) {
        u -= shares(k)._2
        if (u < 0) s = shares(k)._1
        k += 1
      }
      s
    }

  /** The keys day `day` (>= 1) changes and their new states, in order. */
  def changes(day: Int, before: Long => Int): Seq[(Long, Int)] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
    var k = 0L
    while (seen.size < changesPerDay) {
      val i = Rand.below(Rand.h(seed, 2, day, k), universe).toLong
      if (!seen.contains(i)) {
        val old = before(i)
        // any state but the current one, uniformly
        val next = (old + 1 + Rand.below(Rand.h(seed, 3, day, k), Count - 1)) % Count
        seen(i) = next
      }
      k += 1
    }
    seen.toSeq
  }

  /** Key states on each day, kept as overrides of the base states. */
  final class Days {
    private var overrides = Map.empty[Long, Int]
    private var truthNow = baseTruth
    private var dayNow = 0
    private var lastChanged = Seq.empty[Long]

    def day: Int = dayNow
    def state(i: Long): Int = overrides.getOrElse(i, baseState(i))
    def truth: DiffTruth = truthNow
    def current: Map[Long, Int] = overrides
    /** Keys changed by the latest advance (empty on day 0). */
    def changed: Seq[Long] = lastChanged

    def advance(): Unit = {
      val ch = changes(dayNow + 1, state)
      ch.foreach { case (i, s) =>
        truthNow = truthNow + (-DiffTruth.of(state(i))) + DiffTruth.of(s)
        overrides = overrides.updated(i, s)
      }
      lastChanged = ch.map(_._1)
      dayNow += 1
    }
  }

  lazy val baseTruth: DiffTruth = {
    var t = DiffTruth.zero
    var i = 0L
    while (i < universe) { t = t + DiffTruth.of(baseState(i)); i += 1 }
    t
  }

  def orderKey(i: Long): Long = (i / 4) * 32 + 1 + Rand.below(Rand.h(seed, 4, i / 4), 8)
  def lineNumber(i: Long): Int = (i % 4).toInt + 1
  /** The composite id the engine builds from (l_orderkey, l_linenumber). */
  def compositeId(i: Long): String = s"${orderKey(i)}_${lineNumber(i)}"

  private val upper = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
  private val lower = "abcdefghijklmnopqrstuvwxyz"

  private def word(i: Long, salt: Long, alphabet: String, len: Int): String = {
    val b = new StringBuilder(len)
    var k = 0
    while (k < len) {
      b += alphabet.charAt(Rand.below(Rand.h(seed, salt, i, k), alphabet.length))
      k += 1
    }
    b.toString
  }
  private def len(i: Long, salt: Long): Int = 8 + Rand.below(Rand.h(seed, salt, i), 7)

  /** First side's value: upper-case letters, digits and one '-'; 9-15 chars. */
  def value(i: Long): String = {
    val w = word(i, 5, upper, len(i, 6))
    w.substring(0, 3) + "-" + w.substring(3)
  }
  /** One appended character: difflib ratio 2L/(2L+1) >= 0.947 for L >= 9. */
  def nearValue(i: Long): String = value(i) + upper.charAt(Rand.below(Rand.h(seed, 7, i), upper.length))
  /** Lower-case letters only: no character in common with [[value]], ratio 0. */
  def farValue(i: Long): String = word(i, 8, lower, len(i, 9))

  def firstValue(i: Long, s: Int): String =
    if (s == NullFirst || s == BothNull) null else value(i)
  def secondValue(i: Long, s: Int): String = s match {
    case Near => nearValue(i)
    case Far => farValue(i)
    case NullSecond | BothNull => null
    case _ => value(i)
  }

  /** Write one day's pair as `<dir>/first` and `<dir>/second`, `files`
    * parquet files a side, rows in key-index order. */
  def writeDay(overrides: Map[Long, Int], dir: String): Unit =
    for ((side, present, model) <- Seq(
        ("first", KeyState.inFirst _, firstValue _),
        ("second", KeyState.inSecond _, secondValue _));
        part <- 0 until files) {
      val from = universe.toLong * part / files
      val to = universe.toLong * (part + 1) / files
      ParquetOut.write(f"$dir/$side/part-$part%05d.snappy.parquet", DiffGen.schema) { (g, put) =>
        var i = from
        while (i < to) {
          val s = overrides.getOrElse(i, baseState(i))
          if (present(s)) {
            val r = Rand.h(seed, 10, i)
            val row = g.newGroup()
              .append("l_orderkey", orderKey(i))
              .append("l_linenumber", lineNumber(i))
              .append("l_quantity", 1 + Rand.below(r, 50))
              .append("l_extendedprice", Rand.below(Rand.mix(r), 10000000) / 100.0)
              // days since 1970-01-01: 1992-01-02 plus up to 2400 days
              .append("l_shipdate", 8036 + Rand.below(Rand.h(seed, 11, i), 2400))
            val v = model(i, s)
            if (v != null) row.append("model", v)
            put(row)
          }
          i += 1
        }
      }
    }
}

object DiffGen {
  val schema: String = """message lineitem {
    required int64 l_orderkey; required int32 l_linenumber; required int32 l_quantity;
    required double l_extendedprice; required int32 l_shipdate (DATE);
    optional binary model (STRING); }"""

  /** About 100k rows a side; 24 changed keys a day touch about 9% of the
    * 256 report buckets, well under the 25% full-rebuild limit. */
  def standard(seed: Long): DiffGen =
    DiffGen(seed, rows = 100000, reserve = 4000, changesPerDay = 24)
}

/** Expected ledger values of one feed batch. */
final case class FeedTruth(rowsIn: Long, qualityKept: Long, novel: Long)

/** Batches of raw documents for the curated feed. Each batch of `batchSize`
  * documents mixes fresh documents, documents with an e-mail address in
  * them (PII), documents shorter than `minWords`, copies of fresh documents
  * of the same batch and exact copies of fresh documents of earlier
  * batches. Every fresh text opens with three words that spell its doc id,
  * so fresh texts are distinct by construction and the number of novel
  * documents per batch is known exactly. Words come from `vocab`. */
final case class FeedGen(seed: Long, batchSize: Int, minWords: Int, vocab: IndexedSeq[String]) {
  require(vocab.size >= 100, "the id-spelling words need a vocabulary of 100 or more")
  require(vocab.forall(_.matches("[a-z]+")), "vocabulary words must be lower-case letters")

  val nPii: Int = batchSize / 20
  val nShort: Int = batchSize / 10
  val nDupInBatch: Int = batchSize / 20
  val nCopyEarlier: Int = batchSize / 10
  def nFresh(batch: Long): Int =
    batchSize - nPii - nShort - nDupInBatch - (if (batch == 0) 0 else nCopyEarlier)

  def truth(batch: Long): FeedTruth =
    FeedTruth(batchSize, batchSize - nShort, nFresh(batch) + nPii)

  private def id(batch: Long, j: Int): Long = batch * batchSize + j

  private def freshText(docId: Long): String = {
    val v = vocab.size
    val n = minWords + 5 + Rand.below(Rand.h(seed, 20, docId), 100)
    val spelled = Seq(docId % v, (docId / v) % v, (docId / v / v) % v).map(k => vocab(k.toInt))
    (spelled ++ (0 until n).map(k => vocab(Rand.below(Rand.h(seed, 21, docId, k), v))))
      .mkString(" ")
  }

  /** Batch `b` as (doc_id, text) pairs. */
  def batch(b: Long): Seq[(Long, String)] = {
    val fresh = nFresh(b)
    val docs = Array.newBuilder[(Long, String)]
    var j = 0
    def add(text: String): Unit = { docs += id(b, j) -> text; j += 1 }
    (0 until fresh).foreach(_ => add(freshText(id(b, j))))
    (0 until nPii).foreach { k =>
      val user = vocab(Rand.below(Rand.h(seed, 22, b, k), vocab.size))
      add(s"${freshText(id(b, j))} write to $user.${vocab(k % vocab.size)}@example.org today")
    }
    (0 until nShort).foreach { k =>
      val n = 1 + Rand.below(Rand.h(seed, 23, b, k), minWords - 1)
      add((0 until n).map(w => vocab(Rand.below(Rand.h(seed, 24, id(b, j), w), vocab.size))).mkString(" "))
    }
    (0 until nDupInBatch).foreach { k =>
      add(freshText(id(b, Rand.below(Rand.h(seed, 25, b, k), fresh))))
    }
    if (b > 0) (0 until nCopyEarlier).foreach { k =>
      val from = Rand.below(Rand.h(seed, 26, b, k), b.toInt).toLong
      add(freshText(id(from, Rand.below(Rand.h(seed, 27, b, k), nFresh(from)))))
    }
    docs.result().toSeq
  }

  def writeBatch(b: Long, dir: String): Unit =
    ParquetOut.write(s"$dir/part-00000.snappy.parquet",
      "message doc { required int64 doc_id; required binary text (STRING); }") { (g, put) =>
      batch(b).foreach { case (i, t) => put(g.newGroup().append("doc_id", i).append("text", t)) }
    }
}

object FeedGen {
  /** The vocabulary: the words of the tokenizer fixture, each alone and
    * joined with every other, e.g. "table", "tablewindow". */
  def vocabulary(words: Seq[String]): IndexedSeq[String] = {
    val base = words.map(_.toLowerCase).filter(_.matches("[a-z]+")).distinct.sorted
    (base ++ (for (a <- base; b <- base if a != b) yield a + b)).toIndexedSeq
  }
}
