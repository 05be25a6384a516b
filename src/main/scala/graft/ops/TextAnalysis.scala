package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis operators for a training-data pipeline over a `documents`
  * table (`doc_id, text, lang, source, n_chars`).
  *
  * Everything except language-ID is a pure Catalyst expression — codegen'd,
  * no UDF in the hot path, so a 100 TB scan stays in whole-stage codegen
  * with the projection pushed to parquet.
  */
object TextAnalysis {

  /** Whitespace token count; empty/blank -> 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast(LongType))

  /** BPE-ish token estimate without a vocab: count word-ish units
    * (letter runs, digit runs, single punctuation), the shape a GPT-style
    * pre-tokenizer produces; a cheap, deterministic stand-in for real BPE. */
  def tokenEstimate(text: Column): Column =
    size(regexp_extract_all(text, lit("[\\p{L}]+|[\\p{N}]+|[^\\s\\p{L}\\p{N}]"), lit(0)))
      .cast(LongType)

  /** Character-class counts used by the quality score. */
  def digitCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[0-9]", ""))
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))

  private val stopwordsEn = Seq("the", "a", "an", "of", "to", "in", "and",
    "is", "it", "that", "for", "on", "with", "as", "was", "at", "by")

  /** Fraction of whitespace tokens that are English stopwords. */
  def stopwordRatio(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val stops = filter(toks, t => t.isInCollection(stopwordsEn))
    when(size(toks) > 0, size(stops).cast("double") / size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Heuristic document quality score in [0,1]: penalizes extreme length,
    * high punctuation/digit density, and missing stopwords — the standard
    * cheap pre-filter shape for LLM corpus curation (C4/Gopher-style rules,
    * expressed as one codegen'd column). */
  def qualityScore(text: Column): Column = {
    val n = length(text).cast("double")
    val toks = tokenCount(text).cast("double")
    val avgTokLen = when(toks > 0, n / toks).otherwise(lit(0.0))
    val lenScore = when(n >= 50 && n <= 20000, 1.0)
      .when(n > 0, 0.5).otherwise(0.0)
    val tokLenScore = when(avgTokLen >= 2.5 && avgTokLen <= 12.0, 1.0).otherwise(0.3)
    val punctScore = when(punctCount(text).cast("double") / greatest(n, lit(1.0)) < 0.2, 1.0)
      .otherwise(0.2)
    val digitScore = when(digitCount(text).cast("double") / greatest(n, lit(1.0)) < 0.3, 1.0)
      .otherwise(0.3)
    val stopScore = when(stopwordRatio(text) > 0.01, 1.0).otherwise(0.6)
    (lenScore * 0.3 + tokLenScore * 0.2 + punctScore * 0.2 +
      digitScore * 0.15 + stopScore * 0.15)
  }

  /** The published GOPHER quality rules (Rae et al. 2021, A1.1) as one
    * pure expression chain — the named rule set web-corpus pipelines
    * actually quote, complementing the blended [[qualityScore]]. Every
    * ratio test is cross-multiplied into INTEGER arithmetic (mean word
    * length in [3,10] becomes `3*n_words <= total_chars <= 10*n_words`),
    * so the verdicts are engine-exact — no float thresholds, and the
    * whole row stays in whole-stage codegen. Boundary convention: all
    * comparisons are inclusive on the passing side.
    *
    * Rules (one boolean column each, `pass` = conjunction):
    *  r_word_count        minWords <= n_words <= maxWords
    *  r_mean_word_len     3 <= mean word length <= 10
    *  r_symbol_ratio      EACH of '#' and '...' occurs <= n_words/10
    *                      (the paper applies 0.1 to either symbol
    *                      separately, not to their sum)
    *  r_bullet_lines      lines starting with a bullet <= 90% of lines
    *                      (the paper removes docs where MORE than 90%
    *                      of lines are bulleted)
    *  r_ellipsis_lines    lines ending with '...' <= 30% of lines
    *  r_alpha_words       words containing a letter >= 80% of words
    *  r_stopwords         >= 2 distinct of the 8 Gopher stopwords
    *
    * Output: (idCol, n_words, n_lines, r_* x7, pass). Scale: one scan,
    * zero shuffles, no UDF. */
  def gopherRules(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minWords: Long = 50,
      maxWords: Long = 100000): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val words = filter(split(t, "\\s+"), w => w =!= "")
    val nWords = size(words).cast("long")
    val totalChars = aggregate(words, lit(0L), (acc, w) => acc + length(w))
    val occurrences = (needle: String, needleLen: Int) =>
      ((length(t) - length(regexp_replace(t, java.util.regex.Pattern
        .quote(needle), ""))) / needleLen).cast("long")
    val hashes = occurrences("#", 1)
    val ellipses = occurrences("...", 3)
    val lines = filter(split(t, "\n"), l => trim(l) =!= "")
    val nLines = size(lines).cast("long")
    val bulletLines = size(filter(lines, l =>
      trim(l).startsWith("-") || trim(l).startsWith("*") ||
        trim(l).startsWith("•"))).cast("long")
    val ellipsisLines = size(filter(lines, l =>
      trim(l).endsWith("..."))).cast("long")
    val alphaWords = size(filter(words,
      w => w.rlike("[A-Za-z]"))).cast("long")
    val gopherStops = Seq("the", "be", "to", "of", "and",
      "that", "have", "with")
    val lowered = transform(words, w => lower(w))
    val stopHits = gopherStops.map(s =>
      when(array_contains(lowered, s), 1L).otherwise(0L)).reduce(_ + _)
    docs.select(
      col(idCol), nWords.as("n_words"), nLines.as("n_lines"),
      (nWords >= minWords && nWords <= maxWords).as("r_word_count"),
      (nWords > 0 && lit(3L) * nWords <= totalChars &&
        totalChars <= lit(10L) * nWords).as("r_mean_word_len"),
      (hashes * 10L <= nWords && ellipses * 10L <= nWords)
        .as("r_symbol_ratio"),
      (bulletLines * 10L <= nLines * 9L).as("r_bullet_lines"),
      (ellipsisLines * 10L <= nLines * 3L).as("r_ellipsis_lines"),
      (alphaWords * 5L >= nWords * 4L).as("r_alpha_words"),
      (stopHits >= 2L).as("r_stopwords"))
      .withColumn("pass",
        col("r_word_count") && col("r_mean_word_len") &&
          col("r_symbol_ratio") && col("r_bullet_lines") &&
          col("r_ellipsis_lines") && col("r_alpha_words") &&
          col("r_stopwords"))
  }

  /** Canonical text normalization for fingerprinting: lowercase, collapse
    * whitespace runs to single spaces, trim. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Exact document fingerprint: md5 of normalized text. */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** 64-bit rolling (polynomial / Karp–Rabin) hash over normalized text —
    * an order-sensitive fingerprint cheap to compute incrementally. */
  val rollingHash64 = udf { (s: String) =>
    if (s == null) null.asInstanceOf[java.lang.Long]
    else {
      var h = 1125899906842597L // prime seed
      var i = 0
      while (i < s.length) { h = 31 * h + s.charAt(i); i += 1 }
      java.lang.Long.valueOf(h)
    }
  }

  // --- repetition metrics (Gopher-style) ---------------------------------

  /** Gopher/MassiveText-style repetition quality signals per document
    * (Rae et al. 2021, table A1 — public knowledge), adapted to word
    * n-grams since this corpus has no line structure:
    *
    *  - `top{2,3,4}_ppm`: characters covered by all occurrences of the
    *    MOST frequent word n-gram, as ppm of total characters. Tie on
    *    count broken by lexicographically smallest n-gram so an external
    *    engine can replay it.
    *  - `dup{5,8,10}_ppm`: characters covered by occurrences of n-grams
    *    appearing more than once, ppm of total characters. Overlapping
    *    occurrences are counted per occurrence (may exceed 1e6 on highly
    *    repetitive text) — documented, deterministic.
    *
    * All arithmetic is integer (`1000000 * chars / totalChars`, floor
    * division), so a DuckDB oracle replays it exactly. A UDF by necessity
    * (per-row hash-map counting); once per document, single scan, no
    * shuffle — the same posture as [[langId]].
    */
  val repetitionMetrics = udf { (text: String) =>
    if (text == null || text.isEmpty) (0L, 0L, 0L, 0L, 0L, 0L)
    else {
      val toks = text.split(" ", -1)
      val total = text.length.toLong
      def counts(n: Int): scala.collection.mutable.HashMap[String, Long] = {
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        var i = 0
        while (i + n <= toks.length) {
          val g = toks.slice(i, i + n).mkString(" ")
          m.update(g, m.getOrElse(g, 0L) + 1L)
          i += 1
        }
        m
      }
      def topPpm(n: Int): Long = {
        val m = counts(n)
        if (m.isEmpty) 0L
        else {
          // max count, tie -> lexicographically smallest n-gram
          var bestG: String = null; var bestC = -1L
          for ((g, c) <- m)
            if (c > bestC || (c == bestC && (bestG == null || g < bestG))) {
              bestG = g; bestC = c
            }
          1000000L * bestC * bestG.length / total
        }
      }
      def dupPpm(n: Int): Long = {
        val m = counts(n)
        var chars = 0L
        for ((g, c) <- m) if (c >= 2L) chars += c * g.length
        1000000L * chars / total
      }
      (topPpm(2), topPpm(3), topPpm(4), dupPpm(5), dupPpm(8), dupPpm(10))
    }
  }

  /** Repetition frame: doc_id + the six ppm-scaled repetition signals. */
  def repetition(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    docs.select(col(idCol), repetitionMetrics(col(textCol)).as("r"))
      .select(col(idCol),
        col("r._1").as("top2_ppm"), col("r._2").as("top3_ppm"),
        col("r._3").as("top4_ppm"), col("r._4").as("dup5_ppm"),
        col("r._5").as("dup8_ppm"), col("r._6").as("dup10_ppm"))
  }

  // --- language identification -------------------------------------------

  /** Tiny per-language stopword profiles (top function words). Public
    * knowledge; enough for a character/stopword-frequency heuristic. */
  private val profiles: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "it", "that", "for", "was", "with", "on", "as", "are", "this"),
    "es" -> Set("el", "la", "de", "que", "y", "en", "los", "del", "se", "las", "por", "un", "una", "con", "para"),
    "de" -> Set("der", "die", "und", "das", "nicht", "von", "sie", "ist", "des", "sich", "mit", "dem", "ein", "eine", "zu"),
    "fr" -> Set("le", "la", "les", "de", "des", "et", "est", "un", "une", "du", "que", "pour", "dans", "qui", "sur"),
    "it" -> Set("il", "di", "che", "la", "e", "per", "un", "del", "con", "non", "una", "sono", "della", "le", "si"),
    "pt" -> Set("de", "que", "e", "do", "da", "em", "um", "para", "com", "uma", "os", "no", "na", "por", "mais"))

  /** Heuristic language ID: CJK/Cyrillic/Arabic script detection by
    * codepoint range first, then stopword-profile voting for Latin-script
    * languages; "und" when nothing matches. A UDF by necessity (per-token
    * set membership over several profiles); applied once per document, not
    * per comparison, so the cost is a single scan. */
  val langId = udf { (text: String) =>
    if (text == null || text.trim.isEmpty) "und"
    else {
      var cjk = 0; var cyr = 0; var ar = 0; var letters = 0
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        if (Character.isLetter(c)) {
          letters += 1
          val b = Character.UnicodeBlock.of(c)
          if (b == Character.UnicodeBlock.CJK_UNIFIED_IDEOGRAPHS ||
              b == Character.UnicodeBlock.HIRAGANA ||
              b == Character.UnicodeBlock.KATAKANA ||
              b == Character.UnicodeBlock.HANGUL_SYLLABLES) cjk += 1
          else if (b == Character.UnicodeBlock.CYRILLIC) cyr += 1
          else if (b == Character.UnicodeBlock.ARABIC) ar += 1
        }
        i += 1
      }
      if (letters > 0 && cjk.toDouble / letters > 0.3) "zh"
      else if (letters > 0 && cyr.toDouble / letters > 0.3) "ru"
      else if (letters > 0 && ar.toDouble / letters > 0.3) "ar"
      else {
        val toks = text.toLowerCase.split("\\s+")
        var best = "und"; var bestScore = 0
        // sorted iteration => deterministic alphabetical tie-break (Map
        // iteration order is unspecified; an oracle needs a total order)
        for ((lang, stops) <- profiles.toSeq.sortBy(_._1)) {
          var s = 0
          var j = 0
          while (j < toks.length) { if (stops.contains(toks(j))) s += 1; j += 1 }
          if (s > bestScore) { best = lang; bestScore = s }
        }
        best
      }
    }
  }

  // --- BM25 key terms ----------------------------------------------------

  /** Top-k characteristic terms per document by BM25 (Robertson/Spärck
    * Jones, public), with the log-free rational idf `(N - df + 0.5) /
    * (df + 0.5)` so every operation is IEEE +,-,*,/ (each correctly
    * rounded) — an external engine replaying the identical expression
    * tree reproduces the score bit-for-bit; no libm dependence.
    *
    * Shuffle budget at scale: one shuffle to aggregate `(doc, term)` term
    * frequencies (map-side partial), one repartition by `doc` that BOTH
    * windows (doc length, rank) reuse, and a broadcast of the term
    * dictionary (vocabulary ≪ corpus) plus a 1-row corpus-stats
    * broadcast — beyond the tiny df aggregate itself, the corpus is never
    * shuffled on `term`.
    */
  def bm25KeyTerms(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ", -1)).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfTab = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val corpus = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(toks.agg(count(lit(1)).as("total_len")))
    val byDoc = Window.partitionBy("doc_id")
    val D = "double"
    val scored = tf
      .join(broadcast(dfTab), Seq("term"))
      .crossJoin(broadcast(corpus))
      .withColumn("dl", sum("tf").over(byDoc))
    val tfD = col("tf").cast(D); val dfD = col("df").cast(D)
    val dlD = col("dl").cast(D); val nD = col("n_docs").cast(D)
    val tlD = col("total_len").cast(D)
    val idf = ((nD - dfD) + lit(0.5)) / (dfD + lit(0.5))
    val avgdl = tlD / nD
    val denom = tfD + lit(1.2) * (lit(0.25) + lit(0.75) * (dlD / avgdl))
    val score = idf * ((tfD * lit(2.2)) / denom)
    scored
      .withColumn("score_ppm", floor(score * lit(1000000.0)).cast(LongType))
      .withColumn("rank", row_number().over(
        byDoc.orderBy(col("score_ppm").desc, col("term").asc)))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank").cast(LongType).as("rank"),
        col("term"), col("tf"), col("df"), col("score_ppm"))
  }

  /** Corpus-frequency familiarity score — a log-free perplexity proxy:
    * for each document, the token count and the integer SUM of corpus-wide
    * occurrence counts over its token occurrences. Documents dominated by
    * rare/garbage tokens score a low `freq_sum / n_tokens`; emitting the
    * raw integer pair (not the ratio) keeps the output exactly replayable
    * by any engine.
    *
    * Scale: one vocabulary-sized term aggregate, broadcast back onto the
    * token stream (vocabulary ≪ corpus), then one doc-keyed aggregation.
    * The corpus text is never shuffled on term. When the long tail would
    * outgrow the broadcast budget, pass `topK`: the dictionary keeps only
    * the K most frequent terms (map-side TakeOrdered, never a global
    * sort) and every tail term defaults to count 1 — its true count is
    * ~1 anyway, so the score is near-exact while the broadcast stays
    * bounded at K entries regardless of corpus size. `topK = None`
    * (default) is exact. */
  def corpusFreqScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", topK: Option[Int] = None): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ", -1)).as("term"))
    val allCounts = toks.groupBy("term").agg(count(lit(1)).as("c"))
    val termCounts = topK.fold(allCounts)(k =>
      allCounts.orderBy(col("c").desc, col("term").asc).limit(k))
    // left + coalesce(c, 1): identical to the inner join when the
    // dictionary is complete (every token is its own dictionary entry),
    // and the documented tail default when it is topK-truncated
    toks.join(broadcast(termCounts), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("c"), lit(1L))).as("freq_sum"))
  }

  /** Hashing-trick linear classifier INFERENCE (the fastText /
    * Vowpal-Wabbit scoring shape used for model-based quality filtering):
    * each token indexes a weight via fnv1a(token) mod `dim` (signed
    * floor-mod, collisions folded by design — that IS the hashing trick),
    * and the document's logit is the integer sum of its token weights
    * plus `intercept`. Weights are integer (fixed-point: scale trained
    * float weights by 2^k before loading) so the score is exactly
    * replayable by any engine. Output: (id, n_tokens, logit,
    * label 0/1 = logit >= 0).
    *
    * Scale: the weight table is a plain broadcast array (`dim` * 8 B —
    * 512 KiB at 2^16, 128 MiB at 2^24; pick dim for the executor budget,
    * collisions degrade gracefully), and scoring is a narrow per-row
    * kernel: zero shuffles, zero joins, the corpus is scanned once. This
    * is deliberately inference-only — training happens offline; the
    * pipeline needs the scoring pass to run at corpus scale. */
  def applyLinearModel(docs: DataFrame, idCol: String, textCol: String,
      weights: Array[Long], intercept: Long = 0L): DataFrame = {
    val dim = weights.length
    require(dim > 0, "need a non-empty weight table")
    val bc = docs.sparkSession.sparkContext.broadcast(weights)
    val scoreUdf = udf { (text: String) =>
      if (text == null) (0L, intercept)
      else {
        val toks = text.split(" ", -1)
        val w = bc.value
        var s = intercept
        var i = 0
        while (i < toks.length) {
          s += w(java.lang.Math.floorMod(Dedup.fnv1a(toks(i)), dim.toLong).toInt)
          i += 1
        }
        (toks.length.toLong, s)
      }
    }
    docs.select(col(idCol).as("id"), scoreUdf(normalized(col(textCol))).as("__s"))
      .select(col("id"), col("__s._1").as("n_tokens"), col("__s._2").as("logit"),
        when(col("__s._2") >= 0, 1L).otherwise(0L).as("label"))
  }

  /** Bigram language-model surprisal — the corpus-LM quality-scoring
    * shape of CCNet (Wenzek et al. 2019, "CCNet: Extracting high quality
    * monolingual datasets from web crawl data", which scores with a KenLM
    * n-gram model): train bigram counts on the corpus itself, then score
    * every document by its average per-token surprisal under the add-one-
    * smoothed model p(w2|w1) = (c(w1,w2)+1) / (c(w1)+V).
    *
    * Engine-exactness: instead of floating log-probs (libm `ln` differs
    * in the last ulp across engines — unhashable), surprisal is measured
    * in WHOLE BITS via integer bit-length: bits = bitlen(den) -
    * bitlen(num), i.e. log2(1/p) at 1-bit granularity (within ±1 bit of
    * the real value; the [[Quantile]] sketch takes the same
    * exactness-over-resolution trade). Every quantity is a BIGINT;
    * `avg_mbits` is the floor of 1000*sum/n (non-negative, so floor ==
    * truncate on every engine). A production deployment would swap in a
    * real KenLM — this is the exact-replay stand-in with the same plan
    * shape. Output: (idCol, n_bigrams, sum_bits, avg_mbits); documents
    * with fewer than two tokens score (0, 0, 0).
    *
    * Scale: the bigram/context count tables aggregate map-side (a
    * boilerplate bigram repeated 10^8 times ships one partial per task);
    * scoring joins are KEYED on the bigram/context (the per-(doc,bigram)
    * pre-aggregation bounds the fan-in; AQE handles Zipf-head skew); the
    * vocabulary size is a one-row broadcast; the final per-doc aggregate
    * carries two longs of state. Nothing corpus-sized on the driver. */
  def ngramLmSurprisal(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", model: Option[DataFrame] = None): DataFrame = {
    def tokenize(df: DataFrame) = df.select(col(idCol).as("__id"),
      split(coalesce(normalized(col(textCol)), lit("")), " ", -1).as("__toks"))
    def bigrams(tk: DataFrame) = tk.filter(size(col("__toks")) >= 2)
      .select(col("__id"), explode(expr(
        "transform(sequence(0, size(__toks)-2), " +
          "i -> struct(__toks[i] AS w1, __toks[i+1] AS w2))")).as("__bg"))
      .select(col("__id"), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
    val base = tokenize(docs)
    val bg = bigrams(base)
    // counts come from the MODEL corpus (default: the scored corpus
    // itself); a scored bigram/context unseen in the model backs off to
    // count 0, i.e. p = 1/(0+V) — the add-one floor
    val mBase = model.map(tokenize).getOrElse(base)
    val mBg = model.map(_ => bigrams(mBase)).getOrElse(bg)
    val perDoc = bg.groupBy("__id", "w1", "w2").agg(count(lit(1)).as("occ"))
    val bgc = mBg.groupBy("w1", "w2").agg(count(lit(1)).as("cbg"))
    val ctx = mBg.groupBy("w1").agg(count(lit(1)).as("cctx"))
    val vocab = mBase.select(explode(col("__toks")).as("t"))
      .agg(count_distinct(col("t")).as("v"))
    def bitlen(c: Column): Column = length(bin(c)).cast(LongType)
    val scored = perDoc
      .join(bgc, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("__bits",
        bitlen(coalesce(col("cctx"), lit(0L)) + col("v")) -
          bitlen(coalesce(col("cbg"), lit(0L)) + lit(1L)))
      .groupBy("__id")
      .agg(sum(col("occ")).as("n_bigrams"),
        sum(col("occ") * col("__bits")).as("sum_bits"))
    base.select("__id").join(scored, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0,
          expr("(1000 * sum_bits) div n_bigrams")).otherwise(lit(0L))
          .as("avg_mbits"))
  }

  /** DSIR-shaped importance score (Xie et al. 2023, "Data selection for
    * language models via importance resampling", which weighs raw
    * documents by log p_target(x) - log p_raw(x) under hashed n-gram
    * models): here the whole-bit analog score = raw-model surprisal
    * minus target-model surprisal, in milli-bits per bigram — positive
    * means the document reads more like `target` than like the raw
    * corpus at large, so ranking by it descending IS the importance
    * ranking. Same engine-exactness contract as [[ngramLmSurprisal]]
    * (both models integer, the difference integer). Output: (idCol,
    * n_bigrams, self_mbits, target_mbits, delta_mbits).
    *
    * Scale: the scored corpus is tokenized and bigram-counted ONCE; both
    * models' (vocabulary-sized) count tables join onto that single
    * per-doc frame and one aggregation emits both surprisal sums side by
    * side — the two-[[ngramLmSurprisal]]-passes formulation this
    * replaces paid the corpus-sized per-doc grouping twice for the same
    * answer (measured ~2x on the t_dsir bench query). Everything keyed
    * or broadcast, nothing corpus-sized on the driver; bit-identical to
    * the two-pass form for UNIQUE `idCol` values (pinned in spec,
    * duplicate-id case included). On a duplicated id the two forms
    * legitimately diverge: the old inner self-join emitted n^2 rows per
    * doc_id where this emits n — one score row per input row, the
    * duplicates' bigram stats merged into their shared id's score,
    * arguably the behavior a scorer should have had all along. */
  def importanceScore(docs: DataFrame, target: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def tokenize(df: DataFrame) = df.select(col(idCol).as("__id"),
      split(coalesce(normalized(col(textCol)), lit("")), " ", -1).as("__toks"))
    def bigrams(tk: DataFrame) = tk.filter(size(col("__toks")) >= 2)
      .select(col("__id"), explode(expr(
        "transform(sequence(0, size(__toks)-2), " +
          "i -> struct(__toks[i] AS w1, __toks[i+1] AS w2))")).as("__bg"))
      .select(col("__id"), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
    def model(tk: DataFrame, tag: String) = {
      val bg = bigrams(tk)
      (bg.groupBy("w1", "w2").agg(count(lit(1)).as(s"cbg_$tag")),
        bg.groupBy("w1").agg(count(lit(1)).as(s"cctx_$tag")),
        tk.select(explode(col("__toks")).as("t"))
          .agg(count_distinct(col("t")).as(s"v_$tag")))
    }
    val base = tokenize(docs)
    val perDoc = bigrams(base).groupBy("__id", "w1", "w2")
      .agg(count(lit(1)).as("occ"))
    val (bgS, ctxS, vS) = model(base, "s")
    val (bgT, ctxT, vT) = model(tokenize(target), "t")
    def bitlen(c: Column): Column = length(bin(c)).cast(LongType)
    def bits(tag: String) =
      bitlen(coalesce(col(s"cctx_$tag"), lit(0L)) + col(s"v_$tag")) -
        bitlen(coalesce(col(s"cbg_$tag"), lit(0L)) + lit(1L))
    val scored = perDoc
      .join(bgS, Seq("w1", "w2"), "left")
      .join(ctxS, Seq("w1"), "left")
      .join(bgT, Seq("w1", "w2"), "left")
      .join(ctxT, Seq("w1"), "left")
      .crossJoin(broadcast(vS)).crossJoin(broadcast(vT))
      .groupBy("__id")
      .agg(sum(col("occ")).as("n_bigrams"),
        sum(col("occ") * bits("s")).as("sum_s"),
        sum(col("occ") * bits("t")).as("sum_t"))
    def avg(sumCol: String) =
      when(coalesce(col("n_bigrams"), lit(0L)) > 0,
        expr(s"(1000 * $sumCol) div n_bigrams")).otherwise(lit(0L))
    base.select("__id").join(scored, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        avg("sum_s").as("self_mbits"),
        avg("sum_t").as("target_mbits"),
        (avg("sum_s") - avg("sum_t")).as("delta_mbits"))
  }

  /** Corpus-wide collocation mining by association lift — the log-free
    * form of pointwise mutual information (PMI, Church & Hanks 1990):
    * lift(x,y) = c(xy)·N / (c(x)·c(y)) with N the corpus token count,
    * bigram counts over adjacent normalized tokens. PMI = log2(lift) is
    * monotone in lift, so ranking by the exact rational lift IS the PMI
    * ranking — no logarithm, no libm, no doubles. `lift_ppm` is the
    * integer floor of lift·10^6, evaluated in DECIMAL(38,0):
    * c(xy)·N·10^6 stays under 10^38 through N = 10^15 tokens (BIGINT
    * would overflow at ~10^12). Bigrams below `minCount` are noise
    * (a 1-occurrence pair of two rare tokens has huge lift) and are
    * dropped, the standard PMI cutoff.
    *
    * Scale: bigram and unigram counts both combine map-side; the
    * unigram table (vocabulary-sized ≪ corpus) broadcasts onto the
    * bigram counts twice; N is a 1-row broadcast; the global top-k is
    * a TakeOrdered, never a single-partition sort. */
  def collocations(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minCount: Long = 5, topK: Int = 50)
      : DataFrame = {
    val toks = docs.select(
      split(coalesce(normalized(col(textCol)), lit("")), " ", -1).as("__toks"))
    val uni = toks.select(explode(col("__toks")).as("w"))
      .filter(col("w") =!= "")
    val n = uni.agg(count(lit(1)).as("n_toks"))
    val uc = uni.groupBy("w").agg(count(lit(1)).as("cw"))
    val bg = toks.filter(size(col("__toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(__toks)-2), " +
          "i -> struct(__toks[i] AS w1, __toks[i+1] AS w2))")).as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
    bg
      .join(broadcast(uc.withColumnRenamed("w", "w1")
        .withColumnRenamed("cw", "cx")), Seq("w1"))
      .join(broadcast(uc.withColumnRenamed("w", "w2")
        .withColumnRenamed("cw", "cy")), Seq("w2"))
      .crossJoin(broadcast(n))
      .withColumn("lift_ppm", expr(
        "CAST((CAST(cxy AS DECIMAL(38,0)) * n_toks * 1000000)" +
          " div (CAST(cx AS DECIMAL(38,0)) * cy) AS BIGINT)"))
      .select(col("w1"), col("w2"), col("cxy"), col("cx"), col("cy"),
        col("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Corpus distribution-drift report — the crawl-monitoring shape: for
    * every slice (a source, a snapshot, a date partition) measure how far
    * its token distribution sits from the corpus-wide distribution by
    * total-variation distance, TV(P_s, Q) = ½·Σ_t |p_s(t) − q(t)| — the
    * statistic a pipeline alarms on when a new crawl snapshot drifts
    * (TVD rather than KL because it is an exact RATIONAL in the counts:
    * no logarithm, no libm, so any engine replays it bit-for-bit, the
    * same trade [[collocations]] makes for PMI).
    *
    * Per-term deviation d_{s,t} = n_{s,t}·N − N_s·n_t (all BIGINT counts,
    * combined in DECIMAL(38,0)); terms ABSENT from the slice contribute
    * Σ_{t∉s} N_s·n_t = N_s·(N − Σ_{t∈s} n_t) in closed form, so the join
    * only ever touches (slice, term) pairs that exist. `tvd_ppm` =
    * ⌊10^6·Σ|d| / (2·N_s·N)⌋ ∈ [0, 10^6]; `top_term` is the argmax-|d|
    * term AMONG TERMS PRESENT IN THE SLICE (ties broken by term
    * ascending) with its own deviation |d|·10^6/(N_s·N) as
    * `top_term_dev_ppm` — the "what drifted" answer next to the "how
    * much". A term fully ABSENT from the slice counts toward `tvd_ppm`
    * (the closed form above) but is never nominated as `top_term`:
    * nominating absent terms exactly would materialize the
    * slices×vocabulary grid the closed form exists to avoid, and an
    * under-represented-but-present term already surfaces. For bounded
    * vocabularies pass `topOverUnion = true` to nominate over the UNION
    * via the explicit grid — tvd_ppm is unchanged, and the semantics
    * match the streaming twin `StreamingOps.streamingDrift`, whose
    * reference vocabulary is a small static map where the grid is free. Overflow: n_{s,t}·N·10^6 ≤ 10^36 < 10^38
    * through N = 10^15 corpus tokens, the same domain bound as
    * [[collocations]]; every division is last and non-negative, so floor
    * == truncate on every engine.
    *
    * Scale: ONE corpus scan produces the (slice, term) counts with
    * map-side combine; everything downstream is vocabulary×slices-sized
    * — the term join is keyed (AQE absorbs the Zipf head), the slice
    * totals broadcast, and the final reduce carries three numbers per
    * slice. Nothing corpus-sized moves twice and nothing reaches the
    * driver. Tokenization is the raw-space split of [[corpusFreqScore]]
    * (empty text → one empty-string token), documented so the slice
    * distributions are comparable run-over-run. */
  def corpusDrift(docs: DataFrame, sliceCol: String = "source",
      textCol: String = "text", topOverUnion: Boolean = false): DataFrame = {
    // the explicit isnotnull pair keeps ALL FOUR consumers of the
    // (slice, term) count frame canonically identical: the joins below
    // would otherwise infer isnotnull on different columns per branch
    // (term for ct, slice for ns, both for dev, neither for nc), and
    // four different inferred filter sets = four distinct canonical
    // subtrees = the corpus scanned four times instead of once with
    // three ReusedExchanges (null-slice docs are dropped — a slice key
    // is required; explode never emits a null term)
    val st = docs
      .filter(col(sliceCol).isNotNull)
      .select(col(sliceCol).as("slice"),
        explode(split(col(textCol), " ", -1)).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("slice", "term").agg(count(lit(1)).as("nst"))
    val ct = st.groupBy("term").agg(sum(col("nst")).as("nct"))
    val ns = st.groupBy("slice").agg(sum(col("nst")).as("nsz"))
    val nc = ct.agg(sum(col("nct")).as("ncz"))
    val dec = "DECIMAL(38,0)"
    val dev = st.join(ct, Seq("term"))
      .join(broadcast(ns), Seq("slice"))
      .crossJoin(broadcast(nc))
      .withColumn("absd", expr(
        s"abs(CAST(nst AS $dec) * ncz - CAST(nsz AS $dec) * nct)"))
    if (topOverUnion) {
      // bounded-vocab variant, symmetric with StreamingOps.streamingDrift:
      // nominate top_term over the UNION of slice and corpus
      // vocabularies by materializing the slicesxvocab grid — tvd_ppm is
      // IDENTICAL to the closed-form base path (spec-pinned); only the
      // nomination universe changes (an absent term deviates by nsz*nct
      // and may out-deviate every present term). The grid is
      // slicesxvocab rows — exactly the size the base path exists to
      // avoid, so this stays opt-in for corpora whose vocabulary fits
      // the streaming twin's own regime (the slice totals still
      // broadcast; the grid join is keyed).
      val grid = ct.crossJoin(broadcast(ns)).crossJoin(broadcast(nc))
      val devU = grid.join(st, Seq("slice", "term"), "left_outer")
        .withColumn("nst0", coalesce(col("nst"), lit(0L)))
        .withColumn("absd", expr(
          s"abs(CAST(nst0 AS $dec) * ncz - CAST(nsz AS $dec) * nct)"))
      return devU
        .groupBy("slice")
        .agg(
          first(col("nsz")).as("nsz"), first(col("ncz")).as("ncz"),
          sum(col("absd")).as("sum_abs"),
          min(struct((col("absd") * -1).as("k"), col("term"))).as("top"))
        .select(
          col("slice").as(sliceCol),
          col("nsz").as("n_tokens"),
          expr(s"CAST((sum_abs * 1000000) div (2 * CAST(nsz AS $dec) * ncz) AS BIGINT)")
            .as("tvd_ppm"),
          col("top.term").as("top_term"),
          expr(s"CAST((top.k * -1000000) div (CAST(nsz AS $dec) * ncz) AS BIGINT)")
            .as("top_term_dev_ppm"))
    }
    dev
      .groupBy("slice")
      .agg(
        first(col("nsz")).as("nsz"), first(col("ncz")).as("ncz"),
        sum(col("absd")).as("present_abs"),
        sum(col("nct")).as("present_ct"),
        // argmax-|d| term, ties by term ASC: lexicographic max over
        // (absd, negated term) has no tuple form for strings, so take
        // the min over (-absd, term) instead — same argmax, ASC ties
        min(struct((col("absd") * -1).as("k"), col("term"))).as("top"))
      .withColumn("sum_abs", expr(
        s"present_abs + CAST(nsz AS $dec) * (ncz - present_ct)"))
      .select(
        col("slice").as(sliceCol),
        col("nsz").as("n_tokens"),
        expr(s"CAST((sum_abs * 1000000) div (2 * CAST(nsz AS $dec) * ncz) AS BIGINT)")
          .as("tvd_ppm"),
        col("top.term").as("top_term"),
        expr(s"CAST((top.k * -1000000) div (CAST(nsz AS $dec) * ncz) AS BIGINT)")
          .as("top_term_dev_ppm"))
  }

  /** Full per-document stats frame (expression-only columns). */
  def stats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol),
      length(t).cast(LongType).as("n_chars"),
      tokenCount(t).as("n_tokens"),
      digitCount(t).cast(LongType).as("n_digits"),
      punctCount(t).cast(LongType).as("n_punct"),
      fingerprint(t).as("fingerprint"))
  }

  /** Per-document vocabulary coverage: how much of each document falls
    * OUTSIDE the corpus's own top-`vocabSize` terms — the out-of-
    * vocabulary rate a tokenizer/vocab decision is judged by before
    * training starts. Output: (id, n_tokens, n_oov, oov_ppm) with
    * oov_ppm an exact integer floor(n_oov * 1e6 / n_tokens).
    *
    * Two passes, both honest at 100 TB: the vocab build is a map-side-
    * combinable term count whose result is top-K (metadata-sized, ties
    * broken by term so the vocabulary is deterministic), and the
    * coverage pass joins tokens against that vocabulary via BROADCAST —
    * no data-sized shuffle anywhere; the per-doc rollup rides the
    * token explode's partitioning with partial aggregation.
    * Tokenization: lower(text) on `[^a-z0-9]+`, empties dropped (the
    * [[graft.ops.Tokenize]] contract, shared with the DuckDB oracle). */
  def vocabCoverage(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", vocabSize: Int = 20): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    def toks(df: DataFrame) = df
      .select(col(idCol),
        explode(split(lower(col(textCol)), "[^a-z0-9]+")).as("term"))
      .filter(col("term") =!= "")
    val vocab = toks(docs)
      .groupBy("term").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("term")).limit(vocabSize)
      .select(col("term"), lit(1).as("__in_vocab"))
    toks(docs)
      .join(broadcast(vocab), Seq("term"), "left_outer")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm", expr("n_oov * 1000000L DIV n_tokens"))
  }
}
