package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{cosineSimilarity, dotProduct, intCosRankKeyFused, intCosineGteFused, intSqDistFused, l2Norm, q24Vec}
import graft.state.StateStore

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k — the query set is broadcast
  *    (small side), the corpus is scanned once; the dot product is a pure
  *    `zip_with`/`aggregate` expression (codegen, no UDF). At 100 TB the
  *    corpus scan is embarrassingly parallel and never shuffles; only the
  *    per-query top-k aggregation shuffles k rows per partition.
  *  - [[lshTopK]]: random-hyperplane LSH — corpus bucketed by a 16-bit
  *    signature; a query probes only its own bucket (and optionally
  *    Hamming-1 neighbors). Sub-linear scan at the cost of recall.
  *
  * == The integer distance discipline ==
  *
  * Every TRAINED model here (k-means centroids, IVF cells, PQ codebooks
  * and codes) and every assignment/argmin that feeds one is computed in
  * exact integer arithmetic on 2^24-quantized components
  * ([[graft.functions.q24Vec]]): quantize each float component FIRST
  * (one IEEE multiply+add+floor per value — exact in any engine), then
  * take squared-L2 distances as BIGINT sums of products. A double fold
  * (`list_dot_product`-style) is NOT a cross-engine-version invariant —
  * a 1-ulp association difference at a near-tie flips an argmin and
  * cascades through a Lloyd fit — whereas integer sums are associative
  * and exact everywhere. Full-precision cosine survives only in DISPLAY
  * or final-ranking columns over raw vectors, whose distance-to-boundary
  * is measured per round (ORACLES.md Class 2b). Embeddings are unit-norm
  * here, so L2 argmin == cosine argmax geometry; the integer form is the
  * contract, not an approximation of one.
  */
object Similarity {

  /** Single-definition 2^24 quantizer: `floor(x*2^24 + 0.5)` ("round half
    * toward +infinity") has exactly one meaning in every SQL engine and
    * engine version, unlike `round()`, whose behavior on an argument that
    * lands exactly on .5 differs across engines (half-away vs half-even on
    * doubles). Using the floor form on BOTH the Spark fit and the external
    * oracle removes the only engine-sensitive operation from the trained
    * model, keeping it bit-for-bit replayable anywhere. */
  private[graft] def q24(c: Column): Column =
    floor(c.cast("double") * lit(16777216.0) + lit(0.5)).cast("long")

  /** Engine-exact descending-cosine rank key — the Class 2b standby
    * promoted to the default ranking for every top-k here: the BIGINT
    * [[graft.functions.intCosRankKey]] over q24 components is monotone
    * in cosine at 1e-12 cos^2 resolution and computed in exact integer
    * arithmetic, so a 1-ulp double-fold association difference can never
    * reorder a near-tie across engine versions. The double `cosine`
    * column survives as DISPLAY ONLY (ppm-floored with measured margins,
    * ORACLES.md Class 2b); candidates inside the 1e-12 key resolution
    * tie-break by corpus id — deterministically, identically everywhere.
    *
    * Evaluated per candidate PAIR, so the kernel shape is the whole
    * cost: the fused expression ([[graft.functions.intCosRankKeyFused]])
    * quantizes, dots and norms in ONE codegen loop and long-divides in a
    * single 128-bit tail — bit-identical (property-spec'd) to the
    * three-limb decimal form, without its interpreted lambdas and
    * duplicated subtrees re-evaluating the 64-element fold 10-20x. */
  private def cosKey(qv: Column, cv: Column): Column =
    intCosRankKeyFused(qv, cv)

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * +-1 from splitmix64 — no RNG state, identical on every executor. */
  private def planeSign(plane: Int, dim: Int): Double = {
    var x = plane.toLong * 1000003L + dim.toLong + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^= (x >>> 31)
    if ((x & 1L) == 0L) 1.0 else -1.0
  }

  /** 16-bit random-hyperplane signature of a vector. */
  private[graft] def hyperplaneSig(v: Seq[Float], bits: Int): Int = {
    var sig = 0
    var p = 0
    while (p < bits) {
      var dot = 0.0
      var i = 0
      while (i < v.length) { dot += v(i) * planeSign(p, i); i += 1 }
      if (dot >= 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  def hyperplaneSigUdf(bits: Int) = udf { (v: Seq[Float]) =>
    if (v == null) 0 else hyperplaneSig(v, bits)
  }

  /** The +-1 projection matrix entry for (output dim j, input dim i) —
    * shared by [[randomProjection]] and its oracle generator so both
    * engines inline the SAME constants. */
  private[graft] def projSign(j: Int, i: Int): Long =
    if (planeSign(j, i) > 0) 1L else -1L

  /** Signed random projection — Johnson–Lindenstrauss dimensionality
    * reduction with a deterministic +-1 matrix (the database-friendly JL
    * variant of Achlioptas 2003, "Database-friendly random projections";
    * the sign-preservation analysis is Charikar 2002's SimHash): each
    * output coordinate p_j = sum_i sign(j,i) * q24(v_i). Distances and
    * angles survive within JL distortion at outDim ~ O(log n / eps^2),
    * so downstream ANN/clustering can run on `outDim` longs instead of
    * `dim` floats — the compress-before-index step of an embedding
    * pipeline.
    *
    * Engine-exactness: components are q24-quantized FIRST (one IEEE
    * multiply+add+floor each — fold-free), then everything is +-1 BIGINT
    * sums whose order cannot matter; the matrix is splitmix64-derived at
    * PLAN time and passed to the expression on both engines. Scale: a
    * pure projection — zero shuffles, no UDF, ONE fused two-loop codegen
    * expression ([[graft.functions.SignedProjection]]) whose generated
    * Java is constant-size in (dim, outDim): the earlier unrolled
    * outDim x dim column-term form compiled ~4 s of janino at 16x64 and
    * would pass the 64KB method limit at real embedding widths. */
  def randomProjection(corpus: DataFrame, dim: Int, outDim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim >= 1 && outDim >= 1)
    val signs = IndexedSeq.tabulate(outDim * dim)(k => projSign(k / dim, k % dim))
    val proj = graft.functions.exprColumn(graft.functions.SignedProjection(
      graft.functions.columnExpr(col(vecCol)), dim, outDim, signs))
    // two selects: the array materializes once, the p_j extraction is a
    // cheap per-element read (CollapseProject never inlines a non-cheap
    // multi-referenced producer, pinned in Round10OpsSpec)
    corpus.select(col(idCol), proj.as("__p"))
      .select(col(idCol) +: (0 until outDim).map(j =>
        element_at(col("__p"), j + 1).as(s"p$j")): _*)
  }

  /** The projection as ANSI SQL select-expressions over a BIGINT-list
    * column `qv` (same constants, same arithmetic — for oracle replay). */
  def randomProjectionSql(dim: Int, outDim: Int, qv: String): Seq[String] =
    (0 until outDim).map { j =>
      val terms = (0 until dim).map { i =>
        (projSign(j, i) > 0, s"($qv)[${i + 1}]")
      }
      val head = if (terms.head._1) terms.head._2 else s"(0 - ${terms.head._2})"
      val rest = terms.tail.map { case (pos, t) =>
        (if (pos) " + " else " - ") + t
      }.mkString
      s"($head$rest) AS p$j"
    }

  /** Exact cosine top-k of each query vector against the corpus.
    * `queries` must be small (it is broadcast); self-matches (same id)
    * are excluded. Ties broken by corpus id for determinism. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", cosineSimilarity(col("qvec"), col("cvec")))
      .withColumn("cos_key", cosKey(col("qvec"), col("cvec")))
    val w = Window.partitionBy("query_id").orderBy(desc("cos_key"), col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }

  /** Signatures for `tables` independent hash tables (plane indices offset
    * per table), as an array column; exploded into (table, bucket) keys. */
  private def multiSigUdf(bits: Int, tables: Int) = udf { (v: Seq[Float]) =>
    if (v == null) Array.fill(tables)(0)
    else Array.tabulate(tables) { t =>
      var sig = 0
      var p = 0
      while (p < bits) {
        var dot = 0.0
        var i = 0
        while (i < v.length) { dot += v(i) * planeSign(t * bits + p, i); i += 1 }
        if (dot >= 0) sig |= (1 << p)
        p += 1
      }
      sig
    }
  }

  /** LSH-bucketed approximate top-k with `tables` independent hash tables:
    * a candidate is scored if it shares a bucket with the query in ANY
    * table (the standard recall amplifier — P(miss) decays exponentially
    * in the table count). The join is an equi-join on (table, bucket);
    * candidates deduped before scoring, so each pair is scored once. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int = 8,
      tables: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val sig = multiSigUdf(bits, tables)
    def keyed(df: DataFrame, id: String, vec: String) =
      df.select(col(idCol).as(id), col(vecCol).as(vec),
          posexplode(sig(col(vecCol))))
        .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")
    val c = keyed(corpus, "corpus_id", "cvec")
    val q = keyed(queries, "query_id", "qvec")
    val candidates = q.join(c, Seq("table", "bucket"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select("query_id", "qvec", "corpus_id", "cvec")
      .dropDuplicates("query_id", "corpus_id")
    val scored = candidates
      .withColumn("cosine", cosineSimilarity(col("qvec"), col("cvec")))
      .withColumn("cos_key", cosKey(col("qvec"), col("cvec")))
    val w = Window.partitionBy("query_id").orderBy(desc("cos_key"), col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }

  /** Round-half-up integer mean of the quantized component sums, staying
    * on the q24 grid: `floor(ssum/n + 1/2) = floor((2*ssum+n)/(2n))`,
    * computed as exact BIGINT arithmetic — subtracting the positive
    * remainder first makes the numerator an exact multiple of `2n`, so
    * the division is exact under ANY engine's integral-divide semantics
    * (floor vs truncate agree on exact quotients). Budget: |2*ssum+n| <=
    * n*2^26, inside BIGINT for any cluster size below 2^37 rows. */
  private def qMean(ssum: Column, n: Column): Column = {
    val num = ssum * 2 + n
    val den = n * 2
    // `div` (IntegralDivide), not `/`: Column `/` on longs is DOUBLE
    // division, which silently loses exactness past 2^53 — the integral
    // form stays exact for any cluster size the BIGINT sums admit
    graft.functions.exprColumn(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        graft.functions.columnExpr(num - pmod(num, den)),
        graft.functions.columnExpr(den)))
  }

  /** (cent_id, pos, ssum, n) integer stats -> (cent_id, qcvec
    * `array<long>`): the trained centroid ON the q24 grid — the form the
    * next Lloyd iteration (and the external oracle) consumes. The
    * `collect_list` is bounded by the embedding dimension. */
  def assembleQCentroids(stats: DataFrame): DataFrame =
    stats
      .withColumn("qm", qMean(col("ssum"), col("n")))
      .groupBy("cent_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("qm")))).as("pm"))
      .select(col("cent_id"),
        transform(col("pm"), x => x.getField("qm")).as("qcvec"))

  /** Fit stage of [[ivfTopK]] — one Lloyd refinement producing the trained
    * `(cent_id, qcvec)` centroids on the q24 integer grid (==
    * `assembleQCentroids(kmeansFitStats(corpus, n, 1))`, kept as the
    * IVF-named entry point so the plan shape can be pinned in tests).
    *
    * The cell mean is DISTRIBUTIVE: components quantize to the 1/2^24
    * grid ([[graft.functions.q24Vec]]) BEFORE any arithmetic, sum with an
    * ordinary `sum()` (associative integer adds — partial aggregation is
    * order-independent), and the mean rounds half-up back onto the grid
    * in exact BIGINT ([[qMean]]). Per-group aggregation state is one
    * (Long, Long) regardless of cell size — no per-cell `collect_list` —
    * so a 100x corpus scale-up changes nothing about the fit's memory
    * shape, while the whole trained model stays bit-for-bit replayable by
    * an external oracle on any engine version (a double `avg()` would be
    * partition-order-dependent; a double distance fold would be
    * engine-version-dependent). */
  def ivfFit(corpus: DataFrame, nCentroids: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assembleQCentroids(kmeansFitStats(corpus, nCentroids, 1, idCol, vecCol))

  /** IVF-style approximate top-k: the corpus is partitioned into
    * `nCentroids` Voronoi cells (seed centroids = deterministic sample of
    * the corpus, one Lloyd refinement via [[ivfFit]], all-integer); each
    * query probes only its `nprobe` nearest cells; final scoring over the
    * probed candidates is exact cosine on the raw vectors.
    *
    * Scale: centroid assignment is a broadcast of nCentroids quantized
    * vectors + one corpus scan; the search join is an equi-join on cell
    * id, so each query scores |corpus|/nCentroids * nprobe candidates
    * instead of the whole corpus. Recall depends on the data being
    * clusterable; tested against brute force on the labeled embeddings
    * table. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 16, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val refined = ivfFit(corpus, nCentroids, idCol, vecCol)
    // materialize the (tiny) trained centroid set once — the classic
    // fit-then-broadcast shape; without this both the corpus and the query
    // assignment recompute the whole Lloyd subtree
    val spark = corpus.sparkSession
    val centRows = refined.collect().toSeq
    val bCents = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(centRows, 1), refined.schema))

    def nearestCells(df: DataFrame, id: String, vec: String, n: Int): DataFrame = {
      val scored = df.join(bCents)
        // fused kernel quantizes the raw vector inline per candidate —
        // no interpreted q24Vec transform re-run k times per row
        .withColumn("cdist", intSqDistFused(col(vec), col("qcvec")))
      if (n == 1)
        // the corpus-sized single-cell assignment takes the map-side
        // min_by argmin (one row per vector reaches the exchange —
        // see kmeansFitStats); identical (cdist, cent_id) tie-break
        scored.groupBy(id)
          .agg(min_by(struct(col("cent_id"), col(vec)),
            struct(col("cdist"), col("cent_id"))).as("best"))
          .select(col("best.cent_id").as("cent_id"), col(id),
            col(s"best.$vec").as(vec))
      else {
        // multi-probe (query side, tiny): the window form is fine
        val w = Window.partitionBy(id).orderBy(col("cdist"), col("cent_id"))
        scored.withColumn("crank", row_number().over(w))
          .filter(col("crank") <= n)
          .drop("qcvec", "cdist", "crank")
      }
    }

    val cellCorpus = nearestCells(
      corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec")),
      "corpus_id", "cvec", 1)
    val cellQueries = nearestCells(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec")),
      "query_id", "qvec", nprobe)

    val scored = cellQueries.join(cellCorpus, Seq("cent_id"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", cosineSimilarity(col("qvec"), col("cvec")))
      .withColumn("cos_key", cosKey(col("qvec"), col("cvec")))
    val w = Window.partitionBy("query_id").orderBy(desc("cos_key"), col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }

  /** Embedding near-duplicate pairs: cosine >= `threshold` among
    * LSH-bucket colliders (approximate; exact within buckets). The
    * threshold test is the exact integer form ([[intCosineGte]] over
    * q24-quantized vectors, threshold at 1/100 granularity) so pair
    * membership — a hashed output — cannot flip on an engine's double
    * fold; the emitted `cosine` column is full-precision display only.
    *
    * Skew guard: bucket occupancy is capped at `maxBucket` via the shared
    * `Dedup.boundedBucketPairs` two-regime shape — a bucket holding a
    * boilerplate-duplicate cluster emits O(n) star pairs against its min
    * id instead of O(n^2) all-pairs (and, since the star regime is a pure
    * projection over stats-joined rows, never materializes the bucket's
    * id list in any task), so candidate volume AND per-task state stay
    * linear in corpus size at any scale. Star pairs of such a cluster
    * still link it into one connected component for downstream grouping
    * (run `Dedup.connectedComponents` over the output); pairs both far
    * from the bucket minimum are not scored in that regime — the price of
    * boundedness, same contract as the MinHash path. */
  def embeddingNearDups(vectors: DataFrame, threshold: Double, bits: Int = 12,
      maxBucket: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (tn, td) = rationalThreshold(threshold)
    val sig = hyperplaneSigUdf(bits)
    val v = vectors.select(col(idCol).as("id"), col(vecCol).as("vec"),
      sig(col(vecCol)).as("bucket"))
    // ids only through the bucket stage (8 bytes/member); vectors rejoin
    // by id AFTER pair generation, so the shuffled bucket payload and the
    // pair expansion are both bounded
    val pairs = Dedup.boundedBucketPairs(
      v.select("bucket", "id"), Seq("bucket"), maxBucket)
    pairs
      .join(v.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(v.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .filter(intCosineGteFused(col("vec_a"), col("vec_b"), tn, td))
      .withColumn("cosine", cosineSimilarity(col("vec_a"), col("vec_b")))
      .select("id_a", "id_b", "cosine")
  }

  /** Threshold as an exact small rational on the 1/100 grid — the form
    * [[intCosineGte]]'s 38-digit budget admits. Rejects thresholds that
    * are not exact centi-multiples rather than silently rounding. */
  private def rationalThreshold(t: Double): (Int, Int) = {
    val tn = math.round(t * 100).toInt
    require(math.abs(tn - t * 100) < 1e-9 && tn > 0 && tn <= 100,
      s"cosine threshold $t must be a positive multiple of 0.01 (exact integer test)")
    (tn, 100)
  }

  /** Multi-iteration Lloyd k-means over an embedding column, returning
    * the FINAL iteration's per-(centroid, dimension) aggregation stats
    * `(cent_id, pos, ssum, n)` — `ssum` the sum of 2^24-quantized
    * components, `n` the cluster size. The caller divides out for
    * centroids ([[assembleQCentroids]] on the integer grid,
    * [[assembleCentroids]] for float display); emitting integers keeps
    * the whole trained model bit-for-bit replayable by an external
    * oracle (same contract as [[ivfFit]], which is the iters=1 special
    * case of this shape).
    *
    * Assignment is `argmin` of exact integer squared-L2 on the quantized
    * components ([[intSqDist]], ties by cent_id) — NO double fold
    * anywhere in the fit, so no engine version can flip an assignment at
    * a near-tie (the failure mode of a cosine-double argmax). Seed
    * centroids are the deterministic corpus sample, quantized; iteration
    * i+1's centroids are the half-up integer means ([[qMean]]).
    *
    * Scale: per iteration, ONE broadcast of k*dim longs + one corpus
    * scan + one (cent_id, pos)-keyed aggregation whose per-group state is
    * a (Long, Long) regardless of cluster size — no per-cluster arrays
    * anywhere (the collect_list in [[assembleQCentroids]] is bounded by
    * the embedding dimension). Centroids are materialized (collected —
    * k*dim values, driver metadata) between iterations so iteration i+1
    * never re-executes iteration i's subtree. Empty clusters drop out,
    * exactly as in the SQL replay. */
  def kmeansFitStats(corpus: DataFrame, k: Int = 8, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(iters >= 1, "at least one Lloyd iteration")
    val spark = corpus.sparkSession
    val v = corpus.select(col(idCol).as("vid"), q24Vec(col(vecCol)).as("qv"))
    var cents: DataFrame = corpus.filter(pmod(col(idCol), lit(7)) === 0)
      .orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("cent_id"), q24Vec(col(vecCol)).as("qcvec"))
    var stats: DataFrame = null
    for (i <- 1 to iters) {
      val centRows = cents.collect().toSeq // k·dim longs — model metadata
      val bCents = broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(centRows, 1), cents.schema))
      val assigned = v.join(bCents)
        .withColumn("cdist", intSqDistFused(col("qv"), col("qcvec")))
      // argmin as a min_by AGGREGATE, not a per-vid window: the window
      // form hash-shuffles all corpus*k candidate rows on vid before
      // ranking, whereas min_by partially aggregates (per-group state =
      // one struct), collapsing the corpus*k mass map-side so only one
      // row per vector reaches the exchange — the pqFit shape, unified
      // here. Tie-break identical: min over struct(cdist, cent_id).
      val cells = assigned.groupBy("vid")
        .agg(min_by(struct(col("cent_id"), col("qv")),
          struct(col("cdist"), col("cent_id"))).as("best"))
        .select(col("best.cent_id").as("cent_id"), col("best.qv").as("qv"))
      stats = cells.select(col("cent_id"), posexplode(col("qv")))
        .groupBy("cent_id", "pos")
        .agg(sum(col("col")).as("ssum"),
          count(lit(1)).as("n"))
      if (i < iters) cents = assembleQCentroids(stats)
    }
    stats
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means the embedding space (the
    * [[kmeansFitStats]] Lloyd fit), assign every vector to its nearest
    * centroid (integer squared-L2 argmin), and within each cluster drop
    * every vector that has a semantic near-duplicate (cosine >=
    * `threshold`, tested in the exact integer form — [[intCosineGte]],
    * threshold on the 1/100 grid) of SMALLER id — the paper's
    * keep-lowest-index rule: one pass, no connected components. Returns
    * the survivors as (`idCol`, cent_id). The whole decision path (fit,
    * assignment, threshold) is integer end-to-end: no engine's double
    * fold can flip a survivor.
    *
    * Scale: the fit broadcasts k*dim longs per iteration; the final
    * assignment is the same broadcast argmin (per-vector window, corpus
    * never shuffled on cluster); within-cluster pair generation flows
    * through `Dedup.boundedBucketPairs` with the cluster id as the
    * bucket, so a degenerate mega-cluster emits O(n) star pairs instead
    * of C(n, 2) — an over-cap cluster is deduped only against its min-id
    * member (documented approximation, the same two-regime contract as
    * every other near-dup generator; size `k` so real clusters stay
    * under `maxCluster` for exact paper semantics). Vectors rejoin by id
    * AFTER pairing, so the pair stream carries ids only. */
  def semanticDedup(corpus: DataFrame, threshold: Double, k: Int = 8,
      iters: Int = 2, maxCluster: Int = 1024,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (tn, td) = rationalThreshold(threshold)
    val spark = corpus.sparkSession
    val cents = assembleQCentroids(
      kmeansFitStats(corpus, k, iters, idCol, vecCol))
    val centRows = cents.collect().toSeq // k·dim longs — model metadata
    val bCents = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(centRows, 1), cents.schema))
    val v = corpus.select(col(idCol).as("id"), q24Vec(col(vecCol)).as("qv"))
    // same map-side min_by argmin as kmeansFitStats (one row per vector
    // reaches the exchange, never corpus*k); tie-break (cdist, cent_id)
    val cells = v.join(bCents)
      .withColumn("cdist", intSqDistFused(col("qv"), col("qcvec")))
      .groupBy("id")
      .agg(min_by(struct(col("cent_id"), col("qv")),
        struct(col("cdist"), col("cent_id"))).as("best"))
      .select(col("best.cent_id").as("cent_id"), col("id"), col("best.qv").as("qv"))
    val pairs = Dedup.boundedBucketPairs(
      cells.select(col("cent_id").as("bucket"), col("id")),
      Seq("bucket"), maxCluster)
    val dropped = pairs // id_a < id_b by construction in both regimes
      .join(cells.select(col("id").as("id_a"), col("qv").as("qv_a")), Seq("id_a"))
      .join(cells.select(col("id").as("id_b"), col("qv").as("qv_b")), Seq("id_b"))
      .filter(intCosineGteFused(col("qv_a"), col("qv_b"), tn, td))
      .select(col("id_b").as("id")).distinct()
    cells.join(dropped, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("cent_id"))
  }

  /** (id, sub, quantized subvector) rows: the q24-quantized vector split
    * into `m` contiguous subspaces of `subDim` dims each — a pure
    * posexplode over slice expressions, no UDF, stays in whole-stage
    * codegen. Quantization commutes with slicing (it is per-element). */
  private def qSubvectors(df: DataFrame, idAs: String, svAs: String,
      m: Int, subDim: Int, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as(idAs),
        posexplode(array((0 until m).map(s =>
          slice(q24Vec(col(vecCol)), s * subDim + 1, subDim)): _*)))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", svAs)

  /** Product-quantization codebook fit (Jégou, Douze & Schmid 2011,
    * "Product quantization for nearest neighbor search", IEEE TPAMI):
    * split every vector into `m` contiguous subspaces and k-means each
    * subspace independently (seed codewords = the shared deterministic
    * corpus sample, one Lloyd refinement — the [[ivfFit]] recipe per
    * subspace). Returns (sub, cent_id, qcsv) codewords ON the q24
    * integer grid.
    *
    * Determinism contract: assignment distances are exact BIGINT
    * squared-L2 over quantized components ([[intSqDist]], ties broken by
    * cent_id) and codeword means are the half-up integer means
    * ([[qMean]]) of the distributive component sums — the whole trained
    * codebook is integer end-to-end and bit-for-bit replayable by an
    * external engine of ANY version (no double fold exists to diverge).
    *
    * Scale: the seed set is m*ksub rows (broadcast); assignment is one
    * corpus scan producing m rows per vector, reduced map-side by the
    * min_by aggregate (per-group state one struct, never a per-cell
    * list); the mean aggregation is the same (key, pos)-sum shape as
    * [[ivfFit]]. Nothing scales with corpus size except the scans. */
  def pqFit(corpus: DataFrame, m: Int = 4, ksub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = corpus.select(size(col(vecCol)).as("d")).head().getInt(0)
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m")
    val sd = dim / m
    val seeds = corpus.filter(pmod(col(idCol), lit(7)) === 0)
      .orderBy(col(idCol)).limit(ksub)
      .select(col(idCol).as("cent_id"), col(vecCol))
    val seedSv = qSubvectors(seeds, "cent_id", "qcsv", m, sd, "cent_id", vecCol)
    val sv = qSubvectors(corpus, "vid", "qsv", m, sd, idCol, vecCol)
    val assigned = sv.join(broadcast(seedSv), Seq("sub"))
      .withColumn("d", intSqDistFused(col("qsv"), col("qcsv")))
      .groupBy("vid", "sub")
      .agg(min_by(struct(col("cent_id"), col("qsv")),
        struct(col("d"), col("cent_id"))).as("best"))
      .select(col("sub"), col("best.cent_id").as("cent_id"),
        col("best.qsv").as("qsv"))
    assigned.select(col("sub"), col("cent_id"), posexplode(col("qsv")))
      .groupBy("sub", "cent_id", "pos")
      .agg(sum(col("col")).as("ssum"), count(lit(1)).as("n"))
      .withColumn("qm", qMean(col("ssum"), col("n")))
      .groupBy("sub", "cent_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("qm")))).as("pm"))
      .select(col("sub"), col("cent_id"),
        transform(col("pm"), x => x.getField("qm")).as("qcsv"))
  }

  /** PQ encoding: each vector compresses to `m` small codes — the id of
    * its nearest codeword per subspace (same exact-integer argmin as the
    * fit). Output (id, sub, code): m rows per vector, ~1 byte of
    * information each vs 4*dim bytes of raw floats — the 64x memory
    * compression that lets a 100 TB embedding corpus's index fit in RAM.
    * `codebooks` must be the (small) [[pqFit]] output; it is broadcast. */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = corpus.select(size(col(vecCol)).as("d")).head().getInt(0)
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m")
    pqEncodeSd(corpus, codebooks, m, dim / m, idCol, vecCol)
  }

  /** [[pqEncode]] with the subspace dimension supplied by the CALLER
    * (derived from the codebooks, not the corpus) — the form the
    * incremental surface needs, where the slice being encoded may be
    * EMPTY (a fresh store's schema probe) and a corpus head() would
    * throw. */
  private def pqEncodeSd(corpus: DataFrame, codebooks: DataFrame, m: Int,
      subDim: Int, idCol: String, vecCol: String): DataFrame = {
    val sv = qSubvectors(corpus, "vid", "qsv", m, subDim, idCol, vecCol)
    sv.join(broadcast(codebooks), Seq("sub"))
      .withColumn("d", intSqDistFused(col("qsv"), col("qcsv")))
      .groupBy("vid", "sub")
      .agg(min(struct(col("d"), col("cent_id"))).as("best"))
      .select(col("vid").as(idCol), col("sub"),
        col("best.cent_id").as("code"))
  }

  /** One-time build of a persistent PQ index — the fit-once/search-many
    * split the 100 TB contract requires (the raw float vectors are
    * scanned exactly once, here; every later [[pqSearch]] touches only
    * the stored artifact). Writes two tables:
    *  - `{name}_books`: the (sub, cent_id, qcsv) integer codebooks —
    *    m*ksub rows, metadata-sized;
    *  - `{name}_codes`: the (id, sub, code) code table, BUCKETED by id so
    *    all m rows of a vector co-locate in one bucket file and the
    *    search's (query, corpus) aggregate starts from a clustered
    *    layout (same pattern as `Curation.writeFingerprintIndex`);
    *  - `{name}_meta`: the content stamp (row count + id-hash sum +
    *    build params, `StoredArtifacts.stamp`) of the input this index
    *    was built from.
    *
    * IDEMPOTENT by content: when the stored stamp matches the current
    * input and parameters, the fit + write are SKIPPED and — if this is
    * a fresh session whose catalog forgot the tables — the surviving
    * warehouse directories are re-registered (bucket spec restored by
    * DDL). A repeated run therefore measures search, not fit; a stamp
    * mismatch (new rows, new ids, new params) rebuilds from scratch
    * (rebuild-on-stale is spec-pinned in Round10OpsSpec). The stamp is
    * MEMBERSHIP + params, deliberately not payload (see
    * `StoredArtifacts.stamp`): a caller that mutates embeddings in
    * place under unchanged ids passes `force = true` to rebuild
    * unconditionally. */
  def pqIndexWrite(corpus: DataFrame, name: String, m: Int = 4,
      ksub: Int = 16, numBuckets: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding",
      force: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val params = s"pq:m=$m,ksub=$ksub,buckets=$numBuckets,id=$idCol,vec=$vecCol"
    StoredArtifacts.fitOnce(corpus, idCol, params, force, s"${name}_meta",
      Seq(s"${name}_books" -> None, s"${name}_codes" ->
        Some((Seq(idCol), Seq(idCol, "sub"), numBuckets))))(
      (nRows, h) => Seq((nRows, h, params))
        .toDF("stamp_rows", "stamp_hash", "params"))(()) { _ =>
      val books = pqFit(corpus, m, ksub, idCol, vecCol)
      val bookRows = books.collect().toSeq // m*ksub*subDim longs — metadata
      val bBooks = spark.createDataFrame(
        spark.sparkContext.parallelize(bookRows, 1), books.schema)
      bBooks.write.mode("overwrite").saveAsTable(s"${name}_books")
      pqEncode(corpus, bBooks, m, idCol, vecCol)
        .write.mode("overwrite")
        .bucketBy(numBuckets, idCol).sortBy(idCol, "sub")
        .saveAsTable(s"${name}_codes")
    }
  }

  /** ADC search against a PREBUILT index ([[pqFit]]+[[pqEncode]] frames,
    * or the stored tables of [[pqIndexWrite]] via [[pqSearchIndexed]]):
    * queries stay full-precision until quantization, the corpus is its PQ
    * codes; a query precomputes its exact-integer squared-L2 distance to
    * every codeword (the LUT — nq*m*ksub BIGINT cells) and a corpus
    * vector's approximate distance is the integer SUM of the LUT cells
    * its codes select. Exact ranking over the approximate metric:
    * integer distances end-to-end, ties by corpus_id — no double
    * arithmetic exists anywhere in the result.
    *
    * Scale: the LUT is queries-sized (broadcast); the search is ONE scan
    * of the (m-rows-per-vector) code table with a broadcast hash join on
    * (sub, code) + one (query, corpus)-keyed integer-sum aggregate —
    * map-side combined, no shuffle of anything corpus-sized beyond the
    * group keys — then the standard WindowGroupLimit top-k prune. The
    * corpus's float vectors are read once at encode time and never again;
    * at 100 TB that is the difference between scanning 100 TB per query
    * batch and scanning the ~1.5 TB code table. */
  def pqSearch(codebooks: DataFrame, codes: DataFrame, queries: DataFrame,
      k: Int, m: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = queries.select(size(col(vecCol)).as("d")).head().getInt(0)
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m")
    val cids = codes.withColumnRenamed(idCol, "corpus_id")
    val qsv = qSubvectors(queries, "query_id", "qsv", m, dim / m, idCol, vecCol)
    val lut = qsv.join(broadcast(codebooks), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cent_id").as("code"),
        intSqDistFused(col("qsv"), col("qcsv")).as("qd"))
    val adist = cids.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("corpus_id") =!= col("query_id"))
      .groupBy("query_id", "corpus_id")
      .agg(sum(col("qd")).as("adist"))
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("corpus_id"))
    adist.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "adist", "rank")
  }

  /** [[pqSearch]] against the stored tables of [[pqIndexWrite]] — the
    * production entry point: loads `{name}_books` (broadcast) and
    * `{name}_codes` (bucketed scan), never the raw embedding corpus. */
  def pqSearchIndexed(spark: org.apache.spark.sql.SparkSession,
      name: String, queries: DataFrame, k: Int, m: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqSearch(spark.table(s"${name}_books"), spark.table(s"${name}_codes"),
      queries, k, m, idCol, vecCol)

  // ---- churn-priced incremental PQ index ------------------------------

  private def booksPath(stateDir: String) = s"$stateDir/books"
  private def booksSigPath(stateDir: String) = s"$stateDir/books_sig"

  /** The stored books' [[booksSignature]] as a MARKER next to the books:
    * the signature is a pure function of the (frozen) codebook content,
    * so computing it once at fit time and reading the marker thereafter
    * saves one Spark job on EVERY maintenance run. Books written by an
    * older build have no marker — computed once from the stored books
    * and written back (deterministic, idempotent). A re-fit rewrites the
    * marker together with the books ([[pqBooksWrite]]). */
  private def booksSigOf(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): String = {
    val fs = StateStore.fsOf(spark, stateDir)
    StateStore.readMarker(fs, booksSigPath(stateDir)).getOrElse {
      val sig = booksSignature(
        StateStore.readStored(spark, booksPath(stateDir)))
      StateStore.writeMarker(fs, booksSigPath(stateDir), sig)
      sig
    }
  }

  /** Deterministic content signature of a stored codebook — folded into
    * the code store's `aggKey`, so codes encoded under one codebook can
    * NEVER answer for another: replacing the books (a re-fit) changes
    * the signature, the aggKey mismatches, and the code store rebuilds
    * wholesale (the safe direction). Metadata-sized work. */
  private def booksSignature(books: DataFrame): String = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val r = books.agg(coalesce(
      sum(xxhash64(col("sub"), col("cent_id"), col("qcsv").cast("string"))
        .cast(dec)),
      lit(0).cast(dec)).cast("string")).head()
    r.getString(0)
  }

  /** CHURN-PRICED maintenance of a stored PQ code table — the
    * [[graft.ops.IncrementalAgg]] discipline applied to [[pqIndexWrite]]'s
    * workload. Where the stamp-guarded stored index re-fits and
    * re-encodes the WHOLE corpus when one vector changes
    * (`StoredArtifacts.stamp` is all-or-nothing), this surface stores
    * the per-document PQ codes as per-bucket partials and re-prices
    * every run by the churn: one column-pruned digest scan of
    * (id, embedding) decides dirtiness, only dirty buckets' vectors
    * re-encode against the codebooks, clean buckets' code partitions
    * stand untouched on disk. Codes are per-document (m rows per
    * vector, a groupBy that includes the document), so the bucket-union
    * contract is exact. At 100 TB a daily-churned embedding corpus pays
    * ~churn × encode instead of corpus × (fit + encode).
    *
    * CODEBOOKS ARE FROZEN UNDER CHURN — the published IVFADC/PQ
    * operating practice: the codebook is fit ONCE (on the corpus the
    * first maintenance run sees, stored at `{stateDir}/books`) and
    * later runs only re-encode against it; quantization error drifts
    * gradually as the corpus distribution moves, it never becomes
    * wrong. RE-FIT POLICY: delete `{stateDir}/books` (or the whole
    * stateDir) to re-fit on the next run — the new books' content
    * signature is folded into the code store's aggKey, so stale codes
    * can never answer under new books (they rebuild wholesale).
    *
    * Returns (current code store: (idCol, sub, code), prune record).
    * Search via [[pqSearchIncremental]]. */
  def pqIndexIncremental(corpus: DataFrame, stateDir: String, m: Int = 4,
      ksub: Int = 16, nBuckets: Int = 256,
      dirtyFractionLimit: Double = 0.5,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bucketCol: Option[String] = None)
      : (DataFrame, IncrementalAgg.IncrementalReport) = {
    val spark = corpus.sparkSession
    pqBooksWrite(corpus, stateDir, m, ksub, idCol, vecCol)
    val sig = booksSigOf(spark, stateDir)
    // books load (read + collect) deferred into the partial: a zero-dirty
    // maintenance run never encodes, so it never needs the books at all
    lazy val loaded = loadBooks(spark, stateDir)
    val partial = (sl: DataFrame) => {
      val (bBooks, subDim) = loaded
      encodePartial(bBooks, m, subDim, idCol, vecCol)(sl)
    }
    val (codes, report) = IncrementalAgg.run(corpus, idCol, Seq(vecCol),
      partial,
      aggKey = s"pqcodes:m=$m,ksub=$ksub,vec=$vecCol,books=$sig",
      stateDir, nBuckets, dirtyFractionLimit, bucketCol)
    // surface the frozen books' re-fit baseline in the run record: the
    // seed quantization error [[pqDrift]] measures churn slices against
    // (metadata read — one 1-row parquet, no corpus work)
    val meta = readSeedError(spark, stateDir)
      .map { case (n, errSum) =>
        Map(
          "pq_books_signature" -> sig,
          "pq_seed_n" -> n.toString,
          "pq_seed_mean_err" ->
            (if (n == 0) "0" else (errSum / BigDecimal(n)).toString))
      }
      .getOrElse(Map("pq_books_signature" -> sig))
    (codes, report.copy(meta = report.meta ++ meta))
  }

  /** Fit-if-missing the FROZEN codebooks under `stateDir/books` — the
    * one-time act both incremental code surfaces (churn-priced [[run]]
    * store via [[pqIndexIncremental]], append-only stream via
    * [[pqAppend]]/[[graft.streaming.StreamingOps.maintainPqIndex]])
    * share. Held under the state's single-writer lease; a present
    * codebook is NEVER re-fit (delete it to re-fit). */
  def pqBooksWrite(corpus: DataFrame, stateDir: String, m: Int = 4,
      ksub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    val fs = StateStore.fsOf(spark, stateDir)
    val bp = new org.apache.hadoop.fs.Path(booksPath(stateDir))
    if (fs.exists(bp)) return
    val lease = StateStore.acquireLease(spark, stateDir)
    try {
      if (!fs.exists(bp)) {
        val fit = pqFit(corpus, m, ksub, idCol, vecCol)
        val rows = fit.collect().toSeq // m*ksub codewords — metadata
        require(rows.nonEmpty,
          "cannot fit a PQ codebook on an empty corpus")
        val b = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), fit.schema)
        lease.check("pq.books")
        // a leftover marker describes OTHER books: delete it before the
        // swap, so a crash before the new marker lands leaves none and
        // booksSigOf recomputes it from the books actually stored
        fs.delete(new org.apache.hadoop.fs.Path(booksSigPath(stateDir)),
          false)
        StateStore.swapWrite(b, booksPath(stateDir), lease)
        lease.check("pq.books_sig")
        // signature marker rides with the books (see booksSigOf)
        StateStore.writeMarker(fs, booksSigPath(stateDir), booksSignature(b))
        // record the seed quantization error NEXT to the books — the
        // fit-time baseline [[pqDrift]]'s re-fit signal compares churn
        // slices against. One extra corpus pass, paid exactly when the
        // fit itself is (the corpus-priced seed run)
        val subDim = rows.head
          .getAs[scala.collection.Seq[Long]]("qcsv").size
        StateStore.swapWrite(
          quantErrorAgg(corpus, b, m, subDim, idCol, vecCol),
          booksErrPath(stateDir), lease)
      }
    } finally lease.release()
  }

  private def booksErrPath(stateDir: String) = s"$stateDir/books_err"

  /** ADC quantization error of `corpus` under `bBooks`, aggregated to
    * ONE row (n, err_sum): per vector, the sum over subspaces of the
    * integer squared distance to its chosen (argmin) codeword — exactly
    * what the stored code loses vs the raw vector. err_sum is
    * DECIMAL(38,0) (q24 squared distances overflow a BIGINT sum at
    * corpus scale); work scales with the frame passed in. */
  private def quantErrorAgg(corpus: DataFrame, bBooks: DataFrame, m: Int,
      subDim: Int, idCol: String, vecCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    corpus.select(col(idCol).as("vid"),
        posexplode(array((0 until m).map(s0 =>
          slice(q24Vec(col(vecCol)), s0 * subDim + 1, subDim)): _*)))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "qsv")
      .join(broadcast(bBooks), Seq("sub"))
      .groupBy("vid", "sub")
      .agg(min(intSqDistFused(col("qsv"), col("qcsv"))).as("d"))
      .agg((count(lit(1)) / m).cast("long").as("n"),
        coalesce(sum(col("d").cast(dec)), lit(0).cast(dec)).as("err_sum"))
  }

  /** The stored seed (n, err_sum) from fit time, None when the state
    * predates the baseline (books written by an older build). */
  private def readSeedError(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Option[(Long, BigDecimal)] = {
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(booksErrPath(stateDir))))
      None
    else {
      // explicit schema: skip the per-read inference job
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("err_sum",
          org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0))))
      val r = spark.read.schema(schema).parquet(booksErrPath(stateDir)).head()
      Some((r.getAs[Long]("n"),
        BigDecimal(r.getAs[java.math.BigDecimal]("err_sum"))))
    }
  }

  /** RE-FIT SIGNAL for the frozen codebooks: mean per-vector ADC
    * quantization error of `slice` under the stored books, against the
    * seed corpus's error recorded at fit time. As the corpus
    * distribution drifts away from what the books were fit on, new
    * vectors land farther from every codeword and the ratio climbs —
    * that is the operator's cue to re-fit (delete `{stateDir}/books`;
    * wholesale rebuild stays a DELIBERATE act, the frozen-codebook
    * contract). The threshold is the operator's call: ~1 means the
    * slice quantizes as well as the seed corpus did; sustained drift
    * well above 1 means recall is degrading.
    *
    * Pass the churned/arriving rows (or any sample) as `slice` — work
    * scales with it, never the corpus. Returns one row: (seed_n,
    * seed_mean_err, slice_n, slice_mean_err, drift_ratio). Requires a
    * state whose books were written with the fit-time baseline. The
    * subspace count m derives from the STORED books — a caller-supplied
    * m that disagreed with the books would silently bias the measure
    * (half the subspaces = half the error). */
  def pqDrift(spark: org.apache.spark.sql.SparkSession, stateDir: String,
      slice: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (bBooks, subDim) = loadBooks(spark, stateDir)
    val m = bBooks.agg(max(col("sub").cast("int"))).head().getInt(0) + 1
    val (seedN, seedSum) = readSeedError(spark, stateDir).getOrElse(
      throw new IllegalStateException(
        s"no seed-error baseline at ${booksErrPath(stateDir)} — the " +
          "books predate drift tracking; delete the books to re-fit " +
          "(the next maintenance run records the baseline)"))
    require(seedN > 0, "seed baseline is empty — re-fit the books")
    val seedMean = (seedSum / BigDecimal(seedN)).toDouble
    quantErrorAgg(slice, bBooks, m, subDim, idCol, vecCol)
      .select(
        lit(seedN).as("seed_n"),
        lit(seedMean).as("seed_mean_err"),
        col("n").as("slice_n"),
        (col("err_sum").cast("double") / col("n")).as("slice_mean_err"),
        when(lit(seedMean) > 0d,
            col("err_sum").cast("double") / col("n") / seedMean)
          .as("drift_ratio"))
  }

  /** Stored books as a 1-partition broadcastable frame + the subspace
    * dimension they encode. */
  private def loadBooks(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): (DataFrame, Int) = {
    val books = StateStore.readStored(spark, booksPath(stateDir))
    val bookRows = books.collect().toSeq
    require(bookRows.nonEmpty,
      s"stored codebook at ${booksPath(stateDir)} is empty/damaged — " +
        "delete it to re-fit on the next run")
    val bBooks = spark.createDataFrame(
      spark.sparkContext.parallelize(bookRows, 1), books.schema)
    (bBooks, bookRows.head.getAs[scala.collection.Seq[Long]]("qcsv").size)
  }

  /** The shared encode partial: CARRIES the slice's `__bucket` label
    * through the per-vector argmin groupBy (bucket is functionally
    * dependent on the id, so including it neither changes groups nor
    * breaks bucket-locality) — honors ANY bucketCol labeling the caller
    * materialized, instead of re-deriving a hash that must match it. */
  private def encodePartial(bBooks: DataFrame, m: Int, subDim: Int,
      idCol: String, vecCol: String)(sl: DataFrame): DataFrame = {
    val sv = sl.select(col(idCol).as("vid"), col("__bucket"),
        posexplode(array((0 until m).map(s0 =>
          slice(q24Vec(col(vecCol)), s0 * subDim + 1, subDim)): _*)))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "qsv")
    sv.join(broadcast(bBooks), Seq("sub"))
      .withColumn("d", intSqDistFused(col("qsv"), col("qcsv")))
      .groupBy("vid", "__bucket", "sub")
      .agg(min(struct(col("d"), col("cent_id"))).as("best"))
      .select(col("vid").as(idCol), col("__bucket"), col("sub"),
        col("best.cent_id").as("code"))
  }

  /** ARRIVAL-priced code maintenance: append one micro-batch of NEW
    * vectors' PQ codes (encoded against the frozen stored books) to an
    * [[IncrementalAgg.appendFold]] store — the streaming twin of
    * [[pqIndexIncremental]], for append-only embedding streams where
    * nothing stored can change and addition is the whole maintenance.
    * Codes are per-(id, sub) FACTS: compaction's sum over the
    * exactly-one-row groups is the identity, so the generic store
    * machinery (idempotent replays, fence, lease, auto-compaction)
    * applies verbatim. Books must exist ([[pqBooksWrite]] on a
    * bootstrap corpus first). Searched by [[pqSearchIncremental]] — the
    * same entry point the churn-priced store serves. */
  def pqAppend(batch: DataFrame, batchId: Long, stateDir: String,
      m: Int = 4, idCol: String = "vec_id", vecCol: String = "embedding",
      nBuckets: Int = 256): Unit = {
    val (bBooks, subDim) = loadBooks(batch.sparkSession, stateDir)
    IncrementalAgg.appendFold(batch, batchId, stateDir,
      encodePartial(bBooks, m, subDim, idCol, vecCol), idCol, nBuckets)
  }

  /** [[pqSearch]] answered from an [[pqIndexIncremental]] state WITHOUT
    * a maintenance pass: codebooks from `{stateDir}/books` (broadcast),
    * codes from the incremental store — never the raw embedding corpus.
    * Byte-identical to [[pqSearch]] over [[pqEncode]] of the same
    * corpus under the same books (spec-pinned identity under churn). */
  def pqSearchIncremental(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, queries: DataFrame, k: Int, m: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqSearch(StateStore.readStored(spark, booksPath(stateDir)),
      IncrementalAgg.readStore(spark, stateDir), queries, k, m,
      idCol, vecCol)

  /** Convenience fit+encode+search in one call (bench/test path — each
    * invocation re-fits; production should [[pqIndexWrite]] once and
    * [[pqSearchIndexed]] many times). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 4,
      ksub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val books = pqFit(corpus, m, ksub, idCol, vecCol)
    // materialize the (tiny) trained codebooks once — fit-then-broadcast,
    // same shape as ivfTopK
    val bookRows = books.collect().toSeq // m*ksub*subDim longs — metadata
    val bBooks = spark.createDataFrame(
      spark.sparkContext.parallelize(bookRows, 1), books.schema)
    val codes = pqEncode(corpus, bBooks, m, idCol, vecCol)
    pqSearch(bBooks, codes, queries, k, m, idCol, vecCol)
  }

  /** Exact cosine re-rank of an ADC shortlist — stage 2 of the
    * production IVFADC-with-refinement shape. `short` is (query_id,
    * corpus_id) pairs; ONLY those candidates rejoin their raw vectors
    * for an exact cosine top-k, so the expensive exact kernel touches
    * |queries|*shortlist vectors instead of the corpus.
    *
    * Scale: the shortlist is queries-sized (broadcast into the rejoin,
    * so the corpus is scanned once with a broadcast semi-probe and
    * never shuffled); ranking is the usual WindowGroupLimit prune. */
  def pqRerank(corpus: DataFrame, queries: DataFrame, short: DataFrame,
      k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos_key"), col("corpus_id"))
    c.join(broadcast(short.select("query_id", "corpus_id")), Seq("corpus_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine", cosineSimilarity(col("qvec"), col("cvec")))
      .withColumn("cos_key", cosKey(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }

  /** Two-stage PQ retrieval — ADC shortlist + EXACT re-rank: [[pqTopK]]
    * selects `shortlist` candidates per query from the compressed code
    * table, then [[pqRerank]] scores only those exactly. On
    * incompressible (near-random) embeddings plain ADC recall degrades
    * with quantization error; the re-rank recovers it (measured on the
    * labeled corpus: 0.17 ADC-only -> ~0.96 recall@10 at m=8, ksub=32,
    * shortlist=200) while the exact kernel touches |queries|*shortlist
    * vectors instead of the corpus — at 100 TB that is the whole point
    * of the code table. */
  def pqTopKRerank(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, ksub: Int = 32, shortlist: Int = 200,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, "shortlist must cover k")
    val short = pqTopK(corpus, queries, shortlist, m, ksub, idCol, vecCol)
    pqRerank(corpus, queries, short, k, idCol, vecCol)
  }

  /** Two-stage JL retrieval — the [[randomProjection]] twin of
    * [[pqTopKRerank]]: shortlist in the outDim-long projected space
    * (JL preserves distances within distortion, so true neighbors land
    * in a generous shortlist), then EXACT integer squared-L2 re-rank
    * over the full q24 vectors for the shortlist only. The
    * compress-then-search architecture where the compressed artifact is
    * 16 BIGINTs per vector instead of PQ's code table — simpler to
    * maintain, no codebook training, trivially incremental (new vectors
    * project independently).
    *
    * Engine-exactness: projected distances are sums of 16 integer
    * squares evaluated in DECIMAL(38,0) (diff^2 ~ 2^62 overflows BIGINT
    * at dim 64 — the oracle mirrors in HUGEINT); ties break by corpus
    * id at both stages; the exact stage is [[graft.functions.intSqDist]].
    * With `shortlist >= |corpus|` the output IS the exact top-k
    * (spec-pinned) — the shortlist only ever trades recall, never
    * determinism. */
  def rpTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      outDim: Int = 16, shortlist: Int = 200,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, "shortlist must cover k")
    val cCols = Seq("corpus_id") ++ (0 until outDim).map(j => s"c$j")
    val qCols = Seq("query_id") ++ (0 until outDim).map(j => s"q$j")
    val pcr = randomProjection(corpus, dim, outDim, idCol, vecCol)
      .toDF(cCols: _*)
    val pqr = randomProjection(queries, dim, outDim, idCol, vecCol)
      .toDF(qCols: _*)
    val pdist = (0 until outDim).map { j =>
      val d = (col(s"c$j") - col(s"q$j")).cast("decimal(38,0)")
      d * d
    }.reduce(_ + _)
    val w1 = Window.partitionBy("query_id")
      .orderBy(col("pdist"), col("corpus_id"))
    val short = pcr.join(broadcast(pqr), col("corpus_id") =!= col("query_id"))
      .withColumn("pdist", pdist)
      .withColumn("prank", row_number().over(w1))
      .filter(col("prank") <= shortlist)
      .select("query_id", "corpus_id")
    val cq = corpus.select(col(idCol).as("corpus_id"),
      q24Vec(col(vecCol)).as("qcv"))
    val qq = queries.select(col(idCol).as("query_id"),
      q24Vec(col(vecCol)).as("qqv"))
    val w2 = Window.partitionBy("query_id").orderBy(col("d"), col("corpus_id"))
    short.join(cq, "corpus_id").join(broadcast(qq), "query_id")
      .withColumn("d", intSqDistFused(col("qcv"), col("qqv")))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("d").as("sq_dist"),
        col("rank").cast("long").as("rank"))
  }

  /** (cent_id, pos, ssum, n) stats -> (cent_id, cvec_c float array):
    * quantized mean per dimension, assembled in dimension order — the
    * float DISPLAY form of the trained centroids (no query path consumes
    * it; assignments use [[assembleQCentroids]]' integer form). */
  def assembleCentroids(stats: DataFrame): DataFrame =
    stats
      .withColumn("m", col("ssum").cast("double") / lit(16777216.0) / col("n"))
      .groupBy("cent_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cent_id"),
        transform(col("pm"), x => x.getField("m").cast("float")).as("cvec_c"))

  /** Per-vector L2 norm + dimension — a cheap embedding sanity profile. */
  def vectorStats(vectors: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    vectors.select(col(idCol),
      size(col(vecCol)).cast("long").as("dim"),
      l2Norm(col(vecCol)).as("l2_norm"),
      dotProduct(col(vecCol), col(vecCol)).as("sq_sum"))
}
