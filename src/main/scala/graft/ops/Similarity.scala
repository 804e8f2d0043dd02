package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** Similarity search over an embedding column (`Array[Float]`), north star.
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set,
  * one codegen'd map pass over the corpus, per-query top-k via window.
  * Scale path: sign-random-projection (hyperplane) LSH — each vector maps to
  * a small integer bucket; candidates share a bucket, so the search becomes
  * an equi-join + local rerank instead of a full scan per query.
  *
  * Dot products run on `double` (floats cast first) with a sequential fold —
  * the exact arithmetic the DuckDB oracle reproduces.
  *
  * Zero-norm vectors (all-zero embeddings — failed or padded rows) are
  * EXCLUDED from every cosine path: their cosine is 0/0 = NaN, and both
  * Spark and DuckDB order NaN above every real double, so one zero vector
  * in the corpus would otherwise rank as the #1 "neighbor" of every query
  * and pair as a "near-dup" of every cell-mate (review finding;
  * [[quantizedTopK]] already guarded this via its max|x| > 0 scalar — the
  * other paths now filter where norms are computed).
  */
object Similarity {

  /** Elementwise dot product of two array columns, computed in double via
    * the codegen'd [[graft.functions.DotProduct]] primitive (bit-identical
    * to the old zip_with/aggregate fold, ~10x faster in pair joins where the
    * interpreted higher-order functions dominated). Float arrays implicitly
    * cast; pre-cast once per row via [[asDouble]] before pair joins so the
    * conversion doesn't run per pair. */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.DotProduct(Bridge.expression(a), Bridge.expression(b)))
  }

  /** One-time float[]→double[] conversion (exact; matches the oracle's
    * CAST(embedding AS DOUBLE[])). */
  def asDouble(a: Column): Column = a.cast("array<double>")

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Brute-force cosine top-k: for every query vector, the k nearest corpus
    * vectors (excluding itself). Query side must be small — it is broadcast;
    * the corpus is scanned exactly once regardless of query count. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("nbr_id"), asDouble(col("embedding")).as("nbr_emb"),
      l2norm(col("embedding")).as("nbr_nrm"))
      .filter(col("nbr_nrm") > 0)
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("q_emb"), l2norm(col("embedding")).as("q_nrm"))
      .filter(col("q_nrm") > 0))
    val scored = c.join(q, col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        (dot(col("q_emb"), col("nbr_emb")) / (col("q_nrm") * col("nbr_nrm"))).as("cos"))
    rankTopK(scored, k, "cos")
      .select(col("query_id"), col("nbr_id"), col("cos"), col("__rn").as("rank"))
  }

  /** Per-query rank over `scoreCol` desc (ties: nbr_id asc), top `k` kept —
    * ONE definition for the four top-k tails (review finding: a
    * ranking-rule or guard change previously had to be re-applied in four
    * places). Callers project their own output columns off `__rn`. */
  private def rankTopK(scored: DataFrame, k: Int, scoreCol: String): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col(scoreCol).desc, col("nbr_id").asc)
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
  }

  /** Keyed pair-cosine core: self-join rows sharing every `keys` column,
    * ordered a < b, exact cosine — ONE definition for the near-dup ops
    * (review finding); composite blockers (label ∧ SRP bucket) pass
    * several keys and the equi-join shuffles on all of them. Input shape:
    * (keys…, vec_id, emb double[], nrm) with zero norms already excluded. */
  private def pairCosine(keyed: DataFrame, keys: String*): DataFrame = {
    val kc = keys.map(col)
    val l = keyed.select(kc :+ col("vec_id").as("a") :+
      col("emb").as("emb_a") :+ col("nrm").as("nrm_a"): _*)
    val r = keyed.select(kc :+ col("vec_id").as("b") :+
      col("emb").as("emb_b") :+ col("nrm").as("nrm_b"): _*)
    l.join(r, keys).filter(col("a") < col("b"))
      .select(kc :+ col("a") :+ col("b") :+
        (dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b"))).as("cos"): _*)
  }

  /** Deterministic ±1 hyperplane weights: plane p, dimension d -> sign from
    * one md5-derived bit. Reproducible anywhere (incl. SQL oracles). */
  def planeSign(p: Int, d: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane_${p}_$d".getBytes("UTF-8"))
    if ((hex(0) & 1) == 1) 1 else -1
  }

  /** Sign-random-projection bucket id: `planes` sign bits packed into a long.
    * Map-only; emits (vec_id, bucket). Cosine-similar vectors collide with
    * high probability (SRP-LSH).
    *
    * Each plane's projection is a [[dot]] against a *literal* weight array —
    * expression size O(planes), not O(planes × dims) (an unrolled element_at
    * form generated a 768-term codegen class whose one-time compilation
    * dominated the query), and the loop itself is codegen'd. */
  def srpBucket(df: DataFrame, planes: Int = 12, dims: Int = 64): DataFrame = {
    val bucket = (0 until planes).map { p =>
      val w = typedLit((0 until dims).map(d => planeSign(p, d).toDouble))
      when(dot(col("embedding"), w) > 0, 1L << p).otherwise(0L)
    }.reduce(_ + _)
    // Guard: a vector of the wrong length would null-pad in zip_with, null
    // the fold, and silently collapse every row into bucket 0 (turning the
    // LSH join quadratic). Wrong-length vectors are excluded instead —
    // callers pass the corpus dimensionality explicitly.
    df.filter(size(col("embedding")) === dims)
      .select(col("vec_id"), col("embedding"), bucket.as("bucket"))
  }

  /** LSH-accelerated ANN with multi-probe: each query searches its own SRP
    * bucket plus every bucket within Hamming radius `multiProbe` of it —
    * the standard recall fix for SRP's hard bucket boundaries (a near
    * neighbor that lands one sign-bit off is still found). `multiProbe` is
    * the PROBE RADIUS: 0 = own bucket only, 1 adds the `planes` single-flip
    * buckets, 2 adds the planes-choose-2 double flips (review finding: the
    * old code treated every value ≥ 1 as radius 1, so tuning it up silently
    * did nothing). Radius > 2 is refused — the probe count explodes
    * combinatorially; narrow with IVF composition instead. The query side
    * explodes to the probe count and stays broadcast; the corpus keeps ONE
    * bucket per vector, so the probe join is still a plain equi-join and
    * each (query, candidate) pair is produced at most once. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              planes: Int = 12, dims: Int = 64, multiProbe: Int = 1): DataFrame = {
    require(multiProbe <= 2,
      s"multiProbe is the Hamming probe radius (0, 1, or 2); got $multiProbe — " +
        "radius > 2 explodes as planes-choose-r, compose with IVF instead")
    val cb = srpBucket(corpus, planes, dims)
      .select(col("vec_id").as("nbr_id"), asDouble(col("embedding")).as("nbr_emb"),
        l2norm(col("embedding")).as("nbr_nrm"), col("bucket"))
      .filter(col("nbr_nrm") > 0)
    val flips1 = (0 until planes).map(p => col("bucket").bitwiseXOR(lit(1L << p)))
    val flips2 =
      if (multiProbe < 2) Nil
      else for { p <- 0 until planes; p2 <- p + 1 until planes }
        yield col("bucket").bitwiseXOR(lit((1L << p) | (1L << p2)))
    val probes =
      if (multiProbe <= 0) Seq(col("bucket"))
      else col("bucket") +: (flips1 ++ flips2)
    val qb = broadcast(srpBucket(queries, planes, dims)
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q_emb"),
        l2norm(col("embedding")).as("q_nrm"), explode(array(probes: _*)).as("bucket"))
      .filter(col("q_nrm") > 0))
    val scored = cb.join(qb, Seq("bucket"))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        (dot(col("q_emb"), col("nbr_emb")) / (col("q_nrm") * col("nbr_nrm"))).as("cos"))
    rankTopK(scored, k, "cos")
      .select(col("query_id"), col("nbr_id"), col("cos"), col("__rn").as("rank"))
  }

  /** Recall@k of the SRP-LSH ANN ([[lshTopK]]) against the exact
    * brute-force ranking ([[bruteForceTopK]]) — the evaluation harness every
    * ANN deployment needs before trusting the approximate path: run both on
    * a query sample, report per-query overlap. Both legs are deterministic
    * (ties break on nbr_id), so recall is exact and engine-reproducible,
    * not a sampled estimate.
    *
    * Scale: each leg is its own bounded top-k (one corpus scan each); the
    * comparison join touches ≤ |queries|·k rows. Run it on a sampled query
    * set — the corpus cost is the two scans, not the comparison.
    *
    * `planes`/`dims`/`multiProbe` parameterize the LSH leg (review finding:
    * hardcoded defaults meant a non-64-dim corpus reported recall 0 for
    * every query — the exact leg scanned everything while srpBucket's
    * dims guard emptied the approximate leg). */
  def annRecall(corpus: DataFrame, queries: DataFrame, k: Int,
                planes: Int = 12, dims: Int = 64, multiProbe: Int = 1): DataFrame =
    recallVsExact(bruteForceTopK(corpus, queries, k),
      lshTopK(corpus, queries, k, planes, dims, multiProbe))

  /** The harness itself, index-agnostic: per-query overlap of ANY
    * approximate (query_id, nbr_id) ranking with the exact one — plug in
    * SRP-LSH, IVF, quantized, or a future index. */
  def recallVsExact(exact: DataFrame, approx: DataFrame): DataFrame = {
    val ex = exact.select(col("query_id"), col("nbr_id"))
    val ap = approx.select(col("query_id"), col("nbr_id"), lit(1).as("__hit"))
    ex.join(ap, Seq("query_id", "nbr_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k_exact"), count(col("__hit")).as("n_hit"))
      .select(col("query_id"), col("n_hit"), col("k_exact"),
        (col("n_hit").cast("double") / col("k_exact")).as("recall"))
  }

  /** IVF-style ANN: coarse-quantize the corpus by max-cosine against a small
    * centroid set (broadcast — at scale these come from a sampled k-means;
    * here any deterministic centroid frame), probe each query's `nprobe`
    * nearest cells, exact cosine rerank within probed cells only. The
    * corpus-side scan assigns cells map-side against broadcast centroids;
    * the probe join is an equi-join on cell id — never an all-pairs pass. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              k: Int, nprobe: Int = 2): DataFrame = {
    // Zero-norm exclusion on ALL THREE frames (corpus/queries below via
    // assign's nrm filter): a zero centroid has no cosine to anything —
    // under ANSI the assignment division throws — so it is excluded here
    // exactly as in ivfPqTopK, and the oracle CTEs carry the same filter
    // (ADVICE r18: the IVF family was the one left asymmetric).
    val cent = broadcast(centroids.select(col("vec_id").as("cent_id"),
      asDouble(col("embedding")).as("cent_emb"), l2norm(col("embedding")).as("cent_nrm"))
      .filter(col("cent_nrm") > 0))

    def assign(df: DataFrame, idAs: String, embAs: String, nrmAs: String,
               keep: Int): DataFrame = {
      val base = df.select(col("vec_id").as(idAs), asDouble(col("embedding")).as(embAs),
        l2norm(col("embedding")).as(nrmAs))
        .filter(col(nrmAs) > 0)
      if (keep == 1) {
        // Corpus side (top-1): LexArgExtreme argmax aggregate — map-side
        // combinable, so the n×k candidate stream reduces before any
        // shuffle. The window form below pushed the FULL candidate stream
        // through a per-vector sort (measured at ×100 / k=800: 27.4 s vs
        // 7.4 s inside ivfPqTopK's aggregate-shaped assignment — the same
        // struct-window-vs-primitive-aggregate cliff assignCells pins).
        // Tie rule identical: max cosine, then the LOWER cent_id.
        val pinned = Materialize.pin(base)
        val win = pinned.join(cent)
          .groupBy(col(idAs))
          .agg(graft.functions.LexArgExtreme.maxByLex(col("cent_id"),
            dot(col(embAs), col("cent_emb")) / (col(nrmAs) * col("cent_nrm")),
            -col("cent_id")).as("cell"))
        pinned.join(win, Seq(idAs))
          .select(col(idAs), col(embAs), col(nrmAs), col("cell"))
      } else {
        // Query side (top-nprobe): tiny frame, the window is fine.
        val scored = base.join(cent)
          .select(col(idAs), col(embAs), col(nrmAs), col("cent_id"),
            (dot(col(embAs), col("cent_emb")) / (col(nrmAs) * col("cent_nrm"))).as("__ccos"))
        val w = Window.partitionBy(idAs).orderBy(col("__ccos").desc, col("cent_id").asc)
        scored.withColumn("__crn", row_number().over(w))
          .filter(col("__crn") <= keep)
          .select(col(idAs), col(embAs), col(nrmAs), col("cent_id").as("cell"))
      }
    }

    val cb = assign(corpus, "nbr_id", "nbr_emb", "nbr_nrm", keep = 1)
    val qb = broadcast(assign(queries, "query_id", "q_emb", "q_nrm", keep = nprobe))
    val scored = cb.join(qb, Seq("cell"))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        (dot(col("q_emb"), col("nbr_emb")) / (col("q_nrm") * col("nbr_nrm"))).as("cos"))
    rankTopK(scored, k, "cos")
      .select(col("query_id"), col("nbr_id"), col("cos"), col("__rn").as("rank"))
  }

  /** Embedding near-dup pairs at scale: candidates share an SRP bucket (no
    * label or other metadata needed), exact cosine verify above `threshold`.
    * The bucket equi-join bounds the pair space to ~n²/2^planes per bucket;
    * raise `planes` as the corpus grows. Recall trades off at bucket
    * boundaries exactly like lshTopK — near-identical vectors agree on all
    * sign bits with high probability. */
  def srpNearDup(df: DataFrame, threshold: Double, planes: Int = 12,
                 dims: Int = 64): DataFrame = {
    val b0 = srpBucket(df, planes, dims)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"),
        l2norm(col("embedding")).as("nrm"), col("bucket"))
      .filter(col("nrm") > 0)
    // consumed by both sides of the self-join
    val b = Materialize.pin(b0)
    pairCosine(b, "bucket")
      .select(col("a"), col("b"), col("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Max-cosine cell assignment against a centroid FRAME — the shape that
    * survives the SemDeDup design point (k ≈ 10⁵ cells for 10⁹ docs): the
    * centroid side is broadcast and joined (plan size O(1) in k), candidates
    * reduce per vector with a map-side-combinable `max_by` argmax, so the
    * shuffle moves ONE pre-reduced row per (map partition, vector) — never
    * the n×k join output. The literal-expression alternative (k dot products
    * against `typedLit` arrays under `greatest(struct…)`) is shuffle-free and
    * faster for SMALL k but embeds O(k·dims) literals in one expression
    * tree; [[kmeansCentroids]] keeps it below [[literalArgmaxMaxK]] only.
    *
    * Ties break toward the lowest cell id (ordering struct carries -cell),
    * identical to the `QUALIFY row_number() … ORDER BY cos DESC, cell`
    * oracle form and to [[ivfTopK]]'s window argmax.
    *
    * `base`: (vec_id, emb double[], nrm) with `vec_id` a UNIQUE NON-NULL
    * key (the embeddings-table contract; both callers feed id-keyed
    * frames) — the fold-back equi-join below replicates duplicate ids and
    * drops null ones, where the old single-pass groupBy collapsed/kept
    * them; `centroids`: (cell, cemb double[]).
    * Returns (vec_id, emb, nrm, cell). */
  def assignCells(base: DataFrame, centroids: DataFrame): DataFrame = {
    // centroid norm computed once per centroid at broadcast build, not per pair
    val cent = broadcast(centroids.select(col("cell"), col("cemb"),
      l2norm(col("cemb")).as("cnrm")))
    // Pinned: both the candidate join and the fold-back join consume base —
    // unpinned, the source scan + norm fold would run twice per call (and
    // per Lloyd iteration in kmeansCentroids).
    val b = graft.Materialize.pin(base)
    // The argmax runs as [[graft.functions.LexArgExtreme]] — max_by with the
    // (cos, -cell) tie rule carried in PRIMITIVE buffer slots. The previous
    // max_by(struct(cell, emb, nrm), struct(cos, -cell)) had TWO struct
    // buffer fields; struct buffers are not UnsafeRow-mutable, so the whole
    // n×k reduction fell off the HashAggregate codegen fast path (measured
    // at ×100 / k=800 / 160M candidate rows: 353 s warm vs 12 s — BASELINE.md
    // r16 (ProbeAnn)). The winner cell folds back onto `base`
    // with one narrow equi-join on vec_id (n rows — noise next to the
    // candidate stream).
    val win = b.select(col("vec_id"), col("emb"), col("nrm")).join(cent)
      .groupBy("vec_id")
      .agg(graft.functions.LexArgExtreme.maxByLex(col("cell"),
        dot(col("emb"), col("cemb")) / (col("nrm") * col("cnrm")),
        -col("cell")).as("cell"))
    b.join(win, Seq("vec_id"))
      .select(col("vec_id"), col("emb"), col("nrm"), col("cell"))
  }

  /** Top-`nprobe` max-cosine cells per vector against a centroid frame —
    * the corpus-side multi-probe that buys back cell-BOUNDARY recall for
    * blocking ops ([[embeddingNearDupCelled]] at nprobe=2: two near-dups
    * split by a Voronoi boundary still meet when either's second-nearest
    * cell is the other's first). Same trade IVF makes on the query side
    * ([[ivfTopK]] probes 2 cells per query); here each CORPUS vector joins
    * its top-2 cells and pair dedup happens downstream.
    *
    * Shape: `nprobe` sequential [[graft.functions.LexArgExtreme]] argmax
    * passes, each excluding the cells already won — NOT one struct-window
    * rank (the n×k candidate stream through a per-vector sort is the
    * measured 27.4→3.8 s cliff assignCells pins). Each pass is map-side
    * combinable, so cost is exactly nprobe × the single-probe assignment;
    * the pair-space bound grows ≤ nprobe² per cell pair shared.
    * Returns (vec_id, cell), one row per probed cell; vectors with fewer
    * reachable cells than nprobe (k < nprobe) emit what exists. */
  def assignCellsMulti(base: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    require(nprobe == 1 || nprobe == 2,
      "corpus-side multi-probe is registered at nprobe <= 2 (pair space grows with nprobe²)")
    val cent = broadcast(centroids.select(col("cell"), col("cemb"),
      l2norm(col("cemb")).as("cnrm")))
    // One pin feeds both argmax passes and the (implicit) caller fold-back.
    val b = graft.Materialize.pin(base)
    def argmax(src: DataFrame): DataFrame = src
      .groupBy("vec_id")
      .agg(graft.functions.LexArgExtreme.maxByLex(col("cell"),
        dot(col("emb"), col("cemb")) / (col("nrm") * col("cnrm")),
        -col("cell")).as("cell"))
    val top1 = argmax(b.select(col("vec_id"), col("emb"), col("nrm")).join(cent))
    if (nprobe == 1) top1
    else {
      val top2 = argmax(
        b.select(col("vec_id"), col("emb"), col("nrm"))
          .join(top1.withColumnRenamed("cell", "__c1"), Seq("vec_id"))
          .join(cent).filter(col("cell") =!= col("__c1")))
      top1.union(top2)
    }
  }

  /** [[kmeansAssign]] at corpus-side multi-probe: (vec_id, cell) with one
    * row per probed cell — the blocking input for nprobe ≥ 2 callers. */
  def kmeansAssignMulti(df: DataFrame, k: Int, iters: Int, dims: Int = 64,
                        trainPct: Int = 100, nprobe: Int = 2): DataFrame = {
    val cents = kmeansCentroids(df, k, iters, dims, trainPct = trainPct)
    val corpus = df.filter(size(col("embedding")) === dims)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"),
        l2norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0) // same zero-norm exclusion as the training
    assignCellsMulti(corpus, centFrame(df.sparkSession, cents), nprobe)
      .select(col("vec_id"), col("cell"))
  }

  /** Above this k, per-iteration k-means assignment abandons the literal
    * map-only argmax (plan/codegen size O(k·dims)) for [[assignCells]]'s
    * broadcast join. */
  val literalArgmaxMaxK = 64

  private def centFrame(spark: org.apache.spark.sql.SparkSession,
                        cents: Seq[(Int, Array[Double])]): DataFrame = {
    import spark.implicits._
    cents.map { case (cell, c) => (cell, c.toSeq) }.toDF("cell", "cemb")
  }

  /** Distributed Lloyd's k-means over the embedding column — the real
    * producer of IVF coarse centroids ([[ivfTopK]] accepts any centroid
    * frame; this closes the "sampled k-means" hand-wave).
    *
    * Execution shape is the standard distributed-k-means contract (what
    * Spark MLlib's KMeans does): per iteration, ONE codegen'd map pass
    * assigns every vector to its max-cosine centroid (k dot products against
    * literal arrays — no join, no window), ONE groupBy reduces per-cell
    * sums, and only k×dims aggregated values ever reach the driver. The
    * corpus never moves; driver traffic is O(k·dims·iters).
    *
    * Determinism / oracle parity: per-dimension sums run in fixed-point
    * (round(x·1e6) as BIGINT) so they are order-independent across
    * partitionings — the same integer-cents trick the money aggregates use —
    * and seeds are the k lowest vec_ids. Every float op (dot, norms,
    * quantize, de-quantize) has the identical sequential form in the
    * generated DuckDB oracle, so assignments hash-match exactly.
    */
  /** Salt for the Lloyd training-sample bucket ([[Sampling.hashBucket]] on
    * vec_id) — shared with the oracle CTEs, which replay the identical md5
    * arithmetic. */
  val lloydTrainSalt = "lloyd"

  def kmeansCentroids(df: DataFrame, k: Int, iters: Int, dims: Int = 64,
                      literalMaxK: Int = literalArgmaxMaxK,
                      trainPct: Int = 100)
      : Seq[(Int, Array[Double])] = {
    require(trainPct > 0 && trainPct <= 100)
    val scale = 1e6
    // Zero-norm exclusion (the object-level contract): a zero vector has
    // no cosine to any centroid — under ANSI the assignment division
    // throws DIVIDE_BY_ZERO outright (caught by OpsSpec's celled test, r18)
    // — so zero vectors neither seed, nor vote in the per-cell means, nor
    // receive a cell. The oracle CTEs carry the identical bz filter.
    val corpus = df.filter(size(col("embedding")) === dims)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"),
        l2norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)
    // Sampled training (SemDeDup's own posture, measured BASELINE.md r18
    // (ProbeAnn e2sample): 10% sample cuts the ×1000 wall 143.8 → 58.9 s, recall flat):
    // seeds AND every Lloyd iteration read only the deterministic
    // md5-bucket sample; callers assign the FULL corpus against the
    // resulting centroids. Membership is hash arithmetic on vec_id (the
    // x6/x7 convention), so the oracle replays it with one `bs` CTE and
    // the same predicate — no seed drift, engine-independent. When the
    // sample has fewer than k vectors both engines degrade identically
    // (min(k, |sample|) seeds — QUALIFY rn <= k on the same smaller set).
    // Pinned: the seed collect and EVERY Lloyd iteration read this frame —
    // unpinned, each of those (iters + 1) actions re-ran the source scan,
    // the norm fold and the sample filter (guide §5: cache what is reused
    // and expensive to recompute; MLlib pins its training set for the same
    // reason). Values are unchanged: same rows, same per-row arithmetic,
    // and the per-cell sums are commutative exact-integer folds.
    val train = graft.Materialize.pin(
      if (trainPct >= 100) corpus
      else corpus.filter(Sampling.hashBucket(col("vec_id"), 100, lloydTrainSalt) < trainPct))
    var cents: Seq[(Int, Array[Double])] = train.orderBy("vec_id").limit(k)
      .select(col("emb")).collect()
      .map(_.getSeq[Double](0).toArray).zipWithIndex.map { case (c, i) => (i, c) }.toSeq

    def cellOf(cs: Seq[(Int, Array[Double])]): Column = {
      val structs = cs.map { case (cell, c) =>
        val nrm = math.sqrt(c.map(x => x * x).sum) // sequential, oracle-identical
        struct((dot(col("emb"), typedLit(c.toSeq)) / (col("nrm") * lit(nrm))).as("cos"),
          lit(-cell).as("ni"))
      }
      -greatest(structs: _*).getField("ni")
    }

    // Small k: shuffle-free literal argmax (one map pass, partial sums
    // combine map-side). Large k: the literal tree would be O(k·dims), so
    // assignment joins against the broadcast centroid frame instead — one
    // extra pre-reduced shuffle per iteration, plan size O(1) in k. Both
    // paths compute bit-identical cosines (same sequential dot/norm folds).
    def assignIter(cs: Seq[(Int, Array[Double])]): DataFrame =
      if (cs.size <= literalMaxK)
        train.select(cellOf(cs).as("cell"), col("emb"))
      else
        assignCells(train, centFrame(df.sparkSession, cs))
          .select(col("cell"), col("emb"))

    for (_ <- 1 to iters) {
      val sums = (0 until dims).map(d =>
        sum(round(element_at(col("emb"), d + 1) * scale).cast("long")).as(s"s$d"))
      val reduced = assignIter(cents)
        .groupBy("cell").agg(count(lit(1)).as("n"), sums: _*)
        .collect()
        .map(r => r.getAs[Int]("cell") ->
          ((0 until dims).map(d => r.getAs[Long](s"s$d").toDouble /
            (scale * r.getAs[Long]("n").toDouble)).toArray))
        .toMap
      cents = cents.map { case (cell, old) => (cell, reduced.getOrElse(cell, old)) }
    }
    cents
  }

  /** Final cell assignment (vec_id, cell) under [[kmeansCentroids]] — the
    * integer-only output shape the cross-engine correctness gate hashes.
    * Always the [[assignCells]] broadcast-join shape: this is the one-shot
    * output pass, so the extra pre-reduced shuffle is cheap insurance that
    * the plan stays O(1) in k all the way to IVF-scale centroid counts. */
  def kmeansAssign(df: DataFrame, k: Int, iters: Int, dims: Int = 64,
                   trainPct: Int = 100): DataFrame = {
    val cents = kmeansCentroids(df, k, iters, dims, trainPct = trainPct)
    val corpus = df.filter(size(col("embedding")) === dims)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"),
        l2norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0) // same zero-norm exclusion as the training
    assignCells(corpus, centFrame(df.sparkSession, cents))
      .select(col("vec_id"), col("cell"))
  }

  /** [[kmeansCentroids]] as a centroid frame consumable by [[ivfTopK]]. */
  def kmeansCentroidFrame(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                          k: Int, iters: Int, dims: Int = 64,
                          trainPct: Int = 100): DataFrame = {
    import spark.implicits._
    kmeansCentroids(df, k, iters, dims, trainPct = trainPct)
      .map { case (cell, c) => (cell.toLong, c.toSeq) }
      .toDF("vec_id", "embedding")
  }

  /** Scalar-quantized (int8) brute-force top-k — the memory/bandwidth path
    * for ANN at 100 TB: each vector is quantized once to 64 small integers
    * (q[i] = round(x[i]·127/maxabs), the symmetric per-vector scheme), and
    * every pair comparison runs on the quantized form. A float32 corpus
    * shrinks 4x (int8 storage), scan bandwidth shrinks with it, and the
    * dot products stay EXACT integers (|q·q'| ≤ 64·127² < 2^53), so the
    * ranking is bit-stable across engines — no float-accumulation drift.
    *
    * Quantized values ride as integer-valued doubles so the codegen'd
    * [[dot]] primitive computes the integer dot exactly; a dedicated int8
    * kernel is a storage-format change, not a plan change. The per-vector
    * max|x| is hoisted behind a Generate barrier — inside the transform
    * lambda it would re-evaluate per element (64x).
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    def quant(df: DataFrame, idAs: String, pre: String): DataFrame = {
      val hoisted = df.select(col("vec_id").as(idAs),
        explode(array(struct(
          asDouble(col("embedding")).as("e"),
          array_max(transform(col("embedding"), x => abs(x.cast("double")))).as("m")))).as("__q"))
      // max|x| > 0 guarantees some q element is ±127, so norms are nonzero —
      // filtering HERE (on the scalar) instead of on the norm keeps the
      // quantization out of a pushed-down filter predicate (CollapseProject
      // would otherwise re-expand it per consumer: measured 3x per row).
      val qExpr = transform(col("__q.e"), x => round(x * lit(127.0) / col("__q.m")))
      hoisted.filter(col("__q.m") > 0)
        .select(col(idAs), explode(array(qExpr)).as(pre + "q")) // barrier
        .select(col(idAs), col(pre + "q"),
          sqrt(dot(col(pre + "q"), col(pre + "q"))).as(pre + "nrm"))
    }
    val c = quant(corpus, "nbr_id", "nbr_")
    val q = broadcast(quant(queries, "query_id", "q_"))
    // one dot per pair: the shared product sits behind a Generate barrier so
    // qdot and approx_cos don't each re-run the 64-term loop
    val scored = c.join(q, col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"), col("q_nrm"), col("nbr_nrm"),
        explode(array(dot(col("q_q"), col("nbr_q")))).as("__d"))
      .select(col("query_id"), col("nbr_id"),
        col("__d").cast("long").as("qdot"),
        (col("__d") / (col("q_nrm") * col("nbr_nrm"))).as("approx_cos"))
    rankTopK(scored, k, "approx_cos")
      .select(col("query_id"), col("nbr_id"), col("qdot"), col("approx_cos"),
        col("__rn").cast("int").as("rank"))
  }

  /** Random-projection (Johnson–Lindenstrauss) dimensionality reduction:
    * project each embedding onto `outDims` deterministic ±1 hyperplanes (the
    * same md5-derived [[planeSign]] family SRP hashing uses — reproducible on
    * any engine, no stored projection matrix). The map that makes 100 TB ANN
    * cheaper: downstream distance work runs on outDims ≪ dims columns, at
    * the JL distortion bound. Achlioptas (2003) shows ±1 entries lose
    * nothing vs Gaussian. Map-only, codegen'd, shuffle-free; outputs flat
    * double columns r0..r{outDims-1} (exact signed sums of input floats —
    * callers rescale by 1/√outDims if they need unbiased norms).
    */
  def randomProjection(df: DataFrame, outDims: Int, dims: Int = 64): DataFrame = {
    val emb = asDouble(col("embedding"))
    val outs = (0 until outDims).map { p =>
      val w = typedLit((0 until dims).map(d => planeSign(p, d).toDouble))
      dot(emb, w).as(s"r$p")
    }
    df.filter(size(col("embedding")) === dims)
      .select(col("vec_id") +: outs: _*)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic deduplication —
    * cluster the corpus into cells, and within each cell drop every vector
    * that has an earlier (lower vec_id) cell-mate with cosine ≥ `threshold`.
    * The "keep one per semantic cluster" pass web-scale training corpora run
    * after exact/MinHash dedup; unlike d3/d5 it catches paraphrases that
    * share no n-grams.
    *
    * Scale shape: assignment is [[assignCells]]'s broadcast-join + reduced
    * argmax — the centroid frame NEVER collects to the driver and the plan
    * stays O(1) in k, which is what survives SemDeDup's own design point
    * (the paper uses k≈10⁵ cells for 10⁹ docs; a literal expression tree at
    * that k would blow up codegen and the driver). The pair comparison is an
    * equi-join on the cell id, bounded per cell because k grows with the
    * corpus. Output is every vector's (cell, keep) — callers filter `keep`
    * to materialize the survivor corpus.
    */
  def semDedup(df: DataFrame, centroids: DataFrame, threshold: Double,
               dims: Int = 64): DataFrame = {
    val centF = centroids.filter(size(col("embedding")) === dims)
      .select(col("vec_id").as("cell"), asDouble(col("embedding")).as("cemb"))
    require(centF.head(1).nonEmpty, "empty centroid set")
    val base = df.filter(size(col("embedding")) === dims)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"),
        l2norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)
    val assigned0 = assignCells(base, centF)
      .select(col("vec_id"), col("emb"), col("nrm"), col("cell"))
    // consumed by both pair-join sides and the final output
    val assigned = Materialize.pin(assigned0)
    val dropped = pairCosine(assigned, "cell")
      .filter(col("cos") >= threshold)
      .select(col("b").as("vec_id")).distinct()
    assigned.select(col("vec_id"), col("cell"))
      .join(dropped.withColumn("__d", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("__d").isNull.as("keep"))
  }

  /** Embedding near-duplicate pairs: cosine above `threshold` among pairs
    * sharing a coarse partition key (here: label) — the oracle-trivial
    * spec shape. The key bounds the pair space only as far as the key's
    * own cardinality: with a handful of labels over a grown corpus the
    * within-label pair count is density-QUADRATIC (BASELINE.md r16 (ProbeAnn): 2.0B
    * candidate pairs / 92.6 s at ×100), so the registered production
    * shape is [[embeddingNearDupCelled]], which composes the label with a
    * corpus-grown k-means cell. This form remains the recall ground truth
    * the Celled blocking is measured against (OpsSpec pins the numbers).
    *
    * Norms are computed once per vector before the pair join (norm(v) is
    * pair-invariant); only the dot product runs per pair — 3x less array
    * arithmetic than naive cosine-per-pair, same values. */
  def embeddingNearDup(df: DataFrame, threshold: Double): DataFrame = {
    val normed = df.select(col("label"), col("vec_id"),
      asDouble(col("embedding")).as("emb"), l2norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)
    pairCosine(normed, "label").filter(col("cos") >= threshold)
  }

  /** Embedding near-dup at the loose-threshold production blocking:
    * label ∧ corpus-grown k-means cell (k = ⌈√n⌉ derived, real Lloyd
    * centroids trained in-query — the d8 machinery, which this op's own
    * loose-threshold guidance points at). Replaces the r17 label ∧ SRP
    * composed blocking as e2's REGISTERED shape: single-signature SRP is
    * a tight-threshold tool, and the measured recall of at-threshold
    * (0.3) pairs against the label-only ground truth is
    *
    *   | blocking            | sf0.01 (111 true pairs) | sf0.1 (1449) |
    *   |---------------------|-------------------------|--------------|
    *   | SRP 16 planes       | 0.000                   | 0.000        |
    *   | SRP  8 planes (r17) | 0.027                   | 0.025        |
    *   | SRP  4 planes       | 0.198                   | 0.153        |
    *   | label ∧ cell, full train, nprobe=1 | 0.279    | 0.121–0.137  |
    *   | label ∧ cell, 10% train, nprobe=1  | 0.225    | 0.121        |
    *   | label ∧ cell, 10% train, nprobe=2 (r19, REGISTERED) | **0.459** | **0.299** |
    *
    * (BASELINE.md r18/r19 (ProbeAnn e2recall / e2probe)) — the cell blocking dominates
    * every SRP width that is still scale-bounded, at the same
    * O(n²/(labels·k)) pair-space bound with k growing as √n. The
    * corpus-side nprobe=2 multi-probe ([[assignCellsMulti]]) recovers the
    * cell-BOUNDARY pairs — 2.0×/2.5× the single-probe recall at sf0.01/
    * sf0.1 — for ≤2× assignment cost and a pair space still bounded by
    * within-cell density (measured ×100: 27.5→20.5 s wall, +17% pairs;
    * the pair join, not the second argmax, is where the time lives).
    * OpsSpec pins the recall numerically so a regression fails loudly.
    * Training cost is the d8 price: O(n·k) assignment per Lloyd iteration
    * over the 10% training sample, O(k·dims·iters) driver traffic.
    *
    * 100-TB training posture (measured, BASELINE.md r18 (ProbeAnn e2sample); REGISTERED
    * r19 at `trainPct = 10` per the r18 verdict): train the Lloyd
    * iterations on a deterministic md5-bucket SAMPLE (the
    * Sampling.hashBucket convention — oracle-replayable) and assign the
    * full corpus — the SemDeDup paper's own posture. At ×1000 a 10%
    * training sample cuts this op 143.8 → 58.9 s with 97.5% of the pair
    * mass retained; at sf0.1 recall vs the label-only truth is flat
    * (0.127–0.133 sampled vs 0.137 full). Past ~10% the wall is
    * assignment + output emission, not training. The oracle replays the
    * sample with one `bs` CTE carrying the identical bucket predicate on
    * the c0/a-iteration chain (final assignment still reads the full
    * nonzero corpus). */
  def embeddingNearDupCelled(df: DataFrame, threshold: Double,
                             dims: Int = 64, trainPct: Int = 100,
                             nprobe: Int = 1): DataFrame = {
    val k = derivedCellCount(df, dims)
    val cells =
      if (nprobe == 1) kmeansAssign(df, k, iters = 2, dims = dims, trainPct = trainPct)
      else kmeansAssignMulti(df, k, iters = 2, dims = dims, trainPct = trainPct,
        nprobe = nprobe)
    val keyed0 = df.filter(size(col("embedding")) === dims)
      .select(col("label"), col("vec_id"), asDouble(col("embedding")).as("emb"),
        l2norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)
      .join(cells, Seq("vec_id"))
    // consumed by both sides of the self-join
    val keyed = Materialize.pin(keyed0)
    val pairs = pairCosine(keyed, "label", "cell")
      .filter(col("cos") >= threshold)
      .select(col("label"), col("a"), col("b"), col("cos"))
    // nprobe >= 2: a pair sharing BOTH probed cells matches twice — dedup.
    // cos is bit-identical across the duplicates (same sequential fold on
    // the same inputs), so distinct() collapses them exactly.
    if (nprobe == 1) pairs else pairs.distinct()
  }

  /** √n cell-count heuristic for [[semDedup]] — the same derive-the-knob
    * rule as the pair-join shuffle width and the interval bucket width:
    * total cost ≈ c1·n·k (assignment) + c2·n²/k (within-cell pairs) is a
    * U-curve in k with optimum at k ≈ √(c2·n/c1), so k grows with the
    * corpus instead of letting per-cell density (the quadratic term) grow
    * unbounded — BASELINE.md r16 (ProbeAnn) has the k=8 stand-in at ~255 s / 2.5B
    * within-cell pairs at ×100 where k=800 ran 7.3 s. One driver-side
    * scalar (a count), same bounded-collect contract as the guard scalars. */
  def derivedCellCount(df: DataFrame, dims: Int = 64): Int = {
    val n = df.filter(size(col("embedding")) === dims).count()
    math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
  }

  /** Product-quantization ANN top-k (asymmetric distance computation): the
    * corpus is compressed to `m` small integer codes per vector — each code
    * the nearest codebook centroid of one `dims/m`-dim subvector — and
    * queries scan CODES, not floats, via a per-query lookup table. The
    * memory-bound regime's workhorse (IVF narrows WHERE to look, PQ shrinks
    * WHAT is scanned); composable with [[ivfTopK]] as IVF-PQ.
    *
    * Codebook: the `codes` lowest-vec_id corpus vectors stand in for the
    * per-subspace k-means codebooks ([[kmeansAssign]] trains real ones at
    * production — the encode/scan machinery is identical and that is what
    * this operator demonstrates). Selected by RANK (orderBy + limit), not
    * `vec_id < codes`: with sparse or offset id spaces the literal
    * comparison yields an undersized or empty codebook and a silently
    * empty result (review finding).
    *
    * Determinism: subspace distances use the 3-dot expansion
    * `‖v‖² − 2·v·c + ‖c‖²` via the sequential-fold [[dot]] (bit-identical in
    * the oracle); LUT entries are fixed-point longs (floor(d·2²⁰ + 0.5)), so
    * the ADC sum is an exact integer aggregate — order-free across
    * partitions — and ties break on (distance, code) / (dist, nbr_id).
    *
    * Scale: encode is one broadcast-codebook pass + one (vec, subspace)
    * min_by aggregate (map-side combinable); the query LUT is
    * queries × m × codes rows, broadcast; the scan is an equi-join on
    * (m, code) + one integer sum shuffle keyed (query, nbr). The corpus
    * never pairs with itself and floats never cross a shuffle. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 4,
             codes: Int = 4, dims: Int = 64): DataFrame = {
    require(m > 0 && dims % m == 0 && codes > 0)
    val sub = dims / m
    val cb = pqCodebook(corpus, codes, dims)
    val corp = corpus.filter(size(col("embedding")) === dims)
      .select(col("vec_id").as("nbr_id"), asDouble(col("embedding")).as("v_emb"))
    val enc = pqEncode(corp, "nbr_id", "v_emb", cb, m, sub)
    val lut = pqLut(queries, cb, m, sub)
    val scored = enc.join(broadcast(lut), Seq("m", "code"))
      .filter(col("query_id") =!= col("nbr_id"))
      .groupBy("query_id", "nbr_id").agg(sum(col("qd")).as("dist_fx"))
    adcRankTail(scored, k)
  }

  /** PQ codebook: the `codes` lowest-vec_id corpus vectors (rank-selected —
    * see [[pqTopK]]'s codebook doc). Same dims guard as the corpus/query
    * sides (and the oracle's base CTE): a wrong-length vector with a low
    * vec_id must not enter the codebook. orderBy+limit, not
    * `vec_id < codes`; the code value stays the vec_id itself — it is an
    * identifier, joins and tie-breaks only. */
  private def pqCodebook(corpus: DataFrame, codes: Int, dims: Int): DataFrame =
    corpus.filter(size(col("embedding")) === dims)
      .select(col("vec_id"), asDouble(col("embedding")).as("cb_emb"))
      .orderBy(col("vec_id").asc).limit(codes)
      .select(col("vec_id").as("code"), col("cb_emb"))

  /** Per-subspace squared distances of `e` against the joined codebook row
    * (`cb_emb` in scope), exploded to (m, d) structs — the 3-dot expansion
    * ‖v‖² − 2·v·c + ‖c‖² via the sequential-fold [[dot]], bit-identical in
    * the oracle. */
  private def pqSubDists(e: Column, m: Int, sub: Int): Column = {
    def subv(c: Column, mi: Int): Column = slice(c, mi * sub + 1, sub)
    explode(array((0 until m).map { mi =>
      val vm = subv(e, mi); val cm = subv(col("cb_emb"), mi)
      struct(lit(mi).as("m"),
        (dot(vm, vm) - lit(2.0) * dot(vm, cm) + dot(cm, cm)).as("d"))
    }: _*))
  }

  /** PQ encode: one code per (vector, subspace) — nearest codebook entry,
    * ties to the lower code. Input: (`idCol`, `embCol` double[]). */
  private def pqEncode(vecs: DataFrame, idCol: String, embCol: String,
                       cb: DataFrame, m: Int, sub: Int): DataFrame =
    vecs.join(broadcast(cb))
      .select(col(idCol), col("code"), pqSubDists(col(embCol), m, sub).as("sd"))
      .groupBy(col(idCol), col("sd.m").as("m"))
      // primitive-buffer lexicographic argmin — the struct-ordered min_by
      // demotes this n×codes×m reduction off codegen (see assignCells)
      .agg(graft.functions.LexArgExtreme.minByLex(
        col("code"), col("sd.d"), col("code")).as("code"))

  /** Per-query ADC lookup table: (query_id, m, code, qd) with qd the
    * fixed-point (floor(d·2²⁰ + 0.5)) subspace distance — queries × m ×
    * codes rows, always broadcast by callers. */
  private def pqLut(queries: DataFrame, cb: DataFrame, m: Int, sub: Int): DataFrame =
    queries.filter(size(col("embedding")) === (m * sub))
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q_emb"))
      .join(broadcast(cb))
      .select(col("query_id"), col("code"), pqSubDists(col("q_emb"), m, sub).as("sd"))
      .select(col("query_id"), col("sd.m").as("m"), col("code"),
        floor(col("sd.d") * lit(1048576.0) + lit(0.5)).cast("long").as("qd"))

  /** Shared ADC ranking tail: per-query ascending fixed-point distance,
    * ties to the lower nbr_id, de-scaled double dist on the way out. */
  private def adcRankTail(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist_fx").asc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("rank"),
        (col("dist_fx").cast("double") / lit(1048576.0)).as("dist"))
  }

  /** IVF-PQ composed ANN — the 100-TB workhorse both halves' Scaladocs
    * point at: IVF narrows WHERE to look (each query scans only its
    * `nprobe` coarse cells), PQ shrinks WHAT is scanned there (codes, not
    * floats). [[ivfTopK]] alone still computes exact cosine against every
    * vector in the probed cells; [[pqTopK]] alone still scans every
    * corpus code for every query. The composition does neither.
    *
    * Execution shape, in scale order:
    *  1. corpus cell assignment — broadcast-centroid argmax via
    *     [[graft.functions.LexArgExtreme]] (map-side combinable; the same
    *     primitive-buffer shape assignCells pins), ONE pass;
    *  2. PQ encode — broadcast-codebook pass + (vec, subspace) argmin
    *     ([[pqEncode]]), ONE pass;
    *  3. enc ⋈ cells on nbr_id — narrow int-only equi-join of two
    *     corpus-keyed frames (co-partitionable on a cluster);
    *  4. probe scan — map-side joins against TWO broadcasts (the per-query
    *     probed-cell list and the ADC LUT restricted to it), then one
    *     integer-sum shuffle keyed (query_id, nbr_id).
    * The corpus never pairs with itself, floats never cross a shuffle, and
    * per-query work is |cells probed| · codes-per-vector — independent of
    * corpus size once cells are balanced.
    *
    * Determinism matches the two halves exactly: cell ties to the lower
    * cent_id, code ties to the lower code, ADC sums are fixed-point longs,
    * rank ties to the lower nbr_id. `centroids` is any (vec_id, embedding)
    * frame — [[kmeansCentroidFrame]] at production, deterministic stand-ins
    * in the gate (same contract as [[ivfTopK]]). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                k: Int, nprobe: Int = 2, m: Int = 4, codes: Int = 4,
                dims: Int = 64): DataFrame = {
    require(m > 0 && dims % m == 0 && codes > 0 && nprobe > 0)
    val sub = dims / m
    val cent = broadcast(centroids.filter(size(col("embedding")) === dims)
      .select(col("vec_id").as("cent_id"), asDouble(col("embedding")).as("cent_emb"),
        l2norm(col("embedding")).as("cent_nrm"))
      .filter(col("cent_nrm") > 0))
    // Corpus base, pinned: feeds the cell argmax AND the PQ encode — two
    // consumers, one scan + norm fold (same rule as every pin site).
    val corp = Materialize.pin(corpus.filter(size(col("embedding")) === dims)
      .select(col("vec_id").as("nbr_id"), asDouble(col("embedding")).as("v_emb"),
        l2norm(col("embedding")).as("v_nrm"))
      .filter(col("v_nrm") > 0))
    // 1. IVF leg, corpus side: one cell per vector (argmax cosine, ties to
    // the lower cent_id) — LexArgExtreme, not a window: map-side combinable.
    val cells = corp.join(cent)
      .groupBy(col("nbr_id"))
      .agg(graft.functions.LexArgExtreme.maxByLex(col("cent_id"),
        dot(col("v_emb"), col("cent_emb")) / (col("v_nrm") * col("cent_nrm")),
        -col("cent_id")).as("cell"))
    // IVF leg, query side: nprobe cells per query (window — queries are
    // tiny and broadcast; same argmax/tie rule as ivfTopK's assign).
    val qscored = queries.filter(size(col("embedding")) === dims)
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q_emb"),
        l2norm(col("embedding")).as("q_nrm"))
      .filter(col("q_nrm") > 0)
      .join(cent)
      .select(col("query_id"), col("cent_id"),
        (dot(col("q_emb"), col("cent_emb")) / (col("q_nrm") * col("cent_nrm"))).as("__ccos"))
    val wq = Window.partitionBy("query_id").orderBy(col("__ccos").desc, col("cent_id").asc)
    val qcells = qscored.withColumn("__crn", row_number().over(wq))
      .filter(col("__crn") <= nprobe)
      .select(col("query_id"), col("cent_id").as("cell"))
    // 2. PQ leg: codebook + corpus codes + per-query LUT (shared machinery
    // with pqTopK — the composition is new wiring, not new arithmetic).
    val cb = pqCodebook(corpus, codes, dims)
    val enc = pqEncode(corp.select(col("nbr_id"), col("v_emb")), "nbr_id", "v_emb", cb, m, sub)
    val lut = pqLut(queries, cb, m, sub)
    // 3-4. Probe scan: restrict the LUT to each query's probed cells (tiny:
    // queries × nprobe × m × codes rows — broadcast), key it by cell, and
    // equi-join the cell-annotated codes. Each (query, nbr-in-probed-cell,
    // m) matches exactly one LUT row, so the integer sum is the full ADC
    // distance over all m subspaces.
    val lutCell = broadcast(qcells.join(lut, Seq("query_id")))
    val scored = enc.join(cells, Seq("nbr_id"))
      .join(lutCell, Seq("cell", "m", "code"))
      .filter(col("query_id") =!= col("nbr_id"))
      .groupBy("query_id", "nbr_id").agg(sum(col("qd")).as("dist_fx"))
    adcRankTail(scored, k)
  }
}
