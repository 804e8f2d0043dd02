package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.Materialize.DatasetPin

/** Deduplication operators for a training-data pipeline (north star):
  * exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard.
  *
  * Design for 100 TB:
  *  - every hash is computed map-side from the text column; only fixed-width
  *    signatures / 16-byte digests ever reach a shuffle, never the documents;
  *  - MinHash+LSH turns the O(n²) all-pairs problem into a band-bucket
  *    equi-join: documents shuffle once on (band_id, band_key) and only
  *    bucket-mates are compared;
  *  - all hashing is md5-derived 31-bit arithmetic — deterministic and
  *    reproducible in ANSI SQL (the DuckDB oracle runs the same formulas).
  */
object Dedup {

  /** Modulus for the universal-hash family: the Mersenne prime 2^31-1.
    * Inputs are reduced mod P before multiplying so a*x + b stays < 2^63. */
  val P = 2147483647L

  /** Fixed (a, b) pairs for the k=8 MinHash permutations h_i(x) = (a·x+b) mod P. */
  val minhashSeeds: Seq[(Long, Long)] = Seq(
    (1103515245L, 12345L),
    (1299709L, 771943L),
    (15485863L, 32452843L),
    (982451653L, 57885161L),
    (715225739L, 179424673L),
    (2038074743L, 97L),
    (87178291L, 199L),
    (514229L, 39916801L))

  /** 31-bit integer hash of a string via md5: first 8 hex chars -> int, mod P.
    * Identical in DuckDB as CAST('0x' || substr(md5(s),1,8) AS BIGINT) % P. */
  def strHash31(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long") % P

  /** Word n-gram shingles of a text column (space-joined token runs).
    * Built with O(1) `element_at` lookups per shingle rather than
    * `slice` (which copies O(n) per shingle → O(len²) per document). */
  def wordShingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.WordShingles(
      Bridge.expression(TextAnalysis.tokens(text)), n))
  }

  /** Distinct shingle hash set (array<long>), the MinHash input. */
  def shingleHashes(text: Column, n: Int): Column =
    transform(array_distinct(wordShingles(text, n)), s => strHash31(s))

  /** Shingle hashes as skinny (doc_id, h) rows — the workhorse form.
    * [[wordShingles]] is a native expression (its token child evaluates once,
    * no interpreted lambdas — the old HOF form needed an explode barrier to
    * avoid re-running the token regexp per element), so a single Generate
    * explodes shingles straight into the codegen'd md5 hash.
    * `dropEmpty` excludes WordShingles' zero-token fallback shingle ("") —
    * the FREE form of the zero-token exclusion (a post-explode filter on an
    * already-computed attribute, vs the old pre-filter that re-ran the full
    * tokenization regex per document just to count tokens; review finding).
    * Real shingles are space-joined non-empty tokens and can never be "",
    * so the filter touches exactly the zero-token docs. */
  def shingleHashRows(docs: DataFrame, textCol: String, n: Int,
                      dropEmpty: Boolean = false): DataFrame = {
    val rows = graft.model.Tables
      .spread(docs.select(col("doc_id"), col(textCol)), col("doc_id"))
      .select(col("doc_id"), explode(wordShingles(col(textCol), n)).as("__shingle"))
    val kept = if (dropEmpty) rows.filter(col("__shingle") =!= "") else rows
    kept.select(col("doc_id"), strHash31(col("__shingle")).as("h"))
  }

  /** Per-document MinHash signatures (flat columns, shuffle-friendly).
    *
    * Shape matters here: computing the k minima as k array expressions over
    * a shared `hashes` array would re-inline the (expensive) shingle
    * pipeline once PER signature column — Catalyst's CollapseProject
    * re-expands shared subexpressions. Instead the shingle hashes are
    * exploded once and the k minima are k `min` aggregates over the skinny
    * (doc_id, h) rows: one shingle evaluation total, map-side partial
    * aggregation, and the resulting shuffle exchange is reused by every
    * downstream branch (LSH banding's self-joins) instead of recomputed. */
  def minhashSignatures(df: DataFrame, textCol: String, n: Int = 3): DataFrame = {
    // min() is duplicate-insensitive, so no distinct pass is needed here.
    // Zero-TOKEN docs are excluded (not just null text): WordShingles'
    // zero-token fallback is the single empty shingle, so punctuation-only
    // docs would all share one signature and cross-join as jaccard-1.0
    // fake near-dups (review finding). A doc with no lexical tokens has
    // nothing to lexically near-dup; exact dedup (t1) still covers it.
    // The exclusion is dropEmpty's post-explode filter — the old
    // size(tokens(text)) >= 1 pre-filter re-ran the whole tokenization
    // regex per document, doubling the stage's dominant CPU (review
    // finding). A zero-token doc emits exactly the one "" shingle, so
    // dropping it removes the doc from the groupBy identically.
    val aggs = minhashSeeds.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("h") + lit(b)) % P).as(s"mh$i")
    }
    shingleHashRows(df, textCol, n, dropEmpty = true)
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** One-pass form: MinHash signature columns AND the distinct shingle-hash
    * set from a single shingle evaluation and a single doc_id shuffle,
    * materialized via `localCheckpoint`. The near-dup pipeline consumes the
    * frame five times (band self-join ×3, jaccard set join ×2); without
    * materialization Catalyst prunes each branch's aggregate differently, the
    * exchanges stop canonicalizing equal, ReusedExchange never fires, and the
    * documents are re-shingled per branch (measured: 5 shingle evaluations in
    * the d3 plan). Signatures are ~100 bytes/doc — at 100 TB of text this is
    * the classic "materialize the sketch, not the corpus" trade. */
  def minhashSignaturesWithSets(df: DataFrame, textCol: String, n: Int = 3): DataFrame = {
    // Round 4: built on the per-row form — the k minima and the distinct set
    // come from ONE map-only projection (native MinHashSig loop), so the
    // aggregation shuffle this function used to pay is gone entirely; the
    // materialization below is unchanged (the frame still feeds 5 branches).
    val sigs = rowMinhashSignatures(df, textCol, n)
    Materialize.pin(sigs)
  }

  /** Per-ROW MinHash signatures + shingle set: the streaming-safe form.
    *
    * The aggregate form ([[minhashSignatures]]) needs a groupBy — a stateful
    * operation on a stream. Here the k minima come from ONE native loop over
    * the row's shingle-hash array ([[graft.functions.MinHashSig]], codegen'd)
    * so the whole signature is a stateless projection usable in a streaming
    * select. Two Generate barriers pin evaluation order: the shingle-hash
    * array materializes once (CollapseProject cannot re-inline through a
    * Generate), then the signature array and the distinct set both read that
    * column. Values are IDENTICAL to the aggregate form (min is duplicate-
    * insensitive; same (a·h+b) mod P family) — certified by the d2 oracle
    * run against this form as `d7_minhash_rowsig`. */
  def rowMinhashSignatures(df: DataFrame, textCol: String, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    // Null-text AND zero-token docs are DROPPED, matching the aggregate
    // form — otherwise they'd all share the md5('') band key downstream
    // (WordShingles' zero-token fallback is the single empty shingle) and
    // cross-join as fake jaccard-1.0 near-dups (review finding). rlike,
    // not size(tokens(...)) >= 1: the predicate only needs "at least one
    // token EXISTS", and rlike short-circuits at the first match while
    // extract-all scans the whole document — the old filter doubled the
    // stage's dominant regex CPU (review finding).
    val base0 = df.select(col("doc_id"), col(textCol))
      .filter(col(textCol).isNotNull &&
        lower(col(textCol)).rlike(TextAnalysis.TokenRegex))
    val base =
      if (df.isStreaming) base0
      else graft.model.Tables.spread(base0, col("doc_id"))
    val withHashes = base.select(col("doc_id"),
      explode(array(shingleHashes(col(textCol), n))).as("__h"))
    val sig = Bridge.column(graft.functions.MinHashSig(
      Bridge.expression(col("__h")), minhashSeeds, P))
    val packed = withHashes.select(col("doc_id"),
      explode(array(struct(sig.as("mharr"),
        // distinct HASH values (not just distinct shingles): matches the
        // aggregate form's collect_set(h) under hash collisions
        sort_array(array_distinct(col("__h"))).as("sh")))).as("__s"))
    packed.select(col("doc_id") +:
      (minhashSeeds.indices.map(i =>
        element_at(col("__s.mharr"), i + 1).as(s"mh$i")) :+
        col("__s.sh").as("sh")): _*)
  }

  /** Exact Jaccard for candidate (a, b) pairs from a precomputed
    * (doc_id, ..., sh) frame — no re-shingling. */
  def jaccardFromSets(pairs: DataFrame, sets: DataFrame): DataFrame = {
    val sh = sets.select(col("doc_id"), col("sh"))
    pairs
      .join(sh.withColumnRenamed("doc_id", "a").withColumnRenamed("sh", "sh_a"), Seq("a"))
      .join(sh.withColumnRenamed("doc_id", "b").withColumnRenamed("sh", "sh_b"), Seq("b"))
      .select(col("a"), col("b"), jaccardExpr(col("sh_a"), col("sh_b")).as("jaccard"))
  }

  /** The (band_id, band_key) structs for the k/r LSH bands over the flat
    * mh0..mhK-1 signature columns — the ONE definition of the band key
    * (md5 of the '_'-joined slice) shared by the batch pipeline and the
    * streaming probe, so the two sides can never drift apart. */
  def bandStructs(rowsPerBand: Int): Seq[Column] = {
    val k = minhashSeeds.size
    // Loud, not lossy: k % rowsPerBand != 0 would silently DROP the trailing
    // signature columns from every band — detection probability would fall
    // below the documented k/r S-curve with no error (review finding).
    require(k % rowsPerBand == 0,
      s"rowsPerBand=$rowsPerBand must divide the signature width $k " +
        "(trailing minhash columns would be silently unused)")
    (0 until k / rowsPerBand).map { bnd =>
      val slice = (0 until rowsPerBand).map(r => col(s"mh${bnd * rowsPerBand + r}").cast("string"))
      struct(lit(bnd).as("band_id"), md5(concat_ws("_", slice: _*)).as("band_key"))
    }
  }

  /** Exact Jaccard of two sorted distinct-hash set columns — the one
    * formula, shared by every verify stage. */
  def jaccardExpr(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      (size(a) + size(b) - size(array_intersect(a, b)))

  /** Detection probability of the k/r banding scheme: a pair at Jaccard
    * similarity `j` shares at least one band with probability
    * 1 − (1 − j^r)^b — the standard MinHash-LSH S-curve. */
  def lshDetectProb(j: Double, rowsPerBand: Int, bands: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, rowsPerBand), bands)

  /** Derive rows-per-band from the TARGET Jaccard threshold instead of
    * hand-picking it (the same derive-the-knob rule as the interval-join
    * bucket width and the pair-join shuffle width): the S-curve's midpoint
    * — the similarity where [[lshDetectProb]] crosses exactly 1/2 — sits
    * at (1 − 2^(−1/b))^(1/r) for the k/r scheme (the EXACT root of
    * 1 − (1−j^r)^b = 1/2, not the (1/b)^(1/r) approximation: the
    * approximation degenerates to 1.0 at b = 1, which would make the
    * single-band r=k underivable — and for a PRIME k, where the only
    * divisors are {1, k}, every threshold would then collapse to the
    * maximal-volume r=1; review finding). Pick the LARGEST divisor r of k
    * whose midpoint is at or below the requested threshold, so the
    * threshold always sits on the steep UPPER arm of the chosen curve:
    * detection of an at-threshold pair is then ≥ 1/2 by the midpoint's
    * definition (≥ 0.63 at every k=8 operating point OpsSpec pins) and
    * rises fast above it, while pairs below the midpoint fall off (fewer
    * junk candidates). The earlier nearest-midpoint rule could round UP
    * to a strict banding whose midpoint exceeded the threshold — at 0.7
    * it picked r=4 and silently cut at-threshold detection to ~0.42
    * (review finding; LSH misses are invisible to the exact verify, which
    * only sees surfaced candidates). For tight thresholds this still
    * trades recall vs the maximal r=1 banding — 1/2 is the floor, and the
    * exact-Jaccard verify keeps precision exact regardless; the only axis
    * r moves is recall vs candidate volume. Thresholds below every
    * midpoint derive r=1, the widest-recall banding. For the k=8
    * signature and the registered threshold 0.5 this derives r=2 — the
    * value every registered call site uses, pinned as DERIVED rather than
    * chosen (OpsSpec). */
  def rowsPerBandFor(threshold: Double, k: Int = minhashSeeds.size): Int = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    val divisors = (1 to k).filter(k % _ == 0)
    divisors.filter { r =>
      val b = k / r
      math.pow(1.0 - math.pow(2.0, -1.0 / b), 1.0 / r) <= threshold
    }.maxOption.getOrElse(1)
  }

  /** LSH banding: k signature columns -> k/r bands; band key = md5 of the
    * band's slice. Docs sharing any (band_id, band_key) are candidates.
    * The default r=2 equals [[rowsPerBandFor]](0.5) — the derived value for
    * the registered threshold, kept literal so the oracle surface cannot
    * drift if the derivation changes. */
  def lshBands(sigs: DataFrame, rowsPerBand: Int = 2): DataFrame =
    sigs.select(col("doc_id"), explode(array(bandStructs(rowsPerBand): _*)).as("band"))
      .select(col("doc_id"), col("band.band_id").as("band_id"), col("band.band_key").as("band_key"))

  /** Candidate near-dup pairs (a < b) from shared LSH buckets. The join is an
    * equi-join on the band key — the only shuffle of the near-dup pipeline.
    *
    * Buckets larger than `maxBucket` are skipped: a band key shared by a
    * large fraction of the corpus (e.g. the globally-minimal shingle of a
    * shared vocabulary) carries no near-dup signal but turns the self-join
    * quadratic — the standard LSH skew guard. At 100 TB this cap is what
    * keeps the pair space linear in corpus size. */
  /** The LSH skew guard as ONE definition: drop rows of buckets holding more
    * than `maxBucket` members (a band key shared by a large corpus fraction
    * carries no near-dup signal but turns any join on it quadratic). Shared
    * by [[candidatePairs]] and [[crossDedup]]'s index build (review finding:
    * the two sites had drifted into inline copies). */
  def capBuckets(bands: DataFrame, maxBucket: Int): DataFrame = {
    val ok = bands.groupBy("band_id", "band_key")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket)
      .select("band_id", "band_key")
    bands.join(ok, Seq("band_id", "band_key"), "left_semi")
  }

  def candidatePairs(bands: DataFrame, maxBucket: Int = 64): DataFrame = {
    val pruned = capBuckets(bands, maxBucket)
    val l = pruned.as("l")
    val r = pruned.as("r")
    l.join(r,
        col("l.band_id") === col("r.band_id") &&
        col("l.band_key") === col("r.band_key") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .distinct()
  }

  /** Exact duplicate groups by content hash: representative (min id) + size. */
  def exactDedupGroups(df: DataFrame, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup: one surviving row per distinct content — the MIN-doc_id
    * representative, same arbitration as [[exactDedupGroups]]. (The old
    * dropDuplicates form kept whichever row a partition scanned first:
    * nondeterministic survivors across runs, and it leaked the internal
    * content_hash column — review finding.) */
  def exactDedup(df: DataFrame, textCol: String): DataFrame =
    df.join(exactDedupGroups(df, textCol)
        .select(col("rep_doc_id").as("doc_id")), Seq("doc_id"), "left_semi")

  /** MinHash-LSH near-duplicate pipeline: signatures -> bands -> candidate
    * pairs -> exact Jaccard verify -> pairs above threshold.
    *
    * `rowsPerBand = 0` (the default) derives the banding from the
    * threshold via [[rowsPerBandFor]] — a loose threshold widens recall
    * bands instead of silently dropping most threshold-level pairs before
    * the exact verify (review finding — the derivation existed but only
    * tests called it). Pass an explicit r > 0 only to match a PERSISTED
    * band index built under a different value (the streaming index path
    * pins a literal 2 for checkpoint compatibility — a ground-truth
    * comparison against it must band the same way). At the default 0.5
    * the derived r is the same 2 this call always used. */
  def nearDupPairs(docs: DataFrame, textCol: String, n: Int = 3,
                   threshold: Double = 0.5, rowsPerBand: Int = 0): DataFrame = {
    require(rowsPerBand >= 0,
      s"rowsPerBand must be > 0, or 0 to derive from the threshold; got $rowsPerBand")
    val r = if (rowsPerBand > 0) rowsPerBand else rowsPerBandFor(threshold)
    val sigs = minhashSignaturesWithSets(docs, textCol, n)
    val pairs = candidatePairs(lshBands(sigs, r))
    jaccardFromSets(pairs, sigs).filter(col("jaccard") >= threshold)
  }

  /** Cross-corpus dedup: flag every `newDocs` document that near-duplicates
    * the existing `corpus` — the "dedup a fresh crawl against what we already
    * have" pass, which must NOT pay an all-pairs cost against the 100 TB
    * incumbent. Candidates come from the same MinHash band index the
    * streaming path builds ([[graft.streaming.StreamDedup.corpusIndex]]):
    * new docs carry per-row signatures (shuffle-free), the index join is an
    * equi-join on (band_id, band_key), and only flagged hits reach the
    * per-doc summary. Output per new doc: match count, deterministic best
    * match (max Jaccard, min corpus id on ties), and the keep verdict.
    *
    * `rowsPerBand = 0` (the default) derives the banding from the
    * threshold via [[rowsPerBandFor]], so a caller loosening the threshold
    * gets wider recall bands automatically (review finding — the
    * derivation existed but nothing production called it); pass an
    * explicit r > 0 only to match a PERSISTED band index built under a
    * different value (the streaming index path, whose own default stays a
    * literal 2 for checkpoint compatibility). At the default threshold 0.5
    * the derived r IS 2 — unchanged behavior for every existing caller. */
  def crossDedup(newDocs: DataFrame, corpus: DataFrame, textCol: String,
                 n: Int = 3, rowsPerBand: Int = 0,
                 threshold: Double = 0.5, maxBucket: Int = 64): DataFrame = {
    // only the documented 0 sentinel may trigger derivation — a negative
    // caller typo must fail loudly, not silently re-band (review finding)
    require(rowsPerBand >= 0,
      s"rowsPerBand must be > 0, or 0 to derive from the threshold; got $rowsPerBand")
    val r = if (rowsPerBand > 0) rowsPerBand else rowsPerBandFor(threshold)
    val cSigs = minhashSignaturesWithSets(corpus, textCol, n)
    // Same LSH skew guard as candidatePairs: a band key shared by a large
    // fraction of the incumbent corpus carries no near-dup signal but makes
    // the probe join quadratic on that key — drop over-full index buckets.
    val index = capBuckets(lshBands(cSigs, r), maxBucket)
      .join(cSigs.select(col("doc_id").as("corpus_doc_id"), col("sh").as("sh_corpus")),
        col("doc_id") === col("corpus_doc_id")).drop("doc_id")
    val nSigs = rowMinhashSignatures(newDocs, textCol, n)
    val hits = probeIndex(nSigs, index, r, threshold)
      .distinct() // multi-band pair copies carry the identical jaccard
    val summary = hits.groupBy("doc_id").agg(
      count(lit(1)).cast("int").as("n_matches"),
      max(struct(col("jaccard"), (-col("corpus_doc_id")).as("ni"))).as("__best"))
    newDocs.select(col("doc_id"))
      .join(summary, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matches"), lit(0)).as("n_matches"),
        (-col("__best.ni")).as("best_match_id"),
        col("__best.jaccard").as("best_jaccard"),
        col("n_matches").isNull.as("keep"))
  }

  /** The LSH probe leg shared by the batch [[crossDedup]] and the streaming
    * `StreamDedup.nearDupAgainst`: explode a row-signature frame
    * (doc_id, sh) into band rows and equi-join an index of
    * (band_id, band_key, corpus_doc_id, sh_corpus), verifying with the
    * exact Jaccard. ONE definition (review finding: the two sites were
    * structurally-identical inline copies — a banding or verification
    * change to one would silently miss the other). Output rows may repeat
    * per shared band; callers dedupe per their own contract. */
  def probeIndex(sigs: DataFrame, index: DataFrame, rowsPerBand: Int,
                 threshold: Double): DataFrame = {
    val banded = sigs.select(col("doc_id"), col("sh"),
        explode(array(bandStructs(rowsPerBand): _*)).as("band"))
      .select(col("doc_id"), col("sh"),
        col("band.band_id").as("band_id"), col("band.band_key").as("band_key"))
    banded
      .join(index, Seq("band_id", "band_key"))
      .select(col("doc_id"), col("corpus_doc_id"),
        jaccardExpr(col("sh"), col("sh_corpus")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Near-dup clustering: connected components over candidate pairs by
    * min-label propagation — every doc's label converges to the smallest
    * doc_id reachable through dup edges, giving (doc_id, cluster_id) and
    * hence the survivor set (doc_id == cluster_id) a dedup pass drops
    * against.
    *
    * Each iteration is one join + groupBy (labels localCheckpoint'ed so
    * lineage stays flat) and the loop runs O(component diameter) rounds —
    * dup clusters are shallow in practice (near-identical docs all pair with
    * each other), so this terminates in a handful of rounds even at 100 TB;
    * the driver-side loop only ever sees a changed-row COUNT, never data. */
  def connectedComponents(pairs: DataFrame, aCol: String = "a",
                          bCol: String = "b", maxRounds: Int = 64): DataFrame = {
    require(maxRounds >= 1)
    // Hash-partition the edge list ONCE on the per-round join key: the loop
    // joins edges⋈labels on y every iteration, and localCheckpoint preserves
    // outputPartitioning, so each round reuses this exchange instead of
    // re-shuffling the (static) edges — one exchange per round saved, which
    // at 100 TB is the dominant loop cost.
    val edges = pairs.select(col(aCol).as("x"), col(bCol).as("y"))
      .unionByName(pairs.select(col(bCol).as("x"), col(aCol).as("y")))
      .distinct().repartition(col("y")).pinned
    var labels = edges.select(col("x").as("id")).distinct()
      .select(col("id"), col("id").as("label")).pinned

    // One neighbor-min propagation + pointer jump (take the candidate
    // label's own label too): labels shortcut along chains. `label0` (the
    // label at the last materialization) rides along so the convergence
    // count reads the checkpointed frame instead of re-joining.
    def propagate(l: DataFrame): DataFrame = {
      val nbrMin = edges
        .join(l.select(col("id").as("y"), col("label").as("ylabel")), "y")
        .groupBy(col("x").as("id")).agg(min(col("ylabel")).as("nmin"))
      val cand = l.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label0"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("cand"))
      cand
        .join(l.select(col("id").as("cand"), col("label").as("cand_label")),
          Seq("cand"), "left")
        .select(col("id"), col("label0"),
          least(col("cand"), coalesce(col("cand_label"), col("cand"))).as("label"))
    }

    // Convergence guard: each materialization runs two propagate rounds,
    // each of which both takes a neighbor-min step AND pointer-jumps, so
    // labels shortcut roughly geometrically along chains — even a pure
    // N-node path settles in O(log N) materializations (property-tested on
    // a 512-node chain). The cap is therefore generous headroom, not a
    // tuning knob; hitting it means the input is pathological (or a bug
    // broke monotonicity) and silent spinning would burn a cluster, so
    // fail LOUDLY instead of looping.
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"connectedComponents: no convergence after $maxRounds rounds " +
            "(component diameter beyond cap); raise maxRounds or inspect the graph")
      rounds += 1
      // TWO rounds per materialization: the driver-side fixed costs (job
      // scheduling, checkpoint, count) dominate each iteration at small
      // frontier sizes, so halving the materializations nearly halves loop
      // wall-clock (13 -> 7 for the sf0.1 dup graph). The doubled plan stays
      // cheap: every consumer of the inner round uses both (id, label)
      // columns, so its exchanges canonicalize equal and are computed once
      // (ReusedExchange). Convergence over the PAIR is safe: a no-change
      // first round forces a no-change second round.
      //
      // Riding the convergence count on the materialization via
      // Dataset.observe was tried (r20) and REFUTED by interleaved A/B:
      // d6 7.9→9.7 s, d16 7.5→11.6 s warm, consistently across rounds.
      // Observation.get waits on the ASYNC listener bus, which drains
      // behind the 32-wide run's task events — costlier per iteration
      // than this synchronous sub-second count over the just-checkpointed
      // frame (OPTIMIZATION_r20.md (ProbeObserve) holds the mechanism and
      // the numbers).
      val step = propagate(propagate(labels.withColumn("label0", col("label"))))
        .pinned
      changed = step.filter(col("label") =!= col("label0")).count()
      labels = step.select(col("id"), col("label"))
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Canonical-document selection — the terminal stage of a production
    * dedup pipeline: given near-dup CLUSTERS (e.g. [[connectedComponents]]
    * output: doc_id → cluster_id, absent = singleton) and per-doc quality
    * features, keep exactly ONE document per cluster — the best-quality
    * member — and report how many it replaced. Dedup that merely FINDS
    * pairs leaves the drop decision to the caller; this is that decision,
    * made deterministic: rank by (quality DESC, n_chars DESC, doc_id ASC) —
    * quality bands are literal constants so the double compares exactly in
    * any engine, and doc_id breaks every remaining tie totally.
    *
    * Scale: one shuffle on cluster_id; the per-cluster sort is bounded by
    * cluster size (itself bounded by the upstream pair caps), and singleton
    * clusters — the overwhelming majority of a real corpus — are one-row
    * partitions. `scored` needs only (doc_id, quality, n_chars), so the
    * wide text column never shuffles. */
  def canonicalPick(clusters: DataFrame, scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val membered = scored.select("doc_id", "quality", "n_chars")
      .join(clusters.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val byCluster = Window.partitionBy("cluster_id")
    val best = byCluster.orderBy(col("quality").desc, col("n_chars").desc,
      col("doc_id").asc)
    membered
      .withColumn("rn", row_number().over(best))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"),
        col("n_members"), col("quality").as("keep_quality"))
  }

  /** Cross-corpus exact dedup with a Bloom prefilter: emit the batch rows
    * whose content hash does NOT occur in the `seen` corpus, but probe a
    * mergeable Bloom sketch of `seen` BEFORE the exact anti-join — rows the
    * sketch rejects are definitely fresh (Bloom filters have no false
    * negatives) and skip the join entirely; only the ~fpp false-positive
    * sliver plus the true duplicates pay the shuffle. This is the standard
    * shape for incremental ingest against a many-billion-row seen-set:
    * the sketch is built by a distributed mergeable aggregate
    * (`BloomFilterAggregate`, map-side partial sketches OR-merged), and only
    * `optimalNumOfBits(n, fpp)/8` bytes — not the seen-set — return to the
    * driver, exactly the bounded-sketch contract of kmeans' centroids.
    *
    * The result is EXACT (the oracle is the plain anti-join): the sketch
    * only shrinks the join's left side, never changes its answer.
    *
    * Output: (doc_id, row_hash) of fresh batch rows. */
  def bloomDedup(batch: DataFrame, seen: DataFrame, textCol: String,
                 expectedItems: Long = 1000000L, fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    def keyed(df: DataFrame) =
      df.select(col("doc_id"), md5(col(textCol)).as("row_hash"))
    val seenK = keyed(seen)
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val sketch = Bridge.column(new BloomFilterAggregate(
      Bridge.expression(xxhash64(col("row_hash"))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    // One bounded sketch to the driver (the scalar-subquery shape Spark's
    // own runtime row-group filtering uses); null when `seen` is empty.
    val bfBytes = seenK.agg(sketch.as("bf")).head().getAs[Array[Byte]]("bf")
    val batchK = keyed(batch).pinned // both branches read it once
    if (bfBytes == null) return batchK // nothing seen: everything is fresh
    val maybeSeen = Bridge.column(BloomFilterMightContain(
      Literal(bfBytes, BinaryType),
      Bridge.expression(xxhash64(col("row_hash")))))
    // definitely-fresh rows bypass the join; candidates verify exactly
    batchK.filter(!maybeSeen).unionByName(
      batchK.filter(maybeSeen)
        .join(seenK.select("row_hash").distinct(), Seq("row_hash"), "left_anti")
        .select("doc_id", "row_hash"))
  }

  /** Benchmark decontamination score: the fraction of each document's
    * distinct word-n-gram shingles that also occur anywhere in a benchmark
    * corpus — the standard pretraining hygiene check that evaluation data
    * has not leaked into training data (docs above a threshold get dropped
    * or audited).
    *
    * Scale shape: both sides reduce to distinct 31-bit shingle HASHES before
    * any join — the benchmark side collapses to one distinct-hash column
    * (tiny next to the corpus; broadcastable for real benchmark suites), and
    * the per-doc rows join it with a left join + hit flag, then aggregate to
    * (n_shingles, n_hit, fraction) per doc. The documents themselves never
    * cross a shuffle. */
  def contaminationScore(docs: DataFrame, benchmarkFilter: Column, textCol: String,
                         n: Int = 3): DataFrame = {
    // The benchmark predicate is evaluated against DOCS (where source /
    // lang / metadata columns exist), not against the skinny shingle rows —
    // the old form threw AnalysisException for any filter beyond doc_id
    // arithmetic, despite the docstring promising "a benchmark corpus"
    // (review finding). One light column-pruned scan of docs; the shingle
    // scan still happens once, split by a semi/anti join on doc_id.
    val benchIds = docs.filter(benchmarkFilter).select(col("doc_id"))
    // dropEmpty: a zero-token benchmark doc would otherwise mark every
    // zero-token target doc contamination=1.0 through the shared ""
    // fallback shingle — no lexical content, no contamination signal
    // (review finding; the oracle filters the same shingle)
    val sh = shingleHashRows(docs, textCol, n, dropEmpty = true)
      .dropDuplicates("doc_id", "h")
    val bench = sh.join(benchIds, Seq("doc_id"), "left_semi")
      .select(col("h")).distinct()
    val target = sh.join(benchIds, Seq("doc_id"), "left_anti")
    target.join(bench.withColumn("__hit", lit(1)), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .select(col("doc_id"), col("n_shingles"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_shingles")).as("contamination"))
  }

  /** Cross-document duplicated-span statistics (the Lee et al. 2022
    * "Deduplicating Training Data" signal): for each document, the fraction
    * of its word n-gram spans that also occur in at least one OTHER
    * document. Catches partial overlap — licenses, headers, templated
    * boilerplate — that whole-document dedup ([[exactDedup]]) and pairwise
    * near-dup ([[nearDupPairs]]) both miss, and complements
    * [[graft.ops.TextAnalysis.repetitionScore]] (which is within-doc only).
    *
    * Scale shape: spans reduce to 31-bit shingle hashes before anything
    * crosses a shuffle; per-(doc, span) multiplicities aggregate once
    * (map-side combined, checkpointed for reuse by both consumers); the
    * shared-span set is a skinny (h) aggregate over that frame; the join
    * back rides the same h clustering; the final per-doc rollup ships only
    * counts. No document pair ever materializes — linear in corpus spans at
    * any corpus size. Span identity is the 31-bit hash (collisions
    * over-count shared spans at ~2^-31 per pair; the oracle shares the hash
    * family, so results stay engine-identical). */
  def dupSpanStats(docs: DataFrame, textCol: String, n: Int = 5): DataFrame = {
    // dropEmpty: two zero-token docs would otherwise read dup_fraction=1.0
    // against each other via the shared "" fallback shingle — fake
    // duplication signal, the same class the minhash paths exclude
    // (review finding; the oracle filters the same shingle)
    val per0 = shingleHashRows(docs, textCol, n, dropEmpty = true)
      .groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
    val per = Materialize.pin(per0)
    // distinct docs per span == count(*): `per` is already (doc, h)-distinct
    val shared = per.groupBy("h").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2).select(col("h"), lit(1).as("__s"))
    per.join(shared, Seq("h"), "left")
      .groupBy("doc_id").agg(
        sum(col("c")).as("n_spans"),
        sum(when(col("__s") === 1, col("c")).otherwise(0L)).as("n_shared"))
      .withColumn("dup_fraction", col("n_shared").cast("double") / col("n_spans"))
  }

  /** Chunk-level exact dedup (the CCNet/RefinedWeb "line dedup" stage,
    * adapted to unstructured text: fixed-width token chunks stand in for
    * lines). Splits each document into consecutive `width`-token chunks,
    * keeps each distinct chunk's FIRST corpus-wide occurrence (ordered by
    * (doc_id, position)), drops every other copy, and reassembles the
    * survivors in document order — removing boilerplate/licenses/headers
    * that whole-document dedup (exact or near) cannot touch because the
    * surrounding text differs.
    *
    * Output: one row per input document —
    * (doc_id, n_chunks, n_kept, text_dedup); fully-duplicated documents
    * survive with n_kept=0 and empty text.
    *
    * Scale: one tokenization scan, checkpointed as a per-doc chunk array so
    * the explode and the n_chunks projection never re-tokenize. The global
    * keep-first decision is an AGGREGATE, not a window —
    * `groupBy(chunk).agg(min(doc_id*K + pos))` over a packed long (struct
    * fallback when the corpus can't encode) — because an aggregate gets
    * map-side partial combine and a row_number window does not: every
    * duplicate occurrence of a chunk inside one map partition collapses to
    * one (chunk, min-owner) row BEFORE the shuffle, so wire volume tracks
    * the per-partition DISTINCT chunk count, not the raw chunk count — on
    * a duplicate-heavy corpus (the regime this op exists for) that is the
    * whole cost — and min(long) plans as a sort-free HashAggregate where
    * both the window and a min(struct) SortAggregate sort every partition
    * of the exploded corpus. Survivor text then rides the (small)
    * per-doc rebuild shuffle, and the final n_chunks fold-back is a NARROW
    * doc_id join (no text). Chunk identity is exact string equality — no
    * hash-collision caveat. No document pair ever materializes — linear in
    * corpus chunks.
    *
    * Measured (BASELINE.md r16 (ProbeChunk), ×100 replica corpus): this shape
    * 66.8 MB / 5.1 s vs the r15 text-keyed window's 68.4 MB / 5.2 s (the
    * ×100 corpus scatters each chunk's ~6 copies across 32 partitions, so
    * combine finds no co-located duplicates — parity here, a win wherever
    * duplicates DO co-locate) — while the hash-keyed-window +
    * doc_id-text-fold-back shape the old comment prescribed for 100 TB
    * measured 167 MB / 6-10 s: narrow hash rows don't lz4-compress and
    * the fold-back re-shuffled the whole pinned text. */
  def chunkDedup(docs: DataFrame, textCol: String, width: Int = 5): DataFrame = {
    require(width > 0)
    val toks = col("__t")
    val arr0 = graft.model.Tables
      .spread(docs.select(col("doc_id"), col(textCol)), col("doc_id"))
      .select(col("doc_id"),
        explode(array(TextAnalysis.tokens(col(textCol)))).as("__t"))
      .select(col("doc_id"),
        when(size(toks) > 0,
          transform(sequence(lit(0), ((size(toks) - 1) / width).cast("int")),
            i => array_join(slice(toks, i * width + 1, lit(width)), " ")))
          .otherwise(array().cast("array<string>")).as("chunks"))
    val arr = Materialize.pin(arr0)
    val exploded = arr.select(col("doc_id"),
      posexplode(col("chunks")).as(Seq("pos", "chunk")))
    // min over a PACKED LONG, not min(struct): a struct-buffered aggregate
    // plans as SortAggregate (struct buffers aren't UnsafeRow-mutable), and
    // the per-partition sort of every exploded chunk is exactly the cost
    // the aggregate exists to avoid. doc_id*K + pos with K > max pos is
    // order-isomorphic to the lexicographic (doc_id, pos) keep-first rule
    // and min(long) is a plain HashAggregate. Bounds come from one narrow
    // aggregate over the pinned arrays (the IntervalJoin-clamp pattern);
    // corpora that can't encode (negative ids, doc_id*K overflow) fall
    // back to the struct shape — correct either way, ANSI-safe because
    // the guard proves the arithmetic can't overflow before it runs.
    val b = arr.agg(max(size(col("chunks"))).cast("long"),
      min(col("doc_id")), max(col("doc_id"))).head()
    val k = if (b.isNullAt(0)) 1L else math.max(1L, b.getLong(0))
    val encodable = !b.isNullAt(1) && b.getLong(1) >= 0 &&
      b.getLong(2) <= (Long.MaxValue - (k - 1)) / k
    val firsts =
      if (encodable)
        exploded.groupBy("chunk")
          .agg(min(col("doc_id") * k + col("pos")).as("__enc"))
          .select(expr(s"__enc DIV $k").as("doc_id"),
            pmod(col("__enc"), lit(k)).cast("int").as("pos"), col("chunk"))
      else
        exploded.groupBy("chunk")
          .agg(min(struct(col("doc_id"), col("pos"))).as("__w"))
          .select(col("__w.doc_id").as("doc_id"), col("__w.pos").as("pos"),
            col("chunk"))
    val rebuilt = firsts.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("chunk")))),
        s => s("chunk")), " ").as("text_dedup"))
    arr.select(col("doc_id"), size(col("chunks")).as("n_chunks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** [[chunkDedup]] as DuckDB SQL (oracle), sharing the token regex, chunk
    * slicing, and keep-first ordering. */
  def chunkDedupSql(tokenRe: String, width: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '$tokenRe') AS t
       |  FROM documents),
       |arr AS (
       |  SELECT doc_id, CASE WHEN len(t) > 0 THEN
       |      list_transform(range(0, (CAST(len(t) AS BIGINT) - 1) // $width + 1),
       |        i -> array_to_string(t[i*$width+1 : i*$width+$width], ' '))
       |    ELSE [] END AS chunks
       |  FROM toks),
       |ex AS (
       |  SELECT doc_id, generate_subscripts(chunks, 1) - 1 AS pos,
       |    unnest(chunks) AS chunk
       |  FROM arr),
       |kept AS (
       |  SELECT doc_id, pos, chunk FROM (
       |    SELECT doc_id, pos, chunk,
       |      row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
       |    FROM ex) WHERE rn = 1),
       |reb AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    string_agg(chunk, ' ' ORDER BY pos) AS text_dedup
       |  FROM kept GROUP BY doc_id)
       |SELECT a.doc_id, CAST(len(a.chunks) AS INT) AS n_chunks,
       |  COALESCE(r.n_kept, 0) AS n_kept,
       |  COALESCE(r.text_dedup, '') AS text_dedup
       |FROM arr a LEFT JOIN reb r USING (doc_id)""".stripMargin

  /** Cross-source overlap matrix: for every pair of corpus sources, the
    * number of distinct word-n-gram shingle hashes they share and the
    * Jaccard overlap — the inter-source duplication diagnostic that decides
    * mixture weights and dedup ordering (two crawls of the same sites, a
    * dataset republished inside another, benchmark suites leaking into web
    * scrapes all show up here first).
    *
    * Scale: shingles reduce to distinct (source, hash) pairs in one scan +
    * one aggregate — at most |sources| rows per hash survive. The pair
    * expansion is a self-equi-join ON h whose output is bounded by
    * |sources|² per hash (sources are few; documents never pair). The final
    * rollup is |sources|² rows. Linear in corpus shingles end to end. */
  def sourceOverlap(docs: DataFrame, srcCol: String, textCol: String,
                    n: Int = 5): DataFrame = {
    // Spread keyed by doc_id, NOT by source: a source-keyed repartition
    // leaves only |sources| non-empty partitions, capping the expensive
    // tokenization scan at a handful of cores (review finding). The
    // downstream distinct() reshuffles on (src, h) anyway.
    val sh = graft.model.Tables
      .spread(docs.select(col("doc_id"), col(srcCol).as("src"), col(textCol)),
        col("doc_id"))
      .select(col("src"), explode(wordShingles(col(textCol), n)).as("__shingle"))
      // zero-token fallback excluded: one empty/punctuation-only doc per
      // source would otherwise inflate every pairwise shared count and
      // jaccard through the common "" shingle (review finding; the oracle
      // filters the same shingle)
      .filter(col("__shingle") =!= "")
      .select(col("src"), strHash31(col("__shingle")).as("h"))
      .distinct()
    val shM = Materialize.pin(sh)
    val totals = shM.groupBy("src").agg(count(lit(1)).as("n"))
    val shared = shM.as("l")
      .join(shM.as("r"), col("l.h") === col("r.h") && col("l.src") < col("r.src"))
      .groupBy(col("l.src").as("src_a"), col("r.src").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(broadcast(totals.select(col("src").as("src_a"), col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(totals.select(col("src").as("src_b"), col("n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("shared"),
        (col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared")))
          .as("jaccard"))
  }

  /** 60-bit SimHash over the token multiset: per-bit majority vote of
    * md5-derived token hashes, computed as `bits` flat conditional sums in
    * one aggregation pass. 60 bits (15 md5 hex chars), not 32 (8): the
    * fingerprint width sets the BAND width of the exact Hamming banding
    * downstream — nBands is pigeonhole-forced to maxHamming+1, so at
    * maxHamming=3 a 32-bit signature gives 8-bit bands and the candidate
    * volume grows as |distinct sigs|²/256 (measured: ~2B in-bucket
    * candidates at 500k distinct signatures — multi-minute straggler-bound
    * joins), while 60 bits give 15-bit bands and /32768 — the same corpus
    * stays subquadratic to ~30M distinct signatures. 60 and not 64 because
    * the ORACLE parity requires the token hash to fit a signed BIGINT on
    * the DuckDB side ('0x' || 15 hex chars < 2^60); votes for bits past the
    * hash width would be constant −1 and the high bits constant 0 —
    * banding over constant bits degenerates to all-pairs (review finding,
    * originally against the 32-bit cap). */
  def simhash(df: DataFrame, textCol: String, bits: Int = 60): DataFrame = {
    require(bits >= 1 && bits <= 60,
      s"simhash bits must be in [1, 60] (token hashes carry 60 bits); got $bits")
    // Materialize the token hash once; the vote columns then reference the
    // column instead of each recomputing md5 (bits-times less hashing).
    val tok = graft.model.Tables.spread(df.select(col("doc_id"), col(textCol)), col("doc_id"))
      .select(col("doc_id"), explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .select(col("doc_id"),
        conv(substring(md5(col("token")), 1, 15), 16, 10).cast("long").as("h"))
    val h = col("h")
    val votes = (0 until bits).map { j =>
      sum(when(shiftright(h, j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$j")
    }
    val voted = tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val sig = (0 until bits).map { j =>
      when(col(s"v$j") > 0, 1L << j).otherwise(0L)
    }.reduce(_ + _)
    voted.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs within `maxHamming` bit flips, bucketed by bit
    * bands to avoid all-pairs comparison. The band count is DERIVED from
    * `maxHamming`: with maxHamming+1 bands, a pair differing in <= maxHamming
    * bits leaves at least one band untouched (pigeonhole), so every true
    * near-dup shares a band and the result is EXACT — identical to the
    * all-pairs filter, at equi-join cost. (Round-1 hardcoded 4 bands but
    * allowed maxHamming=8, silently missing 4-8-bit pairs spread across all
    * bands.) Wide buckets keep candidates ~|distinct sigs|²/2^width per
    * band — the prepass below joins DISTINCT signatures, so duplicate-heavy
    * corpora (the common case near-dup dedup exists for) pay dedup-factor²
    * less than the doc count suggests; at 100 TB additionally pick
    * `bits`/`maxHamming` so width >= ~16 bits. */
  /** Near-dup SIGNATURE pairs (sig_a < sig_b, hamming ≤ maxHamming) via
    * pigeonhole banding over a DISTINCT-signature frame (one `simhash`
    * column) — the shared core of [[simhashNearDup]] (which expands back to
    * doc pairs) and [[dupClusters]] (which closes over the sig graph and
    * never materializes doc pairs at all).
    *
    * EVEN bit distribution: band b covers [b·bits/B, (b+1)·bits/B) — widths
    * differ by at most 1 and every band holds real signature bits. The old
    * uniform ceil() width gave trailing bands few or ZERO real bits (e.g.
    * bits=32, maxHamming=8: band 8 would read bits 32-35 = constant 0, so
    * EVERY doc shares its bucket and the self-join goes all-pairs — the
    * exact blowup the banding exists to avoid; review finding). The
    * pigeonhole exactness argument only needs the bands to partition the
    * bit range, which this split preserves. For maxHamming=3/bits=60 the
    * boundaries are 0/15/30/45. */
  private[graft] def simhashSigPairs(uniqSigs: DataFrame, maxHamming: Int,
                                     bits: Int): DataFrame = {
    val nBands = maxHamming + 1
    require(bits >= 1 && bits <= 60,
      s"simhash signatures carry at most 60 meaningful bits; got bits=$bits — " +
        "bands over constant-zero high bits would put every doc in one " +
        "bucket and go all-pairs (review finding)")
    require(nBands <= bits,
      s"maxHamming=$maxHamming needs ${nBands} bands over only $bits bits")
    val bounds = (0 to nBands).map(b => b * bits / nBands)
    val banded = uniqSigs.select(col("simhash"),
      explode(array((0 until nBands).map { b =>
        val start = bounds(b)
        val mask = (1L << (bounds(b + 1) - start)) - 1
        struct(lit(b).as("band_id"),
          shiftright(col("simhash"), start).bitwiseAND(mask).as("nib"))
      }: _*)).as("band"))
      .select(col("simhash"),
        col("band.band_id").as("band_id"), col("band.nib").as("nib"))
    banded.as("l").join(banded.as("r"),
        col("l.band_id") === col("r.band_id") && col("l.nib") === col("r.nib") &&
        col("l.simhash") < col("r.simhash"))
      .select(col("l.simhash").as("sig_a"), col("r.simhash").as("sig_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      // filter BEFORE the distinct: bit_count is a map-side expression and
      // commutes with it, so only true near-dup sig pairs (not every
      // in-bucket candidate, multi-band copies included) pay the dedup
      // shuffle (review finding — the old doc-level join made the same
      // ordering choice).
      .filter(col("hamming") <= maxHamming)
      .distinct() // a sig pair can share several bands
  }

  def simhashNearDup(sigs: DataFrame, maxHamming: Int = 3, bits: Int = 60): DataFrame = {
    // Materialize the (doc_id, simhash) aggregate once: downstream joins
    // reference it several times and would otherwise re-tokenize per use.
    val sigsM = Materialize.pin(sigs)
    // Signature-group prepass (the d19 exact-prepass lesson applied to
    // Hamming space): band and self-join DISTINCT signatures, not docs.
    // Identical signatures — the replica/mirror regime that dominates
    // dup-heavy corpora — previously collided in EVERY band, so a group of
    // g same-sig docs cost g² candidate evaluations per band before the
    // distinct; measured at ×100 replica density (500k docs, ~2k docs per
    // 8-bit nib) the doc-level join streamed ~2B in-bucket candidates and
    // at ×1000 the shape was infeasible (~200B). Over distinct sigs the
    // band join is corpus-dedup-factor² cheaper, within-group pairs come
    // from one equi-self-join (Hamming 0 by construction), and cross-group
    // pairs expand through two simhash equi-joins — OUTPUT-bound, which is
    // the floor: the result set itself is quadratic in group size. Output
    // is row-identical to the doc-level join (same oracle): pigeonhole
    // exactness applies unchanged at the signature level, and a doc pair
    // realizes exactly one unordered sig pair, so no doc-level distinct is
    // needed.
    val uniq = Materialize.pin(sigsM.select(col("simhash")).distinct())
    val sigPairs = simhashSigPairs(uniq, maxHamming, bits)
    // Input contract: `sigs` carries ONE row per doc_id (every producer in
    // this file guarantees it — simhash() ends in groupBy(doc_id)).
    // Duplicate doc_id rows under DIFFERENT signatures would otherwise
    // fabricate self-pairs through the cross expansion; the a =!= b guard
    // below drops those cheaply, while duplicate identical rows (same doc,
    // same sig twice) remain the caller's malformed input (review finding).
    val docsBySig = sigsM.select(col("doc_id"), col("simhash"))
    val cross = sigPairs
      .join(docsBySig.select(col("doc_id").as("da"), col("simhash").as("sig_a")),
        Seq("sig_a"))
      .join(docsBySig.select(col("doc_id").as("db"), col("simhash").as("sig_b")),
        Seq("sig_b"))
      .filter(col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("a"),
        greatest(col("da"), col("db")).as("b"), col("hamming"))
    val within = docsBySig.as("x").join(docsBySig.as("y"),
        col("x.simhash") === col("y.simhash") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(lit(0L)).as("hamming"))
    cross.unionByName(within)
  }

  /** Near-dup clusters computed at the SIGNATURE level: row-identical to
    * `connectedComponents(simhashNearDup(sigs))` — (doc_id, cluster_id =
    * min reachable doc_id) for every doc with at least one near-dup pair —
    * but the closure runs over the SIG graph and the doc-level edge set is
    * NEVER materialized. That edge set is quadratic in same-signature group
    * size (C(g, 2) per group: 2.5B pairs at ×1000 mirror density, where
    * this shape stays output-LINEAR — 5M rows out), so it is the production
    * clustering path for replica/mirror-heavy corpora; fourth-decade probe
    * ledgered in BASELINE.md.
    *
    * Equivalence: same-sig docs form a clique (Hamming 0 ≤ maxHamming), so
    * doc connectivity == connectivity of their signatures; the component
    * minimum over docs == min over the component's per-sig min doc ids. A
    * doc participates in the pair graph iff its sig group has ≥2 members
    * (within-clique edge) or its sig has a sig-graph neighbor (every sig
    * node of an edge carries ≥1 doc) — the `g_n >= 2 || c_sigs >= 2`
    * filter below. Same one-row-per-doc_id input contract as
    * [[simhashNearDup]]. */
  def dupClusters(sigs: DataFrame, maxHamming: Int = 3, bits: Int = 60): DataFrame = {
    val sigsM = Materialize.pin(sigs)
    val docsBySig = sigsM.select(col("doc_id"), col("simhash"))
    // One row per signature: member count and min member (the group's
    // candidate cluster id) — also the distinct-sig frame the banding needs.
    val groups = Materialize.pin(docsBySig.groupBy("simhash")
      .agg(count(lit(1)).as("g_n"), min(col("doc_id")).as("g_min")))
    val sigPairs = simhashSigPairs(groups.select(col("simhash")), maxHamming, bits)
    // Closure over SIGNATURES (node ids are the sig values — Longs, which
    // is all connectedComponents requires of its node column).
    val sigComp = connectedComponents(
      sigPairs.select(col("sig_a").as("a"), col("sig_b").as("b")))
      .select(col("doc_id").as("simhash"), col("cluster_id").as("root_sig"))
    // Edge-less sigs root themselves; then one narrow agg per component
    // gives its doc-min and its sig count.
    val withRoot = groups.join(sigComp, Seq("simhash"), "left")
      .select(col("simhash"), col("g_n"), col("g_min"),
        coalesce(col("root_sig"), col("simhash")).as("root_sig"))
    val rootAgg = withRoot.groupBy("root_sig").agg(
      min(col("g_min")).as("cluster_id"),
      count(lit(1)).as("c_sigs"))
    docsBySig
      .join(withRoot.join(rootAgg, Seq("root_sig"))
        .select(col("simhash"), col("g_n"), col("cluster_id"), col("c_sigs")),
        Seq("simhash"))
      .filter(col("g_n") >= 2 || col("c_sigs") >= 2)
      .select(col("doc_id"), col("cluster_id"))
  }

  /** Inverted-index lexical cosine near-dup: tf-weighted cosine over bigram
    * shingle terms, computed by a posting-list self-join — the sparse-vector
    * sibling of MinHash/SimHash that also yields the similarity VALUE, not
    * just a band collision. Bigrams (not unigrams) because a small-vocabulary
    * corpus makes every unigram posting list hot; word-pair terms restore the
    * power-law df distribution the prune needs.
    *
    * The df cap is the anti-quadratic guard (the posting-list form of the
    * LSH `maxBucket` rule): terms whose document frequency exceeds `maxDf`
    * are dropped BEFORE the self-join, so each term expands to at most
    * maxDf² candidate pairs and boilerplate/stopword-like shingles never
    * drive an all-pairs pass. Cosine is then computed in the pruned space —
    * the standard stop-term-filtered tf cosine.
    *
    * Determinism: dot and both squared norms are exact integer sums (tf is a
    * count), so the emitted `cos` double is one sqrt+divide over identical
    * integers in any engine — no float-accumulation-order drift, and the
    * threshold decides identically everywhere.
    *
    * The prune is TWO caps, least-of: a RELATIVE one (`maxDfFrac` of the
    * corpus document count, floor 2) defining the scoring space — an
    * absolute-only cap silently becomes an N×-harsher prune on an N× corpus
    * (the 1×→100× probe showed cap=100 pruning away every shared term of
    * true near-dup pairs at 10× the calibration corpus) — and an ABSOLUTE
    * `maxDfCap` as the join-cost guard: self-join expansion is Σ df², so a
    * term kept at 20% of a 10× corpus would alone contribute (0.2·N)² pairs;
    * the absolute ceiling bounds per-term expansion at maxDfCap² regardless
    * of corpus size (the posting-list twin of candidatePairs' maxBucket).
    * The corpus count is one scalar aggregate broadcast into the predicate.
    *
    * Scale: one tokenization scan; the (doc, term, tf) posting frame is
    * materialized once and reused for the df prune, the norms, and both join
    * sides; pairs shuffle once keyed (a, b); `minShared` discards
    * coincidental single-shingle collisions before the norm join. At 100 TB
    * add prefix filtering (index only each doc's lowest-df terms) to shrink
    * the candidate set further — the cap alone already bounds the blowup. */
  def lexicalNearDup(docs: DataFrame, textCol: String, threshold: Double = 0.8,
                     maxDfFrac: Double = 0.2, minShared: Int = 3,
                     maxDfCap: Int = 1000, n: Int = 2,
                     maxPrunedEmptyFrac: Double = 1.0,
                     maxPrunedMassFrac: Double = 1.0): DataFrame = {
    require(maxDfFrac > 0 && maxDfFrac <= 1 && minShared >= 1 && maxDfCap >= 2)
    val (tf, posts, _) = cappedPostingsWithTf(docs, textCol, n, maxDfFrac, maxDfCap)
    val stats = assertRecallGuard(tf, posts, maxPrunedEmptyFrac,
      maxPrunedMassFrac, "lexicalNearDup")
    val norms = posts.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("sq"))
    // Candidate volume rides the guard/stats job — no separate width job.
    val width =
      if (stats.postingRows == 0) numShufflePartitions(posts)
      else widthForVolume(numShufflePartitions(posts), stats.volume)
    val spread = byTerm(posts, width)
    val pa = spread.select(col("term"), col("doc_id").as("a"), col("tf").as("ta"))
    val pb = spread.select(col("term"), col("doc_id").as("b"), col("tf").as("tb"))
    // The (a,b) aggregation reads the SAME candidate volume the pair join
    // emits, so its exchange runs at the SAME derived width — left at the
    // configured width, the ×100 probe measured the 32-task final agg
    // spilling 5.1 GB with 20.6 s of GC while the 183-task pair stage ahead
    // of it stayed healthy (plans/r20). An explicit keyed repartition in
    // place of the agg's own exchange shuffles the same records (the
    // term-partitioned partial agg reduces ~nothing: (a,b) repeats within a
    // term partition only when two shared terms hash together, ~1/width).
    val pairs = pa.join(pb, Seq("term")).filter(col("a") < col("b"))
      .repartition(width, col("a"), col("b"))
      .groupBy("a", "b")
      .agg(sum(col("ta") * col("tb")).as("dot"), count(lit(1)).as("shared_terms"))
      .filter(col("shared_terms") >= minShared)
    cosineTail(pairs, norms, threshold)
  }

  /** Shared norms-join + integer-cosine + threshold tail of the tf-weighted
    * near-dup family — the Scala twin of [[tfCosineTailSql]], one definition
    * for d13 and d14 (review finding: three inline copies invited drift;
    * the idf variant keeps its own decimal-typed tail). `pairs` carries
    * (a, b, dot, shared_terms); `norms` carries (doc_id, sq). */
  private def cosineTail(pairs: DataFrame, norms: DataFrame,
                         threshold: Double): DataFrame =
    pairs
      .join(norms.select(col("doc_id").as("a"), col("sq").as("__sa")), Seq("a"))
      .join(norms.select(col("doc_id").as("b"), col("sq").as("__sb")), Seq("b"))
      .withColumn("cos",
        col("dot") / (sqrt(col("__sa").cast("double")) * sqrt(col("__sb").cast("double"))))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("shared_terms"), col("dot"), col("cos"))

  /** The session's configured shuffle width (AQE's INITIAL partition count —
    * what a plain exchange starts from before coalescing). */
  private def numShufflePartitions(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Pins a term-keyed join input to an explicit numbered-repartition
    * `width`, which AQE partition coalescing must leave alone. The near-dup
    * pair joins EXPAND by Σ df² — output two orders of magnitude larger
    * than input — and AQE's byte-based coalescing only sees the few-MB
    * posting shuffle, so it fuses the whole expansion onto 2-3 cores
    * (measured at sf0.1: ~21 task-seconds of join+partial-agg crammed into
    * 2 tasks = 10 s wall on a 32-core host; spread over 32 tasks it is
    * under 1 s). Balanced width is safe here because the df cap already
    * bounds any single term's expansion at maxDfCap² — the skew guard is
    * upstream, in [[cappedPostings]]. */
  private def byTerm(df: DataFrame, width: Int): DataFrame =
    df.repartition(width, col("term"))

  /** Records-per-task budget for the pair-join width. Two regimes bound it:
    *
    *  - SURVIVAL (r13 sf1 probes): 1.64B candidate records completed in the
    *    default 8g heap at ~6.4M records/task while a fixed 32-wide pin
    *    OOM'd — so anything ≤ ~6M records/task is safe.
    *  - SPILL-FREE SPEED (r19 stage profile): the pair join's PARTIAL
    *    aggregate holds ~one map entry per candidate record (term-partitioned
    *    input means (a,b) keys rarely repeat within a task), ~48 B/entry
    *    ((a,b) key row + sum/count buffer + map overhead). At the old
    *    4M/task budget sf0.1's 34.2M candidates ran 32-wide ≈ 1.1M
    *    entries/task ≈ 50 MB/task — past the per-task share of the unified
    *    execution region (≈145 MB/task nominal at 32 concurrent tasks on
    *    8g, but shared with the pinned posting blocks), and the stage
    *    measured 1 555 MB spilled + 8–12 s GC. At 512k/task the map stays
    *    ≈25 MB/task: same stage re-measured 0 B spilled, GC 8.5→3.3 s,
    *    task time −26 % (BASELINE.md r19, stage profile).
    *
    * 512k/task keeps small corpora at the configured width (the max() in
    * [[widthForVolume]]), turns sf0.1 into ~67 tasks (2 waves on 32 cores),
    * and sf1's 1.64B into ~3 200 tasks — wave-amortized, each spill-free. */
  private val PairRecordsPerTask = 512L * 1000

  /** Pair-join parallelism derived from the CANDIDATE VOLUME, not the
    * posting bytes (r13 verdict #2): the posting self-join expands each
    * term into df² candidate rows, so the right task count scales with
    * `vol` = Σ_term df² (the fused LexPostingStats volume). Clamped below by
    * the configured shuffle width `conf` (small corpora keep their session
    * width; AQE still cannot coalesce a numbered repartition) and above at
    * 32768 (a runaway-volume backstop: past that, waves of tasks amortize
    * fine): conf ≤ ceil(vol / budget) ≤ 32768. This removed the manual
    * 256-wide shuffle override the sf1 runs needed. */
  private[graft] def widthForVolume(conf: Int, vol: Long): Int =
    math.max(conf.toLong, math.min(32768L,
      (vol + PairRecordsPerTask - 1) / PairRecordsPerTask)).toInt

  /** Shared candidate machinery of the lexical near-dup family (d13/d14/d15):
    * the (doc_id, term, tf, df) posting frame over word `n`-gram shingle
    * terms, with the dual df cap applied, ONE tokenization scan, and the
    * result localCheckpoint'ed — every consumer (df prune, norms, both
    * self-join sides, idf weights) reads the materialized frame instead of
    * re-tokenizing the corpus. `df` is the TRUE document frequency of each
    * surviving term (the cap only drops terms, it never rewrites df). */
  /** The raw (doc_id, term, tf) posting frame over word n-gram shingles —
    * ONE tokenization scan, localCheckpoint'ed (batch) so every consumer
    * reads the materialized frame instead of re-tokenizing. */
  private[graft] def postingTf(docs: DataFrame, textCol: String, n: Int): DataFrame = {
    require(n >= 1)
    val t = col("__t")
    val grams = graft.model.Tables
      .spread(docs.select(col("doc_id"), col(textCol)), col("doc_id"))
      .select(col("doc_id"), TextAnalysis.tokens(col(textCol)).as("__t"))
      .filter(size(t) >= n)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(t, i + j)): _*))).as("term"))
    val tf0 = grams.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    Materialize.pin(tf0)
  }

  private[graft] def cappedPostings(docs: DataFrame, textCol: String, n: Int,
                             maxDfFrac: Double, maxDfCap: Int): DataFrame =
    cappedPostingsWithTf(docs, textCol, n, maxDfFrac, maxDfCap)._2

  /** [[cappedPostings]] that ALSO returns the pinned pre-cap tf frame (so
    * the recall guard can compare tokenized vs surviving documents without
    * a second tokenization scan) and the corpus doc count. N is counted
    * ONCE here, driver-side, and embedded as a literal in the cap
    * predicate — the idf path previously re-ran its own full
    * countDistinct scan of the corpus for the same scalar the cap's
    * broadcast subplan had already computed (review finding; the
    * one-scalar-to-the-driver contract bloomDedup and kmeans already use,
    * same math.ceil arithmetic as dfCapReport). */
  private[graft] def cappedPostingsWithTf(docs: DataFrame, textCol: String,
                             n: Int, maxDfFrac: Double,
                             maxDfCap: Int): (DataFrame, DataFrame, Long) = {
    // The doc count and the tokenize+tf pin are independent actions over the
    // same input; run them CONCURRENTLY (guide §2.6 — actions are only
    // sequential because the driver calls them sequentially) so the count's
    // driver round-trip hides under the pin instead of following it. The
    // count cannot ride the pin itself: observe forbids DISTINCT aggregates,
    // and tf's plan drops short documents the cap arithmetic must count.
    val sc = docs.sparkSession.sparkContext
    val tag = s"graft-doc-count-${java.util.UUID.randomUUID()}"
    val nDocsF = new java.util.concurrent.FutureTask[Long](() => {
      sc.addJobTag(tag)
      sc.setInterruptOnCancel(true)
      docs.select(countDistinct(col("doc_id"))).head().getLong(0)
    })
    // A thread started here inherits the caller's Spark local properties
    // (job group, tags, scheduler pool), so cancelling the caller's group
    // cancels the count too; a pooled thread would carry none of them.
    val counter = new Thread(nDocsF, "graft-doc-count")
    counter.setDaemon(true)
    counter.start()
    val tf =
      try postingTf(docs, textCol, n)
      catch { case e: Throwable =>
        // No count job may outlive this call. Cancel until the thread is
        // done: a cancel can land before the job is submitted.
        while (counter.isAlive) { sc.cancelJobsWithTag(tag); counter.join(50) }
        throw e
      }
    val nDocs =
      try nDocsF.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    val capVal = math.min(maxDfCap.toLong,
      math.max(2L, math.ceil(nDocs * maxDfFrac).toLong))
    val dfs = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= capVal)
      .select("term", "df")
    val posts0 = tf.join(dfs, Seq("term"))
    (tf, Materialize.pin(posts0), nDocs)
  }

  /** The d18 zero-recall canary as an OPT-IN loud guard on the scoring ops
    * themselves (r13 verdict #5, the fuzzy-join `failOnOversized` pattern):
    * the ×100 replica probe showed the dual df cap can silently prune EVERY
    * term of a document — the query "succeeds" at full cost with zero
    * recall (18.3 s → 0 pairs). `maxPrunedEmptyFrac < 1.0` arms the doc
    * arm (`maxPrunedMassFrac < 1.0` the mass arm): if more than that
    * fraction of tokenized documents lost their entire
    * term set to the cap, fail loudly with the numbers and the remedies
    * (d19's exact prepass, or a cap raise), instead of returning an empty
    * frame a pipeline would mistake for "no duplicates".
    *
    * TWO arms, INDEPENDENTLY thresholded, because the ×100 probes showed
    * the regimes signal differently (BASELINE.md round 14): exact
    * duplication empties whole documents (docs_pruned_empty = 97% at
    * exact-×100), while SUFFIX near-dup replicas keep one rare bigram per
    * doc — zero empty docs — yet the cap still removes 98.2% of the
    * squared-norm MASS the cosine scores over. The thresholds are separate
    * flags with separate healthy baselines: an emptied DOCUMENT is always
    * pathological (any `maxPrunedEmptyFrac` < 1 is a sane arm), whereas
    * pruning a large MASS fraction is the cap doing its JOB on
    * boilerplate-heavy corpora — hot shingles dominate Σtf² by design — so
    * `maxPrunedMassFrac` must be armed deliberately, with a corpus-informed
    * bound. Cost when armed: one countDistinct on the pinned tf
    * frame and one two-sided aggregate on the pinned posting join — no
    * re-tokenization, no new scan of the corpus.
    *
    * CALIBRATION RECIPE (the authoritative one — README's scale-design
    * section and PLANS.md point here). Arms are corpus properties, not
    * constants: (1) run [[dfCapReport]] (registered as d18) on the target
    * corpus, or a uniform sample of it, with the SAME n-gram/cap settings
    * as the scoring query; (2) read the two healthy fractions —
    * `docs_pruned_empty / docs_tokenized` and `1 − mass_kept/mass_total`;
    * (3) set each arm a safety factor above its healthy reading and well
    * below its failure regime. The registered production arms (0.1 empty,
    * 0.5 mass — d13_guarded, d14, d15, d19) come from exactly this: the
    * gate corpora measure 0.000 pruned-empty and ≤ 0.25 pruned mass
    * (healthy), while the measured failure regimes sit at 0.97
    * pruned-empty (exact-×100 replicas) and 0.982 pruned mass
    * (suffix-near-dup ×100) — BASELINE.md round 14. A fraction between
    * the arm and the failure regime means replica density has grown past
    * what the cap tolerates: collapse exact duplicates first
    * ([[composedNearDup]]) rather than raising the arm — raising the arm
    * accepts traded recall, it does not restore it. Re-calibrate when the
    * corpus mix shifts (new source, new dedup stage upstream), not per
    * run: the arms exist to catch REGIME changes, and a freshly-measured
    * arm that merely tracks the corpus would never fire. */
  /** The driver scalars the lexical family needs from the pinned frames,
    * produced by ONE aggregation job (r19 guide-§1 pass: the armed guard
    * previously ran two separate scalar jobs and the pair-join width a
    * third — three sequential driver round-trips over the same pinned
    * frames per query). `volume`/`postingRows`/`keptDocs` are 0 when the
    * capped posting frame is empty. */
  private[graft] final case class LexPostingStats(volume: Long,
                                                  postingRows: Long,
                                                  keptDocs: Long)

  private def assertRecallGuard(tf: DataFrame, posts: DataFrame,
                                maxPrunedEmptyFrac: Double,
                                maxPrunedMassFrac: Double,
                                op: String): LexPostingStats = {
    require(maxPrunedEmptyFrac >= 0 && maxPrunedEmptyFrac <= 1,
      s"maxPrunedEmptyFrac must be in [0,1], got $maxPrunedEmptyFrac")
    require(maxPrunedMassFrac >= 0 && maxPrunedMassFrac <= 1,
      s"maxPrunedMassFrac must be in [0,1], got $maxPrunedMassFrac")
    val armed = maxPrunedEmptyFrac < 1.0 || maxPrunedMassFrac < 1.0
    // One job for every scalar: the posting side carries Σdf (the pair-join
    // candidate volume, Σ_rows df = Σ_term df²), row count, distinct docs
    // and squared-norm mass; when an arm is armed the pre-cap tf side rides
    // the same job as a second union branch instead of its own round-trip.
    val pSide = posts.select(lit(1).as("__side"), col("doc_id"),
      (col("tf") * col("tf")).as("__m"), col("df"))
    val both =
      if (armed) pSide.unionByName(tf.select(lit(0).as("__side"),
        col("doc_id"), (col("tf") * col("tf")).as("__m"), lit(0L).as("df")))
      else pSide
    val rows = both.groupBy("__side").agg(
      countDistinct(col("doc_id")).as("__d"), sum(col("__m")).as("__m"),
      sum(col("df")).as("__v"), count(lit(1)).as("__n")).collect()
    // Row layout: [__side, __d, __m, __v, __n] — the group key rides at 0.
    val bySide = rows.map(r => r.getInt(0) -> r).toMap
    val kept = bySide.get(1)
    val stats = kept match {
      case Some(p) => LexPostingStats(
        if (p.isNullAt(3)) 0L else p.getLong(3), p.getLong(4), p.getLong(1))
      case None => LexPostingStats(0L, 0L, 0L)
    }
    if (!armed) return stats
    def remedies = "Remedies: collapse exact duplicates first " +
      "(composedNearDup/d19), raise maxDfCap/maxDfFrac, or rerun with " +
      "maxPrunedEmptyFrac=1.0 to accept the traded recall explicitly."
    val tot = bySide.get(0)
    val tokenized = tot.map(_.getLong(1)).getOrElse(0L)
    if (tokenized == 0) return stats
    val prunedDocs = tokenized - stats.keptDocs
    if (maxPrunedEmptyFrac < 1.0 &&
        prunedDocs.toDouble / tokenized > maxPrunedEmptyFrac)
      throw new IllegalStateException(
        s"$op: df-cap recall guard fired — $prunedDocs of $tokenized " +
          f"tokenized documents (${prunedDocs.toDouble / tokenized}%.3f > " +
          f"$maxPrunedEmptyFrac%.3f) had EVERY term pruned by the dual df " +
          "cap and cannot appear in any pair (zero-recall regime; see " +
          s"dfCapReport/d18). $remedies")
    val mass = tot.get.getLong(2)
    val keptMass = kept.map(p => if (p.isNullAt(2)) 0L else p.getLong(2))
      .getOrElse(0L)
    val prunedMass = mass - keptMass
    if (maxPrunedMassFrac < 1.0 && mass > 0 &&
        prunedMass.toDouble / mass > maxPrunedMassFrac)
      throw new IllegalStateException(
        s"$op: df-cap recall guard fired (mass arm) — the cap removed " +
          f"$prunedMass of $mass squared-norm mass " +
          f"(${prunedMass.toDouble / mass}%.3f > $maxPrunedMassFrac%.3f); " +
          "the cosine scores over a sliver of each document and recall is " +
          s"effectively traded even though no document emptied. $remedies")
    stats
  }

  /** Diagnostic twin of the df cap (d18): reports how much of the corpus the
    * dual cap REMOVES from the near-dup scoring space — the introspection
    * that turns the scaling-probe finding (PLANS.md: at 100× replica density
    * the caps silently pruned every term and recall went to zero while the
    * query "succeeded") into an operational signal. A pipeline runs this
    * next to d13/d15 and alerts on `docs_pruned_empty`/`mass_kept` before
    * trusting a near-dup pass.
    *
    * One row, all exact integers: term/posting/squared-norm-mass totals with
    * their kept counterparts under the same least(absolute, relative) cap
    * the scoring ops apply, plus the zero-recall canary — documents whose
    * EVERY term was pruned (they cannot appear in any pair). One
    * tokenization scan (shared [[postingTf]]), two small aggregates. */
  def dfCapReport(docs: DataFrame, textCol: String, maxDfFrac: Double = 0.2,
                  maxDfCap: Int = 1000, n: Int = 2): DataFrame = {
    require(maxDfFrac > 0 && maxDfFrac <= 1 && maxDfCap >= 2)
    val tf = postingTf(docs, textCol, n)
    val nDocs = docs.select(countDistinct(col("doc_id"))).head().getLong(0)
    val capVal = math.min(maxDfCap.toLong,
      math.max(2L, math.ceil(nDocs * maxDfFrac).toLong))
    val tfd = tf
      .join(tf.groupBy("term").agg(count(lit(1)).as("df")), Seq("term"))
      .withColumn("kept", col("df") <= capVal)
    val keptInt = when(col("kept"), 1L).otherwise(0L)
    val totals = tfd.agg(
      countDistinct(col("term")).as("n_terms"),
      countDistinct(when(col("kept"), col("term"))).as("n_terms_kept"),
      count(lit(1)).as("postings"),
      sum(keptInt).as("postings_kept"),
      sum(col("tf") * col("tf")).as("mass"),
      sum(col("tf") * col("tf") * keptInt).as("mass_kept"))
    val canary = tfd.groupBy("doc_id")
      .agg(max(keptInt).as("any_kept"))
      .agg(count(lit(1)).as("n_docs_tokenized"),
        sum(lit(1L) - col("any_kept")).as("docs_pruned_empty"))
    totals.crossJoin(broadcast(canary))
      .select(lit(nDocs).as("n_docs"), col("n_docs_tokenized"),
        col("n_terms"), col("n_terms_kept"), col("postings"),
        col("postings_kept"), col("mass"), col("mass_kept"),
        col("docs_pruned_empty"))
  }

  /** IDF-weighted form of [[lexicalNearDup]] (d15) — the production near-dup
    * weighting: each term's tf is scaled by its inverse document frequency
    * ln(N/df), so boilerplate terms that survive the df cap stop dominating
    * the cosine and rare, content-bearing shingles decide which pairs clear
    * the threshold.
    *
    * Determinism: weights are FIXED-POINT integers — floor(ln(N/df)·2¹⁶+0.5)
    * — so dot products and squared norms stay exact integer sums (the same
    * contract as the tf-only cosine) and the one final sqrt+divide is
    * bit-identical in any engine. The 2¹⁶ quantization was verified to agree
    * between java.lang.{Math,StrictMath}.log and DuckDB ln for every df in
    * 1..N at N ∈ {500, 5000, 50000}; a 1-ulp libm disagreement would need to
    * land within ~1e-11 of a rounding boundary to flip a weight.
    *
    * Scale: identical plan shape to [[lexicalNearDup]] — the posting frame
    * is materialized once ([[cappedPostings]]) and the idf weight is a
    * map-side column on it (df already rides the frame); no extra scan, no
    * extra shuffle. */
  def lexicalNearDupIdf(docs: DataFrame, textCol: String, threshold: Double = 0.8,
                        maxDfFrac: Double = 0.2, minShared: Int = 3,
                        maxDfCap: Int = 1000, n: Int = 2,
                        maxPrunedEmptyFrac: Double = 1.0,
                        maxPrunedMassFrac: Double = 1.0): DataFrame =
    lexicalNearDupIdfImpl(docs, textCol, threshold, maxDfFrac, minShared,
      maxDfCap, n, forceLongRegime = None, maxPrunedEmptyFrac,
      maxPrunedMassFrac)

  /** [[lexicalNearDupIdf]] with the accumulator regime overridable for
    * tests (None = auto-derive from the provable overflow bound). */
  private[graft] def lexicalNearDupIdfImpl(docs: DataFrame, textCol: String,
                        threshold: Double, maxDfFrac: Double, minShared: Int,
                        maxDfCap: Int, n: Int,
                        forceLongRegime: Option[Boolean],
                        maxPrunedEmptyFrac: Double = 1.0,
                        maxPrunedMassFrac: Double = 1.0): DataFrame = {
    require(maxDfFrac > 0 && maxDfFrac <= 1 && minShared >= 1 && maxDfCap >= 2)
    val (tf, posts, nDocs) = cappedPostingsWithTf(docs, textCol, n, maxDfFrac, maxDfCap)
    // Guard only when armed: the disarmed path needs no scalar from the
    // guard job (this op's width volume rides its own overflow-bound stats
    // job below), so skipping keeps it at one driver round-trip.
    if (maxPrunedEmptyFrac < 1.0 || maxPrunedMassFrac < 1.0)
      assertRecallGuard(tf, posts, maxPrunedEmptyFrac, maxPrunedMassFrac,
        "lexicalNearDupIdf")
    // N rides from cappedPostingsWithTf's one driver-side count — embedding
    // it as a literal lets every consumer derive the weighted values
    // MAP-SIDE from the already-checkpointed posting frame (no second
    // posting-sized materialization; review finding: this path used to
    // re-run its own full countDistinct scan for the same scalar).
    val wfx = floor(log(lit(nDocs.toDouble) / col("df")) * lit(65536.0) + lit(0.5))
      .cast("long")
    // The weighted value stays a MAP-SIDE derivation on the pinned posting
    // frame in every consumer below (no second posting-sized
    // materialization, no per-consumer re-count of the corpus).
    val vExpr = col("tf") * wfx
    val vm = posts.select(col("doc_id"), col("term"), vExpr.as("v"))
    // REGIME-SWITCHED exact arithmetic (review finding → r13 decimal fix →
    // r13 verdict #1): v ≈ tf·ln(N/df)·2¹⁶ can reach ~10⁹ at corpus scale
    // (N=10⁹, boilerplate tf in the thousands), where v² brushes 2⁶³ — a
    // LONG sum would wrap silently in Spark while DuckDB overflows loudly:
    // corrupted cosines, divergent engines. But the decimal(38,0) sums that
    // fix this cost 2.5× unconditionally, even at scales where overflow is
    // PROVABLY impossible. So compute the bound up front from the pinned
    // posting frame (one tiny per-doc aggregate — posting-row input, doc-row
    // output, map-side combined): every accumulated sum — a doc's Σv² and a
    // pair's Σva·vb over shared terms — is ≤ max(v)² · max(termsPerDoc).
    // LONG sums when that bound < 2⁶² (margin below 2⁶³), decimal
    // otherwise. Both are exact integers, so order-independence (the
    // determinism contract) holds in either regime and the oracle (HUGEINT,
    // exact always) is shared; `dot` is EMITTED as double (one correctly-
    // rounded conversion per engine) either way. v itself cannot overflow:
    // tf is bounded by document token count and wfx ≤ ln(N)·2¹⁶ (~1.4e6 at
    // N=10⁹), so tf·wfx < 2⁶³ needs a single document of ~10¹² tokens.
    // One job yields BOTH driver scalars: the overflow-bound stats (per-doc
    // groupBy, map-side combined) and the pair-join candidate volume
    // (Σ_rows df = Σ_term df², the widthForVolume input — folded here so the
    // idf path pays one stats job, not two).
    val stats = posts.groupBy("doc_id")
      .agg(count(lit(1)).as("__nt"), max(vExpr).as("__mv"),
        sum(col("df")).as("__sd"))
      .agg(max(col("__nt")), max(col("__mv")), sum(col("__sd"))).head()
    val useLong = forceLongRegime.getOrElse {
      if (stats.isNullAt(0)) true // empty posting space: nothing to sum
      else {
        val bound = BigInt(stats.getLong(1)).pow(2) * BigInt(stats.getLong(0))
        bound < (BigInt(1) << 62)
      }
    }
    val width =
      if (stats.isNullAt(2)) numShufflePartitions(posts)
      else widthForVolume(numShufflePartitions(posts), stats.getLong(2))
    def sq(x: Column, y: Column): Column =
      if (useLong) sum(x * y) else sum(x.cast("decimal(19,0)") * y)
    val norms = vm.groupBy("doc_id").agg(sq(col("v"), col("v")).as("sq"))
    val spread = byTerm(vm, width)
    val pa = spread.select(col("term"), col("doc_id").as("a"), col("v").as("va"))
    val pb = spread.select(col("term"), col("doc_id").as("b"), col("v").as("vb"))
    // Same derived-width (a,b) exchange as lexicalNearDup — see the ×100
    // final-agg spill note there.
    val pairs = pa.join(pb, Seq("term")).filter(col("a") < col("b"))
      .repartition(width, col("a"), col("b"))
      .groupBy("a", "b")
      .agg(sq(col("va"), col("vb")).as("dot"), count(lit(1)).as("shared_terms"))
      .filter(col("shared_terms") >= minShared)
    pairs
      .join(norms.select(col("doc_id").as("a"), col("sq").as("__sa")), Seq("a"))
      .join(norms.select(col("doc_id").as("b"), col("sq").as("__sb")), Seq("b"))
      .withColumn("cos",
        col("dot").cast("double") /
          (sqrt(col("__sa").cast("double")) * sqrt(col("__sb").cast("double"))))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("shared_terms"),
        col("dot").cast("double").as("dot"), col("cos"))
  }


  /** The Bayardo hot→rare prefix index d14 scores over: per doc, running
    * squared-mass in df-desc order; a (term, doc_id) posting is indexed
    * once the running mass reaches threshold² · ‖d‖² (PLANS.md r14
    * (ProbeWidth) holds its stage volumes). `norms` is taken as a parameter
    * (not derived here) so the caller's already-built norms frame is reused
    * and the plan shape is unchanged. */
  private[graft] def prefixIndexFrame(posts: DataFrame,
                                      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hotFirst = Window.partitionBy("doc_id")
      .orderBy(col("df").desc, col("term").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ‖d‖² as a whole-partition window over the SAME doc_id partitioning the
    // running sum already needs, instead of joining the caller's norms
    // groupBy back in: same addends (all of the doc's capped postings), same
    // exact Long sum, one exchange of posts instead of two plus a join
    // (r20 guide-§2.4 pass; the caller's norms frame still feeds the cosine
    // tail, where it is genuinely an aggregate). The whole-partition frame
    // buffers one document's postings — bounded by document length.
    val whole = Window.partitionBy("doc_id")
    posts
      .withColumn("__cum", sum(col("tf") * col("tf")).over(hotFirst))
      .withColumn("__sq", sum(col("tf") * col("tf")).over(whole))
      .filter(col("__cum") >= lit(threshold * threshold) * col("__sq"))
      .select(col("term"), col("doc_id"))
  }


  /** Prefix-filtered form of [[lexicalNearDup]] — IDENTICAL output, cheaper
    * candidate generation (the Bayardo/Chaudhuri prefix-filtering idea,
    * adapted to the tf-weighted cosine):
    *
    * Order each document's terms hot → rare (global df DESC). Index (emit
    * candidate-generation postings for) only the RARE TAIL — the shortest
    * tail such that the unindexed hot head holds strictly less than
    * t² of the document's squared norm. For a pair sharing NO indexed
    * term, the dot product lives entirely in the two heads, so by
    * Cauchy-Schwarz cos(a,b) ≤ √(head_a/‖a‖²) · √(head_b/‖b‖²) < t —
    * every pair at or above the threshold MUST collide on an indexed term.
    * Generation therefore yields a superset of the answer, and the full
    * pruned-space verification (dot, shared count, norms — same arithmetic
    * as [[lexicalNearDup]]) makes the final output exactly equal, which is
    * why the d14 oracle IS the d13 oracle.
    *
    * Scale: the self-join runs on indexed postings only — Σ df² over rare
    * tails instead of over every kept term; verification expands each
    * surviving candidate by one document's term list, bounded by
    * |candidates| × doc length.
    *
    * WHEN TO PICK IT (measured): this wins when the df distribution is
    * power-law — rare tails are genuinely rare, so the candidate join
    * collapses. On BIGRAMS over the synthetic sf corpus (31-word
    * vocabulary, every "rare" bigram still in hundreds of documents) it
    * LOSES 6-8× to [[lexicalNearDup]]'s plain capped join (81 s vs 10 s at
    * sf0.1, same 256 pairs): the indexed tails stay hot, the candidate
    * superset is enormous, and verification pays |candidates| × doc length
    * on top. On TRIGRAMS (n=3) the same corpus turns power-law (sf0.01:
    * vocab 16 245, median df 1, max df 7) and prefix filtering wins
    * outright — 491 candidate-join rows vs 13 985 for the full posting
    * join, identical 25 output pairs — which is how d14 registers it.
    * Exactness holds at every n — only the economics flip. */
  def prefixNearDup(docs: DataFrame, textCol: String, threshold: Double = 0.8,
                    maxDfFrac: Double = 0.2, minShared: Int = 3,
                    maxDfCap: Int = 1000, n: Int = 2,
                    maxPrunedEmptyFrac: Double = 1.0,
                    maxPrunedMassFrac: Double = 1.0): DataFrame = {
    require(threshold > 0 && threshold <= 1)
    require(maxDfFrac > 0 && maxDfFrac <= 1 && minShared >= 1 && maxDfCap >= 2)
    val (tf, posts, _) = cappedPostingsWithTf(docs, textCol, n, maxDfFrac, maxDfCap)
    val stats = assertRecallGuard(tf, posts, maxPrunedEmptyFrac,
      maxPrunedMassFrac, "prefixNearDup")
    val norms = posts.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("sq"))

    // PINNED: both candidate-join sides and the stage-volume aggregate read
    // the materialized index instead of re-running the window.
    val idx = Materialize.pin(prefixIndexFrame(posts, threshold))
    // d14's two expansion stages have DIFFERENT volumes (the sf1 OOM probe,
    // r13→r14): the candidate join expands by Σ df_idx² over INDEXED tails,
    // while the verification join expands each surviving candidate by a
    // full document term list — at sf1 that second stage is the 1.64B-row
    // one. Size each from its own measured input: the index df for the
    // former; |cand| × avg(terms/doc) × 2 (doc-length/candidacy correlation
    // margin — longer docs index more tails) for the latter, with `cand`
    // pinned anyway because the verification join is its only consumer and
    // the count would otherwise re-run the candidate join.
    val genVolRow = idx.groupBy("term").agg(count(lit(1)).as("__c"))
      .agg(sum(col("__c") * col("__c"))).head()
    val genWidth =
      if (genVolRow.isNullAt(0)) numShufflePartitions(posts)
      else widthForVolume(numShufflePartitions(posts), genVolRow.getLong(0))
    val spread = byTerm(idx, genWidth)
    val cand = Materialize.pin(
      spread.select(col("term"), col("doc_id").as("a"))
        .join(spread.select(col("term"), col("doc_id").as("b")), Seq("term"))
        .filter(col("a") < col("b"))
        .select("a", "b").distinct())
    // Posting row/doc counts ride the guard/stats job — no separate job.
    // (Riding the candidate count on the pin via observe was tried and
    // reverted with the CC-loop fusion — see connectedComponents: the
    // async-bus wait behind Observation.get costs more than this
    // synchronous count over the pinned frame.)
    val avgTerms = if (stats.keptDocs == 0L) 1L
      else math.max(1L, stats.postingRows / stats.keptDocs)
    val verWidth = widthForVolume(numShufflePartitions(posts),
      2L * cand.count() * avgTerms)
    val verCand = cand.repartition(verWidth, col("a"))

    val pa = posts.select(col("doc_id").as("a"), col("term"), col("tf").as("ta"))
    val pb = posts.select(col("doc_id").as("b"), col("term"), col("tf").as("tb"))
    // BOTH verification exchanges carry the expanded volume and need the
    // derived width: join-by-a expands |cand| × terms(a), and its output
    // re-shuffles by (b, term) for the second join — left at the configured
    // width, that second sort held 1.64B rows in 32 task slices at sf1 (the
    // actual r13 OOM stage, pinpointed r14). The explicit numbered
    // repartition pins the second exchange; pb co-partitions to match.
    val expanded = verCand.join(pa, Seq("a"))
      .repartition(verWidth, col("b"), col("term"))
    // The (a,b) aggregation's input is the verification join's match volume
    // (bounded by the same |cand| × terms expansion verWidth was derived
    // from) — run its exchange at verWidth too, not the configured width
    // (the ×100 d13 probe measured the configured-width final agg spilling
    // 5.1 GB; d14's verification tail has the same shape).
    val pairs = expanded.join(pb, Seq("b", "term"))
      .repartition(verWidth, col("a"), col("b"))
      .groupBy("a", "b")
      .agg(sum(col("ta") * col("tb")).as("dot"), count(lit(1)).as("shared_terms"))
      .filter(col("shared_terms") >= minShared)
    cosineTail(pairs, norms, threshold)
  }

  /** Composed exact→near dedup — the production pipeline shape the sf1
    * scale probe prescribed (PLANS.md round-13 probe, finding 1): at high
    * replica density every shingle's df is inflated by the duplicate count,
    * the dual df cap prunes the whole scoring space, and d13/d15 trade
    * recall for boundedness. The fix is structural, not a bigger cap:
    * collapse EXACT duplicates first (hash groupBy — replica density is
    * absorbed where duplication is exact), run the near-dup posting join
    * over the one-row-per-distinct-content representative set (df densities
    * are back to content-level, so the cap only prunes genuine boilerplate),
    * and carry each side's exact-group multiplicity so the pair count over
    * the ORIGINAL corpus is reconstructable (`pair_weight` = |group a| ×
    * |group b| underlying near-dup pairs).
    *
    * Scale shape: one hash groupBy (the exact pass) + the d13 machinery on
    * a corpus that is never larger and at replica density k is ~k× smaller.
    * Both stages are shuffle-on-key; nothing quadratic is introduced. */
  def composedNearDup(docs: DataFrame, textCol: String, threshold: Double = 0.8,
                      maxDfFrac: Double = 0.2, minShared: Int = 3,
                      maxDfCap: Int = 1000, n: Int = 2,
                      maxPrunedEmptyFrac: Double = 1.0,
                      maxPrunedMassFrac: Double = 1.0): DataFrame = {
    // Pinned: the group frame feeds the representative join AND both
    // multiplicity joins — one md5 groupBy, not three (file convention).
    val groups = Materialize.pin(exactDedupGroups(docs, textCol))
    val reps = docs.join(
      groups.select(col("rep_doc_id").as("doc_id"), col("n_dups")), Seq("doc_id"))
    // The guard is checked over the REPRESENTATIVE corpus — where the exact
    // prepass has already absorbed replica-driven df inflation, a firing
    // guard means genuinely boilerplate-saturated content, not duplication.
    val pairs = lexicalNearDup(reps, textCol, threshold, maxDfFrac, minShared,
      maxDfCap, n, maxPrunedEmptyFrac, maxPrunedMassFrac)
    // Multiplicities join back from `groups` (rep_doc_id -> n_dups), NOT
    // from `reps`: reps embeds a full docs re-scan + md5 groupBy per use,
    // and the emitted pairs only need the group sizes.
    val mult = groups.select(col("rep_doc_id"), col("n_dups"))
    pairs
      .join(mult.select(col("rep_doc_id").as("a"), col("n_dups").as("na_dups")), Seq("a"))
      .join(mult.select(col("rep_doc_id").as("b"), col("n_dups").as("nb_dups")), Seq("b"))
      .withColumn("pair_weight", col("na_dups") * col("nb_dups"))
      .select(col("a"), col("b"), col("shared_terms"), col("dot"), col("cos"),
        col("na_dups"), col("nb_dups"), col("pair_weight"))
  }

  /** [[composedNearDup]] as DuckDB SQL (oracle): the same min-doc_id
    * representative per md5(text) group, the d13 posting CTEs sourced from
    * the representative relation, multiplicities joined back at the end. */
  def composedNearDupSql(tokenRe: String, threshold: Double, maxDfFrac: Double,
                         minShared: Int, maxDfCap: Int = 1000, n: Int = 2): String =
    s"""WITH groups AS (
       |  SELECT min(doc_id) AS doc_id, count(*) AS n_dups
       |  FROM documents GROUP BY md5(text)),
       |reps AS (
       |  SELECT d.doc_id, d.text, g.n_dups
       |  FROM documents d JOIN groups g USING (doc_id)),
       |${postingCtes(tokenRe, maxDfFrac, maxDfCap, n, from = "reps")},
       |${tfCosineTailSql(threshold, minShared,
           extraSelect = """,
             |  ga.n_dups AS na_dups, gb.n_dups AS nb_dups,
             |  ga.n_dups * gb.n_dups AS pair_weight""".stripMargin,
           extraJoins = """
             |           JOIN reps ga ON pairs.a = ga.doc_id
             |           JOIN reps gb ON pairs.b = gb.doc_id""".stripMargin)}""".stripMargin

  /** Shared oracle CTE prefix for the lexical near-dup family: tokenization,
    * n-gram shingle construction, tf, and the dual-capped df frame —
    * byte-equivalent semantics to [[cappedPostings]]. */
  private[graft] def postingCtes(tokenRe: String, maxDfFrac: Double, maxDfCap: Int,
                          n: Int, from: String = "documents"): String = {
    val joiner = (0 until n).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    val end = if (n == 2) "" else s" - ${n - 2}"
    s"""toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '$tokenRe') AS t
       |  FROM $from),
       |nd AS (SELECT count(DISTINCT doc_id) AS n FROM $from),
       |grams AS (
       |  SELECT doc_id, unnest(list_transform(range(1, CAST(len(t) AS BIGINT)$end),
       |      i -> $joiner)) AS term
       |  FROM toks WHERE len(t) >= $n),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM grams GROUP BY 1, 2),
       |dfs AS (SELECT term, count(*) AS df FROM tf CROSS JOIN nd GROUP BY term, nd.n
       |         HAVING count(*) <= least($maxDfCap,
       |           greatest(2, CAST(ceil(nd.n * $maxDfFrac) AS BIGINT)))),
       |posts AS (SELECT tf.*, dfs.df FROM tf JOIN dfs USING (term))""".stripMargin
  }

  /** Shared tf-cosine tail of the d13/d19 oracles (norms + posting
    * self-join + integer-exact cosine threshold), factored so the two
    * oracles cannot drift apart semantically — the d19 composition
    * contract REQUIRES its scoring tail to be d13's. `extraSelect` /
    * `extraJoins` splice d19's multiplicity columns in. */
  private def tfCosineTailSql(threshold: Double, minShared: Int,
                              extraSelect: String = "",
                              extraJoins: String = ""): String =
    s"""norms AS (SELECT doc_id, sum(tf*tf) AS sq FROM posts GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b,
       |    CAST(sum(a.tf*b.tf) AS BIGINT) AS dot, count(*) AS shared_terms
       |  FROM posts a JOIN posts b ON a.term = b.term AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $minShared)
       |SELECT a, b, shared_terms, dot,
       |  dot / (sqrt(CAST(na.sq AS DOUBLE)) * sqrt(CAST(nb.sq AS DOUBLE))) AS cos$extraSelect
       |FROM pairs JOIN norms na ON pairs.a = na.doc_id
       |           JOIN norms nb ON pairs.b = nb.doc_id$extraJoins
       |WHERE dot / (sqrt(CAST(na.sq AS DOUBLE)) * sqrt(CAST(nb.sq AS DOUBLE)))
       |      >= $threshold""".stripMargin

  /** [[lexicalNearDup]] as DuckDB SQL (oracle), sharing the token regex,
    * n-gram construction, dual df cap, and integer-exact cosine. Also the
    * d14 oracle: [[prefixNearDup]] provably emits the identical output. */
  def lexicalNearDupSql(tokenRe: String, threshold: Double, maxDfFrac: Double,
                        minShared: Int, maxDfCap: Int = 1000, n: Int = 2): String =
    s"""WITH ${postingCtes(tokenRe, maxDfFrac, maxDfCap, n)},
       |${tfCosineTailSql(threshold, minShared)}""".stripMargin

  /** [[lexicalNearDupIdf]] as DuckDB SQL (oracle): identical fixed-point idf
    * weights (floor(ln(N/df)·2¹⁶+0.5) — engine-agreement verified
    * exhaustively for df in 1..N), integer dot/norms, one final
    * sqrt+divide. */
  def lexicalNearDupIdfSql(tokenRe: String, threshold: Double, maxDfFrac: Double,
                           minShared: Int, maxDfCap: Int = 1000, n: Int = 2): String =
    s"""WITH ${postingCtes(tokenRe, maxDfFrac, maxDfCap, n)},
       |v AS (
       |  SELECT doc_id, term,
       |    tf * CAST(floor(ln(CAST(nd.n AS DOUBLE) / df) * 65536.0 + 0.5) AS BIGINT) AS v
       |  FROM posts CROSS JOIN nd),
       |norms AS (SELECT doc_id, sum(CAST(v AS HUGEINT) * v) AS sq FROM v GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b,
       |    sum(CAST(a.v AS HUGEINT) * b.v) AS dot, count(*) AS shared_terms
       |  FROM v a JOIN v b ON a.term = b.term AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $minShared)
       |SELECT a, b, shared_terms, CAST(dot AS DOUBLE) AS dot,
       |  CAST(dot AS DOUBLE) / (sqrt(CAST(na.sq AS DOUBLE)) * sqrt(CAST(nb.sq AS DOUBLE))) AS cos
       |FROM pairs JOIN norms na ON pairs.a = na.doc_id
       |           JOIN norms nb ON pairs.b = nb.doc_id
       |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.sq AS DOUBLE)) * sqrt(CAST(nb.sq AS DOUBLE)))
       |      >= $threshold""".stripMargin
}
