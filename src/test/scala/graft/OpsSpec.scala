package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** North-star operators: dedup family, similarity search, text analysis,
  * multimodal plumbing. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 0
    (2L, "completely different content about spark query engines and shuffles"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank")  // exact dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup groups duplicates by content hash") {
    val g = Dedup.exactDedupGroups(docs, "text").collect()
    assert(g.length == 3)
    val dupGroup = g.find(_.getAs[Long]("n_dups") == 2).get
    assert(dupGroup.getAs[Long]("rep_doc_id") == 0L)
    assert(Dedup.exactDedup(docs, "text").count() == 3)
  }

  test("minhash: identical docs share full signature; near-dups collide in LSH") {
    val sigs = Dedup.minhashSignatures(docs, "text", 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> (0 until Dedup.minhashSeeds.size).map(i => r.getAs[Long](s"mh$i")))
      .toMap
    assert(sigs(0L) == sigs(3L)) // identical text -> identical signature
    assert(sigs(0L) != sigs(2L)) // different text -> different signature
    val pairs = Dedup.candidatePairs(Dedup.lshBands(Dedup.minhashSignatures(docs, "text", 3)))
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)))
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((2L, 3L)))
  }

  test("rowsPerBand derives from the threshold; registered default is the derived value") {
    // The EXACT S-curve midpoints (1-2^(-1/b))^(1/r) for k=8 are
    // r=1: 0.083, r=2: 0.399, r=4: 0.736, r=8: 0.917 — the derivation
    // must pick the LARGEST divisor whose midpoint is at or below the
    // threshold (never round UP past it: the old log-nearest rule picked
    // r=4 at 0.7, cutting at-threshold detection to ~0.42 silently), and
    // the registered (threshold=0.5, r=2) pair must be ON the derivation
    // so the default is pinned as derived, not chosen.
    assert(Dedup.rowsPerBandFor(0.5) == 2)
    assert(Dedup.rowsPerBandFor(0.2) == 1)   // loose threshold → wide recall bands
    assert(Dedup.rowsPerBandFor(0.7) == 2)   // 0.736 > 0.7 → stay at r=2
    assert(Dedup.rowsPerBandFor(0.95) == 8)  // near-exact → the single strict band
    assert(Dedup.rowsPerBandFor(0.05) == 1)  // below every midpoint → max recall
    // prime k degrades gracefully: {1, k} are the divisors and the exact
    // r=k midpoint (0.5^(1/k)) is derivable — the approximate (1/b)^(1/r)
    // midpoint was 1.0 at b=1, which would have collapsed EVERY prime-k
    // threshold to the maximal-volume r=1 (review finding)
    assert(Dedup.rowsPerBandFor(0.95, k = 7) == 7)  // 0.5^(1/7) ≈ 0.906 ≤ 0.95
    assert(Dedup.rowsPerBandFor(0.5, k = 7) == 1)
    // Monotone: a stricter threshold never derives FEWER rows per band.
    val rs = Seq(0.05, 0.1, 0.2, 0.3, 0.5, 0.7, 0.85, 0.95, 0.99)
      .map(Dedup.rowsPerBandFor(_))
    assert(rs == rs.sorted, rs.toString)
    // The recall floor the midpoint-bound rule guarantees: wherever a
    // midpoint sits at or below the threshold (≥ 0.083 at k=8), an
    // at-threshold pair is caught with p ≥ 1/2 by the midpoint's exact
    // definition — and ≥ 0.63 at every operating point pinned here, since
    // the thresholds sit above (not on) their midpoints. (Below every
    // midpoint the r=1 fallback is simply the maximal-recall banding — no
    // floor to pin.)
    for (t <- Seq(0.2, 0.3, 0.5, 0.7, 0.85, 0.95, 0.99)) {
      val r = Dedup.rowsPerBandFor(t)
      assert(Dedup.lshDetectProb(t, r, 8 / r) >= 0.63, s"threshold $t, r $r")
    }
    // And the curve math itself: at the registered operating point a true
    // 0.5-Jaccard pair is caught with p≈0.684, a 0.9 pair with p>0.99.
    assert(math.abs(Dedup.lshDetectProb(0.5, 2, 4) - 0.684) < 0.01)
    assert(Dedup.lshDetectProb(0.9, 2, 4) > 0.99)
    intercept[IllegalArgumentException](Dedup.rowsPerBandFor(0.0))
    intercept[IllegalArgumentException](Dedup.rowsPerBandFor(1.0))
    // only the documented 0 sentinel derives — negative typos fail loudly
    intercept[IllegalArgumentException](
      Dedup.nearDupPairs(docs, "text", 3, 0.5, rowsPerBand = -1))
  }

  test("near-dup pipeline finds the one-word-changed pair via jaccard") {
    val nd = Dedup.nearDupPairs(docs, "text", 3, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(nd.contains((0L, 3L)))          // exact dup: jaccard 1.0
    // 0 vs 1 share most shingles; whether LSH catches them depends on bands,
    // but if present the jaccard must be high and 0-vs-2 must be absent.
    assert(!nd.exists(p => p == (0L, 2L) || p == (1L, 2L)))
  }

  test("lexical cosine near-dup: exact pair at 1.0, near pair high, df cap prunes") {
    val got = Dedup.lexicalNearDup(docs, "text", threshold = 0.8,
        maxDfFrac = 1.0, minShared = 3)
      .select("a", "b", "cos").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(math.abs(got((0L, 3L)) - 1.0) < 1e-12)        // exact dup
    assert(got((0L, 1L)) > 0.85 && got((0L, 1L)) < 1.0)  // one-word change
    assert(!got.keySet.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated absent
    // minShared keeps only the exact pair (12 shared bigrams vs 11)
    val strict = Dedup.lexicalNearDup(docs, "text", threshold = 0.8,
        maxDfFrac = 1.0, minShared = 12)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(strict == Set((0L, 3L)))
    // tiny relative cap bottoms out at df <= 2: the three-way-shared
    // bigrams (df=3) are pruned, so only the exact pair's private
    // "river bank" bigram (df=2) can still connect a pair
    val capped = Dedup.lexicalNearDup(docs, "text", threshold = 0.0,
        maxDfFrac = 0.01, minShared = 1)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(capped == Set((0L, 3L)))
  }

  test("token-less docs are excluded from minhash sketches, not fake-paired") {
    // Punctuation-only docs tokenize to nothing; WordShingles' zero-token
    // fallback is the single empty shingle, so before the exclusion ALL of
    // them shared one signature and near-dup'd each other at jaccard 1.0 —
    // a dedup pass would have deleted distinct documents (review finding).
    val mixed = Seq(
      (1L, "!!!"), (2L, "??? ..."), (3L, ",,,"),
      (4L, "real words here again and again"),
      (5L, "real words here again and again")).toDF("doc_id", "text")
    for (sigs <- Seq(Dedup.minhashSignatures(mixed, "text", 3),
                     Dedup.rowMinhashSignatures(mixed, "text", 3))) {
      val ids = sigs.select("doc_id").as[Long].collect().toSet
      assert(ids == Set(4L, 5L), s"token-less docs leaked into sketch: $ids")
    }
    val nd = Dedup.nearDupPairs(mixed, "text", 3, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(nd == Set((4L, 5L)), s"got $nd")
  }

  test("simhash bands distribute bits evenly; maxHamming=8 stays non-degenerate") {
    // The old ceil() width gave band 8 of a 32-bit/9-band split ZERO real
    // bits — every doc in one bucket, all-pairs join (review finding). Now
    // widths differ by <=1; a corpus of docs with distinct signatures must
    // produce far fewer candidates than all-pairs while a genuine 1-bit
    // near-pair is still found (pigeonhole exactness).
    val docs = (0 until 40).map(i => (i.toLong, s"unique$i content$i words$i here$i"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhash(docs, "text")
    val pairs = Dedup.simhashNearDup(sigs, maxHamming = 8)
      .as[(Long, Long, Long)].collect()
    // exactness oracle: plain all-pairs hamming filter over the same sigs
    val sigMap = sigs.as[(Long, Long)].collect().toMap
    val want = (for {
      a <- sigMap.keys; b <- sigMap.keys if a < b
      if java.lang.Long.bitCount(sigMap(a) ^ sigMap(b)) <= 8
    } yield (a, b)).toSet
    assert(pairs.map(p => (p._1, p._2)).toSet == want,
      "banded result diverged from the all-pairs hamming filter")
  }

  test("exactDedup keeps the min-doc_id survivor with the original schema") {
    val out = Dedup.exactDedup(docs, "text")
    assert(out.columns.toSeq == docs.columns.toSeq) // no leaked content_hash
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(0L, 1L, 2L), s"got $ids") // 3 dropped: dup of 0, min wins
  }

  test("contamination accepts predicates over non-doc_id columns") {
    val d = Seq(
      (1L, "alpha beta gamma delta", "bench"),
      (2L, "alpha beta gamma delta epsilon", "web"),
      (3L, "zeta eta theta iota kappa", "web")).toDF("doc_id", "text", "source")
    val got = Dedup.contaminationScore(d, col("source") === "bench", "text")
      .select("doc_id", "contamination").as[(Long, Double)].collect().toMap
    assert(got(2L) > 0.5 && got(3L) == 0.0, s"got $got")
  }

  test("composed exact→near dedup: full recall where the df cap prunes d13") {
    // Replica-inflated corpus — the sf1 probe's pathology in miniature:
    // 3 base docs (0/1 a one-word near-dup pair, 2 unrelated), each
    // replicated 30× with distinct ids but identical text.
    val base = Seq(
      0L -> "the quick brown fox jumps over the lazy dog near the river bank",
      1L -> "the quick brown fox jumps over the lazy dog near the river bend",
      2L -> "completely different content about spark query engines and shuffles")
    val inflated = (for ((id, t) <- base; k <- 0 until 30)
      yield (id + 3L * k, t)).toDF("doc_id", "text")
    // N=90, every bigram's df >= 30 > ceil(90*0.2)=18: plain d13 prunes ALL
    val plain = Dedup.lexicalNearDup(inflated, "text", threshold = 0.8,
      maxDfFrac = 0.2, minShared = 3)
    assert(plain.count() == 0, "premise: the cap must empty plain d13 here")
    // composed: exact pass collapses to 3 reps (N=3, cap bottoms at 2);
    // the near pair re-appears with full multiplicity accounting
    val got = Dedup.composedNearDup(inflated, "text", threshold = 0.8,
        maxDfFrac = 0.2, minShared = 3)
      .select("a", "b", "cos", "na_dups", "nb_dups", "pair_weight")
      .as[(Long, Long, Double, Long, Long, Long)].collect()
    assert(got.length == 1)
    val (a, b, cos, na, nb, w) = got.head
    assert((a, b) == (0L, 1L) && na == 30L && nb == 30L && w == 900L)
    // the rep-pair cosine is the UNINFLATED d13 cosine — replicas absorbed
    val ref = Dedup.lexicalNearDup(base.toDF("doc_id", "text"), "text",
        threshold = 0.8, maxDfFrac = 1.0, minShared = 3)
      .select("a", "b", "cos").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(math.abs(cos - ref((0L, 1L))) < 1e-12)
    // and on a corpus with no exact dups, composed == plain + weight-1 cols
    val flat = Dedup.composedNearDup(base.toDF("doc_id", "text"), "text",
        threshold = 0.8, maxDfFrac = 1.0, minShared = 3)
      .select("a", "b", "pair_weight").as[(Long, Long, Long)].collect().toSet
    assert(flat == Set((0L, 1L, 1L)))
  }

  test("prefix-filtered near-dup output is EXACTLY the plain capped join's") {
    // power-law-ish corpus: common boilerplate + doc-specific rare words,
    // plus near-dup pairs that must survive both plans identically
    val rows = (0 until 24).map { i =>
      val pair = i / 2 // docs 2k and 2k+1 differ in ONE trailing word
      val boiler = "the data spark query engine shuffle"
      val body = s"alpha$pair beta$pair gamma$pair delta$pair epsilon$pair zeta$pair"
      (i.toLong, s"$boiler $body tail$i")
    }
    val df = rows.toDF("doc_id", "text")
    for (th <- Seq(0.5, 0.8); n <- Seq(2, 3)) {
      val a = Dedup.lexicalNearDup(df, "text", threshold = th,
        maxDfFrac = 1.0, minShared = 1, n = n).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).sorted.toSeq
      val b = Dedup.prefixNearDup(df, "text", threshold = th,
        maxDfFrac = 1.0, minShared = 1, n = n).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).sorted.toSeq
      assert(a == b, s"th=$th n=$n: prefix-filtered output diverged")
      assert(a.nonEmpty, s"th=$th n=$n: corpus must produce pairs for the test to bite")
    }
  }

  test("idf near-dup: exact dup still 1.0; boilerplate-only pairs score lower than tf") {
    // doc 0/3 exact dups; 0/1 one-word change; 4/5 share ONLY a boilerplate
    // phrase every doc carries (high df -> near-zero idf weight)
    val idf = Dedup.lexicalNearDupIdf(docs, "text", threshold = 0.0,
        maxDfFrac = 1.0, minShared = 1)
      .select("a", "b", "cos").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val tf = Dedup.lexicalNearDup(docs, "text", threshold = 0.0,
        maxDfFrac = 1.0, minShared = 1)
      .select("a", "b", "cos").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(math.abs(idf((0L, 3L)) - 1.0) < 1e-12) // identical vectors: weights cancel
    // the 0/1 pair differs in one RARE trailing bigram: idf upweights the
    // difference, so the pair must score strictly below its tf cosine
    assert(idf((0L, 1L)) < tf((0L, 1L)),
      s"idf=${idf((0L, 1L))} tf=${tf((0L, 1L))}")
    // still well above unrelated pairs — on a 4-doc corpus the changed
    // bigrams are df=1 (maximal idf), so the drop from tf is extreme
    assert(idf((0L, 1L)) > 0.3)
  }

  test("idf near-dup regime switch: long path when the bound fits, decimal when not") {
    // Tiny corpus: max(v)^2 * max(termsPerDoc) is far below 2^62, so the
    // auto regime must sum in LONG — no decimal cast anywhere in the plan.
    val tiny = Dedup.lexicalNearDupIdf(docs, "text", threshold = 0.0,
      maxDfFrac = 1.0, minShared = 1)
    assert(!tiny.queryExecution.analyzed.toString.contains("decimal"),
      "tiny corpus must take the long-accumulator regime")
    // High-tf corpus engineered past the bound: bigram "hot hot" with
    // tf=60000, df=2, N=4 -> v = 60000*floor(ln(2)*2^16+0.5) ~ 2.7e9,
    // v^2 ~ 7.4e18 > 2^62 -> decimal regime, and the exact pair must still
    // come out at cos 1.0 (the sums are exact in either regime).
    val hot = "hot " * 60001
    val hotDocs = Seq((0L, hot), (1L, hot),
      (2L, "calm filler words one"), (3L, "other filler words two"))
      .toDF("doc_id", "text")
    val big = Dedup.lexicalNearDupIdf(hotDocs, "text", threshold = 0.5,
      maxDfFrac = 1.0, minShared = 1)
    assert(big.queryExecution.analyzed.toString.contains("decimal"),
      "past-the-bound corpus must take the decimal regime")
    val got = big.select("a", "b", "cos").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(math.abs(got((0L, 1L)) - 1.0) < 1e-12)
  }

  test("idf near-dup: forced long and decimal regimes agree bit-exactly") {
    def run(long: Boolean) =
      Dedup.lexicalNearDupIdfImpl(docs, "text", threshold = 0.0,
          maxDfFrac = 1.0, minShared = 1, maxDfCap = 1000, n = 2,
          forceLongRegime = Some(long))
        .select("a", "b", "shared_terms", "dot", "cos")
        .as[(Long, Long, Long, Double, Double)].collect().sorted.toSeq
    val l = run(long = true); val d = run(long = false)
    assert(l == d, "regimes diverged on in-bound sums")
    assert(l.nonEmpty)
  }

  test("pair-join width derives from candidate volume, floored at session width") {
    val conf = spark.sessionState.conf.numShufflePartitions
    // tiny volume (this corpus's Σ_rows df): stays at the configured width
    val (_, posts, _) = Dedup.cappedPostingsWithTf(docs, "text", 2, 1.0, 1000)
    val vol = posts.agg(sum(col("df"))).head().getLong(0)
    assert(Dedup.widthForVolume(conf, vol) == conf)
    // Σdf = 9e9 -> ceil(9e9/512e3) = 17579
    // (r19: budget lowered 4M -> 512k so the pair join's partial-agg map
    // stays ~25 MB/task — the measured spill-free regime)
    assert(Dedup.widthForVolume(conf, 9000000000L) == 17579)
  }

  test("a failing posting pin leaves no doc-count job behind") {
    // Each row sleeps, so the concurrent doc count (4 tasks × ~10 s) is still
    // running when the pin fails on the missing text column.
    val slowId = udf { (id: Long) => Thread.sleep(20); id }.asNondeterministic()
    val noText = spark.range(0, 2000, 1, 4).select(slowId(col("id")).as("doc_id"))
    intercept[org.apache.spark.sql.AnalysisException] {
      Dedup.cappedPostingsWithTf(noText, "text", 2, 1.0, 1000)
    }
    // An orphaned count is submitted only after its planning (~2 s on a cold
    // session), so watch for a while: no job may run once the call is over.
    for (_ <- 1 to 16) {
      Thread.sleep(250)
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    }
  }

  test("recall guard: loud failure in the zero-recall regime, silent when healthy") {
    val base = Seq(
      0L -> "the quick brown fox jumps over the lazy dog near the river bank",
      1L -> "the quick brown fox jumps over the lazy dog near the river bend",
      2L -> "completely different content about spark query engines and shuffles")
    val inflated = (for ((id, t) <- base; k <- 0 until 30)
      yield (id + 3L * k, t)).toDF("doc_id", "text")
    // default (disarmed): the cap empties the output silently — by design
    assert(Dedup.lexicalNearDup(inflated, "text", threshold = 0.8,
      maxDfFrac = 0.2, minShared = 3).count() == 0)
    // armed: every tokenized doc lost its whole term set -> loud failure
    val ex = intercept[IllegalStateException] {
      Dedup.lexicalNearDup(inflated, "text", threshold = 0.8,
        maxDfFrac = 0.2, minShared = 3, maxPrunedEmptyFrac = 0.5)
    }
    assert(ex.getMessage.contains("recall guard fired") &&
      ex.getMessage.contains("composedNearDup"))
    // idf variant shares the guard
    intercept[IllegalStateException] {
      Dedup.lexicalNearDupIdf(inflated, "text", threshold = 0.8,
        maxDfFrac = 0.2, minShared = 3, maxPrunedEmptyFrac = 0.5)
    }
    // healthy corpus: armed at 0.0 (nothing pruned tolerated) passes
    assert(Dedup.lexicalNearDup(docs, "text", threshold = 0.8,
      maxDfFrac = 1.0, minShared = 3, maxPrunedEmptyFrac = 0.0).count() > 0)
    // MASS arm (the x100 suffix-replica regime, BASELINE round 14): a
    // unique " repK" suffix keeps one rare bigram per doc — zero empty
    // docs — while the cap removes ~92% of the scoring mass. The arms are
    // INDEPENDENT flags (separate healthy baselines — hot shingles
    // legitimately dominate Σtf² on boilerplate-heavy corpora, so a doc
    // threshold must not double as a mass threshold): the doc arm alone
    // waves this regime through, the mass arm catches it.
    val suffixed = (for ((id, t) <- base; k <- 0 until 30)
      yield (id + 3L * k, s"$t rep$k")).toDF("doc_id", "text")
    assert(Dedup.lexicalNearDup(suffixed, "text", threshold = 0.8,
      maxDfFrac = 0.2, minShared = 3, maxPrunedEmptyFrac = 0.5).count() == 0)
    val mx = intercept[IllegalStateException] {
      Dedup.lexicalNearDup(suffixed, "text", threshold = 0.8,
        maxDfFrac = 0.2, minShared = 3, maxPrunedMassFrac = 0.5)
    }
    assert(mx.getMessage.contains("mass arm"), mx.getMessage)
    // d19 with the guard armed absorbs the replicas BEFORE the check:
    // representative corpus is healthy, so no throw AND full recall
    assert(Dedup.composedNearDup(inflated, "text", threshold = 0.8,
      maxDfFrac = 0.2, minShared = 3, maxPrunedEmptyFrac = 0.5).count() == 1)
  }

  test("recall guard arms fire on every scoring variant (d14/d15/d19 armed in-gate)") {
    // r15 verdict #1: the registered d14/d15/d19 run ARMED since r16 (same
    // arms as d13_guarded); each variant's firing path must be exercised,
    // not just d13's. `inflated` (30x whole-doc replicas) empties every
    // doc's term set -> empty arm; `suffixed` (distinct texts, one rare
    // bigram each, hot base mass capped) passes the empty arm but trips the
    // mass arm — and because every text is DISTINCT, d19's exact prepass
    // absorbs nothing, so its guard sees the same pathological rep set.
    val base = Seq(
      0L -> "the quick brown fox jumps over the lazy dog near the river bank",
      1L -> "the quick brown fox jumps over the lazy dog near the river bend",
      2L -> "completely different content about spark query engines and shuffles")
    val inflated = (for ((id, t) <- base; k <- 0 until 30)
      yield (id + 3L * k, t)).toDF("doc_id", "text")
    val suffixed = (for ((id, t) <- base; k <- 0 until 30)
      yield (id + 3L * k, s"$t rep$k")).toDF("doc_id", "text")
    // d14 prefix variant: empty arm
    val p = intercept[IllegalStateException] {
      Dedup.prefixNearDup(inflated, "text", threshold = 0.8,
        maxDfFrac = 0.2, minShared = 3, n = 3, maxPrunedEmptyFrac = 0.1)
    }
    assert(p.getMessage.contains("recall guard fired") &&
      p.getMessage.contains("prefixNearDup"), p.getMessage)
    // d15 idf variant: mass arm
    val i = intercept[IllegalStateException] {
      Dedup.lexicalNearDupIdf(suffixed, "text", threshold = 0.8,
        maxDfFrac = 0.2, minShared = 3, maxPrunedMassFrac = 0.5)
    }
    assert(i.getMessage.contains("mass arm"), i.getMessage)
    // d19 composed: all-distinct corpus -> rep set IS the corpus -> fires
    val c = intercept[IllegalStateException] {
      Dedup.composedNearDup(suffixed, "text", threshold = 0.8,
        maxDfFrac = 0.2, minShared = 3, maxPrunedMassFrac = 0.5)
    }
    assert(c.getMessage.contains("mass arm"), c.getMessage)
    // and the production arms (0.1/0.5) stay silent on the healthy corpus
    // for all three variants — the in-gate non-perturbation posture
    assert(Dedup.prefixNearDup(docs, "text", threshold = 0.8, maxDfFrac = 1.0,
      minShared = 3, n = 3, maxPrunedEmptyFrac = 0.1,
      maxPrunedMassFrac = 0.5).columns.nonEmpty)
    assert(Dedup.lexicalNearDupIdf(docs, "text", threshold = 0.8,
      maxDfFrac = 1.0, minShared = 3, maxPrunedEmptyFrac = 0.1,
      maxPrunedMassFrac = 0.5).columns.nonEmpty)
    assert(Dedup.composedNearDup(docs, "text", threshold = 0.8,
      maxDfFrac = 1.0, minShared = 3, maxPrunedEmptyFrac = 0.1,
      maxPrunedMassFrac = 0.5).columns.nonEmpty)
  }

  test("simhash: identical -> hamming 0; near-dup closer than unrelated") {
    val sh = Dedup.simhash(docs, "text").as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(3L)) == 0)
    assert(ham(sh(0L), sh(1L)) < ham(sh(0L), sh(2L)))
  }

  test("cosine: self-similarity 1, orthogonal 0") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f, 0.0f), 0),
      (2L, Array(2.0f, 0.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), 2)
      .orderBy(col("rank")).collect()
    assert(top.head.getAs[Long]("nbr_id") == 2L) // colinear -> cos 1
    assert(math.abs(top.head.getAs[Double]("cos") - 1.0) < 1e-12)
    assert(math.abs(top(1).getAs[Double]("cos")) < 1e-12) // orthogonal
  }

  test("SRP-LSH: colinear vectors share a bucket, ANN finds the neighbor") {
    val vecs = (0 until 8).map { i =>
      val base = Array.tabulate(64)(d => math.sin(i * 64 + d).toFloat)
      (i.toLong, base, 0)
    }.toDF("vec_id", "embedding", "label")
    val dup = Seq((100L, Array.tabulate(64)(d => (math.sin(d) * 2).toFloat), 0))
      .toDF("vec_id", "embedding", "label") // colinear with vec 0
    val all = vecs.union(dup)
    val res = Similarity.lshTopK(all, all.filter(col("vec_id") === 100), 1).collect()
    assert(res.nonEmpty && res.head.getAs[Long]("nbr_id") == 0L)
    assert(math.abs(res.head.getAs[Double]("cos") - 1.0) < 1e-6)
  }

  test("zero-norm vectors never rank as neighbors or pair as near-dups") {
    // cos(zero, anything) = 0/0 = NaN, and both engines order NaN above
    // every real double — one all-zero embedding (a failed or padded row)
    // would otherwise be the #1 "neighbor" of every query and a "near-dup"
    // of every cell-mate (review finding).
    val good = (0 until 4).map(i =>
      (i.toLong, Array.tabulate(64)(d => math.sin(i * 64 + d).toFloat), 0))
    val zero = (9L, Array.fill(64)(0f), 0)
    val all = (good :+ zero).toDF("vec_id", "embedding", "label")
    val brute = Similarity.bruteForceTopK(all, all.filter(col("vec_id") === 0), 2)
      .select("nbr_id").as[Long].collect().toSet
    assert(!brute.contains(9L), s"zero vector ranked as a neighbor: $brute")
    val lsh = Similarity.lshTopK(all, all.filter(col("vec_id") === 0), 4)
      .select("nbr_id").as[Long].collect().toSet
    assert(!lsh.contains(9L))
    // zero-norm QUERY returns no rows rather than an arbitrary NaN ranking
    assert(Similarity.bruteForceTopK(all, all.filter(col("vec_id") === 9), 2).isEmpty)
    val pairs = Similarity.embeddingNearDup(all, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.forall(p => p._1 != 9L && p._2 != 9L),
      s"zero vector paired as near-dup: $pairs")
  }

  test("celled embedding near-dup ⊆ label-only ground truth, twins survive") {
    // the r18 registered blocking (label ∧ derived-k k-means cell) obeys
    // the containment contract: it may only lose
    // pairs at cell boundaries, never invent pairs or change a surfaced
    // pair's cosine; identical twins (cos = 1) assign to the same cell by
    // construction (identical cosine to every centroid, same tie-break)
    // and MUST survive.
    val vecs = (0 until 40).map { i =>
      val base = i % 20 // i and i+20 are identical twins
      (i.toLong, Array.tabulate(64)(d => math.sin(base * 131 + d * 7).toFloat), i % 4)
    }.toDF("vec_id", "embedding", "label")
    val truth = Similarity.embeddingNearDup(vecs, threshold = 0.4)
      .select("a", "b", "cos").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val got = Similarity.embeddingNearDupCelled(vecs, threshold = 0.4)
      .select("a", "b", "cos").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(got.keySet.subsetOf(truth.keySet),
      s"celled invented pairs: ${got.keySet -- truth.keySet}")
    got.foreach { case (k, c) => assert(c == truth(k), s"cos drifted at $k") }
    val twins = (0 until 20).map(i => (i.toLong, (i + 20).toLong)).toSet
    assert(twins.subsetOf(got.keySet), s"missing twins: ${twins -- got.keySet}")
    // zero-norm exclusion, same guard as every cosine path
    val zero = vecs.union(Seq((99L, Array.fill(64)(0f), 0)).toDF("vec_id", "embedding", "label"))
    val z = Similarity.embeddingNearDupCelled(zero, threshold = 0.4)
      .select("a", "b").as[(Long, Long)].collect()
    assert(z.forall(p => p._1 != 99L && p._2 != 99L), s"zero vector paired: ${z.toSeq}")
  }

  test("e2's gate-level recall vs the label-only ground truth is pinned (ADVICE r17)") {
    // The registered blocking trades recall for a bounded pair space; this
    // pins the trade NUMERICALLY at the gate corpus so a regression (or a
    // silent blocking change) fails loudly instead of hiding behind an
    // oracle updated in lockstep. Measured history at sf0.01 (111 true
    // at-threshold pairs): r17 label ∧ 8-plane SRP kept 3 (0.027); r18
    // label ∧ derived-k cell, full training, kept 31 (0.279); r19 sampled
    // training (trainPct=10) alone dropped to 25 (0.225 — below floor,
    // which is exactly what this pin exists to catch), and the corpus-side
    // nprobe=2 multi-probe registered with it recovers 51 (0.459) — the
    // boundary pairs the single-cell blocking loses.
    val e = graft.model.Tables(spark, "/root/testdata/sf0.01", "embeddings")
    val truth = Similarity.embeddingNearDup(e, 0.3).count()
    val got = SparkEntry.queries("e2_embed_neardup")(spark, "/root/testdata/sf0.01").count()
    // The exact counts (111 true / 31 kept on the canonical fixture) are a
    // property of the testdata BYTES (seeded generator — TESTDATA.md), not
    // of the op: a regenerated sf0.01 moves both without any code change,
    // and an exact-count assert would then blame the op (ADVICE r18). The
    // CONTRACT is the recall floor; the counts are reported for the ledger.
    info(s"e2 at sf0.01: truth=$truth registered=$got")
    assert(truth > 0, s"label-only ground truth is empty — testdata changed shape")
    val recall = got.toDouble / truth
    assert(recall > 0.3, f"registered e2 recall $recall%.3f fell below the pinned floor 0.3")
  }

  test("derivedCellCount is ⌈√n⌉ over dims-valid vectors only") {
    val rows = (0 until 10).map(i => (i.toLong, Array.fill(64)(1f))) :+
      (99L, Array.fill(3)(1f)) // wrong dims — must not count
    val df = rows.toDF("vec_id", "embedding")
    assert(Similarity.derivedCellCount(df) == 4)     // ceil(sqrt(10))
    assert(Similarity.derivedCellCount(df.limit(0)) == 1)
  }

  test("multiProbe is the Hamming probe radius: 2 reaches a two-bit-flipped bucket") {
    // Find a real pair of vectors whose SRP buckets differ in EXACTLY two
    // sign bits, then show radius 1 misses it and radius 2 finds it
    // (review finding: every value >= 1 used to behave as radius 1).
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(64)(d => math.sin(i * 997 + d * 13).toFloat)))
      .toDF("vec_id", "embedding")
    val buckets = Similarity.srpBucket(vecs)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    val pair = (for {
      (a, ba) <- buckets.toSeq; (b, bb) <- buckets.toSeq
      if a < b && java.lang.Long.bitCount(ba ^ bb) == 2
    } yield (a, b)).headOption
    assume(pair.isDefined, "no bucket pair at Hamming distance 2 in this fixture")
    val (qa, nb) = pair.get
    val corpus = vecs.filter(col("vec_id") === nb)
    val qdf = vecs.filter(col("vec_id") === qa)
    assert(Similarity.lshTopK(corpus, qdf, 1, multiProbe = 1).isEmpty,
      "radius 1 must not see a bucket two flips away")
    assert(Similarity.lshTopK(corpus, qdf, 1, multiProbe = 2)
      .select("nbr_id").as[Long].collect().toSeq == Seq(nb),
      "radius 2 must reach the two-flip bucket")
    val e = intercept[IllegalArgumentException] {
      Similarity.lshTopK(corpus, qdf, 1, multiProbe = 3)
    }
    assert(e.getMessage.contains("radius"), e.getMessage)
  }

  test("PQ codebook is the k lowest ids by rank: offset id spaces still work") {
    // `vec_id < codes` yielded an EMPTY codebook (and silently zero
    // results) for any corpus whose ids don't start at 0 (review finding).
    def v(seed: Int): Seq[Float] = (0 until 8).map(j => (seed * 8 + j).toFloat * (seed + 1))
    val rows = (0 until 6).map(i => ((1000 + i).toLong, v(i)))
    val emb = rows.toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(emb, emb.filter(col("vec_id") === 1004), k = 2,
      m = 4, codes = 4, dims = 8)
    assert(got.count() == 2, "offset-id corpus must still produce neighbors")
  }

  test("deterministic split: partition-invariant, proportions near 80/10/10") {
    import graft.ops.Sampling
    val ids = (1L to 2000L).toDF("doc_id")
    val split = Sampling.deterministicSplit(ids, "doc_id", "s1",
      Seq("train" -> 80, "valid" -> 10, "test" -> 10))
    val counts = split.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(math.abs(counts("train") - 1600L) < 100, s"train skewed: $counts")
    assert(math.abs(counts("valid") - 200L) < 60 && math.abs(counts("test") - 200L) < 60)
    // same rows land in the same split regardless of partitioning
    val a = split.filter(col("split") === "test").select("doc_id").as[Long].collect().toSet
    val b = Sampling.deterministicSplit(ids.repartition(13), "doc_id", "s1",
        Seq("train" -> 80, "valid" -> 10, "test" -> 10))
      .filter(col("split") === "test").select("doc_id").as[Long].collect().toSet
    assert(a == b)
    // a different salt re-rolls membership
    val c = Sampling.deterministicSplit(ids, "doc_id", "s2",
        Seq("train" -> 80, "valid" -> 10, "test" -> 10))
      .filter(col("split") === "test").select("doc_id").as[Long].collect().toSet
    assert(a != c)
  }

  test("connected components: chains collapse to min id, singletons untouched") {
    import graft.ops.Dedup
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (6L, 5L)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("connected components: 512-node chain converges within the log-bound cap") {
    import graft.ops.Dedup
    // Pure path graph — the worst-case diameter shape the round cap guards.
    // Pointer jumping must settle it in O(log n) materializations: for
    // n = 512, allow 2*ceil(log2(512)) + 2 = 20 rounds of headroom, far
    // below the default 64 but enough to prove the superlinear collapse.
    val n = 512
    val pairs = (1L until n.toLong).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs, maxRounds = 20)
      .as[(Long, Long)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == 1L))
    // and the cap itself fails loudly when genuinely too small
    val tiny = intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxRounds = 1).count()
    }
    assert(tiny.getMessage.contains("no convergence"))
  }

  test("dot product expression: exact sum, null on length mismatch, float cast") {
    import graft.ops.Similarity.dot
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0, 5.0, 6.0), Array(1.0, 2.0)))
      .toDF("f", "d", "short")
    val r = df.select(
      dot(col("f"), col("d")).as("fd"),
      dot(col("d"), col("short")).as("mismatch")).first()
    assert(r.getDouble(0) == 1.0 * 4 + 2 * 5 + 3 * 6)
    assert(r.isNullAt(1))
  }

  test("word shingles: native expression matches expected n-grams incl. edges") {
    val cases = Seq(
      ("", Seq("")),                          // no tokens -> one empty shingle
      ("one", Seq("one")),                    // fewer than n tokens -> truncated
      ("a b", Seq("a b")),
      ("a b c", Seq("a b c")),
      ("a b c d", Seq("a b c", "b c d")),
      ("Hello, World! 123", Seq("hello world 123"))
    )
    cases.foreach { case (text, want) =>
      val got = Seq(text).toDF("text")
        .select(Dedup.wordShingles(col("text"), 3).as("s")).as[Seq[String]].head()
      assert(got == want, s"text='$text': got $got")
    }
  }

  test("simhash near-dup: bands derived from maxHamming catch all-bytes-touched pairs") {
    // Pair differing in bits 0, 8, 16, 24 (hamming 4) touches all four bytes
    // — the round-1 fixed 4-byte banding missed it. With maxHamming=4 the
    // derived 5-band layout must find it (pigeonhole: 4 flips, 5 bands).
    val sigs = Seq(
      (1L, 0L),
      (2L, (1L << 0) | (1L << 8) | (1L << 16) | (1L << 24)),
      (3L, 0xFFFFL)) // far from both
    .toDF("doc_id", "simhash")
    val got = Dedup.simhashNearDup(sigs, maxHamming = 4)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 4)))
  }

  test("srp bucket excludes wrong-length vectors instead of collapsing to bucket 0") {
    val vecs = Seq(
      (1L, Array.fill(64)(1.0f)),
      (2L, Array.fill(32)(1.0f)) // wrong dims: must be excluded, not bucket 0
    ).toDF("vec_id", "embedding")
    val got = Similarity.srpBucket(vecs, planes = 12, dims = 64)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == Seq(1L))
  }

  test("IVF: corpus assigned to nearest centroid, probe finds same-direction neighbors") {
    // Two orthogonal directions; neighbors cluster around each. A query near
    // e1 must retrieve the e1-direction corpus vectors, not the e2 ones.
    def v(x: Double, y: Double) = Array.tabulate(4)(i => (if (i == 0) x else if (i == 1) y else 0.0).toFloat)
    val corpus = Seq(
      (0L, v(1, 0)), (1L, v(0, 1)),          // double as centroids
      (10L, v(0.9, 0.1)), (11L, v(0.95, 0.05)),
      (20L, v(0.1, 0.9)), (21L, v(0.05, 0.95))
    ).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 10L)
    val centroids = corpus.filter(col("vec_id") < 2)
    val got = Similarity.ivfTopK(corpus, queries, centroids, k = 2, nprobe = 1)
      .select("nbr_id").as[Long].collect().toSet
    assert(got == Set(11L, 0L)) // same-direction vectors, not 20/21
  }

  test("as-of join: latest at-or-before value per key, null when none precedes") {
    import graft.ops.AsOfJoin
    val left = Seq((1L, "u1", 10L), (2L, "u1", 20L), (3L, "u2", 5L))
      .toDF("id", "k", "t")
    val right = Seq(("u1", 10L, "r@10"), ("u1", 15L, "r@15"), ("u2", 7L, "r@7"))
      .toDF("k", "rt", "v")
    val got = AsOfJoin.asOf(left, right, Seq("k"), "t", "rt", Seq("v"))
      .select("id", "v").as[(Long, Option[String])].collect().toMap
    assert(got == Map(
      1L -> Some("r@10"), // exact tie counts (<=)
      2L -> Some("r@15"), // most recent earlier, not first
      3L -> None))        // nothing at or before t=5
  }

  test("as-of join carries the latest right ROW wholesale, nulls included") {
    // The old per-column last(ignoreNulls) skipped a right row's null
    // backward to a STALE value, and with several rightVals stitched a
    // franken-row from different right rows (review finding): the latest
    // right row must arrive intact, its nulls included.
    import graft.ops.AsOfJoin
    val left = Seq((1L, "u1", 30L)).toDF("id", "k", "t")
    val right = Seq(
      ("u1", 10L, Some(5L), Some(9L)),
      ("u1", 20L, Some(7L), Option.empty[Long]),   // latest: b is NULL here
      ("u1", 40L, Some(99L), Some(99L)))           // after the left row
      .toDF("k", "rt", "a", "b")
    val got = AsOfJoin.asOf(left, right, Seq("k"), "t", "rt", Seq("a", "b"))
      .select("id", "a", "b").as[(Long, Option[Long], Option[Long])]
      .collect().head
    assert(got == ((1L, Some(7L), None)),
      s"expected the t=20 row intact (a=7, b=null), got $got")
  }

  test("token stats and quality on a known string") {
    val d = Seq((1L, "The quick brown fox! It runs.")).toDF("doc_id", "text")
    val ts = TextAnalysis.tokenStats(d, "text").collect().head
    assert(ts.getAs[Int]("ws_tokens") == 6)
    assert(ts.getAs[Int]("word_tokens") == 6)
    val q = TextAnalysis.qualityScore(d, "text").collect().head
    assert(q.getAs[Int]("n_tokens") == 6)
    assert(q.getAs[Double]("stopword_ratio") > 0.0) // 'the', 'it'
  }

  test("linear quality filter: prose above garbage, threshold splits") {
    val frame = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and it is a good day for running in the park"),
      (2L, "@@@ ### !!! $$$ %%% ^^^ &&& *** ((( ))) @@@ ### !!! $$$"),
      (3L, "a a a a a a a a a a a a a a a a a a a a")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.linearQuality(frame, "text", threshold = 0.0)
      .select("doc_id", "logit", "keep").as[(Long, Double, Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L)._2, "stopword-rich prose must pass")
    assert(!got(2L)._2, "symbol soup must fail")
    assert(got(1L)._1 > got(3L)._1, "repetition must score below prose")
  }

  test("language id votes the stopword-richest language") {
    val d = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, "zzz qqq xxx")).toDF("doc_id", "text")
    val got = TextAnalysis.languageId(spark, d, "text")
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(got(1L) == "en")
    assert(got(2L) == "de")
    assert(got(3L) == "und")
  }

  test("fingerprint: stable under identity, changes with content") {
    val f = TextAnalysis.fingerprint(docs, "text").as[(Long, String)].collect().toMap
    assert(f(0L) == f(3L))
    assert(f(0L) != f(2L))
  }

  test("multimodal: decode + features are deterministic; video frames demuxed") {
    // doc 1 -> audio (real WAV), doc 2 -> video (real uncompressed AVI)
    val media = Multimodal.syntheticMedia(
      Seq((1L, "x" * 200, "en", "src0", 200L), (2L, "y" * 200, "en", "src0", 200L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.length == 2 && feats.forall(_.features.length == 8))
    val again = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.sortBy(_.media_id).zip(again.sortBy(_.media_id))
      .forall { case (a, b) => a.features.toSeq == b.features.toSeq })
    val frames = Multimodal.videoFrames(spark, media).collect()
    assert(frames.length == Multimodal.vidFrames(200)) // real demuxed count
  }

  test("shared frames: media with identical segments pair up, common frames capped") {
    import graft.ops.Multimodal
    // payloads long enough for 2 DISTINCT frames (stride 64, frame 16):
    // varied bytes so the slice at offset 0 differs from the one at 64
    val pad = (0 until 128).map(i => ('a' + i % 26).toChar).mkString
    val media = Seq(
      (1L, "image", (pad + "AAAA").getBytes("UTF-8")),
      (2L, "video", (pad + "BBBB").getBytes("UTF-8")), // shares both frames with 1
      (3L, "video", (pad.toUpperCase + "CC").getBytes("UTF-8"))
    ).toDF("media_id", "media_type", "content")
    val got = Multimodal.sharedFrames(media).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // 1 and 2 share the two pad-derived frames; 3 shares none
    assert(got == Map((1L, 2L) -> 2L))
    // cap: with maxMedia = 1 every shared frame is "too common" -> no pairs
    assert(Multimodal.sharedFrames(media, maxMedia = 1).count() == 0L)
  }

  test("cross-corpus dedup: copies flagged with deterministic best match, fresh kept") {
    val incoming = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank"), // copy of 0/3
      (101L, "totally novel content regarding quantum chemistry simulations today")
    ).toDF("doc_id", "text")
    val got = Dedup.crossDedup(incoming, docs, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(4)))).toMap
    val (n100, best100, keep100) = got(100L)
    assert(!keep100 && n100 >= 2)          // matches 0 and its exact dup 3 at least
    assert(best100.contains(0L))           // jaccard tie between 0 and 3 -> min id
    assert(got(101L) == ((0, None, true))) // novel doc survives
  }

  test("rare-token ratio: relative df cutoff flags only corpus-rare instances") {
    val corpus = ((0 until 19).map(i => (i.toLong, "common common")) :+
      ((19L, "common weird"))).toDF("doc_id", "text")
    val got = TextAnalysis.rareTokenStats(corpus, "text", pctDenom = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // df(common)=20 -> 200 >= 20 not rare; df(weird)=1 -> 10 < 20 rare
    assert(got(0L) == ((2L, 0L, 0.0)))
    assert(got(19L) == ((2L, 1L, 0.5)))
  }

  test("LM cross-entropy: corpus-typical docs score low, OOV-heavy docs high") {
    // Corpus: 'common' appears 39 times, 'weird' once -> T=40.
    // Surprisal fp: common = floor(ln(40/39)*65536+0.5), weird = floor(ln(40)*65536+0.5).
    val corpus = ((0 until 19).map(i => (i.toLong, "common common")) :+
      ((19L, "common weird"))).toDF("doc_id", "text")
    val got = TextAnalysis.lmCrossEntropy(corpus, "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val wCommon = math.floor(math.log(40.0 / 39.0) * 65536.0 + 0.5).toLong
    val wWeird = math.floor(math.log(40.0) * 65536.0 + 0.5).toLong
    assert(got(0L) == ((2L, 2 * wCommon, (2 * wCommon).toDouble / (2 * 65536.0))))
    assert(got(19L) == ((2L, wCommon + wWeird,
      (wCommon + wWeird).toDouble / (2 * 65536.0))))
    assert(got(19L)._3 > got(0L)._3) // the OOV-heavy doc is the filter target
  }

  test("DSIR weights: target-typical docs score above raw-typical docs") {
    // Target slice (lang=t) speaks bigram "alpha beta"; the raw remainder
    // speaks "gamma delta". A target-like doc must get a higher log-ratio
    // than a raw-like doc; a doc under 2 tokens has no features and drops.
    val corpus = Seq(
      (0L, "t", "alpha beta alpha beta alpha beta"),
      (1L, "t", "alpha beta alpha beta"),
      (2L, "r", "gamma delta gamma delta gamma delta"),
      (3L, "r", "gamma delta gamma delta"),
      (4L, "r", "alpha beta alpha beta"), // raw doc with target-like content
      (5L, "r", "single")                 // 1 token -> one fallback shingle
    ).toDF("doc_id", "lang", "text")
    val got = graft.ops.Sampling.dsirWeights(corpus, "text",
        col("lang") === "t", buckets = 64, n = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    assert(got(5L)._1 == 1L) // wordShingles max(1,.) fallback: 1 feature
    assert(got(0L)._2 > got(2L)._2) // target-speak outscores raw-speak
    assert(got(4L)._2 == got(1L)._2) // score depends on content, not label
    assert(got(0L)._1 == 5L && got(2L)._1 == 5L) // 6 tokens -> 5 bigram instances
  }

  test("source drift: an off-distribution source scores the highest PSI") {
    // a and b speak the same two tokens; c speaks a disjoint vocabulary —
    // c must have strictly the largest drift vs the rest, and PSI >= 0 holds
    // for all (smoothed, so equality never lands exactly on 0).
    val corpus = Seq(
      (0L, "a", "red blue red blue red blue"),
      (1L, "a", "red blue red blue"),
      (2L, "b", "blue red blue red blue red"),
      (3L, "b", "red red blue blue"),
      (4L, "c", "xylo zulu xylo zulu xylo zulu")
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.sourceDrift(corpus, "text", buckets = 64)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).toList
    val byScore = got.map(t => t._1 -> t._3).toMap
    assert(got.forall(_._3 >= 0.0), s"negative PSI: $got")
    assert(byScore("c") > byScore("a") && byScore("c") > byScore("b"),
      s"off-distribution source not flagged: $got")
    assert(got.find(_._1 == "c").get._2 == 6L) // n_tokens rides the row
  }

  test("PQ ANN: same-codebook-cell vectors score ADC distance 0 and rank first") {
    // ids 0-3 are the codebook; 4,5 copy c0; 6 copies c1; 7 is its own thing
    def v(seed: Int): Seq[Float] = (0 until 8).map(j => (seed * 8 + j).toFloat * (seed + 1))
    val rows = Seq(0, 1, 2, 3).map(i => (i.toLong, v(i))) ++
      Seq((4L, v(0)), (5L, v(0)), (6L, v(1)), (7L, (0 until 8).map(_ => 99f).toSeq))
    val emb = rows.toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(emb, emb.filter(col("vec_id") === 4), k = 3,
        m = 4, codes = 4, dims = 8)
      .select("nbr_id", "rank", "dist").as[(Long, Int, Double)].collect()
      .sortBy(_._2)
    // query 4 == c0 exactly: vectors coded as c0 (ids 0 and 5) have ADC 0
    assert(got.take(2).map(r => (r._1, r._3)).toSeq == Seq((0L, 0.0), (5L, 0.0)))
    assert(got(2)._3 > 0.0)
    // wrong-dims vectors are excluded, not collapsed into a shared code
    val ragged = emb.union(Seq((8L, Seq(1f, 2f))).toDF("vec_id", "embedding"))
    val ids = Similarity.pqTopK(ragged, ragged.filter(col("vec_id") === 4), k = 8,
      m = 4, codes = 4, dims = 8).select("nbr_id").as[Long].collect().toSet
    assert(!ids.contains(8L))
  }

  test("random projection: one-hot recovers plane signs, map is linear") {
    val oneHot = Array.tabulate(64)(d => if (d == 7) 1.0f else 0.0f)
    val vecs = Seq((0L, oneHot), (1L, oneHot.map(_ * 3))).toDF("vec_id", "embedding")
    val got = Similarity.randomProjection(vecs, outDims = 4)
      .collect().map(r => r.getLong(0) -> (0 until 4).map(p => r.getDouble(p + 1))).toMap
    assert(got(0L) == (0 until 4).map(p => Similarity.planeSign(p, 7).toDouble))
    assert(got(1L) == got(0L).map(_ * 3)) // linear: scaling commutes
  }

  test("epoch upsampling: integer factors exact, fractional remainder hash-decided") {
    val docs = (0 until 200).map(i => (i.toLong, s"s${i % 2}")).toDF("doc_id", "source")
    // s0: factor 4/2 = 2 copies exactly; s1: factor 3/2 = 1 or 2 copies
    val got = graft.ops.Sampling.epochUpsample(docs, "source",
      Seq("s0" -> 4, "s1" -> 3), denom = 2, salt = "t")
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getInt(2)).sorted.toSeq).toMap
    def h31(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16) % 2147483647L
    }
    (0 until 200).foreach { i =>
      val want =
        if (i % 2 == 0) Seq(1, 2)
        else if (h31(s"${i}_t") * 2 < 2147483647L) Seq(1, 2) else Seq(1)
      assert(got(i.toLong) == want, s"doc $i")
    }
  }

  test("SemDeDup: later near-dup cell-mates dropped, dissimilar cell-mates kept") {
    def v(x: Double, y: Double) =
      Array.tabulate(4)(i => (if (i == 0) x else if (i == 1) y else 0.0).toFloat)
    val emb = Seq(
      (0L, v(1, 0)), (1L, v(0, 1)),             // double as centroids
      (10L, v(0.7, 0.7)),                       // centroid tie -> min cid = 0
      (11L, v(0.7, 0.7)),                       // identical to 10 -> dropped
      (20L, v(0.6, 0.8)),                       // cell 1, far from 1 and 21's twin
      (21L, v(0.61, 0.79))                      // cos(20,21) ~ 0.9999 -> dropped
    ).toDF("vec_id", "embedding")
    val got = Similarity.semDedup(emb, emb.filter(col("vec_id") < 2), 0.95, dims = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got.view.mapValues(_._1).toMap ==
      Map(0L -> 0L, 1L -> 1L, 10L -> 0L, 11L -> 0L, 20L -> 1L, 21L -> 1L))
    assert(got.filter(_._2._2).keySet == Set(0L, 1L, 10L, 20L))
  }

  test("dup spans: cross-doc shared spans counted, within-doc repeats alone are not shared") {
    import graft.ops.Dedup
    val docs = Seq(
      // docs 1 & 2 share their only 3-gram span; doc 3 is unique
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma"),
      (3L, "delta epsilon zeta"),
      // doc 4 repeats a span INTERNALLY (multiplicity 2) but shares with no
      // other doc -> its spans are not "shared"
      (4L, "one two three one two three one two")
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpanStats(docs, "text", n = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((1L, 1L)) && got(2L) == ((1L, 1L)))
    assert(got(3L) == ((1L, 0L)))
    // doc 4: 6 spans of 3 tokens; none shared with another document
    assert(got(4L)._1 == 6L && got(4L)._2 == 0L)
  }

  test("corpus card: volume, provenance and dup-rate in one row") {
    val df = Seq(
      (1L, "one two three", "en", "srcA"),
      (2L, "one two three", "en", "srcB"), // exact dup of 1
      (3L, "four five", "vi", "srcA")
    ).toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.corpusCard(df, "text").collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L) // docs, unique texts
    assert(r.getLong(2) == 2L && r.getLong(3) == 2L) // sources, langs
    assert(r.getLong(4) == 8L)                       // tokens
    assert(math.abs(r.getDouble(6) - 1.0 / 3.0) < 1e-15)
  }

  test("source overlap: shared shingles counted pairwise, disjoint sources absent") {
    import graft.ops.Dedup
    val df = Seq(
      (1L, "a", "one two three four five six"),
      (2L, "b", "one two three four five seven"), // shares the 5-gram prefix? no —
      // 5-grams: a has {one..five, two..six}; b has {one..five, two..seven}
      (3L, "c", "totally different words here now")
    ).toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlap(df, "source", "text", n = 5).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // a and b share exactly the "one two three four five" shingle
    val (na, nb, shared, jac) = got(("a", "b"))
    assert(na == 2L && nb == 2L && shared == 1L)
    assert(math.abs(jac - 1.0 / 3.0) < 1e-15)
    assert(!got.contains(("a", "c")) && !got.contains(("b", "c")))
  }

  test("zero-token docs carry no duplication signal in span/contamination/overlap") {
    // WordShingles' zero-token fallback is the single "" shingle — two
    // punctuation-only docs would otherwise read as 100% mutual duplicates,
    // a zero-token benchmark doc would mark every zero-token target
    // contaminated, and two sources would share the "" hash (review
    // finding: the minhash family excluded this; these consumers did not).
    import graft.ops.Dedup
    val docs = Seq(
      (1L, "!!!", "a"), (2L, "???", "b"), (3L, "real shared words here", "a"),
      (4L, "real shared words here", "b")).toDF("doc_id", "text", "source")
    val spans = Dedup.dupSpanStats(docs, "text", n = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(!spans.contains(1L) && !spans.contains(2L),
      s"zero-token docs entered the span stats: $spans")
    assert(spans(3L) == 2L && spans(4L) == 2L) // both real spans shared 3<->4
    val cont = Dedup.contaminationScore(docs, col("doc_id") === 1L, "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(!cont.contains(2L), "zero-token target scored against a zero-token benchmark")
    assert(cont(3L) == 0L && cont(4L) == 0L)
    val over = Dedup.sourceOverlap(docs, "source", "text", n = 4).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    assert(over(("a", "b")) == 1L,
      s"the '' shingle inflated the shared count: $over")
  }

  test("simhash refuses bits outside [1, 60] (token hashes carry 60 bits)") {
    // 60, not 64: the fingerprint must round-trip through the oracle's
    // CAST('0x' || 15 hex chars AS BIGINT), which caps at signed-64 range.
    val docs = Seq((1L, "some words")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] { Dedup.simhash(docs, "text", bits = 64) }
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDup(Seq((1L, 0L)).toDF("doc_id", "simhash"), 3, bits = 61)
    }
  }

  test("ANN recall: identical rankings give recall 1, degraded ANN below 1") {
    import graft.ops.Similarity
    // clustered vectors: every query's true neighbors share its bucket, so
    // SRP-LSH finds the same top-k as brute force -> recall@k = 1
    val base = (0 until 64).map(_.toFloat).toArray
    val vecs = (0L to 9L).map { i =>
      (i, base.map(v => v + (i % 2).toFloat * 0.001f))
    }.toDF("vec_id", "embedding")
    val got = Similarity.annRecall(vecs, vecs.filter(col("vec_id") < 2), 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got.keySet == Set(0L, 1L))
    assert(got.values.forall(_ == 1.0))
  }

  test("bloom dedup: exact anti-join result; empty seen side passes everything") {
    import graft.ops.Dedup
    val seen = Seq((0L, "alpha"), (10L, "beta")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "alpha"),  // dup of seen 0
      (2L, "beta"),   // dup of seen 10
      (3L, "gamma"), (4L, "delta")).toDF("doc_id", "text")
    val fresh = Dedup.bloomDedup(batch, seen, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(fresh == Set(3L, 4L))
    // plan actually carries the sketch probe (not a plain anti-join)
    val plan = Dedup.bloomDedup(batch, seen, "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"))
    val all = Dedup.bloomDedup(batch, seen.filter(col("doc_id") < 0), "text")
      .select("doc_id").as[Long].collect().toSet
    assert(all == Set(1L, 2L, 3L, 4L))
  }

  test("ngram top-k: totals and doc counts, count-then-lexical ordering") {
    val df = Seq(
      (1L, "a b c a b c"),   // "a b c" x2 (and "b c a", "c a b")
      (2L, "a b c d"),       // "a b c" once more, "b c d"
      (3L, "z z z z")        // "z z z" x2 in one doc
    ).toDF("doc_id", "text")
    val got = TextAnalysis.ngramTopK(df, "text", n = 3, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // "a b c": 2 in doc1 + 1 in doc2; "z z z": 2 in doc3; then the
    // 1-count grams tie-break lexically ("b c a" < "b c d" < "c a b")
    assert(got.toSeq == Seq(("a b c", 3L, 2L), ("z z z", 2L, 1L), ("b c a", 1L, 1L)))
  }

  test("ngram top-k: docs shorter than n emit no grams, like the oracle") {
    // wordShingles' min-one-shingle contract is for MinHash signatures; a
    // PARTIAL gram is not an n-gram, and the SQL oracle emits zero grams
    // for short docs — the Spark side must agree (review finding).
    val df = Seq((1L, "a b"), (2L, ""), (3L, "x y z")).toDF("doc_id", "text")
    val got = TextAnalysis.ngramTopK(df, "text", n = 3, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("x y z", 1L)),
      s"partial/empty grams leaked into the frequency table: ${got.toSeq}")
    // n=1 edge (review finding): split("", " ") is [""] of size 1, so the
    // zero-token fallback shingle passes the size check — the non-empty
    // filter must drop the phantom "" unigram for punctuation-only docs.
    val uni = TextAnalysis.ngramTopK(
      Seq((1L, "a b"), (2L, "..!!"), (3L, "")).toDF("doc_id", "text"),
      "text", n = 1, k = 10).collect().map(_.getString(0)).toSet
    assert(uni == Set("a", "b"), s"phantom unigram leaked: $uni")
  }

  test("lm cross-entropy, source drift, and dsir weights return empty on an empty corpus") {
    // sum over an empty frame is null; getLong on it threw instead of
    // yielding the empty result (review finding)
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    assert(TextAnalysis.lmCrossEntropy(empty, "text").isEmpty)
    assert(TextAnalysis.sourceDrift(empty, "text").isEmpty)
    assert(graft.ops.Sampling.dsirWeights(empty, "text",
      col("source") === "x").isEmpty)
  }

  test("chunk dedup: first occurrence kept corpus-wide, docs reassembled in order") {
    import graft.ops.Dedup
    val docs = Seq(
      (1L, "a b c d e f"),       // chunks (w=3): "a b c", "d e f"
      (2L, "a b c x y z"),       // "a b c" already seen in doc 1 -> dropped
      (3L, "x y z"),             // seen in doc 2 -> fully emptied
      (4L, ""),                  // no tokens -> 0 chunks
      (5L, "q r")                // short tail chunk kept
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs, "text", width = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((2, 2L, "a b c d e f")))
    assert(got(2L) == ((2, 1L, "x y z")))
    assert(got(3L) == ((1, 0L, "")))
    assert(got(4L) == ((0, 0L, "")))
    assert(got(5L) == ((1, 1L, "q r")))
  }

  test("mixture sampling: sources absent from the weight list are excluded") {
    val docs = Seq((1L, "a", 10L), (2L, "b", 10L), (3L, "mystery", 10L))
      .toDF("doc_id", "source", "toks")
    val got = graft.ops.Sampling.mixtureSample(docs, "source", col("toks"),
      Seq("a" -> 1, "b" -> 1), budget = 100L, salt = "t")
    assert(got.select("source").distinct().as[String].collect().toSet == Set("a", "b"))
    assert(got.count() == 2) // the unweighted source contributes no rows
  }

  test("mixture sampling: exact rates, cap at 1, hash membership reproducible") {
    val docs = (0 until 100).map(i => (i.toLong, if (i % 2 == 0) "a" else "b", 10L))
      .toDF("doc_id", "source", "toks").repartition(7)
    // 500 tokens per source; W=4: rate_a = min(1, 1000*3/(4*500)) = 1 (capped),
    // rate_b = 1000*1/(4*500) = 0.5
    val got = graft.ops.Sampling.mixtureSample(docs, "source", col("toks"),
      Seq("a" -> 3, "b" -> 1), budget = 1000L, salt = "t")
    val rates = got.select("source", "rate").distinct()
      .as[(String, Double)].collect().toMap
    assert(rates == Map("a" -> 1.0, "b" -> 0.5))
    assert(got.filter(col("source") === "a" && !col("keep")).count() == 0)
    val keptB = got.filter(col("source") === "b" && col("keep"))
      .select("doc_id").as[Long].collect().toSet
    def h31(s: String): Long = { // strHash31 reference implementation
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16) % 2147483647L
    }
    val expB = (0 until 100).filter(_ % 2 == 1)
      .filter(i => h31(s"${i}_t") < 0.5 * 2147483647.0).map(_.toLong).toSet
    assert(keptB == expB && keptB.nonEmpty && keptB.size < 50)
  }

  test("canonical pick: best quality per cluster, ties to lowest id, singletons kept") {
    // cluster 1 = {1,2,3}: doc 2 wins on quality; cluster 10 = {10,11}:
    // equal quality, doc 11 wins on n_chars; docs 20,21 unclustered ->
    // singleton self-clusters. Doc 3 has top n_chars but lower quality —
    // quality dominates the order.
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    val scored = Seq(
      (1L, 0.4, 100), (2L, 0.7, 50), (3L, 0.4, 999),
      (10L, 0.7, 80), (11L, 0.7, 90),
      (20L, 1.0, 10), (21L, 0.0, 10)
    ).toDF("doc_id", "quality", "n_chars")
    val got = Dedup.canonicalPick(clusters, scored)
      .select("cluster_id", "keep_id", "n_members", "keep_quality")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 3L, 0.7), (10L, 11L, 2L, 0.7),
      (20L, 20L, 1L, 1.0), (21L, 21L, 1L, 0.0)), s"got $got")
  }
}
