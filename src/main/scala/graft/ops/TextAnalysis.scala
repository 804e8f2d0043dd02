package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Text-analysis operators for a training-data pipeline (north star,
  * BASELINE.json): tokenization, quality scoring, language ID, document
  * fingerprinting. All pure Catalyst expressions (no UDFs) so every operator
  * stays inside whole-stage codegen and scales as a map-only pass — the only
  * shuffle in this file is the per-document aggregation in language ID /
  * corpus cleaning.
  */
object TextAnalysis {

  /** Token regex: maximal runs of Unicode letters/digits. `\p{L}`/`\p{Nd}`
    * mean the same thing in Java regex (Spark) and RE2 (DuckDB), so the
    * oracle can reuse the literal verbatim. Covers diacritic text — the
    * reference's domain is Vietnamese ("Chưa xác định", app.py:92), which the
    * old `[a-z0-9]+` shredded into fragments at every diacritic. */
  val TokenRegex = "[\\p{L}\\p{Nd}]+"

  /** Complement class for punctuation counting: anything that is not a
    * letter, digit, or space. */
  val NonTokenRegex = "[^\\p{L}\\p{Nd} ]"

  /** Word tokens: lowercased maximal letter/digit runs. Defined via
    * `regexp_extract_all` so the DuckDB oracle can use the identical regex. */
  def tokens(c: Column): Column =
    regexp_extract_all(lower(c), lit(TokenRegex), lit(0))

  /** Token / char counting: whitespace tokens, regex word tokens, and a
    * BPE-ish subword estimate (word-or-punctuation pieces + length/16 for
    * long words — a deterministic stand-in for a real tokenizer's piece
    * count). */
  def tokenStats(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col("doc_id"),
      length(t).as("n_chars"),
      size(split(t, " ")).as("ws_tokens"),
      size(tokens(t)).as("word_tokens"),
      (size(tokens(t)) + (length(t) - length(regexp_replace(t, NonTokenRegex, ""))) +
        (length(t) / lit(16)).cast("int")).as("bpe_estimate"))
  }

  /** Small built-in stopword lexicon per language — the n-gram/stopword-vote
    * language-ID heuristic. Deliberately tiny and deterministic. The `vi`
    * list carries the real diacritic forms (the reference's corpus domain,
    * `con.py:46-52`) alongside the ASCII-folded spellings that appear in
    * un-normalized text. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it", "for", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "en", "un", "es", "por"),
    "fr" -> Seq("le", "la", "les", "et", "de", "un", "est", "que", "pour", "dans"),
    "vi" -> Seq("và", "là", "của", "cho", "trong", "một", "người", "không", "được", "đến",
                "va", "cua", "mot", "nguoi", "khong", "duoc", "den")
  )

  /** Languages in deterministic (lexicographic) order — ties break toward the
    * earlier name, matching `row_number() OVER (ORDER BY hits DESC, lang)`. */
  private val langsSorted: Seq[(String, Seq[String])] = stopwords.toSeq.sortBy(_._1)

  /** Per-language occurrence counts as conditional-sum aggregates over
    * exploded tokens. `isInCollection` compiles to a codegen'd hash-set
    * membership test — no lexicon join, no interpreted lambda. */
  private def langHitAggs: Seq[Column] =
    langsSorted.zipWithIndex.map { case ((_, ws), i) =>
      sum(when(col("token").isInCollection(ws), 1L).otherwise(0L)).as(s"__h$i")
    }

  /** Argmax over the per-language hit columns: max hits, ties to the
    * lexicographically first language, zero hits -> ('und', 0).
    * Struct comparison orders by field position, so greatest(struct(hits,
    * -index)) picks exactly the window-function winner without a window. */
  private def bestLang(df: DataFrame): DataFrame = {
    val names = typedLit(langsSorted.map(_._1))
    val best = greatest(langsSorted.indices.map(i =>
      struct(col(s"__h$i").as("h"), lit(-i).as("ni"))): _*)
    df.withColumn("__b", best)
      .withColumn("pred_lang",
        when(col("__b.h") > 0,
          element_at(names, (lit(1) - col("__b.ni")).cast("int")))
          .otherwise(lit("und")))
      .withColumn("hits", when(col("__b.h") > 0, col("__b.h")).otherwise(lit(0L)))
      .drop((langsSorted.indices.map(i => s"__h$i") :+ "__b"): _*)
  }

  /** Language ID: explode tokens once, count per-language stopword
    * occurrences as conditional sums in ONE doc_id aggregation, then take the
    * argmax in a projection. One shuffle total; the round-2 form's lexicon
    * join, ranking window, and join back to the doc list are gone — at 100 TB
    * those were two extra shuffles and a per-doc sort. A shuffle-free
    * higher-order `aggregate()` fold over the token array measured 2×
    * slower here (BASELINE.md r18, x3 fold arm). */
  def languageId(spark: SparkSession, df: DataFrame, textCol: String): DataFrame = {
    val tok = graft.model.Tables.spread(df.select(col("doc_id"), col(textCol)), col("doc_id"))
      .select(col("doc_id"), explode_outer(tokens(col(textCol))).as("token"))
    val aggs = langHitAggs
    val voted = tok.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    bestLang(voted).select("doc_id", "pred_lang", "hits")
  }

  /** Quality scoring: length, punctuation ratio, stopword ratio, mean word
    * length, and a banded composite score — the heuristics a pretraining
    * pipeline filters on. Map-only. */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTok = size(toks)
    val allStop = typedLit(stopwords.values.flatten.toSeq.distinct.sorted)
    val stopHits = size(filter(toks, tk => array_contains(allStop, tk)))
    val alnumSpace = length(regexp_replace(lower(t), NonTokenRegex, ""))

    val scored = df.select(
      col("doc_id"),
      length(t).as("n_chars"),
      nTok.as("n_tokens"),
      when(nTok > 0, length(concat_ws("", toks)).cast("double") / nTok)
        .otherwise(0.0).as("mean_word_len"),
      when(length(t) > 0, (length(t) - alnumSpace).cast("double") / length(t))
        .otherwise(0.0).as("punct_ratio"),
      when(nTok > 0, stopHits.cast("double") / nTok).otherwise(0.0).as("stopword_ratio"))

    scored.withColumn("quality", qualityBand)
  }

  /** Model-based quality filter stand-in (the classifier stage a
    * DCLM/FineWeb-style pipeline runs after rule gates): a fixed-weight
    * linear logit over the handcrafted prose features, thresholded into a
    * keep/drop decision. A real deployment swaps the literal weights for a
    * trained classifier's — the Spark plumbing (one tokenization, map-only
    * scoring, no shuffle) is identical.
    *
    * Deterministic by construction: every feature is a ratio of exact
    * integer counts, the logit is one fixed-order double polynomial, and
    * there is deliberately NO sigmoid — libm exp() is not bit-portable
    * across engines, and the sigmoid is monotone, so thresholding the logit
    * IS thresholding the probability. */
  def linearQuality(df: DataFrame, textCol: String,
                    threshold: Double = 0.5): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTok = size(toks)
    val allStop = typedLit(stopwords.values.flatten.toSeq.distinct.sorted)
    val stopHits = size(filter(toks, tk => array_contains(allStop, tk)))
    val alnumSpace = length(regexp_replace(lower(t), NonTokenRegex, ""))
    val feats = df.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      (least(nTok, lit(1000)).cast("double") / 1000.0).as("f_len"),
      when(nTok > 0, length(concat_ws("", toks)).cast("double") / nTok)
        .otherwise(0.0).as("mean_word_len"),
      when(length(t) > 0, (length(t) - alnumSpace).cast("double") / length(t))
        .otherwise(0.0).as("punct_ratio"),
      when(nTok > 0, stopHits.cast("double") / nTok).otherwise(0.0)
        .as("stopword_ratio"),
      when(nTok > 0, size(array_distinct(toks)).cast("double") / nTok)
        .otherwise(0.0).as("distinct_ratio"))
    val logit = lit(-1.0) + lit(2.0) * col("f_len") +
      lit(2.0) * col("stopword_ratio") - lit(2.5) * col("punct_ratio") +
      lit(2.0) * col("distinct_ratio") -
      lit(0.1) * abs(col("mean_word_len") - lit(5.0))
    feats.select(col("doc_id"), col("n_tokens"), logit.as("logit"),
      (logit >= threshold).as("keep"))
  }

  /** [[linearQuality]] as DuckDB SQL (oracle): same features, same
    * fixed-order polynomial, same threshold comparison. */
  def linearQualitySql(tokenRe: String, nonTokenRe: String,
                       threshold: Double): String = {
    val allStop = stopwords.values.flatten.toSeq.distinct.sorted
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    regexp_extract_all(lower(text), '$tokenRe') AS toks
       |  FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS INT) AS n_tokens,
       |    CAST(least(len(toks), 1000) AS DOUBLE) / 1000.0 AS f_len,
       |    CASE WHEN len(toks) > 0
       |         THEN CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks)
       |         ELSE 0.0 END AS mean_word_len,
       |    CASE WHEN length(text) > 0
       |         THEN CAST(length(text) - length(regexp_replace(lower(text), '$nonTokenRe', '', 'g')) AS DOUBLE) / length(text)
       |         ELSE 0.0 END AS punct_ratio,
       |    CASE WHEN len(toks) > 0
       |         THEN CAST(len(list_filter(toks, t -> list_contains($allStop, t))) AS DOUBLE) / len(toks)
       |         ELSE 0.0 END AS stopword_ratio,
       |    CASE WHEN len(toks) > 0
       |         THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
       |         ELSE 0.0 END AS distinct_ratio
       |  FROM base)
       |SELECT doc_id, n_tokens,
       |  -1.0 + 2.0 * f_len + 2.0 * stopword_ratio - 2.5 * punct_ratio
       |    + 2.0 * distinct_ratio - 0.1 * abs(mean_word_len - 5.0) AS logit,
       |  (-1.0 + 2.0 * f_len + 2.0 * stopword_ratio - 2.5 * punct_ratio
       |    + 2.0 * distinct_ratio - 0.1 * abs(mean_word_len - 5.0))
       |    >= $threshold AS keep
       |FROM f""".stripMargin
  }

  /** The banded composite score over the ratio columns (shared by the
    * map-only scorer and the fused corpus cleaner). */
  private def qualityBand: Column =
    when(col("n_tokens") < 5, 0.0)
      .when(col("punct_ratio") > 0.3, 0.2)
      .when(col("mean_word_len") < 2.0 || col("mean_word_len") > 12.0, 0.4)
      .when(col("stopword_ratio") >= 0.05, 1.0)
      .otherwise(0.7)

  /** Fused C4-style cleaning pass: quality gate + language filter + exact
    * dedup in ONE tokenization and ONE doc_id shuffle.
    *
    * The round-2 composition ran qualityScore, languageId, and the dedup as
    * three separate pipelines joined on doc_id — three corpus tokenizations
    * and four shuffles. Here the text-level stats (length, punctuation count,
    * content hash) ride along the exploded token rows as first() aggregates,
    * the stopword and per-language counts are conditional sums in the same
    * groupBy, and the survivor groups are one further groupBy on the 16-byte
    * content hash. At 100 TB: two shuffles total, both over skinny rows. */
  def cleanCorpus(df: DataFrame, textCol: String, minQuality: Double = 0.7,
                  keepLang: String = "en"): DataFrame = {
    val t = col(textCol)
    val allStop = stopwords.values.flatten.toSeq.distinct
    val base = graft.model.Tables.spread(df.select(col("doc_id"), t), col("doc_id"))
      .select(col("doc_id"),
        length(t).as("__nc"),
        (length(t) - length(regexp_replace(lower(t), NonTokenRegex, ""))).as("__pc"),
        md5(t).as("content_hash"),
        explode_outer(tokens(t)).as("token"))
    val aggs = Seq(
      count(col("token")).as("n_tokens"),
      coalesce(sum(length(col("token"))), lit(0L)).as("tok_chars"),
      sum(when(col("token").isInCollection(allStop), 1L).otherwise(0L)).as("stop_hits")
    ) ++ langHitAggs
    // The per-doc constants ride in the GROUPING KEY, not as first()
    // aggregates: a first(string) buffer forces SortAggregate (UnsafeRow
    // can't mutate var-length fields), while an all-numeric aggregate list
    // keeps the whole pass in HashAggregate. The key is functionally
    // doc_id, so hashpartitioning(doc_id) from spread() still satisfies the
    // clustering — no extra exchange appears.
    val agg = base.groupBy("doc_id", "__nc", "__pc", "content_hash")
      .agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("__nc", "n_chars")
      .withColumnRenamed("__pc", "punct_chars")
      .withColumn("mean_word_len",
        when(col("n_tokens") > 0, col("tok_chars").cast("double") / col("n_tokens"))
          .otherwise(0.0))
      .withColumn("punct_ratio",
        when(col("n_chars") > 0, col("punct_chars").cast("double") / col("n_chars"))
          .otherwise(0.0))
      .withColumn("stopword_ratio",
        when(col("n_tokens") > 0, col("stop_hits").cast("double") / col("n_tokens"))
          .otherwise(0.0))
    val kept = bestLang(agg)
      .withColumn("quality", qualityBand)
      .filter(col("quality") >= minQuality && col("pred_lang") === keepLang)
    kept.groupBy("content_hash")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
      .select("doc_id", "n_dups")
  }

  /** [[cleanCorpus]] with the per-doc token statistics folded MAP-SIDE via
    * one higher-order `aggregate()` over the token array instead of
    * explode + groupBy(doc_id) — the same no-shuffle trick as the
    * packed-long chunk dedup (VERDICT r17 #2's hypothesis). The
    * accumulator is a single struct carrying every count (n_tokens,
    * token chars, stopword hits, one hit counter per language), so the
    * token array — and with it the `tokens()` regexp — has exactly ONE
    * consumer expression and evaluates once per document no matter how
    * the optimizer collapses projections. The token-row stream (corpus
    * token count × rows through HashAggregate in the explode form) never
    * materializes; the only remaining shuffle is the content-hash dedup
    * group. Output is row-identical to [[cleanCorpus]] (OpsSpec pins the
    * equivalence); which form is FASTER is measured, not assumed — see
    * BASELINE.md r18 (ProbeX5) before switching a registration. */
  def cleanCorpusFold(df: DataFrame, textCol: String, minQuality: Double = 0.7,
                      keepLang: String = "en"): DataFrame = {
    val t = col(textCol)
    val allStop = stopwords.values.flatten.toSeq.distinct
    // isInCollection, not array_contains(literal): InSet is a hash-set
    // probe, the literal-array scan is linear in the lexicon
    def hit(s: Column, ws: Seq[String]): Column =
      when(s.isInCollection(ws), 1L).otherwise(0L)
    val zero = struct((lit(0L).as("n") +: lit(0L).as("tc") +: lit(0L).as("sh") +:
      langsSorted.indices.map(i => lit(0L).as(s"h$i"))): _*)
    def step(acc: Column, x: Column): Column =
      struct(((acc.getField("n") + 1L).as("n") +:
        (acc.getField("tc") + length(x)).as("tc") +:
        (acc.getField("sh") + hit(x, allStop)).as("sh") +:
        langsSorted.zipWithIndex.map { case ((_, ws), i) =>
          (acc.getField(s"h$i") + hit(x, ws)).as(s"h$i") }): _*)
    val base = graft.model.Tables.spread(df.select(col("doc_id"), t), col("doc_id"))
      .select(col("doc_id"),
        length(t).as("n_chars"),
        (length(t) - length(regexp_replace(lower(t), NonTokenRegex, ""))).as("punct_chars"),
        md5(t).as("content_hash"),
        aggregate(tokens(t), zero, step).as("__f"))
    val agg = base
      .withColumn("n_tokens", coalesce(col("__f.n"), lit(0L)))
      .withColumn("tok_chars", coalesce(col("__f.tc"), lit(0L)))
      .withColumn("stop_hits", coalesce(col("__f.sh"), lit(0L)))
      .withColumns(langsSorted.indices.map(i =>
        s"__h$i" -> coalesce(col(s"__f.h$i"), lit(0L))).toMap)
      .drop("__f")
      .withColumn("mean_word_len",
        when(col("n_tokens") > 0, col("tok_chars").cast("double") / col("n_tokens"))
          .otherwise(0.0))
      .withColumn("punct_ratio",
        when(col("n_chars") > 0, col("punct_chars").cast("double") / col("n_chars"))
          .otherwise(0.0))
      .withColumn("stopword_ratio",
        when(col("n_tokens") > 0, col("stop_hits").cast("double") / col("n_tokens"))
          .otherwise(0.0))
    val kept = bestLang(agg)
      .withColumn("quality", qualityBand)
      .filter(col("quality") >= minQuality && col("pred_lang") === keepLang)
    kept.groupBy("content_hash")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
      .select("doc_id", "n_dups")
  }

  /** Intra-document repetition score (C4-style boilerplate heuristic): the
    * fraction of word n-gram shingles that are repeats of an earlier shingle
    * in the same document — near 0 for natural prose, near 1 for templated /
    * looping text. Map-only; the shingle array materializes once behind a
    * Generate barrier and both counts read it. */
  def repetitionScore(df: DataFrame, textCol: String, n: Int = 3): DataFrame = {
    val base = graft.model.Tables.spread(df.select(col("doc_id"), col(textCol)), col("doc_id"))
      .select(col("doc_id"),
        explode(array(Dedup.wordShingles(col(textCol), n))).as("__sh"))
    base.select(col("doc_id"),
      size(col("__sh")).as("n_shingles"),
      size(array_distinct(col("__sh"))).as("n_distinct"),
      ((size(col("__sh")) - size(array_distinct(col("__sh")))).cast("double") /
        size(col("__sh"))).as("repetition"))
  }

  /** PII patterns shared verbatim with the oracle (Java regex ∩ RE2: no
    * lookaround, no backrefs). Order matters: URLs first (an email-shaped
    * userinfo inside a URL must not be double-redacted), then emails, then
    * phone-shaped digit runs. */
  val UrlRegex = "https?://[^\\s]+"
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRegex = "\\+?[0-9][0-9()\\-. ]{6,}[0-9]"

  /** PII redaction pass (pretraining hygiene): URLs / emails / phone-shaped
    * runs replaced by typed placeholders, with per-kind match counts for
    * audit dashboards. Map-only, fully codegen; the same regex literals run
    * in the DuckDB oracle. */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    // Generate barriers after each replace stage: without them
    // CollapseProject re-inlines the shared afterUrl/afterEmail
    // subexpressions into every consumer and each row pays ~9 full-text
    // regex passes instead of 6 (count + replace per stage).
    val s1 = df.select(col("doc_id"),
      explode(array(struct(
        size(regexp_extract_all(t, lit(UrlRegex), lit(0))).as("n_urls"),
        regexp_replace(t, UrlRegex, "<URL>").as("au")))).as("__s1"))
    val s2 = s1.select(col("doc_id"), col("__s1.n_urls").as("n_urls"),
      explode(array(struct(
        size(regexp_extract_all(col("__s1.au"), lit(EmailRegex), lit(0))).as("n_emails"),
        regexp_replace(col("__s1.au"), EmailRegex, "<EMAIL>").as("ae")))).as("__s2"))
    s2.select(col("doc_id"), col("n_urls"),
      col("__s2.n_emails").as("n_emails"),
      size(regexp_extract_all(col("__s2.ae"), lit(PhoneRegex), lit(0))).as("n_phones"),
      regexp_replace(col("__s2.ae"), PhoneRegex, "<PHONE>").as("clean_text"))
  }

  /** Per-document distinctive terms — the TF-IDF ranking with integer-exact
    * keys: top `k` terms per doc ordered by (tf DESC, df ASC, term ASC).
    * Ranking by the raw (tf, df) pair orders identically to tf·log(N/df)
    * whenever tf ties break by rarity, and keeps the result bit-stable
    * across engines (no float log whose last ulp differs per libm).
    *
    * Plan: explode tokens → per-(doc, term) counts (shuffle 1, map-side
    * combined), document frequency per term over that frame (shuffle 2,
    * skinny (term, df) rows), join df back on term (reuses shuffle 2's
    * clustering on one side), then a per-doc top-k window that Spark
    * rewrites to WindowGroupLimit — partial top-k before the final shuffle.
    */
  /** The pinned per-document term-frequency frame (doc_id, term, tf) that
    * tfidfTopTerms / rareTokenStats / lmCrossEntropy all start from: one
    * tokenization scan, materialized because every consumer reads it at
    * least twice (a corpus-level aggregate AND a join back) — without the
    * pin Spark re-tokenizes the whole corpus per branch (column pruning
    * specializes the subtrees, so ReusedExchange never canonicalizes them
    * equal — same fix as the d3 sketch frame). */
  private def pinnedTermFreq(df: DataFrame, textCol: String): DataFrame =
    Materialize.pin(
      graft.model.Tables.spread(df.select(col("doc_id"), col(textCol)), col("doc_id"))
        .select(col("doc_id"), explode(tokens(col(textCol))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))

  def tfidfTopTerms(df: DataFrame, textCol: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = pinnedTermFreq(df, textCol)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("rank").cast("int").as("rank"))
  }

  /** Rare-token (OOV-ish) quality signal: the fraction of a document's token
    * INSTANCES whose corpus-wide document frequency is below `dfThreshold` —
    * a cheap, integer-exact stand-in for LM-perplexity filtering (documents
    * dense in corpus-rare tokens are gibberish, boilerplate IDs, or OCR
    * noise). CCNet uses a trained LM for this; the df-based form needs no
    * model and no float log, so it cross-checks exactly on any engine.
    *
    * Same dataflow as [[tfidfTopTerms]]: (doc, term, tf) materializes once,
    * document frequency reduces it to skinny (term, df) rows, and the join
    * back is on the term key (sort-merge at vocab scale; the counts that
    * follow are map-side partial sums). */
  /** One-pass corpus "dataset card": the headline numbers every released
    * training corpus ships — volume (docs, tokens, chars), provenance
    * breadth (sources, languages), and exact-duplication rate — as a single
    * 1-row aggregate (the documents-corpus analogue of the s7 table
    * profile).
    *
    * Scale: one scan; the count-distincts expand the aggregate a few ways
    * but every distinct key is tiny (md5 string, source, lang) and the
    * output is one row. At extreme corpus sizes swap the distinct counts
    * for approx_count_distinct — same plan shape, constant memory. */
  def corpusCard(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(t)).as("n_unique_texts"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(size(tokens(t))).cast("long").as("n_tokens"),
      sum(length(t)).cast("long").as("n_chars"))
    .select(col("n_docs"), col("n_unique_texts"), col("n_sources"),
      col("n_langs"), col("n_tokens"), col("n_chars"),
      ((col("n_docs") - col("n_unique_texts")).cast("double") / col("n_docs"))
        .as("dup_fraction"))
  }

  /** Per-source distribution drift: population-stability index (PSI) of each
    * source's hashed-token histogram against the REST of the corpus — the
    * mixture monitor that flags a distributionally anomalous source (a
    * broken crawler, an OCR batch gone bad, a language mislabel) before it
    * trains. PSI_s = Σ_b (p_b − q_b)·ln(p_b/q_b) ≥ 0 with p = this source's
    * smoothed bucket frequency, q = everyone else's; 0 = identical mixes.
    * Complements [[Dedup.sourceOverlap]]: that measures shared CONTENT
    * (set Jaccard), this measures shared SHAPE (token distribution) — two
    * sources can share zero documents yet have near-zero drift.
    *
    * Determinism: double sums are order-sensitive, so each bucket's PSI term
    * is quantized to 2³⁰ fixed-point BIGINT and summed exactly (the
    * d15/x22/x23 contract); p, q, and ln(p/q) are each a single
    * correctly-rounded double op from exact integers, identical cross-engine.
    *
    * Scale: one tokenization scan into the (source, bucket) count frame —
    * at most |sources|·buckets rows after ONE corpus-keyed shuffle; all
    * drift arithmetic runs on that tiny frame (the full source×bucket grid,
    * including this-source-zero buckets, via a broadcast join). Driver sees
    * one total-count scalar. */
  def sourceDrift(df: DataFrame, textCol: String, sourceCol: String = "source",
                  buckets: Int = 1024): DataFrame = {
    require(buckets >= 2)
    val tok = graft.model.Tables
      .spread(df.select(col(sourceCol), col(textCol)), col(sourceCol))
      .select(col(sourceCol).as("src"), explode(tokens(col(textCol))).as("__t"))
      .select(col("src"), (Dedup.strHash31(col("__t")) % buckets).as("b"))
    val csb = Materialize.pin(
      tok.groupBy("src", "b").agg(count(lit(1)).as("c_sb")))
    val cb = csb.groupBy("b").agg(sum(col("c_sb")).as("c_b"))
    val ts = csb.groupBy("src").agg(sum(col("c_sb")).as("t_s"))
    // coalesce: sum over an EMPTY frame is null, and Row.getLong on a null
    // throws — an empty corpus must return an empty result (review finding)
    val total = csb.agg(coalesce(sum(col("c_sb")), lit(0L))).head().getLong(0)
    val grid = ts.crossJoin(broadcast(cb))
      .join(csb, Seq("src", "b"), "left")
      .withColumn("c_sb", coalesce(col("c_sb"), lit(0L)))
    val p = (col("c_sb") + 1L).cast("double") / (col("t_s") + buckets).cast("double")
    val q = (col("c_b") - col("c_sb") + 1L).cast("double") /
      (lit(total) - col("t_s") + buckets).cast("double")
    val termFp = floor((p - q) * log(p / q) * lit(1073741824.0) + lit(0.5)).cast("long")
    grid.select(col("src"), col("t_s"), termFp.as("__fp"))
      .groupBy("src").agg(
        min(col("t_s")).as("n_tokens"),
        sum(col("__fp")).as("psi_fp"))
      .withColumn("psi", col("psi_fp").cast("double") / lit(1073741824.0))
      .select(col("src").as(sourceCol), col("n_tokens"), col("psi_fp"), col("psi"))
  }

  /** [[sourceDrift]] as DuckDB SQL (oracle), sharing the token regex, md5
    * bucket hash, and 2³⁰ fixed-point PSI-term arithmetic. */
  def sourceDriftSql(tokenRe: String, buckets: Int = 1024): String =
    s"""WITH tok AS (
       |  SELECT source AS src,
       |    unnest(regexp_extract_all(lower(text), '$tokenRe')) AS term
       |  FROM documents),
       |hashed AS (
       |  SELECT src, CAST('0x' || substr(md5(term), 1, 8) AS BIGINT)
       |    % ${Dedup.P} % $buckets AS b FROM tok),
       |csb AS (SELECT src, b, CAST(count(*) AS BIGINT) AS c_sb
       |  FROM hashed GROUP BY 1, 2),
       |cb AS (SELECT b, CAST(sum(c_sb) AS BIGINT) AS c_b FROM csb GROUP BY 1),
       |ts AS (SELECT src, CAST(sum(c_sb) AS BIGINT) AS t_s FROM csb GROUP BY 1),
       |tot AS (SELECT CAST(sum(c_sb) AS BIGINT) AS t FROM csb),
       |grid AS (
       |  SELECT ts.src, ts.t_s, cb.b, cb.c_b, COALESCE(csb.c_sb, 0) AS c_sb,
       |    tot.t
       |  FROM ts CROSS JOIN cb CROSS JOIN tot
       |  LEFT JOIN csb ON csb.src = ts.src AND csb.b = cb.b),
       |terms AS (
       |  SELECT src, t_s,
       |    CAST(floor(
       |      (CAST(c_sb + 1 AS DOUBLE) / CAST(t_s + $buckets AS DOUBLE)
       |        - CAST(c_b - c_sb + 1 AS DOUBLE) / CAST(t - t_s + $buckets AS DOUBLE))
       |      * ln((CAST(c_sb + 1 AS DOUBLE) / CAST(t_s + $buckets AS DOUBLE))
       |        / (CAST(c_b - c_sb + 1 AS DOUBLE) / CAST(t - t_s + $buckets AS DOUBLE)))
       |      * 1073741824.0 + 0.5) AS BIGINT) AS fp
       |  FROM grid)
       |SELECT src AS source, CAST(min(t_s) AS BIGINT) AS n_tokens,
       |  CAST(sum(fp) AS BIGINT) AS psi_fp,
       |  CAST(sum(fp) AS DOUBLE) / 1073741824.0 AS psi
       |FROM terms GROUP BY 1""".stripMargin

  /** Corpus-level n-gram frequency table, top-k by total occurrences — the
    * classic LM-data diagnostic (boilerplate discovery, contamination
    * probes, tokenizer-vocabulary sanity checks).
    *
    * Scale: one tokenization scan (native [[Dedup.wordShingles]] expression,
    * O(1) per gram), then ONE (ngram) shuffle: a single count-distinct
    * aggregate plans as partial (ngram, doc_id) dedup map-side feeding one
    * ngram-keyed exchange (no Expand — that only appears with ≥2 distinct
    * aggregates, and an explicit two-level groupBy would pay a second
    * full-cardinality shuffle on (doc_id, ngram)). Global top-k is
    * TakeOrdered — no full sort. */
  def ngramTopK(df: DataFrame, textCol: String, n: Int = 3, k: Int = 20): DataFrame = {
    graft.model.Tables
      .spread(df.select(col("doc_id"), col(textCol)), col("doc_id"))
      .select(col("doc_id"), explode(Dedup.wordShingles(col(textCol), n)).as("ngram"))
      // wordShingles emits a PARTIAL (or empty) shingle for docs shorter
      // than n tokens — deliberate for MinHash (every doc needs a
      // signature), wrong here: a partial gram is not an n-gram, and the
      // SQL oracle's range() emits zero grams for short docs (review
      // finding). Grams are space-joined tokens and tokens cannot be empty
      // or contain spaces, so the token count of a gram is exact — except
      // the n=1 edge: split("", " ") is [""] of size 1, so the zero-token
      // fallback shingle would pass the size check as a phantom ""
      // unigram; the non-empty filter closes it (review finding), matching
      // the dup-span/contamination paths.
      .filter(col("ngram") =!= "" && size(split(col("ngram"), " ")) === n)
      .groupBy("ngram")
      .agg(count(lit(1)).as("occurrences"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("occurrences").desc, col("ngram").asc)
      .limit(k)
  }

  /** [[ngramTopK]] as DuckDB SQL (oracle), sharing the token regex. */
  def ngramTopKSql(tokenRe: String, n: Int, k: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '$tokenRe') AS t
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, array_to_string(t[u.i : u.i + $n - 1], ' ') AS ngram
       |  FROM toks, unnest(range(1, CAST(len(t) AS BIGINT) - $n + 2)) AS u(i))
       |SELECT ngram, count(*) AS occurrences,
       |  count(DISTINCT doc_id) AS n_docs
       |FROM grams GROUP BY ngram
       |ORDER BY occurrences DESC, ngram LIMIT $k""".stripMargin

  def rareTokenStats(df: DataFrame, textCol: String, pctDenom: Int = 10): DataFrame = {
    val tf = pinnedTermFreq(df, textCol)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // "rare" is RELATIVE (df·denom < corpus size, integer cross-multiplied):
    // an absolute cutoff stops meaning anything as the corpus grows
    val nDocs = df.select(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
      .groupBy("doc_id").agg(
        sum(col("tf")).as("n_tokens"),
        sum(when(col("df") * pctDenom < col("n_docs"), col("tf")).otherwise(0L)).as("n_rare"))
      .withColumn("rare_ratio", col("n_rare").cast("double") / col("n_tokens"))
  }

  /** CCNet-style LM quality score (Wenzek et al. 2020), the real form of the
    * filter [[rareTokenStats]] stands in for: train a unigram LM on the
    * corpus itself, score every document by its average per-token negative
    * log-likelihood (cross-entropy; monotone in perplexity — no exp, which
    * would reintroduce libm divergence). High avg_nll = token mix unlike the
    * corpus = OCR noise, gibberish, boilerplate IDs.
    *
    * Determinism (the d15 idf contract): per-TYPE surprisal is fixed-point —
    * floor(ln(T/c)·2¹⁶+0.5) as BIGINT, where c = corpus count of the token
    * type and T = total token instances — so each doc's cross-entropy
    * accumulates as an exact integer sum (`xent_fp`); the one final divide
    * producing `avg_nll` is a single correctly-rounded double op, identical
    * in any engine. T reaches the driver as one scalar (the bounded-sketch
    * contract) and re-enters as a literal, so the surprisal column derives
    * MAP-SIDE on the vocab frame.
    *
    * Scale: one tokenization scan into the pinned (doc_id, term, tf) posting
    * frame (consumed by both the LM aggregate and the scoring join — the
    * x12 re-tokenization trap); the LM is vocab-sized (Zipf-bounded far
    * below corpus size), so the scoring join is posting ⨝ vocab on the term
    * key — sort-merge by default, broadcast when the vocab fits (AQE
    * converts at runtime from the aggregate's actual size). Per-doc scores
    * are then one map-side-combined groupBy on doc_id. Docs with zero
    * tokens have no posting rows and drop out, in both engines. */
  def lmCrossEntropy(df: DataFrame, textCol: String): DataFrame = {
    val tf = pinnedTermFreq(df, textCol)
    val lm = tf.groupBy("term").agg(sum(col("tf")).as("c"))
    // T summed off the vocab-sized lm frame, not the posting-sized tf;
    // coalesce for the empty-corpus case (null sum → getLong throws)
    val total = lm.agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0)
    val wfx = floor(log(lit(total.toDouble) / col("c")) * lit(65536.0) + lit(0.5))
      .cast("long")
    tf.join(lm.select(col("term"), wfx.as("w_fx")), "term")
      .groupBy("doc_id").agg(
        sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("w_fx")).as("xent_fp"))
      .withColumn("avg_nll",
        col("xent_fp").cast("double") / (col("n_tokens") * lit(65536.0)))
  }

  /** [[lmCrossEntropy]] as DuckDB SQL (oracle), sharing the token regex and
    * the 2¹⁶ fixed-point surprisal arithmetic. */
  def lmCrossEntropySql(tokenRe: String): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '$tokenRe')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |lm AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM lm),
       |w AS (SELECT term,
       |  CAST(floor(ln(CAST(t AS DOUBLE) / c) * 65536.0 + 0.5) AS BIGINT)
       |    AS w_fx
       |  FROM lm, tot)
       |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
       |  CAST(sum(tf.tf * w.w_fx) AS BIGINT) AS xent_fp,
       |  CAST(sum(tf.tf * w.w_fx) AS DOUBLE)
       |    / (CAST(sum(tf.tf) AS BIGINT) * 65536.0) AS avg_nll
       |FROM tf JOIN w USING (term)
       |GROUP BY 1""".stripMargin

  /** Gopher-style quality rule gates (Rae et al. 2021's heuristic family):
    * per-document boolean rules plus the conjunction. All thresholds are
    * evaluated with integer cross-multiplication (`10*sum >= 3*n` instead of
    * `sum/n >= 0.3`), so the flags are exact in any engine — no float
    * division in the gate. Map-only, one pass, tokenizes once behind a
    * Generate barrier. */
  def gopherRules(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val allStop = stopwords.values.flatten.toSeq.distinct
    // tokens + raw text stats materialized once (CollapseProject barrier)
    val base = df.select(col("doc_id"),
      explode(array(struct(
        tokens(t).as("toks"),
        length(t).as("nc"),
        (length(t) - length(regexp_replace(lower(t), NonTokenRegex, ""))).as("punct"),
        size(regexp_extract_all(t, lit("\\.\\.\\."), lit(0))).as("ellipses")))).as("__b"))
    val toks = col("__b.toks")
    val nTok = size(toks).cast("long")
    val tokChars = length(concat_ws("", toks)).cast("long")
    val stopHits = size(filter(toks, tk => tk.isInCollection(allStop))).cast("long")
    base.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      // 50 <= words <= 100k
      (nTok >= 50 && nTok <= 100000L).as("ok_word_count"),
      // 3 <= mean word length <= 10  ⇔  3n <= Σlen <= 10n
      (nTok > 0 && tokChars >= nTok * 3 && tokChars <= nTok * 10).as("ok_mean_word_len"),
      // punctuation chars < 30% of text  ⇔  10·punct < 3·chars
      (col("__b.punct") * 10 < col("__b.nc") * 3).as("ok_symbol_ratio"),
      // at least 2 stopword hits and hits >= 2% of tokens won't be required:
      // the published rule is an absolute floor
      (stopHits >= 2).as("ok_stopwords"),
      // fewer than 1 '...' per 20 tokens  ⇔  20·ellipses < n
      (col("__b.ellipses") * 20 < nTok).as("ok_ellipsis"))
      .withColumn("keep",
        col("ok_word_count") && col("ok_mean_word_len") &&
          col("ok_symbol_ratio") && col("ok_stopwords") && col("ok_ellipsis"))
  }

  /** Document fingerprint: minimum md5 over all `k`-char shingles of the
    * text (a min-hash-style content fingerprint; robust to local edits in a
    * way whole-document md5 is not). Map-only; the per-row shingle array is
    * never materialized to the shuffle. */
  def fingerprint(df: DataFrame, textCol: String, k: Int = 8): DataFrame = {
    val t = col(textCol)
    val nShingles = greatest(length(t) - (k - 1), lit(1))
    graft.model.Tables.spread(df.select(col("doc_id"), t), col("doc_id")).select(
      col("doc_id"),
      array_min(transform(sequence(lit(1), nShingles),
        i => md5(t.substr(i, lit(k))))).as("fingerprint"))
  }
}
