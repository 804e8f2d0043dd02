package graft

import org.apache.spark.sql.functions._

/** Unicode/Vietnamese text handling (reference domain: `app.py:92,95` matches
  * "Chưa xác định"-class values; `con.py:46-52` carries Vietnamese course
  * names). The round-2 tokenizer (`[a-z0-9]+`) shredded diacritic text into
  * fragments ("định" -> ["nh"]); the `\p{L}\p{Nd}` tokenizer must keep
  * words whole and the vi stopword lexicon must recognize diacritic forms. */
class VietnameseTextSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.TextAnalysis

  private val viDocs = Seq(
    (1L, "Chưa xác định"),
    (2L, "Sinh viên đạt điểm cao trong một học kỳ và được khen thưởng của trường"),
    (3L, "the quick brown fox and the lazy dog of the farm it is on"),
    (4L, "Người dùng không được phép truy cập vào hệ thống trong thời gian bảo trì và phải chờ đến khi hoàn tất")
  ).toDF("doc_id", "text")

  test("tokens keep diacritic words whole") {
    val toks = viDocs.filter($"doc_id" === 1)
      .select(TextAnalysis.tokens($"text").as("t")).as[Seq[String]].head()
    assert(toks == Seq("chưa", "xác", "định"), s"got $toks")
  }

  test("token counts see Vietnamese words, not fragment runs") {
    val row = TextAnalysis.tokenStats(viDocs.filter($"doc_id" === 2), "text")
      .select("word_tokens").as[Int].head()
    // 15 space-separated Vietnamese words, each one token
    assert(row == 15, s"got $row")
  }

  test("language ID votes vi on diacritic stopwords, en on English") {
    val out = TextAnalysis.languageId(spark, viDocs, "text")
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(out(1)._2 == "vi", s"doc 2 predicted ${out(1)}")   // trong, một, và, được, của
    assert(out(2)._2 == "en", s"doc 3 predicted ${out(2)}")
    assert(out(3)._2 == "vi", s"doc 4 predicted ${out(3)}")   // người, không, được, trong, và, đến
    assert(out(0)._2 != "en", s"doc 1 predicted ${out(0)}")   // no en stopwords
  }

  test("map-only language ID matches the join+window formulation") {
    // Independent reimplementation of the round-2 semantics (lexicon join,
    // occurrence counts, argmax with hits DESC / lang ASC ties, und on zero).
    val lex = TextAnalysis.stopwords.toSeq.flatMap { case (l, ws) => ws.map((l, _)) }
      .toDF("cand_lang", "token")
    val tok = viDocs.select($"doc_id", explode(TextAnalysis.tokens($"text")).as("token"))
    val hits = tok.join(lex, Seq("token")).groupBy("doc_id", "cand_lang")
      .agg(count(lit(1)).as("hits"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("hits").desc, col("cand_lang").asc)
    val expected = viDocs.select("doc_id").join(
        hits.withColumn("rn", row_number().over(w)).filter($"rn" === 1), Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"cand_lang", lit("und")).as("pred_lang"),
        coalesce($"hits", lit(0L)).as("hits"))
      .orderBy("doc_id").collect().toSeq
    val actual = TextAnalysis.languageId(spark, viDocs, "text")
      .orderBy("doc_id").collect().toSeq
    assert(actual == expected, s"\nactual:   $actual\nexpected: $expected")
  }

  test("fused cleanCorpus equals the three-stage composition") {
    val docs = viDocs.unionByName(Seq(
      (5L, "the quick brown fox and the lazy dog of the farm it is on"), // exact dup of 3
      (6L, "a b"),                                                       // too short
      (7L, "??? !!! ;;; ::: ,,,, .... ---- #### @@@@ %%%%")              // pure punct
    ).toDF("doc_id", "text"))
    val quality = TextAnalysis.qualityScore(docs, "text").select("doc_id", "quality")
    val lang = TextAnalysis.languageId(spark, docs, "text").select("doc_id", "pred_lang")
    val kept = docs.join(quality, "doc_id").join(lang, "doc_id")
      .filter($"quality" >= 0.7 && $"pred_lang" === "en")
    val expected = graft.ops.Dedup.exactDedupGroups(kept, "text")
      .select($"rep_doc_id".as("doc_id"), $"n_dups")
      .orderBy("doc_id").collect().toSeq
    val actual = TextAnalysis.cleanCorpus(docs, "text", 0.7, "en")
      .orderBy("doc_id").collect().toSeq
    assert(actual == expected, s"\nactual:   $actual\nexpected: $expected")
    assert(actual.nonEmpty) // doc 3/5 survive as one group
    // the registered r18 FOLD shape (map-side aggregate(), no explode) must
    // be row-identical on the same tricky corpus — empty-token docs, pure
    // punctuation, exact dups (the cases where explode_outer/count-null
    // semantics could silently diverge from the array fold)
    val folded = TextAnalysis.cleanCorpusFold(docs, "text", 0.7, "en")
      .orderBy("doc_id").collect().toSeq
    assert(folded == expected, s"\nfolded:   $folded\nexpected: $expected")
  }
}
