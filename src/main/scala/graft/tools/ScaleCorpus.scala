package graft.tools

import org.apache.spark.sql.functions._

/** Builds the scaling-probe corpus (PLANS.md "Scaling probe"): the sf
  * documents table replicated `factor`× with a unique suffix token per
  * replica, so replicas are NEAR-dups of each other (the hard case for the
  * near-dup family — exact dedup can't collapse them first), and the
  * embeddings table replicated with a small deterministic per-replica
  * perturbation (replicas stay distinct vectors, so top-k rankings are not
  * degenerate ties).
  *
  *   runMain graft.tools.ScaleCorpus <srcSfDir> <outDir> <factor> [exact]
  *
  * Writes `<outDir>/documents.parquet` and `<outDir>/embeddings.parquet`
  * with ids offset per replica; point `SPARK_GRAFT_SF_DIR` at <outDir> and
  * run `graft.Bench` with the names of documents/embeddings-only queries.
  *
  * A 4th arg `exact` switches the documents replicas to EXACT duplicates
  * (no per-replica suffix) — the mirror/repost duplication regime, the
  * case d19's exact-prepass composition exists for. Only documents is
  * written in this mode (the d13-vs-d19 probe needs nothing else).
  *
  * A 4th arg `dims768` writes ONLY embeddings, expanded to 768 dims: each
  * replicated 64-dim vector is tiled 12× with a small per-tile float
  * offset (tiles stay distinct values; float arithmetic end-to-end). This
  * is the realistic-dims PERF corpus for the e-family (verdict r18 #5):
  * per-distance cost, PQ code footprint, and fixed-point LUT ranges scale
  * with dims regardless of inter-tile correlation — recall CURVES on it
  * are not meaningful (tiles correlate), wall/footprint decades are. */
object ScaleCorpus {
  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args.take(3)
    val factor = factorS.toInt
    // Strict: a typo'd mode flag must abort, not silently stage the wrong
    // replica regime (the probe conclusions depend entirely on which one
    // was built).
    require(args.length <= 3 || args(3) == "exact" || args(3) == "dims768",
      s"unknown mode '${args(3)}': accepted 4th args are 'exact' and 'dims768'")
    val exactMode = args.length > 3 && args(3) == "exact"
    val dims768Mode = args.length > 3 && args(3) == "dims768"
    val spark = graft.Session.build(graft.Session.cpus, graft.Session.cpus)
    // Replication shape: a broadcast cross-join against spark.range(factor)
    // — ONE plan node regardless of factor, where the original factor-way
    // unionByName built an O(factor) plan that the analyzer/optimizer walk
    // per rule (fine at 10-100×, minutes of driver time at 1000×). Same
    // output: replica r of every row, ids offset by r·span.
    //
    // The SOURCE is repartitioned BEFORE the join, and the write has no
    // shuffle after it: an sf0.1 table is a single ~10 MB input split, so
    // without the pre-join spread the whole factor× generation runs in ONE
    // task — and a post-join repartition would shuffle the full GENERATED
    // volume (~30 GB of lineitem at 1000×) instead of the ~10 MB source.
    // Parallelism must be seeded on the small side of a row-exploding
    // operator (measured: the 1000× lineitem leg went from >20 min,
    // single-task, to ~1 min this way).
    def withReplica(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      require(!df.columns.contains("__r"), "replica column name collision")
      df.repartition(32).crossJoin(broadcast(spark.range(factor).toDF("__r")))
    }
    if (dims768Mode) {
      val emb = graft.model.Tables(spark, src, "embeddings")
      val m = emb.count()
      val rep = withReplica(emb).select(
        (col("vec_id") + col("__r") * lit(m)).as("vec_id"),
        transform(col("embedding"),
          x => (x + col("__r").cast("float") * lit(1e-4f)).cast("float")).as("embedding"),
        col("label"))
      // 12 tiles × 64 dims; per-tile offset keeps tile values distinct.
      val expanded = rep.withColumn("embedding",
        flatten(transform(sequence(lit(0), lit(11)),
          t => transform(col("embedding"),
            x => (x + t.cast("float") * lit(2e-3f)).cast("float")))))
      expanded.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      println(s"[scale] wrote ${factor}x dims-768 embeddings (${factor * m} vecs) to $out")
      spark.stop(); return
    }
    val docs = graft.model.Tables(spark, src, "documents")
    val n = docs.count()
    // Preserve EVERY column (lang, n_chars, …) so the probe corpus can run
    // any registered query; n_chars is re-derived because the replica
    // suffix changes the text length.
    val reps = {
      val rep0 = withReplica(docs)
        .withColumn("doc_id", col("doc_id") + col("__r") * lit(n))
      val rep = if (exactMode) rep0
        // concat renders __r as its decimal digits — byte-identical to the
        // old per-replica s" rep$r" literal.
        else rep0.withColumn("text", concat(col("text"), lit(" rep"), col("__r")))
      (if (rep.columns.contains("n_chars"))
        rep.withColumn("n_chars", length(col("text")).cast("long"))
      else rep).drop("__r")
    }
    reps.write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
    println(s"[scale] wrote ${factor}x corpus (${factor * n} docs, " +
      s"${if (exactMode) "exact" else "near-dup"} replicas) to $out")
    if (exactMode) { spark.stop(); return }
    val emb = graft.model.Tables(spark, src, "embeddings")
    val m = emb.count()
    // __r.cast(float) * 1e-4f keeps FLOAT multiply semantics — identical
    // low bits to the old driver-side `r * 1e-4f` literal at any factor.
    val embReps = withReplica(emb).select(
      (col("vec_id") + col("__r") * lit(m)).as("vec_id"),
      transform(col("embedding"),
        x => (x + col("__r").cast("float") * lit(1e-4f)).cast("float")).as("embedding"),
      col("label"))
    embReps.write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")
    println(s"[scale] wrote ${factor}x embeddings (${factor * m} vecs) to $out")

    // Row tables for the streaming-replay / layout probes (round 13): each
    // replica offsets the ENTITY KEY (user/order/customer), so a 10× corpus
    // means 10× keys at the same per-key density — the realistic cluster
    // growth axis (more users), and the one that keeps stateful-join output
    // linear rather than quadratic-in-density. Timestamps are kept verbatim:
    // same time span, 10× event rate, so watermark horizons and session gaps
    // stress state size, not event-time logic.
    //
    // Keys that JOIN across tables (orderkey between orders/lineitem,
    // custkey between orders/customer) use ONE SHARED span per key family,
    // so replica r of orders references exactly replica r of customer and
    // replica r's lineitems — referential integrity and join selectivity
    // are preserved at every factor (independent per-table maxes would
    // leave 9/10 of orders dangling against an unscaled dim).
    def maxKey(table: String, k: String): Long = {
      val t = graft.model.Tables(spark, src, table)
      val row = t.agg(max(col(k))).head()
      require(!row.isNullAt(0), s"$table is empty or $k all-null — cannot derive a replica span")
      row.getLong(0)
    }
    val orderSpan = math.max(maxKey("orders", "o_orderkey"),
      maxKey("lineitem", "l_orderkey")) + 1L
    val custSpan = math.max(maxKey("orders", "o_custkey"),
      maxKey("customer", "c_custkey")) + 1L
    def replicate(table: String, keySpans: Seq[(String, Long)]): Unit = {
      val t = graft.model.Tables(spark, src, table)
      val reps = keySpans.foldLeft(withReplica(t)) { case (df, (k, span)) =>
        df.withColumn(k, col(k) + col("__r") * lit(span))
      }.drop("__r")
      reps.write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scale] wrote ${factor}x $table to $out")
    }
    // events joins nothing by key here: one single-scan agg for both spans
    val evRow = graft.model.Tables(spark, src, "events")
      .agg(max(col("event_id")), max(col("user_id"))).head()
    require(!evRow.isNullAt(0) && !evRow.isNullAt(1), "events empty — cannot scale")
    replicate("events", Seq("event_id" -> (evRow.getLong(0) + 1L),
      "user_id" -> (evRow.getLong(1) + 1L)))
    replicate("lineitem", Seq("l_orderkey" -> orderSpan))
    replicate("orders", Seq("o_orderkey" -> orderSpan, "o_custkey" -> custSpan))
    replicate("customer", Seq("c_custkey" -> custSpan))
    // Pass the remaining small dims through unchanged so every registered
    // query can run against the probe dir.
    for (t <- Seq("region", "nation", "supplier", "part")) {
      graft.model.Tables(spark, src, t).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scale] copied $t to $out")
    }
    spark.stop()
  }
}
