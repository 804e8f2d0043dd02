package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize.DatasetPin

import graft.ops.Dedup

/** Streaming near-duplicate detection: incoming documents checked against a
  * STATIC corpus index — the incremental leg of the MinHash+LSH dedup family
  * (a pretraining pipeline admits new crawl batches by deduping them against
  * the already-curated corpus).
  *
  * Everything on the stream side is STATELESS: per-row signatures
  * ([[Dedup.rowMinhashSignatures]] — one native loop, no groupBy), band
  * explosion, and a stream-static equi-join on (band_id, band_key) against
  * the prebuilt index. No watermark, no state store; at scale the index is a
  * bucketed table on band_key so the join is a lookup, and the stream shuffles
  * only fixed-width signatures.
  *
  * A pair that shares multiple bands surfaces once per shared band; dedupe
  * per micro-batch in the sink (`foreachBatch` + `dropDuplicates`) — each
  * document lives in exactly one micro-batch of a stream-static join, so
  * batch-local dedup is globally exact. [[StreamDedupSpec]] certifies
  * equivalence with the batch pipeline.
  */
object StreamDedup {

  /** Build the static corpus index: (doc_id, band_id, band_key, sh).
    * At scale: write bucketed by band_key; rebuild as the corpus grows.
    * `maxBucket` is the same LSH skew guard [[Dedup.crossDedup]] applies to
    * its index (review finding: this builder omitted it, so one boilerplate
    * band key shared by a large corpus fraction made every streaming probe
    * join quadratic on that key) — over-full buckets carry no near-dup
    * signal and are dropped. For [[dedupIngest]] the cap is per BATCH
    * build: a hot key accumulates ≤ maxBucket rows per admitted batch, so
    * periodic compaction should re-apply the cap corpus-wide. */
  def corpusIndex(docs: DataFrame, textCol: String, n: Int = 3,
                  rowsPerBand: Int = 2, maxBucket: Int = 64): DataFrame = {
    val sigs = Dedup.minhashSignaturesWithSets(docs, textCol, n)
    Dedup.capBuckets(Dedup.lshBands(sigs, rowsPerBand), maxBucket)
      .join(sigs.select(col("doc_id"), col("sh")), "doc_id")
  }

  /** Self-maintaining dedup ingest: a `foreachBatch` sink that checks each
    * micro-batch against the on-disk MinHash band index of EVERYTHING
    * admitted so far, writes only novel documents to `freshPath`, and
    * appends their band rows to `indexPath` — so later batches dedup
    * against earlier ones without any driver state (the index IS the
    * state, durable and restart-safe; re-reading it per batch is exactly
    * the stream-static pattern with a static side that grows).
    *
    * Contract: dedup is against previously-ADMITTED documents only;
    * near-dups arriving within one micro-batch are both admitted (run the
    * batch [[Dedup.nearDupPairs]] on `freshPath` afterwards if intra-batch
    * pairs matter). At scale, write `indexPath` bucketed by band_key and
    * compact periodically ([[graft.etl.Compact]]).
    *
    * Idempotence (review finding: two blind appends made a crash between
    * them re-admit — or double-write — the replayed batch): both sinks are
    * the per-batchId deterministic-path pattern (OVERWRITE of
    * `<table>/batch=<id>`), so a batch whose writes landed but whose offset
    * never committed replaces its own output on replay. The dup probe
    * excludes the replayed batch's OWN index partition — otherwise every
    * replayed doc would self-match as a duplicate and the batch would
    * settle empty. */
  def dedupIngest(indexPath: String, freshPath: String, textCol: String = "text",
                  n: Int = 3, rowsPerBand: Int = 2, threshold: Double = 0.5)
      : (DataFrame, Long) => Unit = (batch: DataFrame, id: Long) => {
    val spark = batch.sparkSession
    val newIdx = corpusIndex(batch, textCol, n, rowsPerBand).pinned
    // Existence by explicit probe, not by swallowing AnalysisException: an
    // index that EXISTS but fails to read must stay loud — mapping it to
    // "no index yet" would admit the whole batch with zero dedup and
    // append on top of the broken index (review finding; the same probe as
    // Upsert.mergeBatch's bootstrap).
    val hasIndex = graft.etl.Upsert.holdsParquet(spark, indexPath)
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // Index layout migration (review finding): an index written by the
    // pre-idempotence flat-append code has bare .parquet files at the top
    // level — no batch=<id> partition dirs — and a mixed tree (legacy files
    // + new partitions) is something Spark's partition discovery refuses
    // outright ("conflicting directory structures"). Read the two layouts
    // separately and union: legacy files are attributed batch = -1, which
    // the replay self-exclusion can never match (foreachBatch ids are
    // >= 0) — exactly right, since legacy rows are by definition from
    // before the replayed batch.
    def readIndex(): DataFrame = {
      val top = fs.listStatus(p)
      val flat = top.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString)
      val parts = top.filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("batch="))
      val partitioned =
        if (parts.isEmpty) None
        else Some(spark.read.option("basePath", indexPath)
          .parquet(parts.map(_.getPath.toString).toIndexedSeq: _*)
          .withColumn("batch", col("batch").cast("long")))
      val legacy =
        if (flat.isEmpty) None
        else Some(spark.read.parquet(flat.toIndexedSeq: _*)
          .withColumn("batch", lit(-1L)))
      (partitioned, legacy) match {
        case (Some(a), Some(b)) => a.unionByName(b.select(a.columns.map(col): _*))
        case (Some(a), None) => a
        case (None, Some(b)) => b
        case (None, None) => // hasIndex guaranteed a .parquet somewhere
          spark.read.parquet(indexPath).withColumn("batch", col("batch").cast("long"))
      }
    }
    val dupIds =
      if (!hasIndex) spark.range(0).select(col("id").as("doc_id"))
      else
        newIdx.select(col("doc_id"), col("band_id"), col("band_key"), col("sh").as("sh_new"))
          .join(readIndex()
              .filter(col("batch") =!= id) // self-exclusion on replay
              .select(col("band_id"), col("band_key"), col("sh").as("sh_old")),
            Seq("band_id", "band_key"))
          .filter(Dedup.jaccardExpr(col("sh_new"), col("sh_old")) >= threshold)
          .select("doc_id").distinct()
    val freshIdx = newIdx.join(dupIds, Seq("doc_id"), "left_anti").pinned
    // distinct() before the semi join: semantically redundant (left_semi
    // ignores right-side multiplicity) but it shrinks the broadcast side
    // from bands-per-doc rows to one per doc — kept deliberately.
    batch.join(freshIdx.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      .write.mode("overwrite").parquet(s"$freshPath/batch=$id")
    freshIdx.write.mode("overwrite").parquet(s"$indexPath/batch=$id")
  }

  /** EXACT streaming dedup against a static seen-set via a Bloom probe:
    * the batch-side [[Dedup.bloomDedup]] shape lifted to a stream. The
    * sketch is built ONCE from the seen corpus (a bounded binary literal —
    * no stream-static join, no state store, no watermark), and each
    * streaming row probes it map-side: sketch-negative rows are DEFINITELY
    * fresh (Bloom filters have no false negatives) and pass with
    * `is_certain=true`; sketch-positive rows are either true dups or the
    * ~fpp sliver and are emitted flagged for the sink's exact verification
    * (a per-batch anti-join in `foreachBatch`, against a seen-set lookup
    * that only the flagged sliver pays).
    *
    * Output: (doc_id, row_hash, maybe_seen). Fully stateless per row —
    * survives any micro-batch boundary placement. */
  def bloomFresh(stream: DataFrame, seen: DataFrame, textCol: String,
                 expectedItems: Long = 1000000L, fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val sketch = Bridge.column(new BloomFilterAggregate(
      Bridge.expression(xxhash64(md5(col(textCol)))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val bfBytes = seen.agg(sketch.as("bf")).head().getAs[Array[Byte]]("bf")
    val keyed = stream.select(col("doc_id"), md5(col(textCol)).as("row_hash"))
    if (bfBytes == null) return keyed.withColumn("maybe_seen", lit(false))
    keyed.withColumn("maybe_seen", Bridge.column(BloomFilterMightContain(
      Literal(bfBytes, BinaryType),
      Bridge.expression(xxhash64(col("row_hash"))))))
  }

  /** Near-dup candidates of a streaming doc frame against the static index,
    * with exact Jaccard verification: (new_doc_id, corpus_doc_id, jaccard).
    * Rows may repeat per shared band — see the class doc for the sink-side
    * per-batch dedup contract. */
  def nearDupAgainst(stream: DataFrame, index: DataFrame, textCol: String,
                     n: Int = 3, rowsPerBand: Int = 2,
                     threshold: Double = 0.5): DataFrame =
    // the probe leg IS Dedup.probeIndex — the batch crossDedup's, one
    // definition (review finding: this was an inline copy that could
    // silently drift from the banding/verification scheme)
    Dedup.probeIndex(
        Dedup.rowMinhashSignatures(stream, textCol, n),
        index.select(col("band_id"), col("band_key"),
          col("doc_id").as("corpus_doc_id"), col("sh").as("sh_corpus")),
        rowsPerBand, threshold)
      .filter(col("doc_id") =!= col("corpus_doc_id"))
      .select(col("doc_id").as("new_doc_id"), col("corpus_doc_id"), col("jaccard"))
}
