package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Physical-plan shape checks: the properties that decide 100 TB behavior —
  * filter pushdown to the scan, broadcast of dimension tables, and
  * shuffle-free joins on co-bucketed tables. A plan regression here is a
  * scale regression even when results stay correct. */
class PlanChecksSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def physical(df: DataFrame) = df.queryExecution.executedPlan

  /** Execute, then render the finalized adaptive plan (AQE buries completed
    * stages inside leaf QueryStageExec nodes, so tree collect() undercounts —
    * the string form prints the full final plan). */
  private def finalPlanString(df: DataFrame): String = {
    df.collect()
    // keep only the final plan; the rendering appends "== Initial Plan ==",
    // which would double-count every node
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  private def countOf(hay: String, needle: String): Int =
    needle.r.findAllMatchIn(hay).size

  test("point lookup pushes the filter into the parquet scan") {
    val plan = SparkEntry.queries("t10_point_lookup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(user_id,12)"), s"no pushdown in:\n$plan")
  }

  test("projection prunes the parquet read schema") {
    val plan = SparkEntry.queries("t16_grade_band")(spark, sf)
      .queryExecution.executedPlan.toString
    // reads only the two referenced columns, not all six
    assert(plan.contains("ReadSchema: struct<event_id:bigint,value:double>"),
      s"no column pruning in:\n$plan")
  }

  test("dimension joins broadcast the small sides") {
    val plan = finalPlanString(SparkEntry.queries("t18_dim_join")(spark, sf))
    assert(countOf(plan, "BroadcastHashJoin") == 2, s"expected 2 broadcast joins:\n$plan")
  }

  test("flagship query aggregates with a single student shuffle") {
    val plan = finalPlanString(SparkEntry.queries("flagship_progress")(spark, sf))
    // one shuffle for the per-student aggregation; the cohort, credit and
    // duration tables are literal map lookups, so no join at all
    val shuffles = countOf(plan, "Exchange hashpartitioning")
    assert(shuffles <= 1, s"too many shuffles ($shuffles):\n$plan")
    assert(!plan.contains("Join"), s"join in the flagship plan:\n$plan")
  }

  test("flagship query aggregates on HashAggregate, off the sort path") {
    // A3's registrar pick keeps its two ordering keys in primitive buffer
    // slots (LexArgExtreme); a struct-ordered max_by would put a struct in
    // the buffer and plan SortAggregate behind a Sort on both sides of the
    // student shuffle.
    val plan = finalPlanString(SparkEntry.queries("flagship_progress")(spark, sf))
    assert(!plan.contains("SortAggregate") && !plan.contains("ObjectHashAggregate"),
      s"flagship aggregate left HashAggregate:\n$plan")
    assert(plan.contains("HashAggregate"), s"no hash aggregate in:\n$plan")
  }

  test("near-dup pipeline shingles the corpus exactly once (materialized sketch)") {
    // The signature frame feeds 5 plan branches; without materialization each
    // branch re-runs the shingle pipeline (pruning blocks ReusedExchange).
    // After localCheckpoint the downstream plan must contain NO aggregation
    // partials for the signatures — they are read from the checkpointed RDD.
    val plan = finalPlanString(SparkEntry.queries("d3_lsh_jaccard_pairs")(spark, sf))
    assert(countOf(plan, "partial_min") == 0 && countOf(plan, "partial_collect_set") == 0,
      s"signature aggregate re-evaluated downstream:\n$plan")
    assert(!plan.contains("documents.parquet"), "corpus re-scanned downstream of the sketch")
  }

  test("bm25 tokenizes the corpus exactly once (checkpointed narrow frame)") {
    // The (doc_id, dl, tf…) frame is localCheckpoint'ed at build time; both
    // downstream passes (stats broadcast + scoring) must read it from the
    // checkpoint — a regexp anywhere in the final plan means the corpus is
    // being re-tokenized.
    val plan = finalPlanString(SparkEntry.queries("r1_bm25")(spark, sf))
    assert(!plan.contains("regexp_extract_all"),
      s"corpus re-tokenized downstream of the checkpoint:\n$plan")
    assert(!plan.contains("documents.parquet"), "corpus re-scanned downstream")
  }

  test("crossDedup prunes over-full index buckets before the probe join") {
    // The maxBucket skew cap is a left-semi prune of the corpus band index;
    // without it a hot band key makes the probe join quadratic.
    val plan = finalPlanString(SparkEntry.queries("d9_cross_dedup")(spark, sf))
    assert(plan.contains("LeftSemi"), s"no semi-join bucket prune in:\n$plan")
  }

  test("fuzzy join prunes oversized variant buckets before the candidate self-join") {
    // FuzzyJoin's maxBucket cap-and-route censuses the variant index with a
    // window count over the variant-partitioned exchange and splits it into
    // under-cap / oversized halves on __n; without that split a hot
    // deletion-variant bucket turns the candidate self-join quadratic.
    // (First cut used census + left-semi prunes: 3 exchanges where the
    // window needs 1, and ~5x slower end-to-end at sf0.1.)
    val plan = finalPlanString(SparkEntry.queries("join_fuzzy")(spark, sf))
    assert(plan.contains("Window"), s"no window bucket census in:\n$plan")
    assert(plan.contains("__n"), s"no __n bucket-size split in:\n$plan")
  }

  test("centroid argmax (e6/d8 assign stage) is a broadcast join, not a literal tree") {
    // The assign path must survive IVF/SemDeDup-scale centroid counts
    // (k ~ 1e5): a broadcast join keeps the plan O(1) in k, whereas the old
    // greatest(struct(dot(emb, typedLit(c))…)) form embedded O(k·dims)
    // literals into one expression tree (codegen/driver blowup at large k).
    // e6's registered query exposes the stage directly; d8/semDedup eagerly
    // localCheckpoints the assignment (hiding its plan downstream), so pin
    // the shared assignCells stage itself as d8 builds it.
    val e6Plan = finalPlanString(SparkEntry.queries("e6_kmeans_assign")(spark, sf))
    assert(e6Plan.contains("BroadcastNestedLoopJoin"),
      s"e6: no broadcast centroid join in:\n$e6Plan")
    assert(!e6Plan.contains("greatest("),
      s"e6: literal greatest() argmax tree still present in:\n$e6Plan")

    import graft.ops.Similarity
    val emb = graft.model.Tables(spark, sf, "embeddings")
    val base = emb.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("emb"),
      Similarity.l2norm(col("embedding")).as("nrm"))
    val cent = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"),
        Similarity.asDouble(col("embedding")).as("cemb"))
    val assignPlan = finalPlanString(Similarity.assignCells(base, cent))
    assert(assignPlan.contains("BroadcastNestedLoopJoin"),
      s"assignCells: no broadcast centroid join in:\n$assignPlan")
    assert(assignPlan.contains("max_by") || assignPlan.contains("partial_max_by"),
      s"assignCells: argmax did not reduce via map-side-combinable max_by:\n$assignPlan")
    assert(!assignPlan.contains("greatest("),
      s"assignCells: literal greatest() argmax tree still present in:\n$assignPlan")
  }

  test("e2's registered pair join blocks on the composed (label, cell) key") {
    // Label-only blocking was the r16 density-quadratic weak config; the
    // registered shape (r18: label ∧ derived-k k-means cell) must
    // equi-join on BOTH components (a cartesian or single-key join is the
    // scale regression this pins), and the celled/normed frame must be
    // pinned — assignment and norms computed once, not once per self-join
    // side.
    val df = SparkEntry.queries("e2_embed_neardup")(spark, sf)
    val plan = finalPlanString(df)
    val joinLine = plan.linesIterator
      .find(l => l.contains("Join") && l.contains("label") && l.contains("cell"))
    assert(joinLine.nonEmpty,
      s"no equi-join keyed on both label AND cell in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian pair join in:\n$plan")
    // pinned input: both join sides scan the checkpointed RDD, so neither
    // the cell assignment nor the norm fold may re-run per side. The
    // marker is the raw `embedding` column they read (the pinned frame
    // carries only label/cell/vec_id/emb/nrm) — NOT xxhash, which the
    // fold never lowers to, making the old check vacuously green even
    // with the pin removed (ADVICE r17).
    assert(!plan.contains("embedding"),
      s"raw embedding column (the assignment input) re-read past the pin in:\n$plan")
    // both self-join sides consume the pin: either two scans of the
    // checkpointed RDD, or one scan whose exchange the other side reuses
    // (strictly better — AQE dedups the broadcast build)
    assert(countOf(plan, "Scan ExistingRDD") >= 2 ||
      (countOf(plan, "Scan ExistingRDD") == 1 && plan.contains("ReusedExchange")),
      s"celled frame not consumed from the pin on both sides:\n$plan")
  }

  test("e10's composed IVF-PQ plan probes via broadcasts and never self-joins the corpus") {
    // The composition's scale contract (Similarity.ivfPqTopK Scaladoc):
    // the probe scan is map-side against broadcast LUT/probed-cell frames,
    // the only corpus-corpus join is the narrow enc-cells equi-join on
    // nbr_id, and the pinned corpus base feeds BOTH the cell argmax and
    // the PQ encode from one scan.
    val plan = finalPlanString(SparkEntry.queries("e10_ivfpq_topk")(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"cartesian in composed plan:\n$plan")
    assert(countOf(plan, "BroadcastHashJoin") >= 3, // cent argmax, codebook encode, LUT probe
      s"probe scan not broadcast-joined in:\n$plan")
    assert(countOf(plan, "Scan ExistingRDD") >= 2,
      s"pinned corpus base not consumed by both legs in:\n$plan")
    // the ADC reduction must stay an int-sum HashAggregate (map-side
    // combinable), not a sort-based fallback
    assert(plan.contains("HashAggregate") && plan.contains("sum(qd"),
      s"ADC sum not a hash aggregate in:\n$plan")
  }

  test("near-dup pair joins pin their width against AQE partition coalescing") {
    // The posting self-join expands by Σ df² — orders of magnitude more
    // output than input — so byte-based AQE coalescing of the small posting
    // shuffle would fuse the whole expansion onto 2-3 cores (measured,
    // PLANS.md round 8). The explicit numbered repartition (byTerm) must
    // stay in the plan: REPARTITION_BY_NUM is the origin AQE cannot coalesce.
    for (q <- Seq("d13_lexical_neardup", "d15_idf_neardup", "d14_prefix_neardup",
                  "d19_composed_neardup")) {
      val plan = finalPlanString(SparkEntry.queries(q)(spark, sf))
      assert(plan.contains("REPARTITION_BY_NUM"),
        s"$q: pinned-width repartition missing from:\n$plan")
    }
  }

  test("spread repartitions a 1-task scan but leaves many-split inputs alone") {
    import graft.model.Tables
    val tiny = Tables(spark, sf, "documents").select("doc_id", "text")
    val spreadDf = Tables.spread(tiny, col("doc_id"))
    assert(spreadDf.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    val wide = tiny.repartition(spark.sparkContext.defaultParallelism * 2, col("doc_id"))
    assert(Tables.spread(wide, col("doc_id")).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism * 2) // untouched: already parallel
  }

  test("date-partitioned store prunes partitions for a date predicate") {
    // The S5/T9 storage layout: writes route by ingest_date, a date filter
    // must become a PartitionFilter (directory pruning), not a row filter.
    val dir = java.nio.file.Files.createTempDirectory("parts").toString
    Seq(("2024-01-01", 1.0), ("2024-01-02", 2.0), ("2024-01-03", 3.0))
      .toDF("ingest_date", "v")
      .write.mode("overwrite").partitionBy("ingest_date").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("ingest_date") === "2024-01-02")
    val plan = q.queryExecution.executedPlan.toString
    // the predicate must appear INSIDE PartitionFilters (directory pruning),
    // not as a post-scan row Filter
    val pf = "PartitionFilters: \\[[^\\]]*ingest_date[^\\]]*\\]".r
    assert(pf.findFirstIn(plan).isDefined, s"no partition pruning:\n$plan")
    assert(q.count() == 1)
  }

  test("grouped top-n plans a WindowGroupLimit below the shuffle") {
    val plan = finalPlanString(SparkEntry.queries("w_topn_group")(spark, sf))
    // the rank<=3 filter must push a per-partition group-limit below the
    // exchange: only 3 rows per (input partition, user) are shuffled
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$plan")
  }

  test("chunk dedup keep-first plans as a sort-free HashAggregate (packed long)") {
    // The r16 keep-first is min(doc_id*K + pos) precisely so the heaviest
    // stage hash-aggregates with map-side combine; a regression to the
    // struct-min shape would plan SortAggregate and re-sort every partition
    // of the exploded corpus (BASELINE.md r16 (ProbeChunk) has the difference — see
    // ops/Dedup.chunkDedup's Scaladoc). The rebuild's collect_list
    // legitimately plans ObjectHashAggregate; only SortAggregate is the
    // regression signal.
    val plan = finalPlanString(
      SparkEntry.queries("d10_chunk_dedup")(spark, sf))
    assert(!plan.contains("SortAggregate"),
      s"d10: keep-first regressed to SortAggregate in:\n$plan")
    assert(plan.contains("HashAggregate"), s"d10: no hash aggregate in:\n$plan")
  }

  test("AQE splits a skewed sort-merge join partition (skew=true)") {
    // The runtime half of the skew story: ops/Skew salts by hand where the
    // key set is known; AQE's OptimizeSkewedJoin must catch the rest. Force
    // a sort-merge join with one hot key and thresholds scaled to test
    // data; the finalized plan must mark the join skew=true.
    val c = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> c.getOption(k))
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      c.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val left = (1L to 200000L).map(i => (if (i % 10 < 9) 0L else i % 97, i))
        .toDF("k", "lv")
      val right = (0L until 97L).map(k => (k, s"r$k")).toDF("k", "rv")
      val q = left.join(right, "k")
      val plan = finalPlanString(q)
      assert(plan.contains("skew=true"), s"no AQE skew split in:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(c.unset(k))(c.set(k, _))
    }
  }

  test("dim-filtered join prunes fact partitions dynamically (DPP)") {
    // The star-schema scale pattern: the fact side is partitioned by the
    // join key, the dim side carries the selective predicate; Spark must
    // inject the dim's surviving keys into the fact scan's PartitionFilters
    // at runtime (dynamic partition pruning) instead of scanning every
    // partition and filtering after the join.
    val dir = java.nio.file.Files.createTempDirectory("dpp").toString
    (1 to 10000).map(i => (i, i % 20)).toDF("id", "day_id")
      .write.mode("overwrite").partitionBy("day_id").parquet(dir)
    val fact = spark.read.parquet(dir)
    // the dim must be a real scan: a LocalRelation folds the filter away and
    // DPP's has-selective-predicate heuristic never sees it
    val dimDir = java.nio.file.Files.createTempDirectory("dppdim").toString
    (0 until 20).map(d => (d, if (d < 2) "keep" else "drop"))
      .toDF("day_id", "tag").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val q = fact.join(dim.filter(col("tag") === "keep"), "day_id")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"no DPP in:\n$plan")
    assert(q.count() == 1000)
  }

  test("co-bucketed tables join without a shuffle") {
    val wh = java.nio.file.Files.createTempDirectory("wh").toString
    val left = (1L to 10000L).map(i => (i, s"u$i")).toDF("id", "name")
    val right = (1L to 10000L by 2).map(i => (i, i * 2.0)).toDF("id", "score")
    left.write.mode("overwrite").bucketBy(8, "id").sortBy("id")
      .option("path", s"$wh/lb").saveAsTable("lb")
    right.write.mode("overwrite").bucketBy(8, "id").sortBy("id")
      .option("path", s"$wh/rb").saveAsTable("rb")
    try {
      val joined = spark.table("lb").join(spark.table("rb"), "id")
      val shuffles = physical(joined).collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty, s"bucketed join shuffled:\n${physical(joined)}")
      assert(joined.count() == 5000)
    } finally {
      spark.sql("DROP TABLE IF EXISTS lb")
      spark.sql("DROP TABLE IF EXISTS rb")
    }
  }

  test("bucketed user totals: aggregate AND join run with zero Exchange") {
    val dir = java.nio.file.Files.createTempDirectory("l2").toString
    val ev = (1L to 5000L)
      .map(i => (i, i % 97, (i % 13) * 0.25)).toDF("event_id", "user_id", "value")
    try {
      val out = graft.etl.Bucketing.bucketedUserTotals(spark, ev, dir, buckets = 4)
      val plan = finalPlanString(out)
      // zero SHUFFLE exchanges: the aggregate runs straight off the bucketed
      // scan ("Bucketed: true"); broadcasting the |users|-row totals side is
      // fine (and with a big totals side, SMJ stays shuffle-free too)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed pipeline shuffled:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan not bucketed:\n$plan")
      // spot-check one user's total against a driver-side sum
      val u5 = out.filter(col("user_id") === 5).collect()
      val expect = (1L to 5000L).filter(_ % 97 == 5)
        .map(i => math.round((i % 13) * 0.25 * 100)).sum
      assert(u5.nonEmpty && u5.forall(_.getLong(3) == expect))
    } finally spark.sql("DROP TABLE IF EXISTS graft_events_bucketed")
  }

  test("DSIR scoring join broadcasts the bucket-count model") {
    // x23's model side is at most `buckets` rows by construction; the
    // scoring join over the corpus-sized instance frame must be a
    // BroadcastHashJoin — a sort-merge here would shuffle every token
    // instance at 100 TB for a 4096-row right side.
    val plan = finalPlanString(SparkEntry.queries("x23_dsir_weights")(spark, sf))
    assert(countOf(plan, "BroadcastHashJoin") >= 1, s"model side not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in scoring plan:\n$plan")
  }

  test("as-of join is join-free: one keyed exchange, one window, no join operator") {
    // The whole point of the union+window as-of design: the big side
    // exchanges ONCE on the keys and there is NO join operator at all — a
    // regression to a range join or an extra exchange is a scale regression
    // even while results stay correct.
    val left = (1 to 50).map(i => (i.toLong, s"u${i % 5}", i.toLong * 10)).toDF("id", "k", "t")
    val right = (1 to 20).map(i => (s"u${i % 5}", i.toLong * 25, i.toLong)).toDF("k", "rt", "v")
    val plan = finalPlanString(graft.ops.AsOfJoin.asOf(left, right, Seq("k"), "t", "rt", Seq("v")))
    assert(countOf(plan, "Window") == 1, s"expected exactly one Window in:\n$plan")
    assert(countOf(plan, "Exchange") == 1, s"expected exactly one Exchange in:\n$plan")
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
  }

  test("interval join stays an equi-join under open-ended intervals") {
    // The bucket-range clamp must leave the join an equi-join on
    // (key, bucket) — never a cartesian/nested-loop fallback — including
    // when every interval is an open-ended sentinel.
    val pts = (1 to 40).map(i => (i.toLong, i.toLong % 3, i.toLong * 1000)).toDF("pid", "k", "t")
    val ivs = (1 to 5).map(i => (i.toLong, i.toLong % 3, i.toLong * 5000, Long.MaxValue / 2))
      .toDF("iid", "k", "s", "e")
    val plan = finalPlanString(
      graft.ops.IntervalJoin.bucketed(pts, ivs, "k", "t", "s", "e", 1000L))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"interval join fell back to a non-equi join:\n$plan")
    assert(plan.contains("Join"), s"expected an equi-join in:\n$plan")
  }

  test("no registered query carries an unbounded global window (pinned allowlist)") {
    // A Window with an EMPTY partition spec funnels the whole input through
    // ONE task — fine over a frame already bounded to k rows, a scale-killer
    // over anything corpus-sized. This pins attribution for every WindowExec
    // warning in the test log (r12 verdict #4): any registered query whose
    // optimized plan contains a global window must either have a Limit
    // visibly below it, or appear in the allowlist with a written reason the
    // input is bounded by construction. A NEW query with a global window
    // fails here until it is justified.
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Window => LWindow}
    // Bounded by construction (the bound is the frame's aggregated
    // cardinality, so no Limit node is visible). NOTE the r-family rerank
    // windows do NOT appear here: they partition by query id, so they pass
    // the partition-spec check directly.
    val allow = Map(
      // Dashboards.anomalyDays: the rolling mean/std window runs over the
      // per-DAY aggregate (one row per calendar day — 365/yr, ~37k rows
      // even at a century of data), never over raw events.
      "a9_anomaly_days" -> "global window over the per-day aggregate (≤ days rows)"
    )
    // Streaming replays return a settled parquet re-read (window-free by
    // construction) and building them runs whole stream fixtures — skip.
    // contains, not endsWith: s2_stream_replay_upsert's marker is infix.
    // A frame is bounded when EVERY leaf-to-window path passes a Limit:
    // Limit nodes are bounded; an inner node is bounded only if all its
    // children are (a join of bounded inputs stays bounded; a mere Limit
    // somewhere inside ONE join input does not bound the other side —
    // collectFirst would have accepted exactly that false negative).
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit | _: LocalLimit => true
      case _ if p.children.isEmpty => false
      case _ => p.children.forall(bounded)
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.contains("_replay"))
      .flatMap { case (name, q) =>
        val lp = q(spark, sf).queryExecution.optimizedPlan
        val bad = lp.collect {
          case w: LWindow if w.partitionSpec.isEmpty && !bounded(w.child) => w
        }
        if (bad.nonEmpty) Some(name) else None
      }.toSet
    val unjustified = offenders -- allow.keySet
    val stale = allow.keySet -- offenders
    assert(unjustified.isEmpty,
      s"global (unpartitioned) window over an unbounded frame in: " +
        s"${unjustified.mkString(", ")} — partition it, bound it, or justify it here")
    assert(stale.isEmpty,
      s"allowlist entries no longer carrying a global window (prune them): " +
        s"${stale.mkString(", ")}")
  }

  test("LM cross-entropy tokenizes once: the pinned posting frame feeds both consumers") {
    // x22's LM aggregate and scoring join both consume the (doc,term,tf)
    // frame; the Materialize.pin must keep the plan to ONE tokenization
    // scan (Generate) — the x12 re-tokenization trap.
    val plan = finalPlanString(SparkEntry.queries("x22_lm_xent")(spark, sf))
    assert(countOf(plan, "Generate explode") <= 1,
      s"corpus re-tokenized (pin bypassed):\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("DLQ salvage scans the staged text once (single-select, no union)") {
    // the review fix: filter-branches-unioned planned TWO scans of the
    // staged input, each re-running the from_json parse; the one-select
    // shape must keep it to a single text scan
    val plan = finalPlanString(SparkEntry.queries("s4_dlq_salvage")(spark, sf))
    assert(countOf(plan, "Scan text") == 1,
      s"staged input scanned more than once:\n$plan")
    assert(!plan.contains("Union"), s"salvage re-grew a union:\n$plan")
  }
}
