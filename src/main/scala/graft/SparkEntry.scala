package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.etl.{Compact, Enrich, IncrementalAgg, Ingest, Layout, Upsert}
import graft.functions.{GradeScale, GradeScale4}
import graft.model.Tables
import graft.ops.{Dedup, Multimodal, Retrieval, Similarity, TextAnalysis}
import graft.query.{Dashboards, EventsAdapter, Progress}

/** Driver contract (SURVEY.md §5): every operator of SURVEY.md §2 plus the
  * north-star extensions, registered as a named query over the driver's
  * parquet tables with matching ANSI SQL for the DuckDB oracle.
  *
  * Naming: `s*`/`t*`/`a*` = the SURVEY §2 operator the query certifies;
  * `join_*`/`setop_*`/`w_*`/`rollup_*` = §2.4 table rows; `x*`/`d*`/`e*`/
  * `m*` = north-star text / dedup / embedding / multimodal operators.
  * Queries without oracle SQL (sketches, LSH internals) get the driver's
  * rows-only check.
  */
object SparkEntry {

  private type Q = (SparkSession, String) => DataFrame
  private def ev(s: SparkSession, d: String) = Tables(s, d, "events")
  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")
  private def emb(s: SparkSession, d: String) = Tables(s, d, "embeddings")

  // ------------------------------------------------------ paper-rule inputs
  // The rows certifying Ingest/Enrich/Progress run them on the adapter's view
  // of `events` with edge cases shaped in, once in Scala, once in SQL
  // (FIXTURES.md B.1), so every branch of each rule fires.

  /** A null `ts` (so `NHHK`) on every 5th event, a null `event_type` (so
    * course code, name and class) on every 3rd, else '' on every 7th; after
    * the adapter, a null course name alone where `F_DVHT` is 4. */
  private[graft] def shapedEnrollment(events: DataFrame): DataFrame =
    EventsAdapter.enrollmentView(events
      .withColumn("ts", when(col("event_id") % 5 =!= 0, col("ts")))
      .withColumn("event_type", when(col("event_id") % 3 === 0, lit(null: String))
        .when(col("event_id") % 7 === 0, "").otherwise(col("event_type"))))
      .withColumn("F_TENMHVN", when(col("F_DVHT") =!= 4.0, col("F_TENMHVN")))

  /** The grade as a workbook string cell (`Schemas.enrollment`): junk, '' or
    * "NaN" by the record's second, else printed with four decimals (exact:
    * `value` has two). */
  private[graft] def workbookCells(events: DataFrame): DataFrame = {
    val sec = second(col("@timestamp")) % 10
    shapedEnrollment(events).withColumn("F_DIEM2",
      when(sec === 3, "junk").when(sec === 5, "").when(sec === 7, "NaN")
        .otherwise(format_string("%.4f", col("F_DIEM2"))))
  }

  /** The adapter's SQL columns renamed as the Spark frame names them. */
  private val enrollCols: String =
    """"timestamp" AS "@timestamp", masv AS F_MASV, mamh AS F_MAMH, tenmh AS F_TENMHVN,
      |tenlop AS F_TENLOP, khoahoc AS F_KHOAHOC, nhhk AS NHHK, diem2 AS F_DIEM2,
      |dvht AS F_DVHT, tcdttl AS F_TCDTTL""".stripMargin

  /** Oracle CTEs: `mapped` is [[shapedEnrollment]] under the adapter's SQL
    * names, `enroll` the same under the Spark names, `cells` [[workbookCells]]. */
  private val enrollSql: String =
    s"""WITH shaped AS (SELECT * REPLACE (CASE WHEN event_id % 5 <> 0 THEN ts END AS ts,
       |  CASE WHEN event_id % 3 = 0 THEN NULL WHEN event_id % 7 = 0 THEN ''
       |       ELSE event_type END AS event_type) FROM events),
       |mapped AS (SELECT * REPLACE (CASE WHEN dvht <> 4 THEN tenmh END AS tenmh)
       |  FROM (${EventsAdapter.sqlOver("shaped")})),
       |enroll AS (SELECT $enrollCols FROM mapped),
       |cells AS (SELECT * REPLACE (CASE second("@timestamp") % 10 WHEN 3 THEN 'junk'
       |  WHEN 5 THEN '' WHEN 7 THEN 'NaN' ELSE printf('%.4f', F_DIEM2) END AS F_DIEM2)
       |  FROM enroll)""".stripMargin

  // The oracle's spelling of each rule, over the Spark names.
  private val lenientGradeSql = "CASE WHEN isnan(TRY_CAST(F_DIEM2 AS DOUBLE)) THEN NULL " +
    "ELSE TRY_CAST(F_DIEM2 AS DOUBLE) END"
  private val normSql: String = Enrich.stringCells.map(c => s"nullif($c, '') AS $c")
    .mkString("norm AS (SELECT * REPLACE (", ", ", ") FROM cells)")
  private val majorColsSql: String = {
    val guard = "F_TENLOP IS NOT NULL AND F_TENMHVN IS NOT NULL AND F_TENLOP LIKE"
    s"""CASE WHEN $guard 'FL%' THEN F_TENMHVN END AS NNA,
       |CASE WHEN $guard 'FL%' THEN F_DIEM2 END AS DIEM_NNA,
       |CASE WHEN $guard 'DI%' THEN F_TENMHVN END AS MMT,
       |CASE WHEN $guard 'DI%' THEN F_DIEM2 END AS DIEM_MMT""".stripMargin
  }
  private val docIdSql: String =
    """CASE WHEN F_MAMH IS NOT NULL AND F_MASV IS NOT NULL AND F_KHOAHOC IS NOT NULL
      |  THEN F_MAMH || '_' || F_MASV || '_' || F_KHOAHOC ||
      |    coalesce('_' || CAST(NHHK AS VARCHAR), '') END""".stripMargin

  /** l3's staged-and-compacted lineitem store, memoized per sf dir: the
    * fragment-then-compact side effect runs once per JVM however many times
    * the registered query is invoked (gate + bench), and the staged root is
    * deleted at exit. */
  private def l3CompactedStore(s: SparkSession, d: String): String = {
    val lineitem = Tables(s, d, "lineitem")
    graft.util.StageMemo(Some(d), "l3", lineitem) {
      val store = s"${graft.util.TempRoots.create("graft_l3_")}/store"
      lineitem.repartition(48).write.parquet(store)
      val (before, after) = Compact.compact(s, store, targetBytes = 64L << 20)
      require(after < before, s"compaction did not shrink: $before -> $after")
      store
    }
  }

  /** l4's staged VERSIONED store (same memoization + cleanup contract as
    * l3): fragment a copy of orders, adopt it into the versioned layout,
    * compact it TWICE — the second pass exercises the pointer re-flip and
    * the retention vacuum, not just the happy path. */
  private def l4VersionedStore(s: SparkSession, d: String): String = {
    val orders = Tables(s, d, "orders")
    graft.util.StageMemo(Some(d), "l4", orders) {
      val store = s"${graft.util.TempRoots.create("graft_l4_")}/store"
      orders.repartition(48).write.parquet(store)
      Compact.adopt(s, store)
      val (before, after) = Compact.compactVersioned(s, store, targetBytes = 64L << 20)
      require(after < before, s"versioned compaction did not shrink: $before -> $after")
      Compact.compactVersioned(s, store, targetBytes = 64L << 20)
      store
    }
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("flagship_progress")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- registry

  // private[graft] so SqlLintSpec can assert the registry's SHAPE invariants
  // (unique names, every query oracled) that the derived Maps silently mask.
  private[graft] lazy val registry: Seq[(String, Q, Option[String])] = Seq(

    // ---- S1/T12: tabular scan, blank-row filter, projection (pro.py:34-44)
    ("s1_scan_clean",
      (s, d) => Ingest.dropBlankRows(ev(s, d))
        .select("event_id", "user_id", "event_type", "value"),
      Some("""SELECT event_id, user_id, event_type, value FROM events
        |WHERE nullif(CAST(event_id AS VARCHAR), '') IS NOT NULL
        |   OR nullif(CAST(ts AS VARCHAR), '') IS NOT NULL
        |   OR nullif(CAST(user_id AS VARCHAR), '') IS NOT NULL
        |   OR nullif(event_type, '') IS NOT NULL
        |   OR nullif(CAST(value AS VARCHAR), '') IS NOT NULL
        |   OR nullif(props, '') IS NOT NULL""".stripMargin)),

    // ---- s7: one-pass table profile — the post-load data-quality audit
    // (row count, per-column nulls, min/max) as a single aggregation.
    ("s7_table_profile",
      (s, d) => Ingest.profile(ev(s, d)),
      Some("""SELECT count(*) AS n_rows,
        |CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_id,
        |min(event_id) AS min_event_id,
        |max(event_id) AS max_event_id,
        |CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ts,
        |min(ts) AS min_ts,
        |max(ts) AS max_ts,
        |CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
        |min(user_id) AS min_user_id,
        |max(user_id) AS max_user_id,
        |CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
        |min(event_type) AS min_event_type,
        |max(event_type) AS max_event_type,
        |CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
        |min(value) AS min_value,
        |max(value) AS max_value,
        |CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
        |min(props) AS min_props,
        |max(props) AS max_props FROM events""".stripMargin)),

    // ---- T1: content-hash duplicate groups (pro.py:29-32)
    ("t1_dedup_groups",
      (s, d) => Dedup.exactDedupGroups(docs(s, d), "text"),
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS rep_doc_id,
        |count(*) AS n_dups FROM documents GROUP BY md5(text)""".stripMargin)),

    // ---- T1: MD5 anti-join delta vs seen-hashes state (pro.py:46-55)
    ("t1_delta_antijoin",
      (s, d) => {
        val enr = shapedEnrollment(ev(s, d))
        val proj = Seq("F_TENLOP", "F_MASV", "NHHK").map(col)
        val seen = enr.filter(col("F_DVHT") <= 2.0).select(proj: _*)
        Ingest.deltaDedup(enr.select(proj: _*), seen.select(Ingest.rowHash(seen).as("row_hash")))
          .drop("row_hash")
      },
      Some(s"""$enrollSql
        |SELECT F_TENLOP, F_MASV, NHHK FROM enroll e WHERE NOT EXISTS (SELECT 1 FROM enroll s
        |  WHERE s.F_DVHT <= 2 AND s.F_TENLOP IS NOT DISTINCT FROM e.F_TENLOP
        |    AND s.F_MASV IS NOT DISTINCT FROM e.F_MASV AND s.NHHK IS NOT DISTINCT FROM e.NHHK)""".stripMargin)),

    // ---- T2: strict total ingest order (pro.py:27,70-73)
    ("t2_monotonic_seq",
      (s, d) => Ingest.monotonicTimestamp(
          ev(s, d).select("event_id", "ts"), Seq(col("ts"), col("event_id")))
        .select("event_id", "ingest_seq"),
      Some("""SELECT event_id,
        |CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) AS ingest_seq
        |FROM events""".stripMargin)),

    // ---- T3/T4: ''->null normalization + column reorder (pro.py:76-82)
    ("t3_null_normalize",
      (s, d) => Ingest.columnFirst(
        Ingest.normalizeEmpty(workbookCells(ev(s, d)), Enrich.stringCells), "@timestamp"),
      Some(s"$enrollSql, $normSql SELECT * FROM norm")),

    // ---- T5: epoch-ms <-> timestamp <-> formatted string (con.py:35-36)
    ("t5_epoch_iso",
      (s, d) => ev(s, d).select(
        col("event_id"),
        unix_millis(col("ts")).as("epoch_ms"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("iso_s"),
        to_date(col("ts")).as("day")),
      Some("""SELECT event_id, epoch_ms(ts) AS epoch_ms,
        |strftime(ts, '%Y-%m-%d %H:%M:%S') AS iso_s,
        |CAST(ts AS DATE) AS day FROM events""".stripMargin)),

    // ---- T6: lenient cast + invalid audit (con.py:39-43): typed rows, then the audit's
    ("t6_lenient_cast",
      (s, d) => {
        val cells = workbookCells(ev(s, d))
        Enrich.castGrade(cells).unionByName(
          Enrich.auditInvalid(cells).withColumnRenamed("F_DIEM2", "invalid_grade"),
          allowMissingColumns = true)
      },
      Some(s"""$enrollSql
        |SELECT * REPLACE ($lenientGradeSql AS F_DIEM2), NULL AS invalid_grade FROM cells
        |UNION ALL
        |SELECT * REPLACE (NULL AS F_DIEM2), F_DIEM2 AS invalid_grade FROM cells
        |WHERE F_DIEM2 IS NOT NULL AND $lenientGradeSql IS NULL""".stripMargin)),

    // ---- T7: conditional enrichment by class prefix (con.py:46-52)
    ("t7_conditional_enrich",
      (s, d) => Enrich.enrichMajorColumns(shapedEnrollment(ev(s, d))),
      Some(s"$enrollSql SELECT *, $majorColsSql FROM enroll")),

    // ---- T8: composite key with fallback + rejection (con.py:23-30): keyed rows, then rejects
    ("t8_composite_key",
      (s, d) => {
        val keyed = Enrich.compositeKey(shapedEnrollment(ev(s, d)))
        keyed.withColumn("side", lit("keyed"))
          .union(Enrich.rejected(keyed).withColumn("side", lit("rejected")))
      },
      Some(s"""$enrollSql, keyed AS (SELECT *, $docIdSql AS doc_id FROM enroll)
        |SELECT *, 'keyed' AS side FROM keyed
        |UNION ALL SELECT *, 'rejected' FROM keyed WHERE doc_id IS NULL""".stripMargin)),

    // ---- T9: the whole consumer chain (con.py:33-63), ending in daily
    // partition routing (con.py:58) and the null-key filter
    ("t9_partition_route",
      (s, d) => Enrich.consumerPipeline(workbookCells(ev(s, d))),
      Some(s"""$enrollSql, $normSql,
        |graded AS (SELECT * REPLACE ($lenientGradeSql AS F_DIEM2) FROM norm)
        |SELECT *, $majorColsSql, $docIdSql AS doc_id,
        |  CAST("@timestamp" AS DATE) AS ingest_date
        |FROM graded WHERE ($docIdSql) IS NOT NULL""".stripMargin)),

    // ---- T10: point lookup (app.py:60-67)
    ("t10_point_lookup",
      (s, d) => ev(s, d).filter(col("user_id") === 12)
        .select("event_id", "ts", "event_type", "value"),
      Some("SELECT event_id, ts, event_type, value FROM events WHERE user_id = 12")),

    // ---- T11: deterministic top-k limit (app.py:66)
    ("t11_topk",
      (s, d) => ev(s, d).orderBy(col("ts").desc, col("event_id").asc)
        .limit(1000).select("event_id", "ts", "value"),
      Some("""SELECT event_id, ts, value FROM events
        |ORDER BY ts DESC, event_id LIMIT 1000""".stripMargin)),

    // ---- T14/T15: compound predicate + exclusion filters (app.py:128,131)
    ("t14_t15_filters",
      (s, d) => shapedEnrollment(ev(s, d))
        .filter(Progress.gpaEligible(EventsAdapter.ExcludedSemester)),
      Some(s"$enrollSql SELECT $enrollCols FROM mapped WHERE ${EventsAdapter.gpaEligibleSql}")),

    // ---- T16: 10-scale -> 4-scale banding ladder (app.py:39-55)
    ("t16_grade_band",
      (s, d) => ev(s, d).select(
        col("event_id"),
        (col("value") / 50.0).as("grade10"),
        GradeScale.grade4(col("value") / 50.0).as("grade4")),
      Some(s"""SELECT event_id, value/50.0 AS grade10,
        |${GradeScale.grade4Sql("(value/50.0)")} AS grade4 FROM events""".stripMargin)),

    // ---- T16 via the native codegen Expression (same ladder; certifies the
    // custom-Expression surface in the gate)
    ("t16_grade_band_native",
      (s, d) => ev(s, d).select(col("event_id"),
        Bridge.column(GradeScale4(Bridge.expression(col("value") / 50.0)))
          .as("grade4")),
      Some(s"""SELECT event_id, ${GradeScale.grade4Sql("(value/50.0)")} AS grade4
        |FROM events""".stripMargin)),

    // ---- T16 through the SparkSessionExtensions-injected SQL function —
    // the same native expression reached from pure SQL text (the session is
    // built with spark.sql.extensions=graft.plans.GraftExtensions), third
    // certification of the ladder through the third API surface.
    ("t16_grade_band_ext",
      (s, d) => {
        ev(s, d).createOrReplaceTempView("events_v")
        s.sql(t16ExtSql)
      },
      Some(s"""SELECT event_id, ${GradeScale.grade4Sql("(value/50.0)")} AS grade4
        |FROM events""".stripMargin)),

    // ---- T17: substring year/semester split (app.py:181-182)
    ("t17_substr_split",
      (s, d) => ev(s, d).select(
        col("event_id"),
        date_format(col("ts"), "yyyyMM").as("nhhk_str"),
        substring(date_format(col("ts"), "yyyyMM"), 1, 4).cast("int").as("nam_hoc"),
        substring(date_format(col("ts"), "yyyyMM"), 5, 2).cast("int").as("hoc_ky")),
      Some("""SELECT event_id, strftime(ts, '%Y%m') AS nhhk_str,
        |CAST(substr(strftime(ts, '%Y%m'), 1, 4) AS INT) AS nam_hoc,
        |CAST(substr(strftime(ts, '%Y%m'), 5, 2) AS INT) AS hoc_ky FROM events""".stripMargin)),

    // ---- T18: broadcast dimension joins (app.py:15-36,86,100-101)
    ("t18_dim_join",
      (s, d) => Tables(s, d, "customer")
        .join(broadcast(Tables(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        // determinism: acctbal has 2 decimals — sum exact integer cents,
        // de-scale after, so the total survives any partitioning order
        .agg(count(lit(1)).as("n_cust"),
          (sum(round(col("c_acctbal") * 100).cast("long")) / 100.0)
            .as("total_bal")),
      Some("""SELECT r_name, n_name, count(*) AS n_cust,
        |sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0 AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin)),

    // ---- §2.4: large-side shuffle join + aggregation.
    // Revenue sums exact integer cents (price and discount both have 2
    // decimals) so the result is independent of partitioning / summation
    // order — a double sum here hash-mismatched the oracle in round 1.
    ("join_shuffle_agg",
      (s, d) => {
        val cents = round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))
        Tables(s, d, "orders")
          .join(Tables(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderpriority")
          .agg(countDistinct(col("o_orderkey")).as("n_orders"),
            (sum(cents) / 10000.0).as("revenue"))
      },
      Some("""SELECT o_orderpriority, count(DISTINCT o_orderkey) AS n_orders,
        |sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin)),

    // ---- §2.4: semi join (EXISTS)
    ("join_semi",
      (s, d) => {
        val o = Tables(s, d, "orders")
        val li = Tables(s, d, "lineitem").filter(col("l_returnflag") === "R")
        o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
          .groupBy("o_orderstatus").count()
      },
      Some("""SELECT o_orderstatus, count(*) AS count FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderstatus""".stripMargin)),

    // ---- §2.4: anti join (NOT EXISTS — the T1 diff's relational core)
    ("join_anti",
      (s, d) => {
        val c = Tables(s, d, "customer")
        val o = Tables(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
      },
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    // ---- §2.4: set ops (EXCEPT)
    ("setop_except",
      (s, d) => {
        val e = ev(s, d)
        val a = e.filter(col("event_type") === "signup")
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val b = e.filter(col("event_type") === "error")
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        a.except(b)
      },
      Some("""SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |WHERE event_type = 'signup'
        |EXCEPT
        |SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |WHERE event_type = 'error'""".stripMargin)),

    ("setop_intersect",
      (s, d) => {
        val e = ev(s, d)
        val a = e.filter(col("event_type") === "signup")
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val b = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        a.intersect(b)
      },
      Some("""SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |WHERE event_type = 'signup'
        |INTERSECT
        |SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |WHERE event_type = 'purchase'""".stripMargin)),

    // ---- sql surface: ONE SQL text run verbatim by spark.sql AND by the
    // DuckDB oracle — certifies the spark.sql entry point with zero-drift
    // parity (the string below IS the oracle; nothing is translated).
    ("sql_pricing_summary",
      (s, d) => {
        Tables(s, d, "lineitem").createOrReplaceTempView("lineitem")
        s.sql(pricingSummarySql)
      },
      Some(pricingSummarySql)),

    // ---- A1: weighted average with zero-denominator guard (app.py:137-144).
    // Determinism: price scaled to integer cents BEFORE the sum, so the
    // weighted numerator is an order-independent long sum (a raw double
    // sum(price*qty) drifts with partitioning); the two divisions afterwards
    // are a fixed expression tree identical in both engines. sum_qty is an
    // exact double (l_quantity is integer-valued) so it needs no scaling.
    ("a1_weighted_gpa",
      (s, d) => Tables(s, d, "lineitem").groupBy("l_returnflag").agg(
        sum(col("l_quantity")).as("sum_qty"),
        when(sum(col("l_quantity")) > 0,
          sum(round(col("l_extendedprice") * 100).cast("long") *
              col("l_quantity").cast("long")) / 100.0 / sum(col("l_quantity")))
          .otherwise(0.0).as("wavg_price")),
      Some("""SELECT l_returnflag, sum(l_quantity) AS sum_qty,
        |CASE WHEN sum(l_quantity) > 0
        |     THEN sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |              * CAST(l_quantity AS BIGINT)) / 100.0 / sum(l_quantity)
        |     ELSE 0.0 END AS wavg_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- A1 via the typed Aggregator (same semantics as the expression
    // form above; certifies the custom-UDAF surface in the gate).
    // Determinism: the Aggregator is fed integer-cent values (exact
    // doubles), so its internal Σwx / Σw state holds exact integers in
    // any merge order; the /100.0 de-scale happens after the aggregate.
    ("a1_weighted_gpa_typed",
      (s, d) => {
        val wm = udaf(new graft.functions.WeightedMean(),
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaDouble,
            org.apache.spark.sql.Encoders.scalaDouble))
        Tables(s, d, "lineitem").groupBy("l_returnflag")
          .agg((wm(round(col("l_extendedprice") * 100), col("l_quantity")) / 100.0)
            .as("wavg_price"))
      },
      Some("""SELECT l_returnflag,
        |CASE WHEN sum(l_quantity) > 0
        |     THEN sum(round(l_extendedprice * 100) * l_quantity)
        |          / sum(l_quantity) / 100.0
        |     ELSE 0.0 END AS wavg_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- A2: existential aggregate -> major classification (app.py:90-98)
    ("a2_exists_major",
      (s, d) => ev(s, d).groupBy("user_id").agg(
        max(when(col("event_type").startsWith("p"), 1).otherwise(0)).as("any_di"),
        max(when(col("event_type").startsWith("s"), 1).otherwise(0)).as("any_fl"))
        .select(col("user_id"),
          when(col("any_di") === 1, "MMT")
            .when(col("any_fl") === 1, "NNA")
            .otherwise("Chưa xác định").as("major")),
      Some("""SELECT user_id,
        |CASE WHEN max(CASE WHEN event_type LIKE 'p%' THEN 1 ELSE 0 END) = 1 THEN 'MMT'
        |     WHEN max(CASE WHEN event_type LIKE 's%' THEN 1 ELSE 0 END) = 1 THEN 'NNA'
        |     ELSE 'Chưa xác định' END AS major
        |FROM events GROUP BY user_id""".stripMargin)),

    // ---- A3: first-value pick, pinned deterministic (app.py:108)
    ("a3_latest_value",
      (s, d) => Upsert.latestByKey(ev(s, d), Seq("user_id"), "ts", "event_id")
        .select(col("user_id"), col("value").as("last_value"),
          col("event_id").as("last_event_id")),
      Some("""SELECT user_id, value AS last_value, event_id AS last_event_id
        |FROM (SELECT user_id, value, event_id,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin)),

    // ---- A4: counts (app.py:75)
    ("a4_counts",
      (s, d) => ev(s, d).groupBy("event_type").agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users")),
      Some("""SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin)),

    // ---- A5: score histogram (Kibana layer, README.md:25-27)
    ("a5_histogram",
      (s, d) => Dashboards.histogram(ev(s, d), "value", 20.0),
      Some("""SELECT floor(value/20.0)*20.0 AS bin_lo, count(*) AS n
        |FROM events WHERE value IS NOT NULL GROUP BY floor(value/20.0)*20.0""".stripMargin)),

    // ---- A5: date histogram / trend
    ("a5_date_histogram",
      (s, d) => Dashboards.dateHistogram(ev(s, d), "ts", "value"),
      Some("""SELECT CAST(ts AS DATE) AS day, count(*) AS n,
        |sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total,
        |sum(CAST(round(value * 100) AS BIGINT)) / 100.0 / count(*) AS mean,
        |min(value) AS lo, max(value) AS hi
        |FROM events GROUP BY CAST(ts AS DATE)""".stripMargin)),

    // ---- A5: event-time tumbling window (batch form of the streaming
    // windowed agg; 6h buckets are epoch-aligned in both engines)
    ("a5_window_tumble",
      (s, d) => ev(s, d).groupBy(window(col("ts"), "6 hours"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")) / 100.0 / count(lit(1)))
            .as("mean"))
        .select(col("window.start").as("bucket_start"), col("n"), col("mean")),
      Some("""SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket_start,
        |count(*) AS n,
        |sum(CAST(round(value * 100) AS BIGINT)) / 100.0 / count(*) AS mean
        |FROM events GROUP BY 1""".stripMargin)),

    // ---- a5 sliding window: 6h windows every 3h — each event lands in
    // exactly size/slide windows. Spark's window(ts, size, slide) replicates
    // rows map-side then aggregates; the oracle builds the same two window
    // starts per event with an unnest.
    ("a5_window_slide",
      (s, d) => ev(s, d).groupBy(window(col("ts"), "6 hours", "3 hours"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")) / 100.0 / count(lit(1)))
            .as("mean"))
        .select(col("window.start").as("w_start"),
          col("window.end").as("w_end"), col("n"), col("mean")),
      Some("""WITH w AS (
        |  SELECT time_bucket(INTERVAL '3 hours', ts)
        |           - CAST(k AS INT) * INTERVAL '3 hours' AS w_start, value
        |  FROM events, unnest([0, 1]) AS t(k))
        |SELECT w_start, w_start + INTERVAL '6 hours' AS w_end,
        |  count(*) AS n,
        |  sum(CAST(round(value * 100) AS BIGINT)) / 100.0 / count(*) AS mean
        |FROM w GROUP BY 1""".stripMargin)),

    // ---- A5: per-group stats with exact distinct entities
    ("a5_group_stats",
      (s, d) => Dashboards.groupStats(
        ev(s, d).withColumn("day", to_date(col("ts"))),
        Seq("event_type", "day"), "value", "user_id"),
      Some("""SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
        |sum(CAST(round(value * 100) AS BIGINT)) / 100.0 / count(*) AS mean,
        |count(DISTINCT user_id) AS n_entities
        |FROM events GROUP BY event_type, CAST(ts AS DATE)""".stripMargin)),

    // ---- A5: top-k per group via Misra-Gries TypedImperativeAggregate.
    // capacity (64) > distinct event types, so sketch counts are exact and
    // the plain GROUP BY oracle reproduces them.
    ("a5_topk_sketch",
      (s, d) => {
        graft.functions.TopKSketch.register(s)
        val w = Window.partitionBy("day").orderBy(col("n").desc, col("etype").asc)
        ev(s, d).withColumn("day", to_date(col("ts")))
          .groupBy("day").agg(expr("topk_sketch(event_type, 64)").as("tk"))
          .select(col("day"), explode(col("tk")).as(Seq("etype", "n")))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
      },
      Some("""SELECT day, etype, n, CAST(rnk AS INT) AS rnk FROM (
        |  SELECT CAST(ts AS DATE) AS day, event_type AS etype, count(*) AS n,
        |    row_number() OVER (PARTITION BY CAST(ts AS DATE)
        |                       ORDER BY count(*) DESC, event_type) AS rnk
        |  FROM events GROUP BY 1, 2) WHERE rnk <= 3""".stripMargin)),

    // ---- A5: pivoted daily counts (wide dashboard table)
    ("a5_pivot_daily",
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val p = ev(s, d).withColumn("day", to_date(col("ts")))
          .groupBy("day").pivot("event_type", types).agg(count(lit(1)))
        p.select((col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(t))): _*)
      },
      Some("""SELECT CAST(ts AS DATE) AS day,
        |count(*) FILTER (event_type = 'click') AS click,
        |count(*) FILTER (event_type = 'error') AS error,
        |count(*) FILTER (event_type = 'purchase') AS purchase,
        |count(*) FILTER (event_type = 'signup') AS signup,
        |count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1""".stripMargin)),

    // ---- a5 unpivot (melt): the wide pivot frame back to long form — the
    // pivot/unpivot pair certifies as a ROUND-TRIP: the oracle is just the
    // plain long-form aggregate, so pivot ∘ unpivot must be the identity
    // (modulo the never-happened day×type combos both engines drop).
    ("a5_unpivot_roundtrip",
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val p = ev(s, d).withColumn("day", to_date(col("ts")))
          .groupBy("day").pivot("event_type", types).agg(count(lit(1)))
        p.unpivot(Array(col("day")), types.map(col).toArray, "event_type", "n")
          .filter(col("n").isNotNull)
      },
      Some("""SELECT CAST(ts AS DATE) AS day, event_type,
        |count(*) AS n FROM events GROUP BY 1, 2""".stripMargin)),

    // ---- A5: exact interpolated percentiles
    ("a5_percentiles",
      (s, d) => ev(s, d).groupBy("event_type").agg(
        percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.9)).as("p90"),
        percentile(col("value"), lit(0.99)).as("p99")),
      Some("""SELECT event_type, quantile_cont(value, 0.5) AS p50,
        |quantile_cont(value, 0.9) AS p90, quantile_cont(value, 0.99) AS p99
        |FROM events GROUP BY event_type""".stripMargin)),

    // ---- a8: winsorization — clip values to per-group exact [p05, p95];
    // |groups|-row bounds aggregate broadcast back, map-only clip.
    ("a8_winsorize",
      (s, d) => Dashboards.winsorize(ev(s, d), Seq("event_type"), "value", 0.05, 0.95)
        .select("event_id", "event_type", "value", "value_w"),
      Some("""WITH b AS (
        |  SELECT event_type, quantile_cont(value, 0.05) AS lo,
        |    quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |  least(greatest(e.value, b.lo), b.hi) AS value_w
        |FROM events e JOIN b USING (event_type)""".stripMargin)),

    // ---- a9: trailing-window z-score anomaly flags over the daily event
    // series — exact BIGINT window sums feed one fixed double expression,
    // so the score is bit-stable across engines.
    ("a9_anomaly_days",
      (s, d) => Dashboards.anomalyDays(ev(s, d), "ts", window = 7, zThreshold = 2.0),
      Some(Dashboards.anomalyDaysSql("events", "ts", window = 7, zThreshold = 2.0))),

    // ---- A5 sketch form: mergeable quantile summary (Greenwald-Khanna) —
    // the 100 TB default; the exact form above is the audit path. Sketch
    // internals aren't engine-portable, so the ORACLE gates the sketch's
    // CONTRACT instead: the GK estimate's true rank (recomputed exactly in
    // the same query) must sit within the published n/accuracy bound of the
    // target rank, emitted as a boolean the oracle expects to be `true`.
    // The emitted percentiles are the exact ones, so the hash is
    // deterministic; a sketch past its bound flips approx_ok and fails the
    // gate. ApproxBoundSpec keeps the standalone rank-error property test.
    ("a5_percentiles_approx",
      (s, d) => Dashboards.percentilesApproxGated(
        ev(s, d), "event_type", "value", Seq(0.5, 0.9, 0.99), accuracy = 1000),
      Some("""SELECT event_type, quantile_cont(value, 0.5) AS p50,
        |quantile_cont(value, 0.9) AS p90, quantile_cont(value, 0.99) AS p99,
        |true AS approx_ok
        |FROM events GROUP BY event_type""".stripMargin)),

    // ---- A5 sketch form: HLL++ distinct, oracle-gated the same way — the
    // estimate is checked against the exact count at 5·rsd inside the query
    // and only the exact count + check boolean are emitted.
    ("a5_group_stats_approx",
      (s, d) => Dashboards.groupStatsApproxGated(
        ev(s, d).withColumn("day", to_date(col("ts"))),
        Seq("event_type", "day"), "value", "user_id"),
      Some("""SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
        |sum(CAST(round(value * 100) AS BIGINT)) / 100.0 / count(*) AS mean,
        |count(DISTINCT user_id) AS n_entities, true AS approx_ok
        |FROM events GROUP BY event_type, CAST(ts AS DATE)""".stripMargin)),

    // ---- sessionization: gap-based session ids per user (30-min gap) —
    // lag + conditional cumulative sum, one shuffle on the user key.
    ("w_sessionize",
      (s, d) => {
        val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val gapS = 1800L
        val prev = lag(unix_micros(col("ts")), 1).over(byUser)
        val isNew = when(prev.isNull ||
          unix_micros(col("ts")) - prev > gapS * 1000000L, 1L).otherwise(0L)
        ev(s, d).select(col("user_id"), col("event_id"), col("ts"),
          sum(isNew).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("session_id"))
      },
      Some("""SELECT user_id, event_id, ts,
        |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |       AS BIGINT) AS session_id
        |FROM (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts))
        |              OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events)""".stripMargin)),

    // ---- §2.4: window function (running aggregate)
    // ---- w_topn_group: grouped top-n — the per-entity leaderboard shape.
    // Spark plans the rank filter as WindowGroupLimit (per-partition
    // top-n heaps BEFORE the shuffle), so only n rows per (partition,
    // group) reach the exchange — pinned in PlanChecksSpec.
    ("w_topn_group",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("value").desc, col("event_id").asc)
        ev(s, d).select(col("user_id"), col("event_id"), col("value"),
            row_number().over(w).cast("int").as("rn"))
          .filter(col("rn") <= 3)
      },
      Some("""SELECT user_id, event_id, value, rn FROM (
        |  SELECT user_id, event_id, value,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS INT) AS rn
        |  FROM events) WHERE rn <= 3""".stripMargin)),

    ("w_running_sum",
      (s, d) => ev(s, d).select(
        col("user_id"), col("event_id"),
        sum(col("value")).over(
          Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("running_total")),
      Some("""SELECT user_id, event_id,
        |sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_total
        |FROM events""".stripMargin)),

    // ---- §2.4: event-time RANGE window — a 1-hour sliding frame per user
    // (rows vs range is a real semantic difference: peers at the same
    // timestamp enter together, and gaps shrink the frame). Spark orders by
    // unix_micros so the [-1h, now] bounds are exact micro arithmetic,
    // matching DuckDB's INTERVAL frame bit-for-bit; sums are integer cents.
    ("w_range_window",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
          .rangeBetween(-3600000000L, 0)
        ev(s, d).select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_1h"),
          sum(round(col("value") * 100).cast("long")).over(w).as("cents_1h"))
      },
      Some("""SELECT user_id, event_id,
        |count(*) OVER w AS n_1h,
        |CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS cents_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- j1: semi-structured JSON extraction — the events.props payload
    // parsed in place (no staging table, no UDF); the reference's JSON
    // round-trip (S3/S4) covers whole records, this covers field access.
    ("j1_json_extract",
      (s, d) => ev(s, d).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
        .filter(col("k").isNotNull),
      Some("""SELECT event_id, CAST(props->>'k' AS INT) AS k
        |FROM events WHERE props->>'k' IS NOT NULL""".stripMargin)),

    // ---- §2.4: offset + bucketing window functions (lag delta, ntile)
    ("w_lag_ntile",
      (s, d) => {
        val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        ev(s, d).select(col("user_id"), col("event_id"),
          (col("value") - lag(col("value"), 1).over(byUser)).as("delta"),
          ntile(4).over(byUser).cast("int").as("quartile"))
      },
      Some("""SELECT user_id, event_id,
        |  value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta,
        |  CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS quartile
        |FROM events""".stripMargin)),

    // ---- w_pctrank: distribution-position windows — percent_rank and
    // cume_dist per event_type; tie groups share a value, so the output is
    // deterministic under duplicate values. Rank arithmetic is exact
    // (rank-1)/(n-1) IEEE division in both engines.
    ("w_pctrank",
      (s, d) => {
        val byType = Window.partitionBy("event_type")
          .orderBy(col("value"), col("event_id"))
        ev(s, d).select(col("event_id"), col("event_type"), col("value"),
          percent_rank().over(byType).as("pct_rank"),
          cume_dist().over(byType).as("cume"))
      },
      Some("""SELECT event_id, event_type, value,
        |  percent_rank() OVER (PARTITION BY event_type ORDER BY value, event_id)
        |    AS pct_rank,
        |  cume_dist() OVER (PARTITION BY event_type ORDER BY value, event_id)
        |    AS cume
        |FROM events""".stripMargin)),

    // ---- a6: strict ordered funnel (view → click → purchase). The Spark
    // side is ONE shuffle (per-user greedy fold over time-sorted events);
    // the oracle states the equivalent min-timestamp chain.
    ("a6_funnel",
      (s, d) => graft.ops.Funnels.funnel(ev(s, d), Seq("view", "click", "purchase")),
      Some("""WITH a AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |b AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN a ON e.user_id = a.user_id
        |  WHERE e.event_type = 'click' AND e.ts > a.t1 GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN b ON e.user_id = b.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > b.t2 GROUP BY 1)
        |SELECT CAST(1 AS INT) AS step, 'view' AS step_name, (SELECT count(*) FROM a) AS users
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click', (SELECT count(*) FROM b)
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase', (SELECT count(*) FROM c)""".stripMargin)),

    // ---- a7: cohort retention — cohort = first event date per user,
    // retained at offset d if any event lands exactly d days later.
    ("a7_retention",
      (s, d) => graft.ops.Funnels.retention(ev(s, d), maxDays = 30),
      Some("""WITH f AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date FROM events GROUP BY 1)
        |SELECT f.cohort_date,
        |  CAST(datediff('day', f.cohort_date, CAST(e.ts AS DATE)) AS INT) AS day_offset,
        |  count(DISTINCT e.user_id) AS users
        |FROM events e JOIN f ON e.user_id = f.user_id
        |WHERE datediff('day', f.cohort_date, CAST(e.ts AS DATE)) BETWEEN 0 AND 30
        |GROUP BY 1, 2""".stripMargin)),

    // ---- §2.4: rollup aggregation
    ("rollup_agg",
      (s, d) => Tables(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n")),
      Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |count(*) AS n FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    // ---- arbitrary GROUPING SETS — the general form rollup/cube
    // specialize; one Expand pass, one shuffle, same as cube.
    ("gsets_agg",
      (s, d) => {
        Tables(s, d, "lineitem").createOrReplaceTempView("__li")
        s.sql(gsetsSparkSql)
      },
      Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |count(*) AS n FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin)),

    // ---- skew: salted two-phase aggregation — same answer as a plain
    // groupBy (sum/count are merge-associative), but a hot key fans out over
    // `buckets` reducers instead of one. Summed as integer cents so the
    // result is independent of the partial-combine order (the salt
    // deliberately randomizes that order — a double sum would not be
    // bitwise-stable against the oracle's sequential sum).
    ("skew_salted_agg",
      (s, d) => graft.ops.Skew.saltedSum(
          ev(s, d).withColumn("value_c", round(col("value") * 100).cast("long")),
          Seq("event_type"), "value_c")
        .select(col("event_type"), (col("sum_value_c") / 100.0).as("sum_value"), col("n")),
      Some("""SELECT event_type,
        |sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value,
        |count(*) AS n FROM events GROUP BY event_type""".stripMargin)),

    // ---- as-of join: for each purchase, the user's latest view at or
    // before it (union + one keyed window pass; DuckDB's native ASOF JOIN
    // is the oracle). Right side pre-arbitrated unique per (user, ts).
    ("join_asof",
      (s, d) => {
        val e = ev(s, d)
        val views = e.filter(col("event_type") === "view")
          .groupBy("user_id", "ts").agg(max(col("event_id")).as("view_event"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        graft.ops.AsOfJoin.asOf(purchases, views, Seq("user_id"), "ts", "ts",
          Seq("view_event"))
      },
      Some("""WITH v AS (SELECT user_id, ts, max(event_id) AS view_event
        |            FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, p.event_id, p.ts, v.view_event
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin)),

    // ---- §2.4: cube aggregation (all grouping-set combinations)
    ("cube_agg",
      (s, d) => Tables(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n")),
      Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |count(*) AS n FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin)),

    // ---- S5: keyed last-write-wins upsert arbitration (con.py:55-63)
    ("s5_upsert_latest",
      (s, d) => Upsert.latestByKey(ev(s, d), Seq("user_id", "event_type"), "ts", "event_id")
        .select("user_id", "event_type", "ts", "value"),
      Some("""SELECT user_id, event_type, ts, value
        |FROM (SELECT user_id, event_type, ts, value,
        |        row_number() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin)),

    // ---- S5: schema evolution under the oracle gate — the ES DYNAMIC
    // MAPPING twin (con.py:58-63: es.index auto-adds unseen fields to the
    // daily index; older docs simply lack them). Even-event_id half merged
    // under the original schema, odd half with a new `src` column under
    // allowSchemaEvolution=true; the settled store equals the one-shot
    // latest-wins arbitration with src populated exactly where the winner
    // traveled in the evolved batch.
    ("s5_schema_evolution",
      (s, d) => Upsert.schemaEvolutionReplay(s, ev(s, d)),
      Some("""SELECT user_id, CAST(ts AS DATE) AS ingest_date, event_id,
        |  event_type, value, ts,
        |  CASE WHEN abs(event_id % 2) = 1 THEN 'b2' END AS src
        |FROM (SELECT user_id, event_id, event_type, value, ts,
        |        row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                           ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin)),

    // ---- S2+S5 (§2.5): the streaming pipeline itself under the oracle gate —
    // events staged as 4 files, streamed through the REAL file source one
    // micro-batch per file, foreachBatch-merged into a date-partitioned
    // store keyed (user, day). The settled table must equal the one-shot
    // batch arbitration regardless of the batch cut (latest-wins is
    // commutative/associative across batches; the partition column is a
    // function of the key, so no stale winner survives in an untouched
    // partition).
    ("s2_stream_replay_upsert",
      (s, d) => graft.streaming.Pipeline.replayUpsertDaily(s, ev(s, d),
        stageKey = Some(d)),
      Some(upsertDailyOracle)),

    // ---- §2.5 checkpoint RECOVERY under the oracle gate (r12 verdict #6):
    // same pipeline, but the first query crashes INSIDE foreachBatch after
    // batch 2's sink write and before its offset commit — the worst-case
    // failure point. A second query reopens the checkpoint, replays the
    // unacknowledged batch (at-least-once), and the idempotent latest-wins
    // merge absorbs the duplicate — so the settled table must STILL equal
    // the one-shot batch arbitration: exactly-once recovery semantics
    // certified end-to-end, same oracle as the steady-state replay.
    ("s2_restart_replay",
      (s, d) => graft.streaming.Pipeline.replayUpsertDaily(s, ev(s, d),
        killAfterBatches = 2, stageKey = Some(d)),
      Some(upsertDailyOracle)),

    // ---- S2 LITERAL-EXCEL leg (r14 verdict #3): the reference's watcher
    // fires on `.xlsx` files specifically (pro.py:96-108). Real workbooks
    // staged one per micro-batch through readStream.format("xlsx") — the
    // source's own MicroBatchStream with seen-file offsets in the
    // checkpoint — landed via the idempotent per-batchId sink and settled.
    // Oracle: the plain batch projection (stringified, matching the
    // xlsx contract that every cell reads as string).
    ("s2_xlsx_stream_replay",
      (s, d) => graft.streaming.Pipeline.replayXlsxStream(s,
        Tables(s, d, "customer"), stageKey = Some(d)),
      Some(xlsxReplayOracle)),

    // ---- crash twin (8th member of the restart family): the first query
    // dies after a workbook's sink write lands and before its offset
    // commits; recovery reopens the checkpoint — the custom source's
    // deserializeOffset + seen-file diff under test — and the idempotent
    // per-batchId sink absorbs the replayed workbook. Same oracle.
    ("s2_xlsx_restart_replay",
      (s, d) => graft.streaming.Pipeline.replayXlsxStream(s,
        Tables(s, d, "customer"), killAfterBatches = 2, stageKey = Some(d)),
      Some(xlsxReplayOracle)),

    // ---- T1 (§2.5): the watermarked STREAMING dedup under the oracle gate —
    // dropDuplicatesWithinWatermark over a 4-file replay of the corpus; the
    // emitted set is exactly one row per distinct content hash for any batch
    // cut (horizon >> corpus time span, and only hash-determined columns are
    // emitted). Oracle is the plain batch DISTINCT.
    ("t1_stream_dedup_replay",
      (s, d) => graft.streaming.Pipeline.replayStreamDedup(s, docs(s, d),
        stageKey = Some(d)),
      Some(streamDedupOracle)),

    // ---- §2.5 stateful aggregation under the oracle gate: the flagship GPA
    // as keyed streaming state (mapGroupsWithState) over a 4-file replay;
    // final state per student arbitrated by the strictly-increasing rows-seen
    // counter. Bit-deterministic for any batch cut (quality points are
    // quarter-steps × integer credits — every partial sum exactly
    // representable, so the fold order cannot matter); oracle is the
    // one-shot batch aggregate with the same ladder and eligibility.
    ("gpa_stream_replay",
      (s, d) => graft.streaming.Pipeline.replayStatefulGpa(s, ev(s, d),
        EventsAdapter.ExcludedSemester, stageKey = Some(d)),
      Some(gpaReplayOracle)),

    // ---- §2.5 STATE-STORE recovery under the oracle gate — the keyed-state
    // twin of s2_restart_replay: the stateful GPA query crashes after batch
    // 2's state commit + sink append and before its offset commit, then a
    // second query reopens the checkpoint. Replaying the unacknowledged
    // batch must load the PRE-batch state version (a resume from the
    // post-batch version would double-fold every touched student and fail
    // the hash gate); the duplicate sink append is absorbed by the
    // rows-seen arbitration. Oracle: the same one-shot batch aggregate as
    // the steady-state replay.
    ("gpa_restart_replay",
      (s, d) => graft.streaming.Pipeline.replayStatefulGpa(s, ev(s, d),
        EventsAdapter.ExcludedSemester, killAfterBatches = 2, stageKey = Some(d)),
      Some(gpaReplayOracle)),

    // ---- §2.5 event-time TIMERS under the oracle gate: SessionTimeout
    // (transformWithState, one summary per watermark-proven closed session)
    // replayed over time-ordered staged files with a sentinel watermark
    // push, so every real session closes and the oracle is the PLAIN batch
    // gap-island sessionization (same strict-> 30-min gap as w_sessionize,
    // ms precision, integer-cents totals). The last §2.5 leg promoted from
    // sbt-only coverage into the cross-engine gate.
    // ---- §2.5 TIMER-state recovery under the oracle gate — the third state
    // shape (after s2's offsets+sink and gpa's keyed accumulators):
    // transformWithState session accumulators PLUS their registered
    // event-time close timers, in the RocksDB provider. Crash after batch
    // 2's RocksDB commit + sink append, before offset commit; the reopened
    // query must restore state AND timers or watermark-fired session closes
    // go missing and the hash gate fails. Re-appended summaries absorbed by
    // (user_id, start_ms) dedup. Oracle: the steady replay's batch
    // sessionization.
    ("sess_restart_replay",
      (s, d) => graft.streaming.Pipeline.replaySessionSummaries(s,
        ev(s, d), killAfterBatches = 2, stageKey = Some(d)),
      Some(sessReplayOracle)),

    ("sess_stream_replay",
      (s, d) => graft.streaming.Pipeline.replaySessionSummaries(s, ev(s, d),
        stageKey = Some(d)),
      Some(sessReplayOracle)),

    // ---- §2.5 STREAM-STREAM interval join under the oracle gate: view/click
    // and purchase events replayed as two separate file-source streams (one
    // micro-batch per staged file each), inner-joined on user within a
    // 30-minute event-time window via the REAL stream-stream join operator.
    // Watermark derived from the corpus span means no state eviction before
    // the drain, so the emitted pair set equals the batch theta-join for any
    // batch cut or interleaving (each pair emits exactly once, when the
    // later side arrives). Bounded-state eviction under a tight watermark
    // is StreamingSpec's horizon test — deliberately NOT replayed here,
    // where it would make output depend on batch timing.
    ("ssjoin_stream_replay",
      (s, d) => graft.streaming.Pipeline.replayIntervalJoin(s, ev(s, d),
        stageKey = Some(d)),
      Some(ssjoinReplayOracle)),

    // ---- §2.5 JOIN-BUFFER recovery under the gate — the fourth and last
    // state class (after s2 offsets, gpa keyed accumulators, sess timers):
    // the stream-stream interval join's symmetric unmatched-row buffers,
    // crash-recovered mid-corpus. Lost buffers drop straddling pairs; a
    // post-batch resume double-inserts the replayed rows; either fails the
    // hash gate. Re-emitted pairs absorbed by (l_id, r_id) dedup. Oracle:
    // the steady replay's batch theta-join.
    ("ssjoin_restart_replay",
      (s, d) => graft.streaming.Pipeline.replayIntervalJoin(s, ev(s, d),
        killAfterBatches = 1, stageKey = Some(d)),
      Some(ssjoinReplayOracle)),

    // ---- §2.5 stream-stream LEFT-OUTER interval join under the gate: the
    // did-NOT-convert leg. Null rows are emitted by WATERMARK-PROVEN state
    // eviction (not data arrival) — the one streaming semantic the inner
    // replay can't reach; sentinel files staged mtime-last push the final
    // watermark past every real left row's eviction bound so each
    // never-matched view/click emits its (left, null) exactly once.
    ("ssjoin_outer_replay",
      (s, d) => graft.streaming.Pipeline.replayIntervalJoinOuter(s, ev(s, d),
        stageKey = Some(d)),
      Some(ssjoinOuterReplayOracle)),

    // ---- §2.5 EVICTION-from-recovered-state under the gate: the outer
    // join's null rows must fire from buffers restored across a mid-corpus
    // crash — lost buffers both drop straddling pairs AND lose pending
    // never-matched lefts (their nulls never emit). Completes the restart
    // family: every §2.5 replay now has a crash-recovery twin.
    ("ssjoin_outer_restart_replay",
      (s, d) => graft.streaming.Pipeline.replayIntervalJoinOuter(s,
        ev(s, d), killAfterBatches = 1, stageKey = Some(d)),
      Some(ssjoinOuterReplayOracle)),

    // ---- §2.5 watermarked-dedup state recovery under the gate: the
    // seen-hash state across a mid-corpus crash. A post-batch resume would
    // classify the replayed batch's first occurrences as already-seen and
    // DROP them — missing rows, caught by the hash gate.
    ("t1_restart_replay",
      (s, d) => graft.streaming.Pipeline.replayStreamDedup(s,
        docs(s, d), killAfterBatches = 2, stageKey = Some(d)),
      Some(streamDedupOracle)),

    // ---- s8: SCD Type-2 history — the keep-ALL-versions complement to s5's
    // latest-wins arbitration: per-user event_type change intervals with
    // [valid_from, valid_to) ranges and an is_current flag.
    ("s8_scd2_history",
      (s, d) => Upsert.scd2History(ev(s, d), Seq("user_id"), "event_type",
        "ts", "event_id"),
      Some("""WITH ch AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER w AS prev,
        |    row_number() OVER w AS rn
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |v AS (
        |  SELECT user_id, event_type, ts, event_id FROM ch
        |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |    AS is_current
        |FROM v""".stripMargin)),

    // ---- S6/flagship: the whole app.py query, set-at-a-time (SURVEY §3.3)
    ("flagship_progress",
      (s, d) => Progress.report(s, EventsAdapter.enrollmentView(ev(s, d)),
          Progress.Params(currentYear = 2024, excludedSemester = EventsAdapter.ExcludedSemester))
        .select(col("F_MASV").as("masv"), col("major"), col("khoa"),
          col("n_records"), col("completed_credits"), col("total_credits"),
          col("remaining_credits"), col("remaining_semesters"),
          col("progress_pct"), col("dtbctl"), col("status")),
      Some(flagshipSql)),

    // ---- S3/S4: Kafka JSON serde semantics, batch-certified — serialize the
    // record to JSON and parse fields back; identity vs the source columns.
    ("s3_s4_json_roundtrip",
      (s, d) => {
        val e = ev(s, d)
        val j = to_json(struct(col("event_id"), col("event_type"), col("user_id")))
        e.select(
          col("event_id"),
          get_json_object(j, "$.event_type").as("rt_type"),
          get_json_object(j, "$.user_id").try_cast("long").as("rt_user"))
      },
      Some("SELECT event_id, event_type AS rt_type, user_id AS rt_user FROM events")),

    // ---- S3/S4 (corrupt leg): malformed-JSON audit — junk lines injected
    // deterministically into a JSONL staging and read back through the real
    // json source in PERMISSIVE + columnNameOfCorruptRecord mode (the S4
    // parser contract): junk is COUNTED AND RETAINED as raw payload, parsed
    // rows pass through — con.py:43's warn-and-keep, never a silent null.
    ("s3_s4_corrupt_audit",
      (s, d) => graft.sources.Tabular.jsonCorruptAudit(s, docs(s, d),
        stageKey = Some(d)),
      Some(corruptAuditOracle)),

    // ---- S4 (dead-letter leg): the same corrupt fixture STREAMED through
    // the file text source one micro-batch per file, each foreachBatch
    // splitting the PERMISSIVE parse — parsed rows to the store table,
    // junk payloads to a dead-letter table (triage + replay-after-fix,
    // the pipeline half of con.py:43's warn-and-keep). Both tables
    // settled, re-read, and predicted by the SAME oracle as the batch
    // audit: the streaming split must lose and invent nothing.
    ("s4_dlq_stream_replay",
      (s, d) => graft.streaming.Pipeline.replayDeadLetter(s, docs(s, d),
        stageKey = Some(d)),
      Some(corruptAuditOracle)),

    // ---- S4 (dead-letter CRASH leg): same split, but the first query
    // crashes inside foreachBatch after a batch's two table writes land
    // and before its offset commits — the exact window where an append
    // sink would duplicate the batch on recovery. The per-batchId
    // overwrite sink replaces the orphaned output instead, so the settled
    // result must still equal the one-shot split — same oracle.
    ("s4_dlq_restart_replay",
      (s, d) => graft.streaming.Pipeline.replayDeadLetter(s, docs(s, d),
        killAfterBatches = 2, stageKey = Some(d)),
      Some(corruptAuditOracle)),

    // ---- S4 (salvage leg): replay-after-fix over the dead-letter shape —
    // a fixed parser recovers the id from each junk payload and the
    // salvaged rows rejoin the corpus flagged; unsalvageable payloads
    // degrade to a null id (row count conserved through triage).
    ("s4_dlq_salvage",
      (s, d) => graft.sources.Tabular.dlqSalvage(
        graft.sources.Tabular.jsonCorruptAudit(s, docs(s, d),
          stageKey = Some(d))),
      // coalesce(.., -1): a NULL doc_id must route to the parsed branch in
      // BOTH engines — the Spark fixture's `when` sends it there (null
      // predicate -> otherwise), while a bare `doc_id % 10 <> 3` would drop
      // it from both DuckDB branches entirely (r14 advice).
      Some("""SELECT doc_id, n_chars, FALSE AS salvaged
        |FROM documents WHERE coalesce(doc_id % 10, -1) <> 3
        |UNION ALL
        |SELECT doc_id, CAST(NULL AS BIGINT), TRUE
        |FROM documents WHERE coalesce(doc_id % 10, -1) = 3""".stripMargin)),

    // ---- S1 (jsonl leg): the documents corpus written as newline-delimited
    // JSON and read back through the real json file source with S1's
    // normalize semantics — the standard LLM-corpus interchange format,
    // escaping round trip certified against the source parquet table. Oracle
    // mirrors the ''→null and blank-row rules (no-ops on this generator,
    // load-bearing if it ever emits empties).
    ("s9_jsonl_roundtrip",
      (s, d) => graft.sources.Tabular.jsonlRoundtrip(s, docs(s, d)),
      Some("""SELECT doc_id, nullif(text, '') AS text,
        |  nullif(lang, '') AS lang, nullif(source, '') AS source, n_chars
        |FROM documents
        |WHERE nullif(CAST(doc_id AS VARCHAR), '') IS NOT NULL
        |   OR nullif(text, '') IS NOT NULL
        |   OR nullif(lang, '') IS NOT NULL
        |   OR nullif(source, '') IS NOT NULL
        |   OR nullif(CAST(n_chars AS VARCHAR), '') IS NOT NULL""".stripMargin)),

    // ---- A5/flagship: GPA trend — per-semester and cumulative weighted GPA
    // (the 'trends' dashboard of README.md:25-27 on the flagship domain).
    ("flagship_gpa_trend",
      (s, d) => {
        val enr = EventsAdapter.enrollmentView(ev(s, d))
        val eligible = Progress.gpaEligible(EventsAdapter.ExcludedSemester)
        val g4 = GradeScale.grade4(col("F_DIEM2"))
        val perSem = enr.groupBy(col("F_MASV").as("masv"), col("NHHK").as("nhhk")).agg(
          sum(when(eligible, g4 * col("F_DVHT")).otherwise(0.0)).as("pts"),
          sum(when(eligible, col("F_DVHT")).otherwise(0.0)).as("cr"))
        val w = Window.partitionBy("masv").orderBy("nhhk")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        perSem.select(
          col("masv"), col("nhhk"),
          Progress.gpa(col("pts"), col("cr")).as("sem_gpa"),
          Progress.gpa(sum(col("pts")).over(w), sum(col("cr")).over(w)).as("cum_gpa"))
      },
      Some(s"""WITH enroll AS (${EventsAdapter.sql}),
        |per AS (
        |  SELECT masv, nhhk,
        |    sum(CASE WHEN ${EventsAdapter.gpaEligibleSql}
        |             THEN (${GradeScale.grade4Sql("diem2")}) * dvht ELSE 0.0 END) AS pts,
        |    sum(CASE WHEN ${EventsAdapter.gpaEligibleSql}
        |             THEN dvht ELSE 0.0 END) AS cr
        |  FROM enroll GROUP BY masv, nhhk)
        |SELECT masv, nhhk,
        |  CASE WHEN cr > 0 THEN pts / cr ELSE 0.0 END AS sem_gpa,
        |  CASE WHEN sum(cr) OVER (PARTITION BY masv ORDER BY nhhk
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
        |       THEN sum(pts) OVER (PARTITION BY masv ORDER BY nhhk
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          / sum(cr) OVER (PARTITION BY masv ORDER BY nhhk
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |       ELSE 0.0 END AS cum_gpa
        |FROM per""".stripMargin)),

    // ---- x: text analysis (north star)
    ("x1_token_stats",
      (s, d) => TextAnalysis.tokenStats(docs(s, d), "text"),
      Some(s"""SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
        |CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
        |CAST(len(regexp_extract_all(lower(text), '$tokenRe')) AS INT) AS word_tokens,
        |CAST(len(regexp_extract_all(lower(text), '$tokenRe'))
        |  + (length(text) - length(regexp_replace(text, '$nonTokenRe', '', 'g')))
        |  + length(text) // 16 AS INT) AS bpe_estimate
        |FROM documents""".stripMargin)),

    ("x2_quality",
      (s, d) => TextAnalysis.qualityScore(docs(s, d), "text"),
      Some(qualitySql)),

    // ---- x21: model-based quality filter stand-in — fixed-weight linear
    // logit over the prose features, thresholded keep/drop; no sigmoid
    // (libm exp isn't bit-portable; the sigmoid is monotone so thresholding
    // the logit is thresholding the probability). Map-only, one pass.
    ("x21_quality_filter",
      (s, d) => TextAnalysis.linearQuality(docs(s, d), "text", threshold = 0.0),
      Some(TextAnalysis.linearQualitySql(tokenRe, nonTokenRe, threshold = 0.0))),

    // ---- x22: CCNet-style corpus-LM cross-entropy — unigram LM trained on
    // the corpus, per-doc avg negative log-likelihood (monotone in
    // perplexity, no exp); surprisal is 2^16 fixed-point so the score's
    // integer accumulation is exact cross-engine (the d15 ln contract).
    ("x22_lm_xent",
      (s, d) => TextAnalysis.lmCrossEntropy(docs(s, d), "text"),
      Some(TextAnalysis.lmCrossEntropySql(tokenRe))),

    // ---- x23: DSIR importance-resampling weights — hashed-bigram
    // log-likelihood ratio of the lang='en' target slice vs the raw corpus
    // (Xie et al. 2023); the data-mixture reweighting score, 2^16
    // fixed-point for exact cross-engine accumulation.
    ("x23_dsir_weights",
      (s, d) => graft.ops.Sampling.dsirWeights(docs(s, d), "text",
        col("lang") === "en"),
      Some(graft.ops.Sampling.dsirWeightsSql(tokenRe, "en"))),

    // ---- x24: per-source PSI drift — population-stability index of each
    // source's hashed-token histogram vs the rest of the corpus; the
    // mixture monitor that flags a distributionally anomalous source.
    // Complements d12 (content overlap) with SHAPE divergence.
    ("x24_source_drift",
      (s, d) => TextAnalysis.sourceDrift(docs(s, d), "text"),
      Some(TextAnalysis.sourceDriftSql(tokenRe))),

    // ---- x25: sliding-window chunker — width-32/stride-24 token windows
    // (25% overlap), the RAG-indexing / long-doc context shaping step.
    // Integer+string arithmetic only; map-only + Generate, no shuffle.
    ("x25_chunk_windows",
      (s, d) => graft.ops.Packing.chunkWindows(docs(s, d), "text",
        width = 32, stride = 24),
      Some(graft.ops.Packing.chunkWindowsSql(tokenRe, width = 32, stride = 24))),

    // ---- x12: per-document distinctive terms (TF-IDF ranking with
    // integer-exact keys: tf DESC, df ASC — ties by term; no float log).
    ("x12_tfidf_topterms",
      (s, d) => TextAnalysis.tfidfTopTerms(docs(s, d), "text", 5),
      Some(s"""WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '$tokenRe')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
        |SELECT doc_id, term, tf, df, rank FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |    CAST(row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, dfq.df ASC, tf.term ASC) AS INT) AS rank
        |  FROM tf JOIN dfq USING (term))
        |WHERE rank <= 5""".stripMargin)),

    // ---- x13: Gopher-style quality rule gates — integer cross-multiplied
    // thresholds (no float division), so flags are exact in any engine.
    ("x13_gopher_rules",
      (s, d) => TextAnalysis.gopherRules(docs(s, d), "text"),
      Some(gopherSql)),

    // ---- x15: rare-token ratio — the fraction of a doc's token instances
    // whose corpus document-frequency is under 10% of the corpus; the
    // model-free, integer-exact stand-in for LM-perplexity filtering.
    ("x15_rare_tokens",
      (s, d) => TextAnalysis.rareTokenStats(docs(s, d), "text", pctDenom = 10),
      Some(rareTokenSql)),

    // ---- x17: cross-document duplicated-span fraction (Lee et al. 2022) —
    // the span-level dedup signal whole-doc and pairwise dedup both miss;
    // skinny hash aggregates + one h-clustered join, no doc pairs ever.
    ("x17_dup_spans",
      (s, d) => Dedup.dupSpanStats(docs(s, d), "text", n = 5),
      Some(dupSpanSql)),

    // ---- x19: one-pass corpus dataset card — volume, provenance breadth,
    // exact-dup rate as a single 1-row aggregate (the documents analogue of
    // s7's table profile).
    ("x19_corpus_card",
      (s, d) => TextAnalysis.corpusCard(docs(s, d), "text"),
      Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(len(regexp_extract_all(lower(text), '$tokenRe'))) AS BIGINT)
        |    AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE) / count(*)
        |    AS dup_fraction
        |FROM documents""".stripMargin)),

    // ---- x18: corpus top-k n-grams — boilerplate discovery / tokenizer
    // vocabulary diagnostic; map-side partial agg, one (ngram) shuffle,
    // TakeOrdered top-k.
    ("x18_ngram_topk",
      (s, d) => TextAnalysis.ngramTopK(docs(s, d), "text", n = 3, k = 25),
      Some(TextAnalysis.ngramTopKSql(TextAnalysis.TokenRegex, n = 3, k = 25))),

    ("x3_langid",
      (s, d) => TextAnalysis.languageId(s, docs(s, d), "text"),
      Some(langIdSql)),

    ("x4_fingerprint",
      (s, d) => TextAnalysis.fingerprint(docs(s, d), "text", 8),
      Some("""SELECT doc_id,
        |(SELECT min(md5(substr(text, i, 8)))
        | FROM unnest(generate_series(1, greatest(length(text) - 7, 1))) AS t(i)) AS fingerprint
        |FROM documents""".stripMargin)),

    // ---- x9: intra-document repetition (boilerplate heuristic) — the
    // fraction of word-3-gram shingles repeating an earlier shingle.
    ("x9_repetition",
      (s, d) => TextAnalysis.repetitionScore(docs(s, d), "text"),
      Some(s"""WITH sh AS (
        |  SELECT doc_id, list_transform(
        |    generate_series(1, greatest(1, len(t) - 2)),
        |    i -> array_to_string(t[i:i+2], ' ')) AS shingles
        |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '$tokenRe') AS t
        |        FROM documents)
        |  )
        |SELECT doc_id, CAST(len(shingles) AS INT) AS n_shingles,
        |  CAST(len(list_distinct(shingles)) AS INT) AS n_distinct,
        |  CAST(len(shingles) - len(list_distinct(shingles)) AS DOUBLE) / len(shingles)
        |    AS repetition
        |FROM sh""".stripMargin)),

    // ---- x8: PII redaction (pretraining hygiene) — typed placeholders +
    // audit counts, map-only; same regex literals in Spark and the oracle.
    ("x8_redact_pii",
      (s, d) => TextAnalysis.redactPii(docs(s, d), "text"),
      Some(redactPiiSql)),

    // ---- x10: benchmark decontamination — fraction of each doc's distinct
    // shingles that appear in the benchmark subset (doc_id % 50 == 0 stands
    // in for an eval suite). Only 8-byte shingle hashes cross the join.
    ("x10_contamination",
      (s, d) => Dedup.contaminationScore(docs(s, d), col("doc_id") % 50 === 0, "text"),
      Some(contaminationSql)),

    // ---- x5: composed cleaning pass (C4-style): quality gate + language
    // filter + exact dedup (min doc_id survives per content hash). The ops
    // compose as plain DataFrame stages; one pipeline, one oracle.
    // Registered at the FOLD shape since r18: the per-doc token stats run
    // as one map-side higher-order aggregate() instead of explode +
    // groupBy(doc_id) — 7.2× at ×1000 (145 → 20.1 s warm, BASELINE.md r18 (ProbeX5); x5 was
    // the slowest linear pass in the r17 fourth-decade table). Output is
    // row-identical (OpsSpec equivalence); the explode form stays as the
    // library reference shape cleanCorpus.
    ("x5_clean_corpus",
      (s, d) => TextAnalysis.cleanCorpusFold(docs(s, d), "text", 0.7, "en"),
      Some(cleanCorpusSql)),

    // ---- x6/x7: deterministic sampling — stable hash-based train/valid/test
    // split (map-only, shuffle-free) and stratified fixed-size take.
    ("x6_hash_split",
      (s, d) => graft.ops.Sampling.deterministicSplit(docs(s, d), "doc_id", "r2",
          Seq("train" -> 80, "valid" -> 10, "test" -> 10))
        .select("doc_id", "bucket", "split"),
      Some(s"""SELECT doc_id,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_r2'), 1, 8) AS BIGINT)
        |    % ${Dedup.P} % 100 AS bucket,
        |  CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_r2'), 1, 8) AS BIGINT)
        |            % ${Dedup.P} % 100 < 80 THEN 'train'
        |       WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_r2'), 1, 8) AS BIGINT)
        |            % ${Dedup.P} % 100 < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin)),

    ("x7_stratified_sample",
      (s, d) => graft.ops.Sampling.stratifiedTake(docs(s, d), "source", "doc_id",
          5, "r2")
        .select("source", "doc_id"),
      Some(s"""SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_r2'), 1, 8) AS BIGINT)
        |        % ${Dedup.P} % ${Int.MaxValue}, doc_id) AS rn
        |  FROM documents) WHERE rn <= 5""".stripMargin)),

    // ---- x14: mixture sampling — downsample each source toward a target
    // token mixture (the training-mix construction step); membership is
    // salted-hash arithmetic, so the mix is identical across engines,
    // partitionings, and re-runs. Budget 2000 tokens, weights cycle 1..4.
    ("x14_mixture",
      (s, d) => graft.ops.Sampling.mixtureSample(docs(s, d), "source",
        size(TextAnalysis.tokens(col("text"))),
        (0 until 20).map(i => s"src$i" -> (i % 4 + 1)), budget = 2000L, salt = "r5"),
      Some(mixtureSql)),

    // ---- x16: epoch upsampling — fractional per-source repeat factors
    // (num/2 copies, hash-decided remainder); the upsampling half of the
    // training-mix recipe (x14 is the downsampling half).
    ("x16_epoch_upsample",
      (s, d) => graft.ops.Sampling.epochUpsample(docs(s, d), "source",
        (0 until 20).map(i => s"src$i" -> (i % 4 + 1)), denom = 2, salt = "r5e"),
      Some(epochSql)),

    // ---- x11: sequence packing — contiguous-fill pack assignment per
    // hash bucket (the tokenize-and-pack layout step); window cumsum per
    // bucket, reproduced exactly by the oracle's windowed sum.
    ("x11_pack_sequences",
      (s, d) => graft.ops.Packing.packSequences(docs(s, d), "text", capacity = 2048,
        buckets = 8),
      Some(s"""WITH base AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '$$TOKRE')) AS BIGINT) AS n_tokens,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_pack'), 1, 8) AS BIGINT)
        |      % ${Dedup.P} % 8 AS bucket
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, bucket, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start
        |  FROM base)
        |SELECT doc_id, bucket, n_tokens,
        |  CAST(start // 2048 AS BIGINT) AS pack_id,
        |  CAST(start % 2048 AS BIGINT) AS pack_offset
        |FROM c""".stripMargin.replace("$TOKRE", tokenRe))),

    // ---- x20: quantile length bucketing — padding-minimizing batch
    // assembly: quantile boundaries are one tiny broadcast row, batch
    // numbering partitions by (bucket, shard) so no global sort exists.
    ("x20_length_buckets",
      (s, d) => graft.ops.Packing.lengthBuckets(docs(s, d), "text",
        nBuckets = 4, batchSize = 8, shards = 4),
      Some(s"""WITH tok AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '$$TOKRE')) AS INT) AS n_tok
        |  FROM documents),
        |b AS (SELECT quantile_cont(n_tok, [0.25, 0.5, 0.75]) AS bs FROM tok),
        |a AS (
        |  SELECT doc_id, n_tok,
        |    (CASE WHEN n_tok > bs[1] THEN 1 ELSE 0 END +
        |     CASE WHEN n_tok > bs[2] THEN 1 ELSE 0 END +
        |     CASE WHEN n_tok > bs[3] THEN 1 ELSE 0 END) AS bucket,
        |    doc_id % 4 AS shard
        |  FROM tok, b)
        |SELECT doc_id, n_tok, CAST(bucket AS INT) AS bucket, shard,
        |  CAST((row_number() OVER (PARTITION BY bucket, shard
        |          ORDER BY n_tok, doc_id) - 1) // 8 AS BIGINT) AS batch_id
        |FROM a""".stripMargin.replace("$TOKRE", tokenRe))),

    // ---- d: dedup family (north star)
    ("d2_minhash_sig",
      (s, d) => Dedup.minhashSignatures(docs(s, d), "text", 3),
      Some(minhashSql)),

    ("d3_lsh_jaccard_pairs",
      (s, d) => {
        val sigs = Dedup.minhashSignaturesWithSets(docs(s, d), "text", 3)
        Dedup.jaccardFromSets(
          Dedup.candidatePairs(Dedup.lshBands(sigs, 2)), sigs)
      },
      Some(lshPairsSql)),

    // ---- d7: the per-ROW signature form (graft.functions.MinHashSig, the
    // streaming-safe projection) against the SAME oracle as d2 — proves the
    // native one-loop minima are bit-identical to the aggregate formulation.
    ("d7_minhash_rowsig",
      (s, d) => Dedup.rowMinhashSignatures(docs(s, d), "text", 3).drop("sh"),
      Some(minhashSql)),

    ("d4_simhash_sig",
      (s, d) => Dedup.simhash(docs(s, d), "text"),
      Some(simhashSql)),

    // Exact by construction: bands are derived from maxHamming (pigeonhole),
    // so the LSH-banded join returns precisely the all-pairs Hamming filter
    // the oracle computes.
    ("d5_simhash_neardup",
      (s, d) => Dedup.simhashNearDup(Dedup.simhash(docs(s, d), "text"), maxHamming = 3)
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming")),
      Some(simhashNearDupSql)),

    // ---- d6: near-dup clusters — connected components over the d5 pair
    // graph; cluster_id = min reachable doc_id (the survivor each cluster
    // keeps). Oracle computes the same closure with a recursive CTE.
    ("d6_dup_clusters",
      // Sig-level closure (Dedup.dupClusters): row-identical to
      // connectedComponents over the d5 pairs, but the quadratic doc-level
      // edge set is never materialized — the mirror-regime scale path.
      (s, d) => Dedup.dupClusters(Dedup.simhash(docs(s, d), "text"), maxHamming = 3),
      Some(dupClustersSql)),

    // ---- d9: cross-corpus dedup — flag a fresh slice (doc_id % 10 = 0)
    // against the incumbent corpus via the MinHash band index; equi-join on
    // band keys, never all-pairs against the 100 TB incumbent.
    ("d9_cross_dedup",
      (s, d) => {
        val all = docs(s, d)
        Dedup.crossDedup(all.filter(col("doc_id") % 10 === 0),
          all.filter(col("doc_id") % 10 =!= 0), "text")
      },
      Some(crossDedupSql)),

    // ---- l2: bucketed-table co-located join — the write pins a hash
    // partitioning on disk, so the per-user aggregate AND the join back to
    // rows both run with ZERO Exchange (PlanChecksSpec pins it); the oracle
    // certifies equality with the plain shuffled join.
    ("l2_bucketed_join",
      (s, d) => graft.etl.Bucketing.bucketedUserTotals(s, ev(s, d),
        s"${System.getProperty("java.io.tmpdir")}/graft_l2"),
      Some("""SELECT e.event_id, e.user_id,
        |  CAST(round(e.value * 100) AS BIGINT) AS value_c, s.user_total_c
        |FROM events e JOIN (
        |  SELECT user_id,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS user_total_c
        |  FROM events GROUP BY user_id) s USING (user_id)""".stripMargin)),

    // ---- d11: Bloom-prefiltered cross-corpus exact dedup — a mergeable
    // Bloom sketch of the seen side short-circuits definitely-fresh rows
    // past the exact anti-join; result is exact (oracle: plain anti-join).
    ("d11_bloom_dedup",
      (s, d) => {
        val all = docs(s, d)
        Dedup.bloomDedup(all.filter(col("doc_id") % 10 =!= 0),
          all.filter(col("doc_id") % 10 === 0), "text",
          expectedItems = 10000L)
      },
      Some("""SELECT d.doc_id, md5(d.text) AS row_hash
        |FROM documents d
        |WHERE d.doc_id % 10 <> 0 AND NOT EXISTS (
        |  SELECT 1 FROM documents s
        |  WHERE s.doc_id % 10 = 0 AND md5(s.text) = md5(d.text))""".stripMargin)),

    // ---- d12: cross-source overlap matrix — distinct shingle-hash Jaccard
    // between every pair of corpus sources; the inter-source duplication
    // diagnostic behind mixture weights and dedup ordering.
    ("d12_source_overlap",
      (s, d) => Dedup.sourceOverlap(docs(s, d), "source", "text", n = 5),
      Some(sourceOverlapSql)),

    // ---- d10: chunk-level exact dedup (line-dedup analog) — keep each
    // distinct fixed-width token chunk's first corpus-wide occurrence and
    // reassemble documents; removes boilerplate whole-doc dedup can't see.
    ("d10_chunk_dedup",
      (s, d) => Dedup.chunkDedup(docs(s, d), "text", width = 5),
      Some(Dedup.chunkDedupSql(TextAnalysis.TokenRegex, width = 5))),

    // ---- d13: inverted-index lexical cosine near-dup — tf-weighted bigram
    // cosine via a df-capped posting-list self-join; the sparse-vector
    // near-dup that yields the similarity value itself. Integer-exact dot
    // and norms make the emitted double deterministic across engines.
    ("d13_lexical_neardup",
      (s, d) => Dedup.lexicalNearDup(docs(s, d), "text",
        threshold = 0.8, maxDfFrac = 0.2, minShared = 3),
      Some(Dedup.lexicalNearDupSql(TextAnalysis.TokenRegex,
        threshold = 0.8, maxDfFrac = 0.2, minShared = 3))),

    // ---- d13 with the recall guard ARMED (r14 verdict #5): the same scoring
    // with both guard arms live — no document may lose its whole term set
    // (empty arm 0.1) and the cap may remove at most half the squared-norm
    // mass (mass arm 0.5; d18 measures 0 pruned at the gate corpora, so
    // healthy headroom is wide). Oracle is d13's: this certifies IN-GATE
    // that arming does not perturb results on a healthy corpus — the
    // fire path (exact-×100 shape, both arms) is OpsSpec's recall-guard
    // test. The production posture: run guarded, calibrate arms from d18.
    ("d13_guarded",
      (s, d) => Dedup.lexicalNearDup(docs(s, d), "text",
        threshold = 0.8, maxDfFrac = 0.2, minShared = 3,
        maxPrunedEmptyFrac = 0.1, maxPrunedMassFrac = 0.5),
      Some(Dedup.lexicalNearDupSql(TextAnalysis.TokenRegex,
        threshold = 0.8, maxDfFrac = 0.2, minShared = 3))),

    // ---- d14: prefix-filtered (Bayardo) near-dup on TRIGRAM shingles —
    // prefixNearDup needs a power-law df distribution to pay off, which the
    // 31-word-vocabulary corpus only exhibits at n=3 (sf0.01: vocab 16245,
    // median df 1; candidate join 491 rows vs 13985 for the full posting
    // join — measured, see PLANS.md). Output is PROVABLY identical to
    // lexicalNearDup at the same n (OpsSpec equivalence), so the oracle IS
    // the d13 SQL with n=3. On bigrams the economics flip 6-8x the other
    // way, which is why d13 stays the plain capped join.
    // Recall guard ARMED in the registered (production) shape since r16,
    // same arms as d13_guarded (empty 0.1 / mass 0.5); the oracle is the
    // DISARMED SQL, so the gate certifies arming is non-perturbing on a
    // healthy corpus. Firing path: OpsSpec "recall guard arms fire on every
    // scoring variant".
    ("d14_prefix_neardup",
      (s, d) => Dedup.prefixNearDup(docs(s, d), "text",
        threshold = 0.8, maxDfFrac = 0.2, minShared = 3, n = 3,
        maxPrunedEmptyFrac = 0.1, maxPrunedMassFrac = 0.5),
      Some(Dedup.lexicalNearDupSql(TextAnalysis.TokenRegex,
        threshold = 0.8, maxDfFrac = 0.2, minShared = 3, n = 3))),

    // ---- d15: idf-weighted lexical near-dup — ln(N/df) weights as 2^16
    // fixed-point integers (cross-engine ln agreement verified exhaustively
    // for df in 1..N), reusing d13's single-tokenization posting frame; the
    // weighting production near-dup pipelines actually run, where rare
    // content-bearing shingles decide the threshold, not boilerplate.
    // Guard armed in-gate since r16 (oracle disarmed — see d14 note).
    ("d15_idf_neardup",
      (s, d) => Dedup.lexicalNearDupIdf(docs(s, d), "text",
        threshold = 0.8, maxDfFrac = 0.2, minShared = 3,
        maxPrunedEmptyFrac = 0.1, maxPrunedMassFrac = 0.5),
      Some(Dedup.lexicalNearDupIdfSql(TextAnalysis.TokenRegex,
        threshold = 0.8, maxDfFrac = 0.2, minShared = 3))),

    // ---- d16: canonical pick — the dedup pipeline's terminal DECISION:
    // exactly one kept doc per d6 near-dup cluster (singletons keep
    // themselves), chosen by (quality DESC, n_chars DESC, doc_id ASC).
    // Composes d6's clusters with x2's quality features; the ranking
    // doubles are literal band constants, so the cross-engine comparison
    // is exact.
    ("d16_canonical_pick",
      (s, d) => {
        val dd = docs(s, d)
        Dedup.canonicalPick(
          Dedup.dupClusters(Dedup.simhash(dd, "text"), maxHamming = 3),
          TextAnalysis.qualityScore(dd, "text"))
      },
      Some(canonicalPickSql)),

    // ---- d17: leakage-safe train/valid/test split — x6's deterministic
    // hash split keyed on the d6 CLUSTER id instead of the doc id, so a
    // near-dup pair can never straddle the train/eval boundary (the
    // contamination x10 measures is prevented structurally). Same salted
    // md5 bucket arithmetic as x6; singletons key on their own doc_id.
    ("d17_leakage_safe_split",
      (s, d) => {
        val dd = docs(s, d)
        val clusters = Dedup.dupClusters(Dedup.simhash(dd, "text"), maxHamming = 3)
        val keyed = dd.select(col("doc_id"))
          .join(clusters.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        graft.ops.Sampling.deterministicSplit(keyed, "cluster_id", "r2",
            Seq("train" -> 80, "valid" -> 10, "test" -> 10))
          .select("doc_id", "cluster_id", "bucket", "split")
      },
      Some(leakageSplitSql)),

    // ---- d18: df-cap introspection — how much of the near-dup scoring
    // space the dual cap removes, with the zero-recall canary
    // (docs_pruned_empty): the 100x replica probe showed d13/d15 silently
    // emitting 0 pairs when every bigram crossed the cap; this is the
    // report a pipeline checks before trusting that silence.
    ("d18_cap_report",
      (s, d) => Dedup.dfCapReport(docs(s, d), "text",
        maxDfFrac = 0.2, maxDfCap = 1000),
      Some(capReportSql)),

    // ---- d19: composed exact→near dedup — the production answer to the
    // sf1 probe's recall finding (PLANS.md round-13): exact hash dedup
    // absorbs replica density FIRST, the d13 posting join scores only the
    // one-row-per-content representative set (df cap back to content-level
    // densities), and per-side group multiplicities reconstruct the pair
    // count over the original corpus (pair_weight = |ga|·|gb|).
    // Guard armed in-gate since r16 (oracle disarmed — see d14 note). The
    // check runs over the REPRESENTATIVE set, after the exact prepass has
    // absorbed replica density — the regime where these arms are the last
    // line of defense, because replication can no longer mask a cap-emptied
    // posting frame.
    ("d19_composed_neardup",
      (s, d) => Dedup.composedNearDup(docs(s, d), "text",
        threshold = 0.8, maxDfFrac = 0.2, minShared = 3,
        maxPrunedEmptyFrac = 0.1, maxPrunedMassFrac = 0.5),
      Some(Dedup.composedNearDupSql(TextAnalysis.TokenRegex,
        threshold = 0.8, maxDfFrac = 0.2, minShared = 3))),

    // ---- interval join: points-in-range via the bucketized equi-join
    // (ops/IntervalJoin) — intervals are 2-hour windows opened at every
    // 97th event; oracle is DuckDB's plain range theta-join.
    ("join_interval",
      (s, d) => {
        val e = ev(s, d)
        val pts = e.select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"))
        val ivs = e.filter(col("event_id") % 97 === 0)
          .select(col("event_id").as("ivl_id"), col("user_id"),
            unix_micros(col("ts")).as("start_us"),
            (unix_micros(col("ts")) + lit(7200000000L)).as("end_us"))
        // no-knob overload: bucket width derived from the measured median
        // clamped-interval length (here ~2h, matching the window span)
        graft.ops.IntervalJoin.bucketed(pts, ivs, "user_id", "t_us",
            "start_us", "end_us")
          .select(col("p_event_id").as("event_id"), col("i_ivl_id").as("ivl_id"))
      },
      Some("""SELECT p.event_id AS event_id, i.event_id AS ivl_id
        |FROM events p JOIN events i
        |  ON p.user_id = i.user_id
        | AND i.event_id % 97 = 0
        | AND epoch_us(p.ts) >= epoch_us(i.ts)
        | AND epoch_us(p.ts) <= epoch_us(i.ts) + 7200000000""".stripMargin)),

    // ---- join_fuzzy: entity-resolution fuzzy matching — every customer-name
    // pair within edit distance 1, found via symmetric-delete (FastSS)
    // blocking + levenshtein verify. The oracle is the all-pairs ground
    // truth (feasible at oracle SF; the Spark plan never goes quadratic).
    // failOnOversized: the oracle certifies the EXACT contract, so if a
    // variant bucket ever crosses the cap at a larger SF the gate must go
    // red loudly, not shed substitution pairs silently.
    ("join_fuzzy",
      (s, d) => graft.ops.FuzzyJoin.editDistancePairs(
        Tables(s, d, "customer"), "c_custkey", "c_name",
        failOnOversized = true),
      Some("""SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
        |  a.c_name AS a_key, b.c_name AS b_key,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin)),

    // ---- join_fuzzy_composed: the d19 rep-set composition applied to the
    // fuzzy join (r14 verdict #2) — exact-duplicate keys collapse to one
    // representative with multiplicity BEFORE the FastSS join, and the
    // output is content-level key pairs carrying reconstruction weights
    // (dist-1 rows weigh n1×n2, duplicated keys one dist-0 row weighing
    // C(n,2)), so Σ pair_weight equals the plain join's id-pair count
    // without materializing the quadratic expansion. Oracle is the
    // all-pairs ground truth over DISTINCT names plus the dup-group rows.
    ("join_fuzzy_composed",
      (s, d) => graft.ops.FuzzyJoin.composedEditDistancePairs(
        Tables(s, d, "customer"), "c_custkey", "c_name",
        failOnOversized = true),
      Some("""WITH groups AS (
        |  SELECT c_name AS k, count(*) AS n FROM customer GROUP BY 1)
        |SELECT a.k AS k1, b.k AS k2,
        |  CAST(levenshtein(a.k, b.k) AS INT) AS dist,
        |  a.n AS n1, b.n AS n2, a.n * b.n AS pair_weight
        |FROM groups a JOIN groups b ON a.k < b.k
        |WHERE levenshtein(a.k, b.k) <= 1
        |UNION ALL
        |SELECT k, k, CAST(0 AS INT), n, n, (n * (n - 1)) // 2
        |FROM groups WHERE n > 1""".stripMargin)),

    // ---- e: embedding similarity (north star)
    ("e1_cosine_topk",
      (s, d) => Similarity.bruteForceTopK(emb(s, d), emb(s, d).filter(col("vec_id") < 10), 3),
      Some("""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                           CAST(c.embedding AS DOUBLE[])) AS cos
        |  FROM q, embeddings c WHERE c.vec_id <> q.vec_id)
        |SELECT query_id, nbr_id, cos, rank FROM (
        |  SELECT query_id, nbr_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cos DESC, nbr_id) AS INT) AS rank
        |  FROM scored) WHERE rank <= 3""".stripMargin)),

    // Registered at the PRODUCTION blocking — label ∧ derived-k k-means
    // cell (the d8 machinery; re-registered r18 per ADVICE r17): label-only
    // blocking is density-quadratic (2.0B pairs / 92.6 s at ×100), and the
    // r17 label∧SRP-bucket shape kept only ~2.7% of at-threshold pairs at
    // the loose registered threshold — the cell blocking keeps 5–10× more
    // at the same O(n²/(labels·k)) bound (measured table on
    // Similarity.embeddingNearDupCelled; OpsSpec pins the recall). The
    // label-only form stays as the recall ground truth.
    ("e2_embed_neardup",
      (s, d) => Similarity.embeddingNearDupCelled(emb(s, d), 0.3,
        trainPct = 10, nprobe = 2),
      Some(embNearDupCelledSql)),

    ("e3_srp_ann_topk",
      (s, d) => Similarity.lshTopK(emb(s, d), emb(s, d).filter(col("vec_id") < 10), 3),
      Some(srpAnnSql)),

    // ---- e: IVF-style ANN — coarse-quantize to deterministic centroids
    // (vec_id < 8 stands in for sampled k-means output), probe 2 cells.
    ("e4_ivf_topk",
      (s, d) => Similarity.ivfTopK(emb(s, d), emb(s, d).filter(col("vec_id") < 10),
        emb(s, d).filter(col("vec_id") < 8), 3, nprobe = 2),
      Some(ivfSql)),

    // ---- e5: metadata-free near-dup — SRP bucket candidates + cosine verify
    // (the scale path e2 points at: no label column required).
    ("e5_srp_neardup",
      (s, d) => Similarity.srpNearDup(emb(s, d), 0.3),
      Some(srpNearDupSql)),

    // ---- e6: distributed Lloyd's k-means — the real IVF centroid producer
    // (e4's coarse cells come from a frame like this at scale). Fixed-point
    // per-dimension sums keep the iteration order-independent, so the DuckDB
    // oracle replays the identical two iterations and the final assignment
    // hash-matches exactly.
    ("e6_kmeans_assign",
      (s, d) => Similarity.kmeansAssign(emb(s, d), k = 8, iters = 2, dims = 64),
      Some(kmeansSql)),

    // ---- e7: scalar-quantized (int8) cosine top-k — the 4x-smaller
    // storage/bandwidth ANN path; quantized dots are exact integers, so
    // the ranking is bit-stable across engines.
    ("e7_sq8_topk",
      (s, d) => Similarity.quantizedTopK(emb(s, d), emb(s, d).filter(col("vec_id") < 8), 3),
      Some("""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |m AS (
        |  SELECT vec_id, emb, list_max(list_transform(emb, x -> abs(x))) AS mx FROM e),
        |q8 AS (
        |  SELECT vec_id,
        |    CASE WHEN mx > 0 THEN list_transform(emb, x -> round(x * 127 / mx))
        |         ELSE list_transform(emb, x -> 0.0) END AS q
        |  FROM m),
        |n AS (
        |  SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS nrm FROM q8
        |  WHERE sqrt(list_dot_product(q, q)) > 0),
        |p AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS nbr_id,
        |    CAST(list_dot_product(a.q, b.q) AS BIGINT) AS qdot,
        |    list_dot_product(a.q, b.q) / (a.nrm * b.nrm) AS approx_cos
        |  FROM n a JOIN n b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 8)
        |SELECT query_id, nbr_id, qdot, approx_cos, rank FROM (
        |  SELECT query_id, nbr_id, qdot, approx_cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY approx_cos DESC, nbr_id) AS INT) AS rank
        |  FROM p)
        |WHERE rank <= 3""".stripMargin)),

    // ---- e8: random-projection (JL) dimensionality reduction — 64 -> 16
    // dims against deterministic ±1 hyperplanes; map-only, shuffle-free.
    ("e8_rp_reduce",
      (s, d) => Similarity.randomProjection(emb(s, d), outDims = 16),
      Some(rpSql)),

    // ---- e9: product-quantization ANN — corpus compressed to m integer
    // codes, queries scan codes through a fixed-point ADC lookup table.
    // Codebook = vec_id<4 stand-in (kmeans trains real ones at scale);
    // integer LUT sums keep the distance exact in any engine.
    ("e9_pq_topk",
      (s, d) => Similarity.pqTopK(emb(s, d), emb(s, d).filter(col("vec_id") < 10),
        k = 3, m = 4, codes = 4, dims = 64),
      Some(pqSql)),

    // ---- e10: IVF-PQ composed ANN — the composition both halves' Scaladocs
    // point at as the actual 100-TB workhorse (IVF narrows WHERE, PQ shrinks
    // WHAT). Same registered config as its parents: e4's vec_id<8 coarse
    // centroids / nprobe=2, e9's m=4 / codes=4 codebook, vec_id<10 queries.
    // Oracle nests the e4 cell CTEs and the e9 encode/LUT CTEs into one
    // probe-restricted ADC scan, so the gate certifies the COMPOSED plan,
    // not the parts (VERDICT r17 #3).
    ("e10_ivfpq_topk",
      (s, d) => Similarity.ivfPqTopK(emb(s, d), emb(s, d).filter(col("vec_id") < 10),
        emb(s, d).filter(col("vec_id") < 8), k = 3, nprobe = 2, m = 4, codes = 4,
        dims = 64),
      Some(ivfPqSql)),

    // ---- r9: the recall harness's IVF-PQ leg — the composed index against
    // the same exact-cosine ground truth as r4/r6/r7, so the fidelity cost
    // of composing (cell misses x code quantization) is measured, not
    // inferred from the parents' separate curves.
    ("r9_ivfpq_recall",
      (s, d) => Similarity.recallVsExact(
        Similarity.bruteForceTopK(emb(s, d), emb(s, d).filter(col("vec_id") < 10), 3),
        Similarity.ivfPqTopK(emb(s, d), emb(s, d).filter(col("vec_id") < 10),
          emb(s, d).filter(col("vec_id") < 8), k = 3, nprobe = 2, m = 4, codes = 4,
          dims = 64)),
      Some(ivfPqRecallSql)),

    // ---- r7: the recall harness's PQ leg — how much nearest-neighbor
    // fidelity the 16x compression costs, against the same exact-cosine
    // ground truth as r4 (SRP) and r6 (IVF). Oracle nests pqSql verbatim.
    ("r7_pq_recall",
      (s, d) => Similarity.recallVsExact(
        Similarity.bruteForceTopK(emb(s, d), emb(s, d).filter(col("vec_id") < 10), 3),
        Similarity.pqTopK(emb(s, d), emb(s, d).filter(col("vec_id") < 10),
          k = 3, m = 4, codes = 4, dims = 64)),
      Some(pqRecallSql)),

    // ---- d8: SemDeDup — semantic dedup via centroid cells + in-cell cosine
    // prune; catches paraphrases that share no n-grams with d2/d3's shingle
    // dedup. Registered at the PRODUCTION configuration: real k-means
    // centroids (the same deterministic Lloyd iterations e6 gates) at the
    // derived k = ⌈√n⌉ — a fixed small k lets per-cell density grow with
    // the corpus and the in-cell pair term go quadratic (BASELINE.md r16
    // (ProbeAnn): the old k=8 stand-in at ~255 s / 2.5B within-cell pairs
    // at ×100, where a corpus-grown k ran 7.3 s; the stand-in survives as
    // OpsSpec's semantics fixture).
    ("d8_semdedup",
      (s, d) => {
        val e = emb(s, d)
        val k = Similarity.derivedCellCount(e)
        Similarity.semDedup(e,
          Similarity.kmeansCentroidFrame(s, e, k, iters = 2, trainPct = 10), 0.3)
      },
      Some(semDedupDerivedSql)),

    // ---- m: multimodal plumbing (north star). ALL THREE legs are REAL:
    // image payloads are genuine PNGs, audio payloads genuine PCM WAVs,
    // video payloads genuine uncompressed AVIs; the payload_magic column
    // pins each container's signature bytes (PNG 8-byte magic / RIFF…WAVE /
    // RIFF…AVI ) against literals the oracle expects — a fake payload
    // hash-mismatches here. The streams themselves are not SQL-reproducible;
    // their fidelity is certified by m3's real decodes instead.
    ("m1_media_meta",
      (s, d) => Multimodal.syntheticMedia(docs(s, d))
        .select(col("media_id"), col("media_type"), col("width"), col("height"),
          col("duration_ms"),
          when(col("media_type") === "image",
            lower(hex(substring(col("content"), 1, 8))))
          .otherwise( // RIFF containers: fourcc at 1–4, form type at 9–12
            lower(hex(concat(substring(col("content"), 1, 4),
              substring(col("content"), 9, 4))))).as("payload_magic")),
      Some("""SELECT doc_id AS media_id,
        |CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |     ELSE 'video' END AS media_type,
        |CASE WHEN doc_id % 3 = 0 THEN CAST(length(text) % 13 + 4 AS INT)
        |     WHEN doc_id % 3 = 1 THEN CAST(length(text) % 640 + 64 AS INT)
        |     ELSE CAST(length(text) % 12 + 4 AS INT) END AS width,
        |CASE WHEN doc_id % 3 = 0 THEN CAST(length(text) % 11 + 4 AS INT)
        |     WHEN doc_id % 3 = 1 THEN CAST(length(text) % 480 + 48 AS INT)
        |     ELSE CAST(length(text) % 10 + 4 AS INT) END AS height,
        |CASE WHEN doc_id % 3 = 2 THEN CAST((length(text) % 7 + 2) * 100 AS BIGINT)
        |     ELSE CAST(length(text) * 100 AS BIGINT) END AS duration_ms,
        |CASE WHEN doc_id % 3 = 0 THEN '89504e470d0a1a0a'
        |     WHEN doc_id % 3 = 1 THEN '5249464657415645'
        |     ELSE '5249464641564920' END AS payload_magic
        |FROM documents""".stripMargin)),

    // mapPartitions decode path — ALL REAL. Image rows: javax.imageio
    // decode. Audio rows: javax.sound WAV container parse (dec_ms =
    // frames/rate from the parsed header). Video rows: hand-written AVI
    // demux (dims from the parsed avih, dec_ms = frames×usPerFrame from the
    // walked movi chunks). In every case the oracle computes the GENERATOR
    // formula while Spark re-reads the value from the decoded container, so
    // a hash match certifies an encode→decode round-trip.
    ("m3_decode_meta",
      (s, d) => Multimodal.extractFeatures(s, Multimodal.syntheticMedia(docs(s, d)))
        .toDF().select("media_id", "media_type", "dec_width", "dec_height", "dec_ms"),
      Some("""SELECT doc_id AS media_id,
        |CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |     ELSE 'video' END AS media_type,
        |CASE WHEN doc_id % 3 = 0 THEN CAST(length(text) % 13 + 4 AS INT)
        |     WHEN doc_id % 3 = 1 THEN -1
        |     ELSE CAST(length(text) % 12 + 4 AS INT) END AS dec_width,
        |CASE WHEN doc_id % 3 = 0 THEN CAST(length(text) % 11 + 4 AS INT)
        |     WHEN doc_id % 3 = 1 THEN -1
        |     ELSE CAST(length(text) % 10 + 4 AS INT) END AS dec_height,
        |CASE WHEN doc_id % 3 = 1 THEN CAST(length(text) AS BIGINT)
        |     WHEN doc_id % 3 = 2 THEN CAST((length(text) % 7 + 2) * 100 AS BIGINT)
        |     ELSE CAST(-1 AS BIGINT) END AS dec_ms
        |FROM documents""".stripMargin)),

    // REAL video frame extraction: demux each AVI, one row per frame, with
    // the decoded corner pixels. The oracle recomputes frame count and both
    // corner pixels from the generator's pattern arithmetic (seed s =
    // (id%25)*8 + k, channels are integer mixes mod 256) while Spark reads
    // them back out of the demuxed DIB — so a hash match certifies chunk
    // walking, stride/padding math, AND the bottom-up row flip (pixel (0,0)
    // lives in the LAST row of the stored frame).
    ("m2_frame_sample",
      // doc_id pre-filter: media_type is a pure function of doc_id, and a
      // predicate cannot push through the generator's typed-map barrier —
      // without it every image/audio row pays its PNG/WAV encode only to be
      // dropped (2/3 of the codec work wasted).
      (s, d) => Multimodal.videoFrames(s,
        Multimodal.syntheticMedia(docs(s, d).filter(col("doc_id") % 3 === 2))),
      Some("""WITH v AS (SELECT doc_id, CAST(length(text) % 12 + 4 AS INT) AS w,
        |  CAST(length(text) % 10 + 4 AS INT) AS h,
        |  CAST(length(text) % 7 + 2 AS INT) AS nf
        |  FROM documents WHERE CAST(doc_id % 3 AS INT) = 2),
        |f AS (SELECT doc_id, w, h, CAST(k AS INT) AS k, (doc_id % 25) * 8 + k AS s
        |  FROM v, unnest(generate_series(0, nf - 1)) AS t(k))
        |SELECT doc_id AS media_id, k AS frame_no,
        |  CAST(s % 256 AS INT) AS px00_r,
        |  CAST((s * 3) % 256 AS INT) AS px00_g,
        |  CAST((s * 5) % 256 AS INT) AS px00_b,
        |  CAST(((w-1)*31 + (h-1)*7 + s) % 256 AS INT) AS pxwh_r,
        |  CAST(((w-1)*13 + (h-1)*29 + s*3) % 256 AS INT) AS pxwh_g,
        |  CAST(((w-1)*17 + (h-1)*11 + s*5) % 256 AS INT) AS pxwh_b
        |FROM f""".stripMargin)),

    // ---- m4: cross-media shared-frame detection over REAL demuxed frames —
    // media pairs containing pixel-identical frames at equal dims
    // (re-uploads, shared intros). The generator makes sharing genuine:
    // videos in the same id%25 cohort with equal dims share their common
    // frame prefix (same seed sequence ⇒ same pixels). Spark finds the pairs
    // by hashing actual decoded frame bytes; the oracle predicts them from
    // the cohort/dims/frame-count formulas — a hash match certifies content
    // equality THROUGH the container. Frame hashes are capped like every
    // LSH bucket so the pair join never goes quadratic.
    ("m4_shared_frames",
      // same doc_id pre-filter rationale as m2
      (s, d) => Multimodal.sharedVideoFrames(s,
        Multimodal.syntheticMedia(docs(s, d).filter(col("doc_id") % 3 === 2))),
      Some("""WITH v AS (SELECT doc_id AS media_id, CAST(doc_id % 25 AS INT) AS g,
        |  CAST(length(text) % 12 + 4 AS INT) AS w,
        |  CAST(length(text) % 10 + 4 AS INT) AS h,
        |  CAST(length(text) % 7 + 2 AS INT) AS nf
        |  FROM documents WHERE CAST(doc_id % 3 AS INT) = 2),
        |fr AS (SELECT media_id, g, w, h, CAST(k AS INT) AS k
        |  FROM v, unnest(generate_series(0, nf - 1)) AS t(k)),
        |rare AS (SELECT g, w, h, k FROM fr GROUP BY 1,2,3,4 HAVING count(*) <= 32),
        |pr AS (SELECT fr.media_id, fr.g, fr.w, fr.h, fr.k
        |  FROM fr JOIN rare USING (g, w, h, k))
        |SELECT l.media_id AS media_a, r.media_id AS media_b,
        |  CAST(count(*) AS BIGINT) AS shared_frames
        |FROM pr l JOIN pr r ON l.g = r.g AND l.w = r.w AND l.h = r.h
        |  AND l.k = r.k AND l.media_id < r.media_id
        |GROUP BY 1, 2""".stripMargin)),

    // ---- m5: real image RESIZE — decode → aspect-preserving downscale to
    // fit 8px → re-encode PNG → re-decode; the emitted thumb dims are read
    // back from the RE-DECODED thumbnail while the oracle computes the
    // integer floor math from the generator dims, so a hash match certifies
    // the full decode→resize→encode→decode round trip.
    ("m5_thumbnail",
      // doc_id pre-filter: skip the audio rows' WAV encode (same barrier
      // rationale as m2)
      (s, d) => Multimodal.thumbnails(s,
        Multimodal.syntheticMedia(docs(s, d).filter(col("doc_id") % 3 === 0))),
      Some("""SELECT doc_id AS media_id,
        |  CAST(w AS INT) AS orig_w, CAST(h AS INT) AS orig_h,
        |  CAST(CASE WHEN m <= 8 THEN w ELSE greatest(1, w * 8 // m) END AS INT) AS thumb_w,
        |  CAST(CASE WHEN m <= 8 THEN h ELSE greatest(1, h * 8 // m) END AS INT) AS thumb_h
        |FROM (SELECT doc_id,
        |        length(text) % 13 + 4 AS w, length(text) % 11 + 4 AS h,
        |        greatest(length(text) % 13 + 4, length(text) % 11 + 4) AS m
        |      FROM documents WHERE doc_id % 3 = 0)""".stripMargin)),

    // ---- i1: incremental (delta-maintained) aggregate. The query splits
    // events into a base batch and a delta batch, aggregates each to partial
    // state, merges, and finishes — the oracle is the FROM-SCRATCH aggregate,
    // so the hash match proves merge(state(a), state(b)) == state(a ∪ b).
    ("i1_inc_agg",
      (s, d) => {
        val e = ev(s, d)
        val base = e.filter(col("event_id") % 7 =!= 0)
        val delta = e.filter(col("event_id") % 7 === 0)
        val keys = Seq("event_type")
        IncrementalAgg.finish(IncrementalAgg.merge(keys,
          IncrementalAgg.state(base, keys, "value"),
          IncrementalAgg.state(delta, keys, "value")))
      },
      Some("""SELECT event_type, count(*) AS n,
        |  min(value) AS vmin, max(value) AS vmax,
        |  sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value,
        |  sum(CAST(round(value * 100) AS BIGINT)) / 100.0 / count(*) AS mean_value
        |FROM events GROUP BY event_type""".stripMargin)),

    // ---- i2: retraction-aware incremental aggregate — a changelog of
    // inserts (+1, every event) then deletes (-1, every 97th event) merged
    // as signed state must equal aggregating only the surviving rows.
    // min/max deliberately absent (not retractable with bounded state).
    ("i2_retract_agg",
      (s, d) => {
        val e = ev(s, d)
        val keys = Seq("event_type")
        val inserts = e.withColumn("op", lit(1))
        val deletes = e.filter(col("event_id") % 97 === 0)
          .withColumn("op", lit(-1))
        IncrementalAgg.signedFinish(IncrementalAgg.signedMerge(keys,
          IncrementalAgg.signedState(inserts, keys, "value", "op"),
          IncrementalAgg.signedState(deletes, keys, "value", "op")))
      },
      Some("""SELECT event_type, count(*) AS n,
        |  sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value,
        |  sum(CAST(round(value * 100) AS BIGINT)) / 100.0 / count(*) AS mean_value
        |FROM events WHERE event_id % 97 <> 0
        |GROUP BY event_type""".stripMargin)),

    // ---- l1: Z-order curve value (data-layout clustering key). The write
    // path (Layout.zorderWrite) is certified by LayoutSpec's file-pruning
    // assertions; this query certifies the interleaved-bit arithmetic.
    ("l1_zvalue",
      (s, d) => ev(s, d).select(col("event_id"),
        Layout.zValue(col("user_id").bitwiseAND(65535), col("event_id").bitwiseAND(65535))
          .as("z")),
      Some(s"""SELECT event_id,
        |  ${Layout.zValueSql("(user_id & 65535)", "(event_id & 65535)")} AS z
        |FROM events""".stripMargin)),

    // ---- l3: small-files compaction under the oracle gate — the
    // operational tail of the S5/T9 streaming sinks (a file per micro-batch
    // per partition; after a month the store is thousands of kilobyte files
    // and every scan pays a task per file). Fragment a copy of lineitem
    // into 48 tiny files, compact (shuffle-free coalesce sized from ACTUAL
    // input bytes, promoted by two metadata renames — etl/Compact.scala),
    // and prove the swapped store is the same multiset: integer-exact
    // totals per return flag over the re-read directory must equal the
    // oracle computed on the ORIGINAL table. CompactSpec additionally pins
    // the file-count drop, no staging debris, and partition-pruning
    // survival for the partitioned variant.
    //
    // Determinism notes from the r8 red row: (1) every aggregate is an
    // exact integer (counts; l_quantity is integer-valued so its long cast
    // is lossless; price in cents) so no column depends on the
    // post-compaction row order; (2) the oracle's BIGINT sums are wrapped
    // in an outer CAST(... AS BIGINT) because DuckDB's sum(BIGINT) returns
    // HUGEINT, which the driver's pandas bridge widens to float64 — the
    // values matched in r8 but the int64-vs-float64 representation broke
    // the hash (same pattern as w_range_window / i1).
    ("l3_compaction",
      (s, d) => {
        val store = l3CompactedStore(s, d)
        s.read.parquet(store).groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            sum(round(col("l_extendedprice") * 100).cast("long"))
              .as("price_cents"))
      },
      Some("""SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- l4: WINDOWLESS compaction of a versioned store — the concurrent-
    // reader-safe form of l3 (data under root/v-NNNNNNNN/, one `_current`
    // pointer, promotion = one atomic pointer rename; superseded versions
    // retained one generation then vacuumed). The staged orders copy is
    // compacted twice (pointer re-flip + vacuum exercised) and the query
    // re-reads THROUGH the pointer; integer-exact totals must equal the
    // oracle on the original table. CompactSpec hammers the store from a
    // concurrent reader thread across three compactions — zero errors.
    ("l4_versioned_compaction",
      (s, d) => {
        val store = l4VersionedStore(s, d)
        Compact.readCurrent(s, store).groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("sum_key"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("price_cents"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents
        |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // ---- r1: BM25 lexical retrieval (the mining/eval side of a pipeline:
    // rank corpus documents against a term query). Per-(doc,term)
    // contributions are 1e-6 fixed-point BEFORE the per-doc sum, so the
    // score is an order-independent integer sum in both engines.
    ("r1_bm25",
      (s, d) => Retrieval.bm25TopK(docs(s, d), "text", bm25Terms, 20),
      Some(Retrieval.bm25Sql(TextAnalysis.TokenRegex, bm25Terms, 20))),

    // ---- r8: pseudo-relevance-feedback query expansion — the seed query's
    // top hits teach it the vocabulary it was missing (Rocchio); one corpus
    // tokenization drives both scoring passes and the term mining.
    ("r8_prf_topk",
      (s, d) => Retrieval.prfTopK(docs(s, d), "text", bm25Terms, 20,
        fbDocs = 3, fbTerms = 3),
      Some(Retrieval.prfSql(TextAnalysis.TokenRegex, bm25Terms, 20,
        fbDocs = 3, fbTerms = 3))),

    // ---- r2: exact phrase retrieval — map-only substring-count scan +
    // TakeOrdered; the exact-match complement to r1's ranked retrieval.
    ("r2_phrase_topk",
      (s, d) => Retrieval.phraseTopK(docs(s, d), "text", phraseTerms, 15),
      Some(Retrieval.phraseSql(TextAnalysis.TokenRegex, phraseTerms, 15))),

    // ---- r5: retrieve-then-rerank cascade — BM25 pre-selects candidates,
    // only those are cosine-reranked against the query embedding; the
    // expensive scorer touches |candidates| rows, never the corpus.
    ("r5_rerank_topk",
      (s, d) => Retrieval.rerankTopK(docs(s, d), "text", emb(s, d),
        queryVecId = 7L, bm25Terms, candidates = 25, k = 10),
      Some(Retrieval.rerankSql(TextAnalysis.TokenRegex, bm25Terms,
        queryVecId = 7L, candidates = 25, k = 10))),

    // ---- r4: ANN recall@k — the e3 SRP-LSH ranking evaluated against the
    // e1 exact ranking per query; both legs are deterministic, so recall is
    // exact, not a sampled estimate.
    ("r4_ann_recall",
      (s, d) => Similarity.annRecall(emb(s, d), emb(s, d).filter(col("vec_id") < 10), 3),
      Some(annRecallSql)),

    // ---- r6: same harness over the e4 IVF index — the recall comparison
    // that picks between competing ANN configurations.
    ("r6_ivf_recall",
      (s, d) => Similarity.recallVsExact(
        Similarity.bruteForceTopK(emb(s, d), emb(s, d).filter(col("vec_id") < 10), 3),
        Similarity.ivfTopK(emb(s, d), emb(s, d).filter(col("vec_id") < 10),
          emb(s, d).filter(col("vec_id") < 8), 3, nprobe = 2)),
      Some(ivfRecallSql)),

    // ---- r3: hybrid retrieval — reciprocal-rank fusion of the r1 lexical
    // ranking and the e1 dense cosine ranking for one query (vec_id 7's
    // embedding as the dense query, the shared term list as the lexical
    // query). Ranks are ints and 1/(60+rank) is exact IEEE division, so the
    // fused score is bit-stable across engines.
    ("r3_hybrid_rrf",
      (s, d) => Retrieval.hybridRrf(docs(s, d), "text", emb(s, d),
        queryVecId = 7L, bm25Terms, kPerLeg = 20, k = 30),
      Some(Retrieval.rrfSql(TextAnalysis.TokenRegex, bm25Terms,
        queryVecId = 7L, kPerLeg = 20, k = 30)))
  )

  private val bm25Terms = Seq("vector", "stream", "hash")
  private val phraseTerms = Seq("table", "hash")

  // ------------------------------------------------------- generated oracles

  /** Token regexes shared verbatim between Spark and the DuckDB oracle
    * (identical meaning in Java regex and RE2). */
  private val tokenRe = TextAnalysis.TokenRegex
  private val nonTokenRe = TextAnalysis.NonTokenRegex

  /** 8-permutation MinHash signature SQL, sharing constants with Dedup. */
  // ---- Shared steady/restart oracles: each restart leg's contract is
  // "same oracle as the steady replay" — one definition per pair ENFORCES
  // it (a one-sided edit can no longer silently gate the twins against
  // different SQL).
  /** One oracle for BOTH xlsx streaming legs (steady + crash-restart): the
    * plain batch projection, stringified per the xlsx every-cell-is-a-string
    * contract. */
  private lazy val xlsxReplayOracle: String =
    """SELECT CAST(c_custkey AS VARCHAR) AS c_custkey,
      |  c_name, c_mktsegment FROM customer""".stripMargin

  /** One oracle for BOTH corrupt legs (batch audit + streaming dead-letter
    * split): parsed rows with their fields, junk rows as retained payload —
    * the injection rule (`doc_id % 10 = 3`) is a pure function of the
    * table, so DuckDB predicts every staged byte without reading staging.
    * coalesce(.., -1): a NULL doc_id routes to the parsed branch in both
    * engines (the Spark `when`'s null predicate takes the otherwise arm; a
    * bare `% 10 <> 3` would drop the row from both DuckDB branches). */
  private lazy val corruptAuditOracle: String =
    """SELECT doc_id, n_chars, CAST(NULL AS VARCHAR) AS corrupt_payload
      |FROM documents WHERE coalesce(doc_id % 10, -1) <> 3
      |UNION ALL
      |SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |  'JUNK ' || CAST(doc_id AS VARCHAR)
      |FROM documents WHERE coalesce(doc_id % 10, -1) = 3""".stripMargin

  private lazy val upsertDailyOracle: String =
    """SELECT user_id, CAST(ts AS DATE) AS ingest_date, event_id,
      |  event_type, value, ts
      |FROM (SELECT user_id, event_id, event_type, value, ts,
      |        row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |                           ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events) WHERE rn = 1""".stripMargin

  private lazy val streamDedupOracle: String =
    """SELECT DISTINCT md5(text) AS row_hash,
      |CAST(length(text) AS INT) AS text_len FROM documents""".stripMargin

  private lazy val gpaReplayOracle: String = {
    val ladder = GradeScale.grade4Sql("diem2")
    val eligible = EventsAdapter.gpaEligibleSql
    s"""WITH enroll AS (${EventsAdapter.sql}),
       |agg AS (
       |  SELECT masv,
       |    sum(CASE WHEN $eligible THEN ($ladder) * dvht ELSE 0.0 END) AS pts,
       |    sum(CASE WHEN $eligible THEN dvht ELSE 0.0 END) AS credits,
       |    CAST(sum(CASE WHEN $eligible THEN 1 ELSE 0 END) AS BIGINT) AS n
       |  FROM enroll GROUP BY masv)
       |SELECT masv,
       |  CASE WHEN credits > 0 THEN pts / credits ELSE 0.0 END AS dtbctl,
       |  credits, n
       |FROM agg WHERE n > 0""".stripMargin
  }

  private lazy val sessReplayOracle: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |m AS (
      |  SELECT user_id, ts_ms, cents,
      |    CASE WHEN lag(ts_ms) OVER w IS NULL
      |           OR ts_ms - lag(ts_ms) OVER w > 1800000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, cents)),
      |s AS (
      |  SELECT user_id, ts_ms, cents,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, cents
      |                      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(cents) AS BIGINT) AS total_cents,
      |  min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
      |FROM s GROUP BY user_id, sid""".stripMargin

  private lazy val ssjoinReplayOracle: String =
    """SELECT l.event_id AS l_id, r.event_id AS r_id,
      |  l.user_id AS user_id
      |FROM events l JOIN events r
      |  ON l.user_id = r.user_id
      | AND l.event_type IN ('view', 'click')
      | AND r.event_type = 'purchase'
      | AND epoch_us(r.ts) >= epoch_us(l.ts)
      | AND epoch_us(r.ts) <= epoch_us(l.ts) + 1800000000""".stripMargin

  private lazy val ssjoinOuterReplayOracle: String =
    """SELECT l.event_id AS l_id, r.event_id AS r_id,
      |  l.user_id AS user_id
      |FROM events l LEFT JOIN events r
      |  ON l.user_id = r.user_id
      | AND r.event_type = 'purchase'
      | AND epoch_us(r.ts) >= epoch_us(l.ts)
      | AND epoch_us(r.ts) <= epoch_us(l.ts) + 1800000000
      |WHERE l.event_type IN ('view', 'click')""".stripMargin

  private lazy val minhashSql: String = {
    val mhCols = Dedup.minhashSeeds.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hashes, x -> (${a} * x + ${b}) % ${Dedup.P})) AS mh$i"
    }.mkString(",\n  ")
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '$tokenRe') AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, greatest(1, len(t) - 2)),
       |    i -> array_to_string(t[i:i+2], ' '))) AS shingles
       |  FROM toks WHERE len(t) >= 1),
       |hs AS (
       |  SELECT doc_id, list_transform(shingles,
       |    s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) % ${Dedup.P}) AS hashes FROM sh)
       |SELECT doc_id,
       |  $mhCols
       |FROM hs""".stripMargin
  }

  /** LSH candidate pairs + exact Jaccard verify, sharing the MinHash CTEs. */
  /** Shared MinHash banding CTE chain (tokens → shingles → hashes → k-min
    * signatures → LSH band keys) over `documents` — the prefix of every
    * MinHash-family oracle (d3, d9). */
  private lazy val mhBandCtes: String = {
    val mhArr = Dedup.minhashSeeds.map { case (a, b) =>
      s"list_min(list_transform(hashes, x -> ($a * x + $b) % ${Dedup.P}))"
    }.mkString("[", ", ", "]")
    s"""toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '$tokenRe') AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, greatest(1, len(t) - 2)),
       |    i -> array_to_string(t[i:i+2], ' '))) AS shingles
       |  FROM toks WHERE len(t) >= 1),
       |hs AS (
       |  -- list_distinct over the HASHES, not just the shingles: Spark's sh
       |  -- is the distinct-hash set (collect_set(h)), so under a 31-bit
       |  -- collision inside one document an un-deduped list would inflate
       |  -- this oracle's jaccard denominators (the d9 oracle already
       |  -- dedupes; this one had drifted). list_min is dedup-invariant, so
       |  -- the signature legs are unchanged.
       |  SELECT doc_id, shingles, list_distinct(list_transform(shingles,
       |    s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) % ${Dedup.P})) AS hashes FROM sh),
       |sig AS (SELECT doc_id, shingles, $mhArr AS mh FROM hs),
       |bands AS (
       |  SELECT doc_id, b.band_id,
       |    md5(CAST(mh[2*b.band_id + 1] AS VARCHAR) || '_' ||
       |        CAST(mh[2*b.band_id + 2] AS VARCHAR)) AS band_key
       |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS band_id) b)""".stripMargin
  }

  private lazy val lshPairsSql: String =
    s"""WITH $mhBandCtes,
       |ok AS (
       |  SELECT band_id, band_key FROM bands
       |  GROUP BY band_id, band_key HAVING count(*) <= 64),
       |pruned AS (
       |  SELECT b.* FROM bands b JOIN ok
       |    ON b.band_id = ok.band_id AND b.band_key = ok.band_key),
       |pairs AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM pruned l JOIN pruned r
       |    ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.doc_id < r.doc_id)
       |SELECT p.a, p.b,
       |  CAST(len(list_intersect(sa.hashes, sb.hashes)) AS DOUBLE) /
       |    (len(sa.hashes) + len(sb.hashes) - len(list_intersect(sa.hashes, sb.hashes)))
       |    AS jaccard
       |FROM pairs p JOIN hs sa ON p.a = sa.doc_id JOIN hs sb ON p.b = sb.doc_id""".stripMargin

  /** d9 oracle: the same banding chain, restricted to new×corpus pairs, with
    * the per-new-doc summary (count, best match by jaccard/min-id). */
  private lazy val crossDedupSql: String =
    s"""WITH $mhBandCtes,
       |ok AS (
       |  SELECT band_id, band_key FROM bands WHERE doc_id % 10 <> 0
       |  GROUP BY band_id, band_key HAVING count(*) <= 64),
       |j AS (
       |  SELECT DISTINCT n.doc_id, c.doc_id AS corpus_doc_id,
       |    CAST(len(list_intersect(sa.hashes, sb.hashes)) AS DOUBLE) /
       |      (len(sa.hashes) + len(sb.hashes) - len(list_intersect(sa.hashes, sb.hashes)))
       |      AS jaccard
       |  FROM bands n JOIN bands c
       |    ON n.band_id = c.band_id AND n.band_key = c.band_key
       |   AND n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
       |  JOIN ok ON c.band_id = ok.band_id AND c.band_key = ok.band_key
       |  JOIN hs sa ON n.doc_id = sa.doc_id JOIN hs sb ON c.doc_id = sb.doc_id),
       |hits AS (SELECT * FROM j WHERE jaccard >= 0.5),
       |best AS (
       |  SELECT doc_id, corpus_doc_id, jaccard FROM hits
       |  QUALIFY row_number() OVER (PARTITION BY doc_id
       |    ORDER BY jaccard DESC, corpus_doc_id) = 1),
       |summ AS (
       |  SELECT doc_id, CAST(count(*) AS INT) AS n_matches FROM hits GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(s.n_matches, 0) AS n_matches,
       |  b.corpus_doc_id AS best_match_id, b.jaccard AS best_jaccard,
       |  s.doc_id IS NULL AS keep
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
       |LEFT JOIN summ s ON d.doc_id = s.doc_id
       |LEFT JOIN best b ON d.doc_id = b.doc_id""".stripMargin

  /** x15 oracle: per-(doc,term) counts, corpus document frequency, and the
    * integer-exact rare-instance ratio. */
  /** x17 oracle: 5-token spans via the shared shingle+hash family; shared =
    * span hash held by >= 2 distinct docs (mirrors Dedup.dupSpanStats). */
  private lazy val dupSpanSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '$tokenRe') AS t FROM documents),
       |sp AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) % ${Dedup.P} AS h
       |  FROM (SELECT doc_id, unnest(list_transform(
       |      generate_series(1, greatest(1, len(t) - 4)),
       |      i -> array_to_string(t[i:i+4], ' '))) AS s FROM toks)
       |  WHERE s <> ''),
       |per AS (SELECT doc_id, h, count(*) AS c FROM sp GROUP BY doc_id, h),
       |shared AS (SELECT h FROM per GROUP BY h HAVING count(*) >= 2)
       |SELECT per.doc_id,
       |  CAST(sum(per.c) AS BIGINT) AS n_spans,
       |  CAST(sum(CASE WHEN sh.h IS NOT NULL THEN per.c ELSE 0 END) AS BIGINT)
       |    AS n_shared,
       |  CAST(sum(CASE WHEN sh.h IS NOT NULL THEN per.c ELSE 0 END) AS DOUBLE) /
       |    sum(per.c) AS dup_fraction
       |FROM per LEFT JOIN shared sh ON per.h = sh.h
       |GROUP BY per.doc_id""".stripMargin

  /** d12 oracle: distinct (source, shingle-hash) pairs, pairwise shared
    * counts and Jaccard — the shingle fragment mirrors dupSpanSql (n=5). */
  private lazy val sourceOverlapSql: String =
    s"""WITH toks AS (
       |  SELECT source, regexp_extract_all(lower(text), '$tokenRe') AS t FROM documents),
       |sp AS (
       |  SELECT DISTINCT source,
       |    CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) % ${Dedup.P} AS h
       |  FROM (SELECT source, unnest(list_transform(
       |      generate_series(1, greatest(1, len(t) - 4)),
       |      i -> array_to_string(t[i:i+4], ' '))) AS s FROM toks)
       |  WHERE s <> ''),
       |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sp GROUP BY source),
       |pr AS (
       |  SELECT l.source AS src_a, r.source AS src_b, CAST(count(*) AS BIGINT) AS shared
       |  FROM sp l JOIN sp r ON l.h = r.h AND l.source < r.source
       |  GROUP BY 1, 2)
       |SELECT pr.src_a, pr.src_b, ta.n AS n_a, tb.n AS n_b, pr.shared,
       |  CAST(pr.shared AS DOUBLE) / (ta.n + tb.n - pr.shared) AS jaccard
       |FROM pr JOIN tot ta ON pr.src_a = ta.source
       |        JOIN tot tb ON pr.src_b = tb.source""".stripMargin

  /** Recall-harness oracle wrapper: the e1 exact leg LEFT JOIN any approx
    * leg's (query_id, nbr_id) output, rolled up to per-query recall@3. The
    * approx leg nests verbatim from its own oracle, so the harness can
    * never drift from the index it certifies. */
  private def recallSqlOver(annLeg: String): String =
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM base WHERE vec_id < 10),
       |ex AS (
       |  SELECT query_id, nbr_id FROM (
       |    SELECT q.query_id, c.vec_id AS nbr_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY list_cosine_similarity(q.q_emb, c.emb) DESC, c.vec_id) AS rn
       |    FROM base c, q WHERE c.vec_id <> q.query_id)
       |  WHERE rn <= 3),
       |ann AS (SELECT query_id, nbr_id FROM ($annLeg))
       |SELECT ex.query_id,
       |  CAST(count(a.nbr_id) AS BIGINT) AS n_hit,
       |  CAST(count(*) AS BIGINT) AS k_exact,
       |  CAST(count(a.nbr_id) AS DOUBLE) / count(*) AS recall
       |FROM ex LEFT JOIN ann a USING (query_id, nbr_id)
       |GROUP BY ex.query_id""".stripMargin

  /** r4 oracle: recall of the e3 SRP-LSH leg. */
  private lazy val annRecallSql: String = recallSqlOver(srpAnnSql)

  /** r6 oracle: recall of the e4 IVF leg. */
  private lazy val ivfRecallSql: String = recallSqlOver(ivfSql)

  /** e9 oracle: product-quantization ADC top-3. The `lut` CTE reuses `encd`
    * rows for query vectors (queries ⊂ corpus, and the (vector, m, code)
    * subspace distance IS the LUT entry). */
  private lazy val pqSql: String =
    """WITH base AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      |  WHERE len(embedding) = 64),
      |cb AS (SELECT vec_id AS code, emb AS cemb FROM base
      |       ORDER BY vec_id LIMIT 4),
      |ms AS (SELECT CAST(unnest(range(4)) AS INT) AS m),
      |encd AS (
      |  SELECT v.vec_id AS nbr_id, ms.m, cb.code,
      |    (list_dot_product(v.emb[ms.m*16+1 : ms.m*16+16],
      |                      v.emb[ms.m*16+1 : ms.m*16+16])
      |     - 2.0 * list_dot_product(v.emb[ms.m*16+1 : ms.m*16+16],
      |                              cb.cemb[ms.m*16+1 : ms.m*16+16])
      |     + list_dot_product(cb.cemb[ms.m*16+1 : ms.m*16+16],
      |                        cb.cemb[ms.m*16+1 : ms.m*16+16])) AS d
      |  FROM base v, ms, cb),
      |enc AS (
      |  SELECT nbr_id, m, code FROM (
      |    SELECT nbr_id, m, code,
      |      row_number() OVER (PARTITION BY nbr_id, m ORDER BY d, code) AS rn
      |    FROM encd) WHERE rn = 1),
      |lut AS (
      |  SELECT q.nbr_id AS query_id, q.m, q.code,
      |    CAST(floor(q.d * 1048576 + 0.5) AS BIGINT) AS qd
      |  FROM encd q WHERE q.nbr_id < 10),
      |scored AS (
      |  SELECT lut.query_id, enc.nbr_id, CAST(sum(lut.qd) AS BIGINT) AS dist_fx
      |  FROM enc JOIN lut ON enc.m = lut.m AND enc.code = lut.code
      |  WHERE lut.query_id <> enc.nbr_id
      |  GROUP BY 1, 2)
      |SELECT query_id, nbr_id, rank, CAST(dist_fx AS DOUBLE) / 1048576 AS dist
      |FROM (
      |  SELECT query_id, nbr_id, dist_fx,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY dist_fx, nbr_id) AS INT) AS rank
      |  FROM scored) WHERE rank <= 3""".stripMargin

  /** r7 oracle: recall of the e9 PQ leg. */
  private lazy val pqRecallSql: String = recallSqlOver(pqSql)

  /** One SQL text, two engines: the whole point is that this string is
    * BOTH the spark.sql input and the DuckDB oracle — restricted to the
    * ANSI intersection (no engine-specific functions, no bare casts).
    * sum_disc_price is fixed-point (integer hundredths-of-a-cent summed,
    * de-scaled after) so the one float-valued aggregate is independent of
    * each engine's summation order; sum/avg of l_quantity are exact
    * already (integer-valued doubles). The de-scale divisor MUST be written
    * in exponent notation: Spark SQL types the literal `10000.0` as
    * DECIMAL(6,1) (making the quotient DECIMAL(28,7)) while DuckDB types it
    * DOUBLE — same value, different hash. `1e4` is DOUBLE in both parsers. */
  private lazy val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  count(*) AS n,
      |  sum(l_quantity) AS sum_qty,
      |  sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
      |    / 1e4 AS sum_disc_price,
      |  avg(l_quantity) AS avg_qty,
      |  max(l_extendedprice) AS max_price
      |FROM lineitem
      |WHERE l_quantity < 24
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** GROUPING SETS text fed to spark.sql (oracle-side twin lives inline in
    * the registry row — differs only in the temp-view name). */
  private lazy val gsetsSparkSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty, count(*) AS n
      |FROM __li
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin

  /** The T16 text that goes through Spark's SQL parser. `value` is DOUBLE,
    * so `value / 5e1` stays DOUBLE; the divisor is exponent notation per the
    * Spark-parsed-literal rule (see [[sparkParsedSql]]). */
  private lazy val t16ExtSql: String =
    "SELECT event_id, grade_scale(value / 5e1) AS grade4 FROM events_v"

  /** Every SQL text this registry feeds through Spark's parser (`spark.sql`
    * or `expr`), keyed by query name, for SqlLintSpec. The rule it enforces:
    * Spark SQL types a bare fractional literal like `10000.0` as DECIMAL
    * (so `BIGINT / 10000.0` becomes DECIMAL(28,7)) while DuckDB types it
    * DOUBLE — identical values, different hash, the exact failure behind
    * r9's `sql_pricing_summary` red row. Non-integer literals in these
    * texts must be written in exponent notation (`1e4`) or wrapped in an
    * explicit CAST. Oracle-only SQL strings are immune (DuckDB-parsed only)
    * and are NOT listed here. Keep this map in sync with every `s.sql(`/
    * `expr("` call site in the registry; SqlLintSpec also asserts no inline
    * triple-quoted text is passed to `.sql(` so new texts must land here. */
  private[graft] lazy val sparkParsedSql: Map[String, String] = Map(
    "sql_pricing_summary" -> pricingSummarySql,
    "gsets_agg" -> gsetsSparkSql,
    "t16_grade_band_ext" -> t16ExtSql)

  private lazy val rareTokenSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '$tokenRe')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |nd AS (SELECT count(*) AS n_docs FROM documents)
       |SELECT tf.doc_id,
       |  CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN d.df * 10 < nd.n_docs THEN tf.tf ELSE 0 END) AS BIGINT) AS n_rare,
       |  CAST(sum(CASE WHEN d.df * 10 < nd.n_docs THEN tf.tf ELSE 0 END) AS DOUBLE) / sum(tf.tf)
       |    AS rare_ratio
       |FROM tf JOIN dfreq d ON tf.term = d.term CROSS JOIN nd
       |GROUP BY tf.doc_id""".stripMargin

  /** 60-bit SimHash CTE chain (per-bit majority votes), shared by the d4
    * signature oracle and the d5 near-dup oracle. */
  private lazy val simhashCtes: String = {
    // 60-bit fingerprint (15 md5 hex chars) mirroring Dedup.simhash — 60
    // and not 64 so '0x'||hex parses within a signed BIGINT on both engines.
    val votes = (0 until 60).map { j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j"
    }.mkString(",\n  ")
    val sig = (0 until 60).map { j =>
      s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '$tokenRe')) AS token
       |  FROM documents),
       |h AS (SELECT doc_id, CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h FROM tok),
       |votes AS (SELECT doc_id,
       |  $votes
       |FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM votes)""".stripMargin
  }

  private lazy val simhashSql: String =
    s"WITH $simhashCtes\nSELECT doc_id, simhash FROM sig"

  /** d5 oracle: with bands derived from maxHamming the banded join is exact,
    * so the ground truth is the plain all-pairs Hamming filter. */
  private lazy val simhashNearDupSql: String =
    s"""WITH $simhashCtes
       |SELECT l.doc_id AS a, r.doc_id AS b,
       |  CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
       |FROM sig l JOIN sig r ON l.doc_id < r.doc_id
       |WHERE bit_count(xor(l.simhash, r.simhash)) <= 3""".stripMargin

  /** The SRP bucket id in DuckDB SQL — ONE definition for every oracle
    * that blocks on it (e3/e5/e2): each plane's projection is unrolled
    * with the SAME signs (Similarity.planeSign) and the same left-to-right
    * add order as Spark's zip_with/aggregate fold, so the projections —
    * and hence buckets — are bit-identical. */
  private def srpBucketSqlExpr(planes: Int, dims: Int): String =
    (0 until planes).map { p =>
      val terms = (0 until dims).map { d =>
        val sgn = if (Similarity.planeSign(p, d) > 0) "+" else "-"
        s"$sgn emb[${d + 1}]"
      }.mkString(" ")
      s"(CASE WHEN (0.0 $terms) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n    + ")

  /** e3 oracle: SRP bucket + Hamming-1 probe + exact rerank; rerank
    * mirrors the e1 cosine oracle. */
  private lazy val srpAnnSql: String = {
    val planes = 12; val dims = 64
    val bucketExpr = srpBucketSqlExpr(planes, dims)
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings WHERE len(embedding) = $dims),
       |bk AS (
       |  SELECT vec_id, emb,
       |    $bucketExpr AS bucket
       |  FROM base),
       |q AS (SELECT vec_id AS query_id, emb AS q_emb, bucket FROM bk WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS nbr_id,
       |    list_cosine_similarity(q.q_emb, c.emb) AS cos
       |  FROM bk c JOIN q
       |    ON bit_count(xor(c.bucket, q.bucket)) <= 1 AND c.vec_id <> q.query_id)
       |SELECT query_id, nbr_id, cos, rank FROM (
       |  SELECT query_id, nbr_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, nbr_id) AS INT) AS rank
       |  FROM scored) WHERE rank <= 3""".stripMargin
  }

  /** e5 oracle: same-bucket pairs (exactly equal SRP buckets) with cosine
    * at or above threshold — shares the bucket expression with e3. */
  private lazy val srpNearDupSql: String = {
    val planes = 12; val dims = 64
    val bucketExpr = srpBucketSqlExpr(planes, dims)
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings WHERE len(embedding) = $dims),
       |bk AS (
       |  SELECT vec_id, emb,
       |    $bucketExpr AS bucket
       |  FROM base)
       |SELECT l.vec_id AS a, r.vec_id AS b,
       |  list_cosine_similarity(l.emb, r.emb) AS cos
       |FROM bk l JOIN bk r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
       |WHERE list_cosine_similarity(l.emb, r.emb) >= 0.3""".stripMargin
  }

  /** e2 oracle at the production blocking: pairs must share label AND one
    * of each vector's top-2 probed k-means cells (corpus-side multi-probe,
    * r19 — buys back the cell-boundary recall the sampled training costs).
    * Replays the training exactly — the same shared Lloyd CTE chain as the
    * d8 oracle (k = ⌈√n⌉ from a scalar subquery, fixed-point per-dimension
    * sums, iterations over the 10% md5-bucket training sample), assignment
    * over ALL nonzero vectors via QUALIFY rn <= 2 (row 2 of the (cos DESC,
    * cell) order ≡ the Spark side's excluded second argmax, same tie rule),
    * then the label ∧ cell pair join with DISTINCT collapsing pairs that
    * share both probed cells (cos is bit-identical across duplicates). */
  private lazy val embNearDupCelledSql: String = {
    val iters = 2
    val kkDef = "SELECT greatest(1, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k FROM base"
    s"""WITH ${kmeansCtes(kkDef, iters, 64, "BIGINT", trainPct = 10)},
       |assign AS (
       |  SELECT b.vec_id, b.emb, c.cell
       |  FROM bz b CROSS JOIN c$iters c
       |  QUALIFY row_number() OVER (PARTITION BY b.vec_id
       |    ORDER BY list_cosine_similarity(b.emb, c.c) DESC, c.cell) <= 2),
       |keyed AS (
       |  SELECT a.vec_id, a.emb, a.cell, e.label
       |  FROM assign a JOIN embeddings e ON a.vec_id = e.vec_id)
       |SELECT DISTINCT l.label, l.vec_id AS a, r.vec_id AS b,
       |  list_cosine_similarity(l.emb, r.emb) AS cos
       |FROM keyed l JOIN keyed r
       |  ON l.label = r.label AND l.cell = r.cell AND l.vec_id < r.vec_id
       |WHERE list_cosine_similarity(l.emb, r.emb) >= 0.3""".stripMargin
  }

  /** e4 oracle: nearest-of-8-centroids cell assignment (argmax cosine, ties
    * to the lower centroid id), 2-cell probing, exact rerank. */
  private lazy val ivfSql: String =
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |bnz AS (SELECT vec_id, emb FROM base WHERE list_dot_product(emb, emb) > 0),
       |cent AS (SELECT vec_id AS cent_id, emb AS cent_emb FROM bnz WHERE vec_id < 8),
       |cassign AS (
       |  SELECT vec_id, emb, cent_id AS cell FROM (
       |    SELECT b.vec_id, b.emb, c.cent_id,
       |      row_number() OVER (PARTITION BY b.vec_id
       |        ORDER BY list_cosine_similarity(b.emb, c.cent_emb) DESC, c.cent_id) AS rn
       |    FROM bnz b, cent c) WHERE rn <= 1),
       |qassign AS (
       |  SELECT vec_id AS query_id, emb AS q_emb, cent_id AS cell FROM (
       |    SELECT b.vec_id, b.emb, c.cent_id,
       |      row_number() OVER (PARTITION BY b.vec_id
       |        ORDER BY list_cosine_similarity(b.emb, c.cent_emb) DESC, c.cent_id) AS rn
       |    FROM bnz b, cent c WHERE b.vec_id < 10) WHERE rn <= 2),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS nbr_id,
       |    list_cosine_similarity(q.q_emb, c.emb) AS cos
       |  FROM cassign c JOIN qassign q ON c.cell = q.cell AND c.vec_id <> q.query_id)
       |SELECT query_id, nbr_id, cos, rank FROM (
       |  SELECT query_id, nbr_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, nbr_id) AS INT) AS rank
       |  FROM scored) WHERE rank <= 3""".stripMargin

  /** e10 oracle: IVF-PQ composition — the e4 cell-assignment CTEs (argmax
    * cosine vs the vec_id<8 centroids, ties to the lower cent_id; corpus
    * keeps 1 cell, queries probe 2) wired into the e9 PQ CTEs (codebook =
    * 4 lowest vec_ids, fixed-point ADC LUT): the scan joins corpus codes to
    * the LUT only where the corpus cell is one of the query's probed cells.
    * Both halves' fragments match ivfSql / pqSql line-for-line, with the
    * e9 len-guard applied uniformly (the gate corpus is all-64-dim, so the
    * guard changes nothing there — it pins the contract). The `bnz` CTE
    * replays the Spark side's documented zero-norm exclusion
    * (v_nrm/q_nrm/cent_nrm > 0 in ivfPqTopK — ADVICE r18); `cb` stays on
    * `base` because pqCodebook only dims-guards (a zero codebook entry is
    * well-defined: d = ‖v‖², no division). */
  private lazy val ivfPqSql: String =
    """WITH base AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      |  WHERE len(embedding) = 64),
      |bnz AS (SELECT vec_id, emb FROM base WHERE list_dot_product(emb, emb) > 0),
      |cent AS (SELECT vec_id AS cent_id, emb AS cent_emb FROM bnz WHERE vec_id < 8),
      |cells AS (
      |  SELECT vec_id AS nbr_id, cent_id AS cell FROM (
      |    SELECT b.vec_id, c.cent_id,
      |      row_number() OVER (PARTITION BY b.vec_id
      |        ORDER BY list_cosine_similarity(b.emb, c.cent_emb) DESC, c.cent_id) AS rn
      |    FROM bnz b, cent c) WHERE rn <= 1),
      |qcells AS (
      |  SELECT vec_id AS query_id, cent_id AS cell FROM (
      |    SELECT b.vec_id, c.cent_id,
      |      row_number() OVER (PARTITION BY b.vec_id
      |        ORDER BY list_cosine_similarity(b.emb, c.cent_emb) DESC, c.cent_id) AS rn
      |    FROM bnz b, cent c WHERE b.vec_id < 10) WHERE rn <= 2),
      |cb AS (SELECT vec_id AS code, emb AS cemb FROM base
      |       ORDER BY vec_id LIMIT 4),
      |ms AS (SELECT CAST(unnest(range(4)) AS INT) AS m),
      |encd AS (
      |  SELECT v.vec_id AS nbr_id, ms.m, cb.code,
      |    (list_dot_product(v.emb[ms.m*16+1 : ms.m*16+16],
      |                      v.emb[ms.m*16+1 : ms.m*16+16])
      |     - 2.0 * list_dot_product(v.emb[ms.m*16+1 : ms.m*16+16],
      |                              cb.cemb[ms.m*16+1 : ms.m*16+16])
      |     + list_dot_product(cb.cemb[ms.m*16+1 : ms.m*16+16],
      |                        cb.cemb[ms.m*16+1 : ms.m*16+16])) AS d
      |  FROM bnz v, ms, cb),
      |enc AS (
      |  SELECT nbr_id, m, code FROM (
      |    SELECT nbr_id, m, code,
      |      row_number() OVER (PARTITION BY nbr_id, m ORDER BY d, code) AS rn
      |    FROM encd) WHERE rn = 1),
      |lut AS (
      |  SELECT q.nbr_id AS query_id, q.m, q.code,
      |    CAST(floor(q.d * 1048576 + 0.5) AS BIGINT) AS qd
      |  FROM encd q WHERE q.nbr_id < 10),
      |scored AS (
      |  SELECT lut.query_id, enc.nbr_id, CAST(sum(lut.qd) AS BIGINT) AS dist_fx
      |  FROM enc
      |  JOIN cells  ON enc.nbr_id = cells.nbr_id
      |  JOIN qcells ON cells.cell = qcells.cell
      |  JOIN lut    ON enc.m = lut.m AND enc.code = lut.code
      |             AND lut.query_id = qcells.query_id
      |  WHERE lut.query_id <> enc.nbr_id
      |  GROUP BY 1, 2)
      |SELECT query_id, nbr_id, rank, CAST(dist_fx AS DOUBLE) / 1048576 AS dist
      |FROM (
      |  SELECT query_id, nbr_id, dist_fx,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY dist_fx, nbr_id) AS INT) AS rank
      |  FROM scored) WHERE rank <= 3""".stripMargin

  /** r9 oracle: recall of the e10 IVF-PQ leg. */
  private lazy val ivfPqRecallSql: String = recallSqlOver(ivfPqSql)

  /** x5 oracle: quality + language oracles composed as nested CTEs, then the
    * exact-dedup group oracle over the surviving docs. */
  private lazy val cleanCorpusSql: String =
    s"""WITH q AS ($qualitySql),
       |l AS ($langIdSql),
       |kept AS (
       |  SELECT d.doc_id, d.text FROM documents d
       |  JOIN q ON d.doc_id = q.doc_id
       |  JOIN l ON d.doc_id = l.doc_id
       |  WHERE q.quality >= 0.7 AND l.pred_lang = 'en')
       |SELECT min(doc_id) AS doc_id, count(*) AS n_dups
       |FROM kept GROUP BY md5(text)""".stripMargin

  /** d6 oracle: transitive closure of the undirected d5 pair graph via a
    * recursive CTE; cluster id = smallest reachable doc_id. */
  private lazy val dupClustersSql: String =
    s"""WITH RECURSIVE $simhashCtes,
       |pairs AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b
       |  FROM sig l JOIN sig r ON l.doc_id < r.doc_id
       |  WHERE bit_count(xor(l.simhash, r.simhash)) <= 3),
       |und AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs),
       |reach AS (
       |  SELECT x, y FROM und
       |  UNION
       |  SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x)
       |SELECT x AS doc_id, least(x, min(y)) AS cluster_id
       |FROM reach GROUP BY x""".stripMargin

  /** d16 oracle: the d6 recursive-CTE clusters composed with the x2 quality
    * CTE; singletons via left join, keep = row_number 1 under the same
    * total order the Spark side uses. */
  private lazy val canonicalPickSql: String =
    s"""WITH RECURSIVE $simhashCtes,
       |pairs AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b
       |  FROM sig l JOIN sig r ON l.doc_id < r.doc_id
       |  WHERE bit_count(xor(l.simhash, r.simhash)) <= 3),
       |und AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs),
       |reach AS (
       |  SELECT x, y FROM und
       |  UNION
       |  SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x),
       |clus AS (SELECT x AS doc_id, least(x, min(y)) AS cluster_id
       |         FROM reach GROUP BY x),
       |q AS ($qualitySql),
       |memb AS (
       |  SELECT q.doc_id, coalesce(c.cluster_id, q.doc_id) AS cluster_id,
       |         q.quality, q.n_chars
       |  FROM q LEFT JOIN clus c ON q.doc_id = c.doc_id)
       |SELECT cluster_id, doc_id AS keep_id, n_members,
       |       quality AS keep_quality
       |FROM (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY cluster_id
       |                       ORDER BY quality DESC, n_chars DESC, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY cluster_id) AS n_members
       |  FROM memb) WHERE rn = 1""".stripMargin

  /** d17 oracle: the d6 clusters + x6's salted md5 bucket arithmetic keyed
    * on the cluster id. */
  private lazy val leakageSplitSql: String = {
    val h = s"CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR) || '_r2'), 1, 8) " +
      s"AS BIGINT) % ${Dedup.P} % 100"
    s"""WITH RECURSIVE $simhashCtes,
       |pairs AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b
       |  FROM sig l JOIN sig r ON l.doc_id < r.doc_id
       |  WHERE bit_count(xor(l.simhash, r.simhash)) <= 3),
       |und AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs),
       |reach AS (
       |  SELECT x, y FROM und
       |  UNION
       |  SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x),
       |clus AS (SELECT x AS doc_id, least(x, min(y)) AS cluster_id
       |         FROM reach GROUP BY x),
       |memb AS (
       |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id)
       |SELECT doc_id, cluster_id, $h AS bucket,
       |  CASE WHEN $h < 80 THEN 'train'
       |       WHEN $h < 90 THEN 'valid'
       |       ELSE 'test' END AS split
       |FROM memb""".stripMargin
  }

  /** d18 oracle: the shared posting CTEs, an UNcapped df frame, and the
    * same least(absolute, relative) cap arithmetic as a scalar. */
  private lazy val capReportSql: String =
    s"""WITH ${Dedup.postingCtes(tokenRe, 0.2, 1000, 2)},
       |cap AS (SELECT least(1000, greatest(2,
       |          CAST(ceil(n * 0.2) AS BIGINT))) AS c FROM nd),
       |dfall AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |tfd AS (SELECT tf.doc_id, tf.term, tf.tf, (dfall.df <= cap.c) AS kept
       |        FROM tf JOIN dfall USING (term) CROSS JOIN cap),
       |tot AS (
       |  SELECT count(DISTINCT term) AS n_terms,
       |    count(DISTINCT CASE WHEN kept THEN term END) AS n_terms_kept,
       |    CAST(count(*) AS BIGINT) AS postings,
       |    CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS postings_kept,
       |    CAST(sum(tf * tf) AS BIGINT) AS mass,
       |    CAST(sum(CASE WHEN kept THEN tf * tf ELSE 0 END) AS BIGINT) AS mass_kept
       |  FROM tfd),
       |can AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs_tokenized,
       |    CAST(sum(CASE WHEN anyk = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS docs_pruned_empty
       |  FROM (SELECT doc_id, max(CASE WHEN kept THEN 1 ELSE 0 END) AS anyk
       |        FROM tfd GROUP BY doc_id))
       |SELECT (SELECT n FROM nd) AS n_docs, n_docs_tokenized, n_terms,
       |  n_terms_kept, postings, postings_kept, mass, mass_kept,
       |  docs_pruned_empty
       |FROM tot CROSS JOIN can""".stripMargin

  /** x8 oracle: identical regex chain (URL -> EMAIL -> PHONE, global). */
  private lazy val redactPiiSql: String = {
    val (u, e, ph) = (TextAnalysis.UrlRegex, TextAnalysis.EmailRegex, TextAnalysis.PhoneRegex)
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$u')) AS INT) AS n_urls,
       |  CAST(len(regexp_extract_all(regexp_replace(text, '$u', '<URL>', 'g'),
       |       '$e')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(regexp_replace(regexp_replace(text, '$u', '<URL>', 'g'),
       |       '$e', '<EMAIL>', 'g'), '$ph')) AS INT) AS n_phones,
       |  regexp_replace(regexp_replace(regexp_replace(text, '$u', '<URL>', 'g'),
       |       '$e', '<EMAIL>', 'g'), '$ph', '<PHONE>', 'g') AS clean_text
       |FROM documents""".stripMargin
  }

  /** x10 oracle: distinct shingle hashes per doc, benchmark = docs with
    * doc_id % 50 = 0, hit fraction via left join. */
  private lazy val contaminationSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '$tokenRe') AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, list_filter(list_distinct(list_transform(
       |    generate_series(1, greatest(1, len(t) - 2)),
       |    i -> array_to_string(t[i:i+2], ' '))), s -> s <> '') AS shingles
       |  FROM toks),
       |hs AS (
       |  SELECT doc_id, list_distinct(list_transform(shingles,
       |    s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) % ${Dedup.P})) AS hashes FROM sh),
       |dsh AS (SELECT doc_id, unnest(hashes) AS h FROM hs),
       |bench AS (SELECT DISTINCT h FROM dsh WHERE doc_id % 50 = 0),
       |tgt AS (SELECT * FROM dsh WHERE doc_id % 50 <> 0)
       |SELECT t.doc_id, count(*) AS n_shingles,
       |  CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
       |    AS contamination
       |FROM tgt t LEFT JOIN bench b ON t.h = b.h
       |GROUP BY t.doc_id""".stripMargin

  /** Lloyd's k-means oracle: replays the exact fixed-point iterations of
    * Similarity.kmeansCentroids (seeds = k lowest vec_ids; assignment =
    * max list_cosine_similarity with cell-ascending ties; update =
    * sum(round(x*1e6) BIGINT) / (1e6 * n) per dimension; empty cells keep
    * their previous centroid). */
  /** Lloyd-iteration CTE chain shared by the e6, d8, and e2 oracles: `base`
    * (len-guarded corpus), `bz` (base minus zero-norm vectors — the
    * object-level exclusion Similarity.kmeansCentroids applies: zero
    * vectors neither seed, nor vote in per-cell means, nor get assigned;
    * callers' final assignment CTEs must read from `bz`, and `kkDef` that
    * mirrors derivedCellCount still counts `base`), `kk` (the cell count —
    * `kkDef` supplies the
    * definition: a literal for e6, the √n derivation for d8), `c0` (the k
    * lowest-vec_id seeds), then per iteration the assignment / fixed-point
    * per-dimension sums / updated centroids — `c<iters>` is the final
    * centroid frame callers assign against. `cellType` matches the Spark
    * side's cell column type (INT for e6's driver centFrame, BIGINT for
    * d8's kmeansCentroidFrame). Identical float arithmetic to
    * Similarity.kmeansCentroids (sequential cosine folds, round(x·1e6)
    * BIGINT sums), so assignments hash-match exactly.
    *
    * `trainPct` < 100 replays the sampled-training posture (the r19
    * registered shape for d8/e2): a `bs` CTE restricts seeds and every
    * Lloyd iteration to the rows whose md5 vec_id-bucket (the
    * Sampling.hashBucket arithmetic, salt "lloyd") falls below trainPct —
    * callers' FINAL assignment CTEs still read `bz`, exactly as the Spark
    * side assigns the full corpus against sample-trained centroids. */
  private def kmeansCtes(kkDef: String, iters: Int, dims: Int,
                         cellType: String, trainPct: Int = 100): String = {
    val sumsCols = (0 until dims).map(d =>
      s"sum(CAST(round(emb[${d + 1}] * 1000000.0) AS BIGINT)) AS s$d").mkString(", ")
    val newc = (0 until dims).map(d =>
      s"CAST(s.s$d AS DOUBLE) / (1000000.0 * s.n)").mkString("list_value(", ", ", ")")
    val train = if (trainPct >= 100) "bz" else "bs"
    val cte = new StringBuilder
    cte ++= s"""base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings WHERE len(embedding) = $dims),
       |bz AS (
       |  SELECT vec_id, emb FROM base WHERE list_dot_product(emb, emb) > 0),""".stripMargin
    if (trainPct < 100)
      cte ++= s"""
         |bs AS (
         |  SELECT vec_id, emb FROM bz
         |  WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) ||
         |      '_${Similarity.lloydTrainSalt}'), 1, 8) AS BIGINT)
         |    % 2147483647 % 100 < $trainPct),""".stripMargin
    cte ++= s"""
       |kk AS ($kkDef),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS $cellType) - 1 AS cell, emb AS c
       |  FROM $train QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT k FROM kk))""".stripMargin
    for (i <- 1 to iters) {
      cte ++= s""",
         |a$i AS (
         |  SELECT b.vec_id, b.emb, c.cell
         |  FROM $train b CROSS JOIN c${i - 1} c
         |  QUALIFY row_number() OVER (PARTITION BY b.vec_id
         |    ORDER BY list_cosine_similarity(b.emb, c.c) DESC, c.cell) = 1),
         |s$i AS (
         |  SELECT cell, count(*) AS n, $sumsCols
         |  FROM a$i GROUP BY cell),
         |c$i AS (
         |  SELECT c.cell, CASE WHEN s.cell IS NULL THEN c.c ELSE $newc END AS c
         |  FROM c${i - 1} c LEFT JOIN s$i s ON c.cell = s.cell)""".stripMargin
    }
    cte.toString
  }

  private lazy val kmeansSql: String = {
    val iters = 2
    s"""WITH ${kmeansCtes("SELECT 8 AS k", iters, 64, "INT")}
       |SELECT b.vec_id, c.cell
       |FROM bz b CROSS JOIN c$iters c
       |QUALIFY row_number() OVER (PARTITION BY b.vec_id
       |  ORDER BY list_cosine_similarity(b.emb, c.c) DESC, c.cell) = 1""".stripMargin
  }

  /** d8 oracle at the production configuration: k-means centroids at the
    * derived k = ⌈√n⌉ (the same two fixed-point Lloyd iterations as e6's
    * oracle, k from a scalar subquery instead of a literal) trained on the
    * 10% md5-bucket sample (the r19 registered posture — see kmeansCtes),
    * then the SemDeDup assign/drop/keep over ALL nonzero-norm vectors. */
  private lazy val semDedupDerivedSql: String = {
    val iters = 2
    val kkDef = "SELECT greatest(1, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k FROM base"
    s"""WITH ${kmeansCtes(kkDef, iters, 64, "BIGINT", trainPct = 10)},
       |assign AS (
       |  SELECT b.vec_id, b.emb, c.cell
       |  FROM bz b CROSS JOIN c$iters c
       |  QUALIFY row_number() OVER (PARTITION BY b.vec_id
       |    ORDER BY list_cosine_similarity(b.emb, c.c) DESC, c.cell) = 1),
       |dropped AS (
       |  SELECT DISTINCT r.vec_id
       |  FROM assign l JOIN assign r ON l.cell = r.cell AND l.vec_id < r.vec_id
       |  WHERE list_cosine_similarity(l.emb, r.emb) >= 0.3)
       |SELECT a.vec_id, a.cell, d.vec_id IS NULL AS keep
       |FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id""".stripMargin
  }

  /** e8 oracle: the identical 16 signed-sum projections; the ±1 weights are
    * printed from the same planeSign family the Spark side folds in. */
  private lazy val rpSql: String = {
    val outs = (0 until 16).map { p =>
      val w = (0 until 64).map(d =>
        if (Similarity.planeSign(p, d) > 0) "1.0" else "-1.0")
        .mkString("[", ", ", "]")
      s"list_dot_product(CAST(embedding AS DOUBLE[]), $w) AS r$p"
    }.mkString(",\n  ")
    s"""SELECT vec_id,
       |  $outs
       |FROM embeddings WHERE len(embedding) = 64""".stripMargin
  }

  /** x16 oracle: identical per-source (base, rem) literals and salted-hash
    * remainder decision; epochs via generate_series. */
  private lazy val epochSql: String = {
    val vals = (0 until 20).map { i =>
      val n = i % 4 + 1
      s"('src$i', ${n / 2}, ${n % 2})"
    }.mkString(", ")
    s"""WITH f(source, base, rem) AS (VALUES $vals),
       |c AS (
       |  SELECT doc_id, d.source,
       |    f.base + CASE WHEN
       |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_r5e'), 1, 8) AS BIGINT)
       |          % ${Dedup.P} * 2 < f.rem * ${Dedup.P}
       |      THEN 1 ELSE 0 END AS copies
       |  FROM documents d JOIN f ON d.source = f.source)
       |SELECT doc_id, source, CAST(unnest(generate_series(1, copies)) AS INT) AS epoch
       |FROM c WHERE copies > 0""".stripMargin
  }

  /** x14 oracle: identical rate arithmetic (exact integers until one final
    * double division) and the identical salted id-hash membership test. */
  private lazy val mixtureSql: String = {
    val weights = (0 until 20).map(i => s"('src$i', ${i % 4 + 1})").mkString(", ")
    val wSum = (0 until 20).map(i => i % 4 + 1).sum
    val h = s"CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_r5'), 1, 8) AS BIGINT) % ${Dedup.P}"
    val rate = s"least(1.0, CAST(2000 * w.wt AS DOUBLE) / CAST($wSum * tot.total AS DOUBLE))"
    s"""WITH w(source, wt) AS (VALUES $weights),
       |tok AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_extract_all(lower(text), '$tokenRe')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |tot AS (
       |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total FROM tok GROUP BY source)
       |SELECT t.doc_id, t.source, t.n_tokens,
       |  $rate AS rate,
       |  $h < $rate * ${Dedup.P}.0 AS keep
       |FROM tok t JOIN w ON t.source = w.source JOIN tot ON t.source = tot.source""".stripMargin
  }

  /** Stopword-vote language ID SQL, sharing the lexicon with TextAnalysis. */
  private lazy val langIdSql: String = {
    val lexicon = TextAnalysis.stopwords.toSeq.sortBy(_._1).flatMap { case (lang, ws) =>
      ws.map(w => s"('$lang', '$w')")
    }.mkString(", ")
    s"""WITH lex(cand_lang, token) AS (VALUES $lexicon),
       |tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '$tokenRe')) AS token
       |  FROM documents),
       |hits AS (
       |  SELECT t.doc_id, l.cand_lang, count(*) AS hits
       |  FROM tok t JOIN lex l ON t.token = l.token
       |  GROUP BY t.doc_id, l.cand_lang),
       |best AS (
       |  SELECT doc_id, cand_lang, hits FROM (
       |    SELECT doc_id, cand_lang, hits,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS rn
       |    FROM hits) WHERE rn = 1)
       |SELECT d.doc_id, coalesce(b.cand_lang, 'und') AS pred_lang,
       |  CAST(coalesce(b.hits, 0) AS BIGINT) AS hits
       |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id""".stripMargin
  }

  /** Quality-score SQL mirroring TextAnalysis.qualityScore. */
  private lazy val qualitySql: String = {
    val allStop = TextAnalysis.stopwords.values.flatten.toSeq.distinct.sorted
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    regexp_extract_all(lower(text), '$tokenRe') AS toks,
       |    CAST(length(text) AS INT) AS n_chars
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, n_chars,
       |    CAST(len(toks) AS INT) AS n_tokens,
       |    CASE WHEN len(toks) > 0
       |         THEN CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks)
       |         ELSE 0.0 END AS mean_word_len,
       |    CASE WHEN length(text) > 0
       |         THEN CAST(length(text) - length(regexp_replace(lower(text), '$nonTokenRe', '', 'g')) AS DOUBLE) / length(text)
       |         ELSE 0.0 END AS punct_ratio,
       |    CASE WHEN len(toks) > 0
       |         THEN CAST(len(list_filter(toks, t -> list_contains($allStop, t))) AS DOUBLE) / len(toks)
       |         ELSE 0.0 END AS stopword_ratio
       |  FROM base)
       |SELECT doc_id, n_chars, n_tokens, mean_word_len, punct_ratio, stopword_ratio,
       |  CASE WHEN n_tokens < 5 THEN 0.0
       |       WHEN punct_ratio > 0.3 THEN 0.2
       |       WHEN mean_word_len < 2.0 OR mean_word_len > 12.0 THEN 0.4
       |       WHEN stopword_ratio >= 0.05 THEN 1.0
       |       ELSE 0.7 END AS quality
       |FROM m""".stripMargin
  }

  /** Gopher-rule SQL mirroring TextAnalysis.gopherRules — the same integer
    * cross-multiplied thresholds, so every flag is exact. */
  private lazy val gopherSql: String = {
    val allStop = TextAnalysis.stopwords.values.flatten.toSeq.distinct.sorted
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH b AS (
       |  SELECT doc_id,
       |    regexp_extract_all(lower(text), '$tokenRe') AS toks,
       |    length(text) AS nc,
       |    length(text) - length(regexp_replace(lower(text), '$nonTokenRe', '', 'g')) AS punct,
       |    len(regexp_extract_all(text, '\\.\\.\\.')) AS ellipses
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, nc, punct, ellipses,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(length(array_to_string(toks, '')) AS BIGINT) AS tok_chars,
       |    CAST(len(list_filter(toks, t -> list_contains($allStop, t))) AS BIGINT) AS stop_hits
       |  FROM b)
       |SELECT doc_id, n_tokens,
       |  n_tokens >= 50 AND n_tokens <= 100000 AS ok_word_count,
       |  n_tokens > 0 AND tok_chars >= n_tokens * 3 AND tok_chars <= n_tokens * 10 AS ok_mean_word_len,
       |  punct * 10 < nc * 3 AS ok_symbol_ratio,
       |  stop_hits >= 2 AS ok_stopwords,
       |  ellipses * 20 < n_tokens AS ok_ellipsis,
       |  (n_tokens >= 50 AND n_tokens <= 100000)
       |    AND (n_tokens > 0 AND tok_chars >= n_tokens * 3 AND tok_chars <= n_tokens * 10)
       |    AND (punct * 10 < nc * 3)
       |    AND (stop_hits >= 2)
       |    AND (ellipses * 20 < n_tokens) AS keep
       |FROM c""".stripMargin
  }

  /** The flagship app.py query over events-mapped enrollments, as one SQL. */
  private lazy val flagshipSql: String = {
    val dims = (
      Seq(46 -> 156, 47 -> 156, 48 -> 161, 49 -> 161, 50 -> 161)
        .map { case (k, c) => s"('MMT', $k, $c, 13)" } ++
      (46 to 50).map(k => s"('NNA', $k, 141, 12)")
    ).mkString(", ")
    val ladder = GradeScale.grade4Sql("diem2")
    val eligible = EventsAdapter.gpaEligibleSql
    s"""WITH enroll AS (${EventsAdapter.sql}),
       |dims(major, khoa, total_credits, total_semesters) AS (VALUES $dims),
       |per AS (
       |  SELECT masv,
       |    CAST(46 + CAST(substr(masv, 3, 1) AS INT) AS INT) AS khoa,
       |    max(CASE WHEN tenlop LIKE 'DI%' THEN 1 ELSE 0 END) AS any_di,
       |    max(CASE WHEN tenlop LIKE 'FL%' THEN 1 ELSE 0 END) AS any_fl,
       |    sum(CASE WHEN $eligible THEN ($ladder) * dvht ELSE 0.0 END) AS total_points,
       |    sum(CASE WHEN $eligible THEN dvht ELSE 0.0 END) AS credits_earned,
       |    max(tcdttl) AS completed_credits,
       |    count(*) AS n_records
       |  FROM enroll GROUP BY masv),
       |classified AS (
       |  SELECT *, CASE WHEN any_di = 1 THEN 'MMT'
       |                 WHEN any_fl = 1 THEN 'NNA'
       |                 ELSE 'Chưa xác định' END AS major
       |  FROM per)
       |SELECT c.masv, c.major, c.khoa, c.n_records, c.completed_credits,
       |  d.total_credits,
       |  d.total_credits - c.completed_credits AS remaining_credits,
       |  d.total_semesters - (2024 - (2020 + c.khoa - 46)) * 3 AS remaining_semesters,
       |  c.completed_credits / d.total_credits * 100 AS progress_pct,
       |  CASE WHEN c.credits_earned > 0 THEN c.total_points / c.credits_earned
       |       ELSE 0.0 END AS dtbctl,
       |  -- unknown requirements (no dim row) => NULL status, not a verdict —
       |  -- mirrors Progress.report's null arm (review finding)
       |  CASE WHEN d.total_credits IS NULL THEN NULL
       |       WHEN d.total_credits - c.completed_credits <= 0 THEN 'Hoàn thành'
       |       WHEN d.total_credits - c.completed_credits <=
       |            (d.total_semesters - (2024 - (2020 + c.khoa - 46)) * 3) * 20
       |         THEN 'Đúng tiến độ'
       |       ELSE 'Chậm tiến độ' END AS status
       |FROM classified c LEFT JOIN dims d ON c.major = d.major AND c.khoa = d.khoa""".stripMargin
  }

  // ------------------------------------------------------------- public maps

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q, _) => n -> q }.toMap

  /** Equivalent ANSI SQL for DuckDB on the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
