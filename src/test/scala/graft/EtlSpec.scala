package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.etl.{Enrich, Ingest, Upsert}

/** §2.2 producer/consumer transforms: T1 dedup, T3 normalization, T7 guards,
  * T8 key fallback branches, S5 upsert idempotence (SURVEY.md §5.2-5.3). */
class EtlSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("T1: delta dedup emits only unseen rows and is idempotent") {
    val v1 = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val v2 = Seq(("a", 1), ("b", 3), ("c", 4)).toDF("k", "v") // b changed, c new
    val seen = v1.select(Ingest.rowHash(v1).as("row_hash"))
    val delta = Ingest.deltaDedup(v2, seen).select("k", "v").as[(String, Int)]
      .collect().toSet
    assert(delta == Set(("b", 3), ("c", 4)))
    // idempotence: diff(x, hashes(x)) = empty
    val seen2 = v2.select(Ingest.rowHash(v2).as("row_hash"))
    assert(Ingest.deltaDedup(v2, seen2).count() == 0)
  }

  test("T1: row hash is stable under column order") {
    val ab = Seq(("x", 1)).toDF("a", "b")
    val ba = Seq((1, "x")).toDF("b", "a")
    val h1 = ab.select(Ingest.rowHash(ab)).first().getString(0)
    val h2 = ba.select(Ingest.rowHash(ba)).first().getString(0)
    assert(h1 == h2)
  }

  test("S1: blank-row filter drops all-empty rows like pro.py:42") {
    val df = Seq(("a", "1"), ("", ""), (null, null), ("b", "")).toDF("x", "y")
    assert(Ingest.dropBlankRows(df).count() == 2)
  }

  test("T3: ''->null normalization makes presence guards match pro.py:76") {
    val df = Seq(("", "DI01")).toDF("F_TENMHVN", "F_TENLOP")
    val n = Ingest.normalizeEmpty(df, Seq("F_TENMHVN", "F_TENLOP"))
    assert(n.filter(col("F_TENMHVN").isNull).count() == 1)
  }

  test("T7: enrichment guarded on both fields present (con.py:46-52)") {
    val df = Seq(
      ("Math", "DI-1", 8.0),   // -> MMT
      ("Eng", "FL-2", 7.0),    // -> NNA
      (null, "DI-1", 6.0),     // guard: course name absent -> no enrich
      ("Hist", null, 5.0),     // guard: class absent -> no enrich
      ("Bio", "XX-9", 4.0)     // unknown prefix -> no enrich
    ).toDF("F_TENMHVN", "F_TENLOP", "F_DIEM2")
    val e = Enrich.enrichMajorColumns(df)
    assert(e.filter(col("MMT") === "Math" && col("DIEM_MMT") === 8.0).count() == 1)
    assert(e.filter(col("NNA") === "Eng" && col("DIEM_NNA") === 7.0).count() == 1)
    assert(e.filter(col("MMT").isNotNull).count() == 1)
    assert(e.filter(col("NNA").isNotNull).count() == 1)
  }

  test("T8: composite key 4-field, 3-field fallback, and rejection (con.py:23-30)") {
    val df = Seq(
      ("C1", "S1", "46", Some(20241)),  // full 4-field key
      ("C2", "S2", "46", None),         // NHHK absent -> 3-field
      (null, "S3", "46", Some(20241))   // required field absent -> rejected
    ).toDF("F_MAMH", "F_MASV", "F_KHOAHOC", "NHHK")
    val k = Enrich.compositeKey(df).select("doc_id").as[Option[String]].collect().toSet
    assert(k == Set(Some("C1_S1_46_20241"), Some("C2_S2_46"), None))
    assert(Enrich.rejected(Enrich.compositeKey(df)).count() == 1)
  }

  test("S5: latestByKey is last-write-wins with deterministic tiebreak") {
    val df = Seq(
      ("k1", ts("2024-01-01 00:00:00"), 1L, 10.0),
      ("k1", ts("2024-01-02 00:00:00"), 2L, 20.0),
      ("k1", ts("2024-01-02 00:00:00"), 3L, 30.0), // same ts, higher tie -> wins
      ("k2", ts("2024-01-01 00:00:00"), 4L, 40.0)
    ).toDF("k", "t", "seq", "v")
    val latest = Upsert.latestByKey(df, Seq("k"), "t", "seq")
      .select("k", "v").as[(String, Double)].collect().toMap
    assert(latest == Map("k1" -> 30.0, "k2" -> 40.0))
  }

  test("S8: SCD2 collapses unchanged runs and chains validity intervals") {
    val df = Seq(
      ("u1", "active", ts("2024-01-01 00:00:00"), 1L),
      ("u1", "active", ts("2024-01-02 00:00:00"), 2L), // unchanged -> no version
      ("u1", "churned", ts("2024-01-03 00:00:00"), 3L),
      ("u1", "active", ts("2024-01-04 00:00:00"), 4L), // value may recur
      ("u2", "trial", ts("2024-01-01 00:00:00"), 5L)
    ).toDF("k", "v", "t", "seq")
    val out = Upsert.scd2History(df, Seq("k"), "v", "t", "seq")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getTimestamp(2), Option(r.getTimestamp(3)), r.getBoolean(4)))
    val u1 = out.filter(_._1 == "u1").sortBy(_._3.getTime)
    assert(u1.map(_._2).toSeq == Seq("active", "churned", "active"))
    // each version's valid_to is the next version's valid_from; last is open
    assert(u1(0)._4.contains(u1(1)._3) && u1(1)._4.contains(u1(2)._3))
    assert(u1(2)._4.isEmpty && u1(2)._5)
    assert(!u1(0)._5 && !u1(1)._5)
    val u2 = out.filter(_._1 == "u2")
    assert(u2.length == 1 && u2.head._4.isEmpty && u2.head._5)
  }

  test("S8: a key whose first tracked value is NULL still opens its interval") {
    // lag() is null both for "no previous row" and "previous value NULL",
    // so the null-safe inequality alone dropped a key's first version when
    // its value was NULL — the rn=1 arm keeps it (review finding).
    val df = Seq(
      ("u1", Option.empty[String], ts("2024-01-01 00:00:00"), 1L),
      ("u1", Some("active"), ts("2024-01-02 00:00:00"), 2L),
      ("u2", Option.empty[String], ts("2024-01-01 00:00:00"), 3L) // never changes
    ).toDF("k", "v", "t", "seq")
    val out = Upsert.scd2History(df, Seq("k"), "v", "t", "seq")
      .collect().map(r => (r.getString(0), Option(r.getString(1)),
        r.getTimestamp(2), r.getBoolean(4)))
    val u1 = out.filter(_._1 == "u1").sortBy(_._3.getTime)
    assert(u1.map(_._2).toSeq == Seq(None, Some("active")),
      s"initial NULL interval lost: ${u1.toSeq}")
    assert(!u1(0)._4 && u1(1)._4)
    val u2 = out.filter(_._1 == "u2")
    assert(u2.length == 1 && u2.head._2.isEmpty && u2.head._4,
      s"all-NULL key vanished from history: ${u2.toSeq}")
  }

  test("S5: mergeBatch bootstrap probes existence; unreadable stores stay loud") {
    // Bootstrap must key on "no parquet data present", not on swallowing
    // AnalysisException: a store that EXISTS but fails to read would
    // otherwise be treated as absent and every touched partition rewritten
    // with batch-only rows — silent partition data loss (review finding).
    val b = Seq(("k1", ts("2024-01-01 10:00:00"), 1L, 1.0))
      .toDF("k", "t", "seq", "v").withColumn("day", to_date(col("t")))
    // pre-created EMPTY dir: still a bootstrap
    val emptyDir = java.nio.file.Files.createTempDirectory("upsert_pre").toString
    Upsert.mergeBatch(spark, b, emptyDir, Seq("k"), "t", "seq", "day")
    assert(spark.read.parquet(emptyDir).count() == 1)
    // a dir holding junk bytes under a .parquet name: LOUD, store untouched
    val junkDir = java.nio.file.Files.createTempDirectory("upsert_junk").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$junkDir/part-00000.parquet"), "not parquet")
    intercept[Exception] {
      Upsert.mergeBatch(spark, b, junkDir, Seq("k"), "t", "seq", "day")
    }
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$junkDir/part-00000.parquet")) == "not parquet",
      "failed merge must not rewrite the store")
  }

  test("S5: an empty batch against an existing store is a no-op, not a crash") {
    // An empty merged frame touches no partition, so the dynamic overwrite
    // writes nothing and the store keeps every row.
    val dir = java.nio.file.Files.createTempDirectory("upsert_empty").toString
    val b1 = Seq(("k1", ts("2024-01-01 10:00:00"), 1L, 1.0))
      .toDF("k", "t", "seq", "v").withColumn("day", to_date(col("t")))
    Upsert.mergeBatch(spark, b1, dir, Seq("k"), "t", "seq", "day")
    Upsert.mergeBatch(spark, b1.limit(0), dir, Seq("k"), "t", "seq", "day")
    assert(spark.read.parquet(dir).count() == 1, "store must survive the no-op")
  }

  /** Every file under `dir`, relative to it, with its size. */
  private def storeFiles(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .map(f => root.relativize(f).toString -> java.nio.file.Files.size(f)).toMap
    finally walk.close()
  }

  private def partFiles(dir: String, day: String): Set[String] =
    storeFiles(dir).keySet.filter(f => f.startsWith(s"day=$day/") && f.endsWith(".parquet"))

  test("S5: a merge that fails inside its job leaves the store as it was") {
    // The merge writes straight into the store: its output is staged under
    // `.spark-staging-<job>` and swapped in only at commit, so a task
    // failure must leave the old rows and files, and no staging dir behind.
    val root = java.nio.file.Files.createTempDirectory("upsert_fail").toString
    val dir = s"$root/store"
    val b1 = Seq(("k1", ts("2024-01-01 10:00:00"), 1L, 1.0),
                 ("k2", ts("2024-01-02 10:00:00"), 2L, 2.0))
      .toDF("k", "t", "seq", "v").withColumn("day", to_date(col("t")))
    Upsert.mergeBatch(spark, b1, dir, Seq("k", "day"), "t", "seq", "day")
    val before = storeFiles(dir)
    val rowsBefore = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    // read from parquet so the failing expression runs in a task, not in
    // the optimizer's folding of a local relation
    Seq(("k1", ts("2024-01-01 12:00:00"), 3L, 9.0),
        ("k2", ts("2024-01-02 12:00:00"), 4L, 8.0))
      .toDF("k", "t", "seq", "v").write.parquet(s"$root/raw")
    val b2 = spark.read.parquet(s"$root/raw")
      .withColumn("v", when(col("k") === "k2", raise_error(lit("injected merge failure")))
        .otherwise(col("v")))
      .withColumn("day", to_date(col("t")))
    val ex = intercept[Exception] {
      Upsert.mergeBatch(spark, b2, dir, Seq("k", "day"), "t", "seq", "day")
    }
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected merge failure")), ex)
    assert(storeFiles(dir) == before, "a failed merge changed the store's files")
    assert(spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq == rowsBefore)
    val left = java.nio.file.Files.list(java.nio.file.Paths.get(root))
    try assert(left.toArray.toSeq.map(_.toString).forall(n => !n.contains("__staging")))
    finally left.close()
    assert(!new java.io.File(dir).list().exists(_.startsWith(".spark-staging")),
      s"staging dir left in ${new java.io.File(dir).list().toSeq}")
  }

  test("S5: a merge rewrites each touched partition as one file; others keep theirs") {
    // Guards the store's bytes per row: the merge's one shuffle is on the
    // partition column, so each touched partition is written by one task.
    // Partition coalescing is off, or these few rows would land in one task
    // whatever the merge's partitioning.
    graft.streaming.Replay.withConfs(spark,
        Map("spark.sql.adaptive.coalescePartitions.enabled" -> "false")) {
      val dir = java.nio.file.Files.createTempDirectory("upsert_files").toString
      val days = Seq("2024-01-01", "2024-01-02", "2024-01-03")
      val b1 = (for ((d, i) <- days.zipWithIndex; k <- 1 to 20)
        yield (s"k$k", ts(s"$d 10:00:00"), (i * 100 + k).toLong, k.toDouble))
        .toDF("k", "t", "seq", "v").withColumn("day", to_date(col("t")))
        .repartition(4)
      Upsert.mergeBatch(spark, b1, dir, Seq("k", "day"), "t", "seq", "day")
      days.foreach(d => assert(partFiles(dir, d).size == 1, s"$d: ${partFiles(dir, d)}"))
      val untouched = Seq(days(0), days(2)).map(d => d -> partFiles(dir, d)).toMap
      // a new version of k1 and a new key, both in the middle day
      val b2 = Seq(("k1", ts("2024-01-02 12:00:00"), 1000L, 99.0),
                   ("k21", ts("2024-01-02 12:00:00"), 1001L, 21.0))
        .toDF("k", "t", "seq", "v").withColumn("day", to_date(col("t")))
      Upsert.mergeBatch(spark, b2, dir, Seq("k", "day"), "t", "seq", "day")
      assert(partFiles(dir, days(1)).size == 1, s"touched: ${partFiles(dir, days(1))}")
      untouched.foreach { case (d, files) => assert(partFiles(dir, d) == files, d) }
      val mid = spark.read.parquet(dir).filter(col("day") === days(1))
        .select("k", "v").as[(String, Double)].collect().toMap
      assert(mid.size == 21 && mid("k1") == 99.0 && mid("k21") == 21.0 && mid("k2") == 2.0)
    }
  }

  test("S5: mergeBatch upsert is idempotent under re-delivery") {
    val dir = java.nio.file.Files.createTempDirectory("upsert").toString
    val b1 = Seq(("k1", ts("2024-01-01 10:00:00"), 1L, 1.0),
                 ("k2", ts("2024-01-01 11:00:00"), 2L, 2.0))
      .toDF("k", "t", "seq", "v").withColumn("day", to_date(col("t")))
    Upsert.mergeBatch(spark, b1, dir, Seq("k"), "t", "seq", "day")
    // re-deliver the same batch (at-least-once): table unchanged
    Upsert.mergeBatch(spark, b1, dir, Seq("k"), "t", "seq", "day")
    val after = spark.read.parquet(dir)
    assert(after.count() == 2)
    // new version of k1 wins
    val b2 = Seq(("k1", ts("2024-01-01 12:00:00"), 3L, 9.0))
      .toDF("k", "t", "seq", "v").withColumn("day", to_date(col("t")))
    Upsert.mergeBatch(spark, b2, dir, Seq("k"), "t", "seq", "day")
    val m = spark.read.parquet(dir).select("k", "v").as[(String, Double)].collect().toMap
    assert(m == Map("k1" -> 9.0, "k2" -> 2.0))
  }

  test("S5: mergeBatch refuses schema drift loudly; evolution is opt-in") {
    val dir = java.nio.file.Files.createTempDirectory("upsert_drift").toString
    val b1 = Seq(("k1", ts("2024-01-01 10:00:00"), 1L, 1.0))
      .toDF("k", "t", "seq", "v").withColumn("day", to_date(col("t")))
    Upsert.mergeBatch(spark, b1, dir, Seq("k"), "t", "seq", "day")
    // NARROWER batch (store-only column v): a silent partition rewrite
    // would delete v from every touched partition — must refuse, naming it
    val narrow = Seq(("k1", ts("2024-01-01 12:00:00"), 2L))
      .toDF("k", "t", "seq").withColumn("day", to_date(col("t")))
    val exN = intercept[IllegalStateException] {
      Upsert.mergeBatch(spark, narrow, dir, Seq("k"), "t", "seq", "day")
    }
    assert(exN.getMessage.contains("store-only columns: [v]"), exN.getMessage)
    // WIDER batch (batch-only column extra): refused with the same clarity
    // (the old code died in an opaque mid-stream resolver error instead)
    val wide = Seq(("k2", ts("2024-01-01 12:00:00"), 2L, 2.0, "x"))
      .toDF("k", "t", "seq", "v", "extra").withColumn("day", to_date(col("t")))
    val exW = intercept[IllegalStateException] {
      Upsert.mergeBatch(spark, wide, dir, Seq("k"), "t", "seq", "day")
    }
    assert(exW.getMessage.contains("batch-only columns: [extra]"), exW.getMessage)
    // same-name TYPE drift (v: double -> string): refused even under the
    // evolution flag — a union would coerce silently and the rewrite would
    // leave mixed parquet physical types wedging later schema-merged reads
    val retyped = Seq(("k9", ts("2024-01-01 12:00:00"), 4L, "notadouble"))
      .toDF("k", "t", "seq", "v").withColumn("day", to_date(col("t")))
    val exT = intercept[IllegalStateException] {
      Upsert.mergeBatch(spark, retyped, dir, Seq("k"), "t", "seq", "day",
        allowSchemaEvolution = true)
    }
    assert(exT.getMessage.contains("TYPE drift") &&
      exT.getMessage.contains("v: store double vs batch string"), exT.getMessage)
    // store unchanged by any refusal
    assert(spark.read.parquet(dir).count() == 1)
    // opt-in evolution: union-by-name widening, missing side gets nulls
    Upsert.mergeBatch(spark, wide, dir, Seq("k"), "t", "seq", "day",
      allowSchemaEvolution = true)
    val evolved = spark.read.parquet(dir)
      .select("k", "v", "extra").as[(String, Option[Double], Option[String])]
      .collect().map { case (k, v, e) => k -> (v, e) }.toMap
    assert(evolved == Map("k1" -> (Some(1.0), None),
                          "k2" -> (Some(2.0), Some("x"))))
    // the store now holds files of BOTH widths; a later wide batch must see
    // the MERGED store schema (not a narrow single-file inference) and merge
    // without the evolution flag or data loss
    val wide2 = Seq(("k3", ts("2024-01-01 13:00:00"), 3L, 3.0, "y"))
      .toDF("k", "t", "seq", "v", "extra").withColumn("day", to_date(col("t")))
    Upsert.mergeBatch(spark, wide2, dir, Seq("k"), "t", "seq", "day")
    val after = spark.read.option("mergeSchema", "true").parquet(dir)
      .select("k", "extra").as[(String, Option[String])].collect().toMap
    assert(after == Map("k1" -> None, "k2" -> Some("x"), "k3" -> Some("y")))
  }

  test("permissive JSON parse: drifted/corrupt records captured, not fatal") {
    // SURVEY §1.3: ES dynamic mapping ≙ declared StructType + PERMISSIVE
    // parse — unknown fields ignored, type drift nulls the field, junk lands
    // in the corrupt-record column with the stream unharmed.
    import org.apache.spark.sql.types._
    val schema = new StructType()
      .add("F_MASV", StringType).add("F_DIEM2", DoubleType)
      .add("_corrupt_record", StringType)
    val lines = Seq(
      """{"F_MASV":"S1","F_DIEM2":8.5}""",             // clean
      """{"F_MASV":"S2","F_DIEM2":8.5,"extra":true}""", // schema drift: extra field
      """{"F_MASV":"S3","F_DIEM2":"abc"}""",            // type drift
      """{not json at all"""                            // corrupt
    ).toDF("value")
    val parsed = lines.select(from_json(col("value"), schema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")).as("r"))
      .select("r.*")
    val rows = parsed.collect()
    assert(rows.length == 4) // nothing dropped, nothing thrown
    assert(parsed.filter(col("_corrupt_record").isNotNull).count() >= 1) // junk captured
    assert(parsed.filter(col("F_MASV") === "S2").count() == 1) // drifted row parsed
    val s3 = parsed.filter(col("F_MASV") === "S3").first()
    assert(s3.isNullAt(s3.fieldIndex("F_DIEM2"))) // type drift -> null field
  }

  test("consumer pipeline end-to-end enriches and rejects like con.py") {
    val df = Seq(
      (ts("2024-01-05 00:00:00"), "S1", "C1", "Math", "DI-X", "46", Some(20241), "8.5", 3.0, 30.0),
      (ts("2024-01-05 00:00:00"), "S2", "C2", "Eng", "FL-Y", "46", None, "junk", 2.0, 20.0),
      (ts("2024-01-05 00:00:00"), null, "C3", "Hist", "DI-Z", "46", Some(20241), "7.0", 3.0, 10.0)
    ).toDF("@timestamp", "F_MASV", "F_MAMH", "F_TENMHVN", "F_TENLOP",
      "F_KHOAHOC", "NHHK", "F_DIEM2", "F_DVHT", "F_TCDTTL")
    val out = Enrich.consumerPipeline(df)
    assert(out.count() == 2) // S3's row rejected (no F_MASV)
    val s1 = out.filter(col("F_MASV") === "S1").first()
    assert(s1.getAs[String]("doc_id") == "C1_S1_46_20241")
    assert(s1.getAs[String]("MMT") == "Math")
    val s2 = out.filter(col("F_MASV") === "S2").first()
    assert(s2.getAs[String]("doc_id") == "C2_S2_46")  // 3-field fallback
    assert(s2.isNullAt(s2.fieldIndex("F_DIEM2")))     // junk -> null (T6)
  }
}
