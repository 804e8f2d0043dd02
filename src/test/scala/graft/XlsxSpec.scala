package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Test alias for the main-side OOXML writer (promoted to
  * `graft.sources.xlsx.XlsxWriter` so the streaming replay can stage
  * workbooks; one definition). */
object XlsxTestFixture {
  def write(path: String, rows: Seq[Seq[Any]]): Unit =
    graft.sources.xlsx.XlsxWriter.write(path, rows)
}

/** S1 via a real `.xlsx`: the reference ingests Excel workbooks
  * (`pro.py:34-44` — header row, stringified cells, skip all-blank rows).
  * These tests read generated OOXML fixtures through `.format("xlsx")` and
  * pin parity with the csv path plus the pro.py blank-row contract. */
class XlsxSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("xlsx").toFile
    d.deleteOnExit(); d
  }

  private val data: Seq[Seq[Any]] = Seq(
    Seq("masv", "tenmh", "diem2", "note"),
    Seq("SV001", "Cơ sở dữ liệu", 8.5, "đạt"),
    Seq("SV002", "Mạng máy tính", 4.0, null),
    Seq(null, null, null, null), // all-blank row: pro.py drops it
    Seq("SV003", "A&B <lab>", 9, "kept"))

  test("reads header, shared strings, numerics, Vietnamese text") {
    val d = tmpDir()
    val f = new java.io.File(d, "wb1.xlsx").getAbsolutePath
    XlsxTestFixture.write(f, data)
    val df = spark.read.format("xlsx").load(f)
    assert(df.columns.toSeq == Seq("masv", "tenmh", "diem2", "note"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    val rows = df.collect()
    assert(rows.length == 4) // 3 data rows + 1 blank (source keeps it; etl drops it)
    val r0 = rows(0)
    assert(r0.getString(0) == "SV001" && r0.getString(1) == "Cơ sở dữ liệu" &&
      r0.getString(2) == "8.5" && r0.getString(3) == "đạt")
    assert(rows(3).getString(1) == "A&B <lab>") // xml-escaped roundtrip
  }

  test("batch read of a missing path fails loudly even with an explicit schema") {
    // An explicit schema skips inferSchema (and its nonEmpty require), so
    // the batch listing itself must throw — a mistyped path silently
    // reading as zero rows is the failure mode (review finding). The
    // STREAMING listing deliberately differs: a watched directory may
    // legitimately not exist yet.
    val schema = org.apache.spark.sql.types.StructType(Seq("a", "b").map(n =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.StringType, nullable = true)))
    val e = intercept[Exception] {
      spark.read.format("xlsx").schema(schema)
        .load("/nonexistent/graft_xlsx_typo").collect()
    }
    def chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(_.isInstanceOf[java.io.FileNotFoundException]),
      s"expected FileNotFoundException in the cause chain, got $e")
  }

  test("writer: sst count is total string cells, and the caller's stream stays open") {
    // count = total string-cell REFERENCES vs uniqueCount = distinct <si>
    // entries (ECMA-376; strict validators cross-check), and writeTo must
    // not close the caller-owned stream (zip.finish, not zip.close).
    val rows: Seq[Seq[Any]] = Seq(Seq("h1", "h2"), Seq("x", "x"), Seq("x", 7))
    val bos = new java.io.ByteArrayOutputStream()
    var closed = false
    val out = new java.io.FilterOutputStream(bos) {
      override def close(): Unit = { closed = true; super.close() }
    }
    graft.sources.xlsx.XlsxWriter.writeTo(out, rows)
    assert(!closed, "writeTo closed the caller-owned stream")
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    var sst = ""
    var e = zin.getNextEntry
    while (e != null) {
      if (e.getName == "xl/sharedStrings.xml")
        sst = new String(zin.readAllBytes(), "UTF-8")
      e = zin.getNextEntry
    }
    // 5 string cells ("h1","h2","x","x","x"), 3 distinct
    assert(sst.contains("count=\"5\""), sst)
    assert(sst.contains("uniqueCount=\"3\""), sst)
  }

  test("blank-row drop matches the pro.py contract via Ingest.dropBlankRows") {
    val d = tmpDir()
    val f = new java.io.File(d, "wb1.xlsx").getAbsolutePath
    XlsxTestFixture.write(f, data)
    val cleaned = graft.etl.Ingest.dropBlankRows(spark.read.format("xlsx").load(f))
    assert(cleaned.count() == 3)
    assert(cleaned.filter(col("masv").isNull).count() == 0)
  }

  test("directory read unions files, one partition per workbook") {
    val d = tmpDir()
    XlsxTestFixture.write(new java.io.File(d, "a.xlsx").getAbsolutePath,
      Seq(Seq("k", "v"), Seq("a", 1)))
    XlsxTestFixture.write(new java.io.File(d, "b.xlsx").getAbsolutePath,
      Seq(Seq("k", "v"), Seq("b", 2)))
    val df = spark.read.format("xlsx").load(d.getAbsolutePath)
    assert(df.rdd.getNumPartitions == 2)
    assert(df.orderBy("k").as[(String, String)].collect().toSeq ==
      Seq(("a", "1"), ("b", "2")))
  }

  private val kvSchema = org.apache.spark.sql.types.StructType(Seq("k", "v").map(n =>
    org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)))

  /** `n` two-row workbooks `wb00.xlsx`… in `d`, named so that path order is
    * index order. */
  private def writeBooks(d: java.io.File, n: Int): Unit =
    for (i <- 0 until n)
      XlsxTestFixture.write(new java.io.File(d, f"wb$i%02d.xlsx").getAbsolutePath,
        Seq(Seq("k", "v"), Seq(s"a$i", i), Seq(s"b$i", i * 10)))

  test("many workbooks pack into fewer partitions, rows in per-file order") {
    val d = tmpDir()
    writeBooks(d, 40)
    val df = spark.read.format("xlsx").schema(kvSchema).load(d.getAbsolutePath)
    val parts = df.rdd.getNumPartitions
    assert(parts > 1 && parts < 40, s"40 tiny workbooks planned $parts partitions")
    val perFile = d.listFiles().map(_.getAbsolutePath).filter(_.endsWith(".xlsx")).sorted
      .toSeq.flatMap(f => spark.read.format("xlsx").schema(kvSchema).load(f)
        .as[(String, String)].collect().toSeq)
    assert(perFile.size == 80)
    assert(df.as[(String, String)].collect().toSeq == perFile)
  }

  test("a corrupt or deleted workbook inside a packed partition skips alone, under its flag") {
    // The file, not the partition, is the unit that fails or is skipped:
    // a bad workbook between two good ones in ONE read task costs only
    // its own rows under the flag, and fails the read without it.
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val d = tmpDir()
    def book(name: String, v: String) = XlsxTestFixture.write(
      new java.io.File(d, name).getAbsolutePath, Seq(Seq("k", "v"), Seq(v, "1")))
    book("a.xlsx", "va"); book("b.xlsx", "vb"); book("c.xlsx", "vc")
    val b = new java.io.File(d, "b.xlsx")
    // Plans the directory (one partition once minPartitionNum is 1), runs
    // `between` after planning, then reads the partition's rows.
    def read(flag: Option[String])(between: => Unit): Seq[String] = {
      val opts = Map("path" -> d.getAbsolutePath) ++ flag.map(_ -> "true")
      val batch = new graft.sources.xlsx.XlsxTable(kvSchema,
          new CaseInsensitiveStringMap(opts.asJava))
        .newScanBuilder(CaseInsensitiveStringMap.empty()).build().toBatch
      val parts = graft.streaming.Replay.withConfs(spark,
        Map("spark.sql.files.minPartitionNum" -> "1"))(batch.planInputPartitions())
      assert(parts.length == 1 &&
        parts.head.asInstanceOf[graft.sources.xlsx.XlsxFilePartition].paths.size == 3)
      between
      val r = batch.createReaderFactory().createReader(parts.head)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (r.next()) out += r.get().getUTF8String(0).toString
      out.toSeq
    }
    java.nio.file.Files.write(b.toPath, "not a zip".getBytes("UTF-8"))
    intercept[Exception](read(None)(()))
    assert(read(Some("ignoreCorruptFiles"))(()) == Seq("va", "vc"))
    book("b.xlsx", "vb")
    intercept[java.io.FileNotFoundException](read(None)(assert(b.delete())))
    book("b.xlsx", "vb")
    assert(read(Some("ignoreMissingFiles"))(assert(b.delete())) == Seq("va", "vc"))
  }

  test("streaming: one landing of many workbooks is one micro-batch over packed partitions") {
    val d = tmpDir()
    val src = new java.io.File(d, "src")
    assert(src.mkdir())
    val k = 12
    writeBooks(src, k)
    val batchRows = spark.read.format("xlsx").schema(kvSchema).load(src.getAbsolutePath)
      .as[(String, String)].collect().toSeq
    val parts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val q = spark.readStream.format("xlsx").schema(kvSchema).load(src.getAbsolutePath)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        parts.synchronized {
          parts += b.rdd.getNumPartitions
          rows ++= b.as[(String, String)].collect()
        }: Unit
      }
      .option("checkpointLocation", new java.io.File(d, "ckpt").getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(parts.size == 1 && parts.head < k, s"micro-batch partitions: $parts")
    assert(batchRows.size == 2 * k)
    assert(rows.toSeq == batchRows)
  }

  test("the reader factory a task carries is small: the Hadoop conf is broadcast") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    def javaBytes(o: AnyRef): Int = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bos)
      out.writeObject(o); out.close()
      bos.size()
    }
    val d = tmpDir()
    writeBooks(d, 1)
    val opts = new CaseInsensitiveStringMap(Map("path" -> d.getAbsolutePath).asJava)
    val batch = new graft.sources.xlsx.XlsxTable(kvSchema, opts)
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build().toBatch
    val stream = new graft.sources.xlsx.XlsxMicroBatchStream(kvSchema, opts)
    for ((name, f) <- Seq("batch" -> batch.createReaderFactory(),
                          "stream" -> stream.createReaderFactory())) {
      val n = javaBytes(f)
      assert(n < 4096, s"$name reader factory serializes to $n bytes")
    }
  }

  test("xlsx scan equals the csv scan of the same table") {
    val d = tmpDir()
    val f = new java.io.File(d, "wb.xlsx").getAbsolutePath
    XlsxTestFixture.write(f, data)
    val csv = new java.io.File(d, "t.csv")
    val pw = new java.io.PrintWriter(csv, "UTF-8")
    pw.println("masv,tenmh,diem2,note")
    pw.println("SV001,Cơ sở dữ liệu,8.5,đạt")
    pw.println("SV002,Mạng máy tính,4.0,")
    pw.println(",,,")
    pw.println("SV003,A&B <lab>,9,kept")
    pw.close()
    val fromXlsx = graft.etl.Ingest.dropBlankRows(spark.read.format("xlsx").load(f))
      .na.fill("") // csv reads missing as null too; normalize both
    val fromCsv = graft.etl.Ingest.dropBlankRows(
        spark.read.option("header", "true")
          .schema(fromXlsx.schema).csv(csv.getAbsolutePath))
      .na.fill("")
    // 9 vs 9.0: numeric cells keep their literal form in both sources
    assert(fromXlsx.exceptAll(fromCsv).isEmpty && fromCsv.exceptAll(fromXlsx).isEmpty)
  }

  test("streaming: one workbook per micro-batch, AvailableNow drains all") {
    // The pro.py:96-108 watcher flow through readStream.format("xlsx"):
    // three staged workbooks, maxFilesPerTrigger=1 → exactly three
    // micro-batches, union of batches == union of workbooks.
    val d = tmpDir()
    for (i <- 1 to 3)
      XlsxTestFixture.write(new java.io.File(d, s"wb$i.xlsx").getAbsolutePath,
        Seq(Seq("k", "v"), Seq(s"k$i", i), Seq(s"k${i}b", i * 10)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val ckpt = new java.io.File(d, "ckpt").getAbsolutePath
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, String)]]
    val q = spark.readStream.format("xlsx").schema(schema)
      .option("maxFilesPerTrigger", "1")
      .load(d.getAbsolutePath)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized {
          batches += b.as[(String, String)].collect().toSeq
        }: Unit
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches.length == 3, s"expected 3 one-file micro-batches, got ${batches.length}")
    assert(batches.forall(_.length == 2))
    assert(batches.flatten.toSet == Set(
      ("k1", "1"), ("k1b", "10"), ("k2", "2"), ("k2b", "20"), ("k3", "3"), ("k3b", "30")))
  }

  test("ignoreCorruptFiles: batch fails loudly by default, skips with the flag") {
    // The spark.sql.files.ignoreCorruptFiles contract on the xlsx source:
    // default posture surfaces the corrupt workbook; with the option the
    // bad file reads as empty and the good rows survive.
    val d = tmpDir()
    XlsxTestFixture.write(new java.io.File(d, "good.xlsx").getAbsolutePath,
      Seq(Seq("k", "v"), Seq("a", 1), Seq("b", 2)))
    java.nio.file.Files.write(
      new java.io.File(d, "junk.xlsx").toPath,
      "this is not a zip archive".getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq("k", "v").map(n =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.StringType, nullable = true)))
    intercept[Exception] {
      spark.read.format("xlsx").schema(schema).load(d.getAbsolutePath).collect()
    }
    val kept = spark.read.format("xlsx").schema(schema)
      .option("ignoreCorruptFiles", "true")
      .load(d.getAbsolutePath)
      .as[(String, String)].collect().toSet
    assert(kept == Set(("a", "1"), ("b", "2")))
  }

  test("ignoreCorruptFiles does not swallow a misconfigured sheet option") {
    // Two failure classes (review finding): a zip that is not a workbook is
    // corrupt (skippable), but a VALID workbook lacking the specifically
    // requested sheet N>1 is a misconfiguration — under a cluster-wide
    // ignoreCorruptFiles=true a swallowed sheet typo would silently read
    // the whole directory as zero rows.
    val d = tmpDir()
    XlsxTestFixture.write(new java.io.File(d, "wb.xlsx").getAbsolutePath,
      Seq(Seq("k"), Seq("a")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType, nullable = true)))
    val e = intercept[Exception] {
      spark.read.format("xlsx").schema(schema)
        .option("ignoreCorruptFiles", "true").option("sheet", "3")
        .load(d.getAbsolutePath).collect()
    }
    def chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(
      _.isInstanceOf[graft.sources.xlsx.XlsxMissingSheetException]),
      s"expected XlsxMissingSheetException in the cause chain, got $e")
  }

  test("a non-workbook zip skips under ignoreCorruptFiles at any sheet index") {
    // The corrupt-vs-misconfig split keys on workbook-ness (any
    // xl/worksheets/ entry), not the requested index: a renamed .zip/.jar
    // dropped into a watched directory must stay skippable even when the
    // reader is configured for sheet 2 (review finding).
    val d = tmpDir()
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(new java.io.File(d, "junk.xlsx")))
    zos.putNextEntry(new java.util.zip.ZipEntry("readme.txt"))
    zos.write("not a workbook".getBytes("UTF-8"))
    zos.closeEntry(); zos.close()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType, nullable = true)))
    val got = spark.read.format("xlsx").schema(schema)
      .option("ignoreCorruptFiles", "true").option("sheet", "2")
      .load(d.getAbsolutePath).collect()
    assert(got.isEmpty)
  }

  test("streaming: a poison file skips once, and its FIX re-enters as a new version") {
    // The case ignoreCorruptFiles exists for: a junk workbook in the
    // watched directory must not wedge the stream (without the flag it
    // would crash every restart forever — the offset only advances past a
    // completed batch). With the flag the poison file drains as empty,
    // enters the seen-file offset, and the stream moves on; overwriting it
    // with a VALID workbook stats as a new (mtime, length) version, so the
    // repair is discovered by the same modify path the watcher contract
    // already certifies.
    val d = tmpDir()
    val src = new java.io.File(d, "watch"); src.mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType)))
    val ckpt = new java.io.File(d, "ckpt").getAbsolutePath
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    def drain(): Unit = {
      val q = spark.readStream.format("xlsx").schema(schema)
        .option("ignoreCorruptFiles", "true")
        .load(src.getAbsolutePath)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized { got ++= b.as[String].collect() }: Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    XlsxTestFixture.write(new java.io.File(src, "ok.xlsx").getAbsolutePath,
      Seq(Seq("k"), Seq("good")))
    val poison = new java.io.File(src, "poison.xlsx")
    java.nio.file.Files.write(poison.toPath, "garbage".getBytes("UTF-8"))
    drain()
    assert(got.sorted == Seq("good"), s"poison leaked or good row lost: $got")
    // repair: overwrite the poison file with a valid workbook, new version
    XlsxTestFixture.write(poison.getAbsolutePath, Seq(Seq("k"), Seq("fixed")))
    java.nio.file.Files.setLastModifiedTime(poison.toPath,
      java.nio.file.attribute.FileTime.fromMillis(
        poison.lastModified() + 2000)) // distinct mtime even on coarse clocks
    drain()
    assert(got.sorted == Seq("fixed", "good"), s"repair not re-admitted: $got")
  }

  test("streaming: checkpointed offsets resume exactly — new files only") {
    // Watcher semantics across restarts: a second drain from the same
    // checkpoint must read ONLY workbooks that arrived after the first —
    // the seen-file offset makes discovery exact for any arrival order
    // (including a new file sorting BEFORE already-seen names).
    val d = tmpDir()
    val src = new java.io.File(d, "watch"); src.mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType)))
    val ckpt = new java.io.File(d, "ckpt").getAbsolutePath
    def drain(): Seq[String] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      val q = spark.readStream.format("xlsx").schema(schema)
        .load(src.getAbsolutePath)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized { got ++= b.as[String].collect() }: Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      got.toSeq
    }
    XlsxTestFixture.write(new java.io.File(src, "m.xlsx").getAbsolutePath,
      Seq(Seq("k"), Seq("first")))
    assert(drain().sorted == Seq("first"))
    // one sorts AFTER the seen file, one BEFORE — both must be discovered
    XlsxTestFixture.write(new java.io.File(src, "z.xlsx").getAbsolutePath,
      Seq(Seq("k"), Seq("late-after")))
    XlsxTestFixture.write(new java.io.File(src, "a.xlsx").getAbsolutePath,
      Seq(Seq("k"), Seq("late-before")))
    assert(drain().sorted == Seq("late-after", "late-before"))
    assert(drain().isEmpty) // third drain: nothing new

    // MODIFY semantics (pro.py:96-108 fires on modify too — the behavior
    // Spark's own append-only file source cannot express): overwriting an
    // already-seen workbook stats as a NEW (path, mtime, length) version
    // and is re-admitted WHOLE; downstream T1 content dedup then yields
    // the reference's re-read + diff delta (SURVEY §7.4).
    val mPath = new java.io.File(src, "m.xlsx")
    XlsxTestFixture.write(mPath.getAbsolutePath,
      Seq(Seq("k"), Seq("first"), Seq("second")))
    // pin a strictly newer mtime: a coarse-mtime filesystem could stat the
    // rewrite into the same (mtime, length) version within one tick
    java.nio.file.Files.setLastModifiedTime(mPath.toPath,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 10000))
    assert(drain().sorted == Seq("first", "second")) // full re-read of the new version
  }

  test("ignoreMissingFiles: a file deleted after admission skips with the flag, " +
    "stays loud without it, and ignoreCorruptFiles alone does NOT cover it") {
    // The deleted-between-admission-and-read race (review finding): the
    // streaming WAL can hold an offset for a file an operator has since
    // removed, and that batch replays on every restart. FNF is exclusively
    // ignoreMissingFiles territory (Spark's FileScanRDD clause order):
    // corrupt handles junk CONTENT, missing handles racing DELETES —
    // conflating them would mask real corruption when only deletes were
    // meant to be tolerated. Exercised at the reader level, where the race
    // is deterministic.
    val conf = spark.sparkContext.broadcast(new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf()))
    val gone = "/nonexistent/graft_xlsx_gone.xlsx"
    def readerFor(ignoreCorrupt: Boolean, ignoreMissing: Boolean) =
      new graft.sources.xlsx.XlsxPartitionReader(
        graft.sources.xlsx.XlsxFilePartition(Seq(gone), 1, header = true,
          ignoreCorrupt = ignoreCorrupt, ignoreMissing = ignoreMissing),
        width = 1, conf)
    intercept[java.io.FileNotFoundException] {
      readerFor(ignoreCorrupt = false, ignoreMissing = false).next()
    }
    // corrupt flag alone must NOT swallow a missing file
    intercept[java.io.FileNotFoundException] {
      readerFor(ignoreCorrupt = true, ignoreMissing = false).next()
    }
    assert(!readerFor(ignoreCorrupt = false, ignoreMissing = true).next(),
      "missing file should read as empty under ignoreMissingFiles")
  }

  test("pruneRemovedFiles: deleted paths drop from the offset at the next admission") {
    // Opt-in offset compaction: without it the seen-file set grows with
    // every workbook EVER seen; with it, entries for paths gone from the
    // listing are dropped whenever a new batch forms — the offset is
    // bounded by the directory's live population (review finding).
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val d = tmpDir()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType)))
    val a = new java.io.File(d, "a.xlsx")
    XlsxTestFixture.write(a.getAbsolutePath, Seq(Seq("k"), Seq("va")))
    def stream(prune: Boolean) = new graft.sources.xlsx.XlsxMicroBatchStream(
      schema, new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", d.getAbsolutePath,
          "pruneRemovedFiles", prune.toString)))
    val s = stream(prune = true)
    val o1 = s.latestOffset(s.initialOffset(), ReadLimit.allAvailable())
      .asInstanceOf[graft.sources.xlsx.XlsxOffset]
    assert(o1.entries.size == 1)
    assert(a.delete())
    XlsxTestFixture.write(new java.io.File(d, "b.xlsx").getAbsolutePath,
      Seq(Seq("k"), Seq("vb")))
    val o2 = s.latestOffset(o1, ReadLimit.allAvailable())
      .asInstanceOf[graft.sources.xlsx.XlsxOffset]
    assert(o2.entries.size == 1 &&
      graft.sources.xlsx.XlsxOffset.pathOf(o2.entries.head).endsWith("b.xlsx"),
      s"expected only b.xlsx to survive the prune, got ${o2.entries}")
    // default posture (no prune): the dead entry is retained
    val s2 = stream(prune = false)
    val o3 = s2.latestOffset(o1, ReadLimit.allAvailable())
      .asInstanceOf[graft.sources.xlsx.XlsxOffset]
    assert(o3.entries.size == 2, s"default must retain dead entries: ${o3.entries}")
  }

  test("writer refuses a sheet past the Excel row cap") {
    // The staging path's "bounded by Excel's cap" memory claim is only as
    // real as this check: an oversized partition must fail loud, not emit
    // a workbook Excel itself cannot open (review finding).
    val row = Seq[Any]("x")
    val tooMany = Seq.fill(graft.sources.xlsx.XlsxWriter.MaxSheetRows + 1)(row)
    val e = intercept[IllegalArgumentException] {
      graft.sources.xlsx.XlsxWriter.writeTo(
        new java.io.ByteArrayOutputStream(), tooMany)
    }
    assert(e.getMessage.contains("sheet cap"), e.getMessage)
  }

  test("header=false and sheet selection options") {
    val d = tmpDir()
    val f = new java.io.File(d, "wb.xlsx").getAbsolutePath
    XlsxTestFixture.write(f, Seq(Seq("x", "y"), Seq("1", "2")))
    val df = spark.read.format("xlsx").option("header", "false").load(f)
    assert(df.columns.toSeq == Seq("_c0", "_c1"))
    assert(df.count() == 2)
  }

  /** Raw-zip fixture for workbook shapes the writer never produces
    * (renumbered parts, phonetic runs, typed-empty cells). */
  private def rawZip(f: java.io.File, entries: (String, String)*): Unit = {
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(f))
    entries.foreach { case (n, body) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(n))
      zos.write(body.getBytes("UTF-8"))
      zos.closeEntry()
    }
    zos.close()
  }
  private def inlineSheet(text: String): String =
    s"""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
       |<sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>$text</t></is></c></row></sheetData>
       |</worksheet>""".stripMargin

  test("sheet index follows the workbook's declared tab order, not part numbering") {
    // Excel does not renumber worksheet parts: delete the original Sheet1
    // from a 3-sheet workbook and the surviving parts are sheet2/sheet3.xml;
    // reorder tabs and part numbers stay put. The index must resolve
    // through xl/workbook.xml <sheets> + the workbook rels — reading by
    // part NAME silently returns the wrong sheet (review finding). This
    // workbook has parts sheet2/sheet3.xml (no sheet1.xml) with tab order
    // [sheet3, sheet2].
    val d = tmpDir()
    val f = new java.io.File(d, "renum.xlsx")
    rawZip(f,
      "xl/workbook.xml" ->
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
          |<sheets><sheet name="Third" sheetId="3" r:id="rId7"/><sheet name="Second" sheetId="2" r:id="rId9"/></sheets>
          |</workbook>""".stripMargin,
      "xl/_rels/workbook.xml.rels" ->
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId7" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet3.xml"/>
          |<Relationship Id="rId9" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>
          |</Relationships>""".stripMargin,
      "xl/worksheets/sheet2.xml" -> inlineSheet("second-tab"),
      "xl/worksheets/sheet3.xml" -> inlineSheet("first-tab"))
    def cell(sheet: Int): String =
      graft.sources.xlsx.XlsxIO.readSheet(f.getAbsolutePath, sheet,
        spark.sessionState.newHadoopConf()).next().head._2
    assert(cell(1) == "first-tab")  // tab 1 = part sheet3.xml
    assert(cell(2) == "second-tab") // tab 2 = part sheet2.xml
    val e = intercept[graft.sources.xlsx.XlsxMissingSheetException] { cell(3) }
    assert(e.getMessage.contains("out of range"), e.getMessage)
  }

  test("phonetic rPh runs are excluded from shared strings") {
    // Furigana annotations (<rPh><t>…</t></rPh>) are reading aids, not
    // cell content — concatenating them corrupts the value (review
    // finding; POI and openpyxl skip rPh the same way). Rich-text runs
    // (<r><t>) still concatenate.
    val sst =
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="2" uniqueCount="2">
        |<si><t>漢字</t><rPh sqref="A1"><t>カンジ</t></rPh></si>
        |<si><r><t>a</t></r><r><t>b</t></r><rPh><t>ignored</t></rPh></si>
        |</sst>""".stripMargin
    val parsed = graft.sources.xlsx.XlsxIO.parseSharedStrings(sst.getBytes("UTF-8"))
    assert(parsed == IndexedSeq("漢字", "ab"), parsed)
  }

  test("schema inference skips empty-starting workbooks and refuses an all-empty corpus") {
    // An empty first workbook must not infer a ZERO-column schema (the
    // whole directory would read as data-less rows with no error — review
    // finding); inference probes files in order until one starts non-empty.
    val d = tmpDir()
    XlsxTestFixture.write(new java.io.File(d, "a.xlsx").getAbsolutePath, Seq.empty)
    XlsxTestFixture.write(new java.io.File(d, "b.xlsx").getAbsolutePath,
      Seq(Seq("k", "v"), Seq("x", 1)))
    val df = spark.read.format("xlsx").load(d.getAbsolutePath)
    assert(df.columns.toSeq == Seq("k", "v"))
    assert(df.as[(String, String)].collect().toSeq == Seq(("x", "1")))
    val empty = tmpDir()
    XlsxTestFixture.write(new java.io.File(empty, "a.xlsx").getAbsolutePath, Seq.empty)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("xlsx").load(empty.getAbsolutePath)
    }
    assert(e.getMessage.contains("explicit schema"), e.getMessage)
  }

  test("typed-empty boolean cells are null, not 'false'; maxRows stops the parse") {
    val sheet =
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="b"/><c r="B1" t="b"><v>1</v></c><c r="C1" t="b"><v>0</v></c></row>
        |<row r="2"><c r="A2" t="inlineStr"><is><t>second row</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin.getBytes("UTF-8")
    val all = graft.sources.xlsx.XlsxIO.parseSheet(sheet, IndexedSeq.empty).toSeq
    // A1 (<c t="b"/> with no <v>) must be ABSENT — an empty cell reading
    // back as the string "false" invents data (review finding).
    assert(all.head == Seq((1, "true"), (2, "false")), all.head)
    assert(all.size == 2)
    val one = graft.sources.xlsx.XlsxIO.parseSheet(sheet, IndexedSeq.empty,
      maxRows = 1).toSeq
    assert(one.size == 1, s"maxRows=1 must stop after one row, got $one")
  }

  test("letterless cell refs fall back to position instead of index -1") {
    // colIndex of a ref with no leading letters (r="", r="123") is -1;
    // propagated, the partition reader's row fill dies in an uncaught
    // ArrayIndexOutOfBounds on arr(-1) and inference's width arithmetic
    // goes negative (review finding). Junk refs must degrade like MISSING
    // refs: the positional fallback.
    val sheet =
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="" t="inlineStr"><is><t>a</t></is></c><c r="123" t="inlineStr"><is><t>b</t></is></c><c r="C1" t="inlineStr"><is><t>c</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin.getBytes("UTF-8")
    val rows = graft.sources.xlsx.XlsxIO.parseSheet(sheet, IndexedSeq.empty).toSeq
    assert(rows.head == Seq((0, "a"), (1, "b"), (2, "c")), rows.head)
    assert(rows.head.forall(_._1 >= 0))
  }

  test("beyond-XFD and overflowing cell refs fall back to position") {
    import graft.sources.xlsx.XlsxIO.colIndex
    // The real capacity boundary parses exactly…
    assert(colIndex("XFD1") == 16383)
    assert(colIndex("A1") == 0 && colIndex("BC12") == 54)
    // …and everything past it is the malformed-ref sentinel: one past the
    // cap, a driver-OOM-sized index ("AAAA" → 457k-field inferred schema),
    // an Int-overflowing ref (26^7 > 2^31 — pre-fix this aliased onto an
    // arbitrary wrapped index), and a unicode letter (code-point
    // arithmetic is not column arithmetic).
    // 'ı' (dotless i) and 'ſ' (long s) uppercase INTO A-Z ('I'/'S') — the
    // guard must check the raw char, or they alias onto real columns
    // (review finding).
    for (bad <- Seq("XFE1", "AAAA1", "ZZZZZZZ1", "ZZZZZZZZZZZZ1", "é1",
                    "ı1", "ſ1"))
      assert(colIndex(bad) == -1, s"colIndex($bad)")
    // End-to-end through the sheet parser: junk-ref cells land at their
    // POSITION, so width stays bounded by the real cell count.
    val sheet =
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="ZZZZZZZ1" t="inlineStr"><is><t>a</t></is></c><c r="AAAA1" t="inlineStr"><is><t>b</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin.getBytes("UTF-8")
    val rows = graft.sources.xlsx.XlsxIO.parseSheet(sheet, IndexedSeq.empty).toSeq
    assert(rows.head == Seq((0, "a"), (1, "b")), rows.head)
  }

  test("scan-time options override table-construction options") {
    // newScanBuilder must honor the per-query options Spark passes it (a
    // catalog-registered xlsx table read with sheet=2), not silently reuse
    // the construction properties (review finding).
    val d = tmpDir()
    val f = new java.io.File(d, "wb.xlsx").getAbsolutePath
    XlsxTestFixture.write(f, Seq(Seq("k"), Seq("v")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType)))
    val tbl = new graft.sources.xlsx.XlsxTable(schema,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", f, "sheet", "1")))
    val scan = tbl.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("sheet", "2"))).build()
    val parts = scan.toBatch.planInputPartitions()
    val part = parts.head.asInstanceOf[graft.sources.xlsx.XlsxFilePartition]
    assert(part.sheet == 2, s"scan-time sheet=2 ignored: $part")
    assert(part.paths == Seq(f), "path must fall back to the construction options")
  }

  test("xlsx replay of an empty corpus settles to an empty frame, not a crash") {
    // Zero rows → zero staged workbooks → zero micro-batches → no parquet
    // in the store; the settle must return an empty frame under the pinned
    // schema instead of dying on parquet schema inference (review finding;
    // the dlqSettled convention).
    val empty = Seq.empty[(Long, String, String)]
      .toDF("c_custkey", "c_name", "c_mktsegment")
    val got = graft.streaming.Pipeline.replayXlsxStream(spark, empty)
    assert(got.columns.toSeq == Seq("c_custkey", "c_name", "c_mktsegment"))
    assert(got.count() == 0)
  }

  test("writer refuses NaN and Infinity numeric cells") {
    // Not valid OOXML numbers — Excel reports the file corrupt on open;
    // same fail-loud rule as the row cap (review finding).
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      val e = intercept[RuntimeException] {
        graft.sources.xlsx.XlsxWriter.writeTo(
          new java.io.ByteArrayOutputStream(), Seq(Seq[Any]("h"), Seq[Any](bad)))
      }
      assert(e.getMessage.contains("OOXML number"), e.getMessage)
    }
  }

  test("streaming: a non-positive maxFilesPerTrigger fails the query, naming the option") {
    // As Spark's file source: a limit of 0 would admit no workbook on any
    // trigger, and the query would idle forever with no error.
    val d = tmpDir()
    XlsxTestFixture.write(new java.io.File(d, "wb.xlsx").getAbsolutePath,
      Seq(Seq("k"), Seq("v")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType)))
    val e = intercept[Exception] {
      val q = spark.readStream.format("xlsx").schema(schema)
        .option("maxFilesPerTrigger", "0")
        .load(d.getAbsolutePath)
        .writeStream.format("noop")
        .option("checkpointLocation", new java.io.File(d, "ckpt").getAbsolutePath)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(t => t.isInstanceOf[IllegalArgumentException] &&
      t.getMessage.contains("maxFilesPerTrigger")), s"got $e")
  }
}
