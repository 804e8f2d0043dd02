package graft.sources.xlsx

import java.util.zip.ZipInputStream

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Excel (`.xlsx`) batch source as a DataSourceV2 (reference `pro.py:34-44`:
  * openpyxl reads the sheet, first row is the header, every value is
  * stringified). Registered as `.format("xlsx")` via the standard
  * `DataSourceRegister` service file.
  *
  * Implementation is JDK-only: an `.xlsx` file is a zip (ECMA-376) holding
  * `xl/worksheets/sheetN.xml` plus an optional `xl/sharedStrings.xml`; both
  * are parsed with the built-in StAX reader — no external library, which is
  * what lets this run in a hermetic executor image.
  *
  * Scale shape: workbooks packed into read partitions by Spark's own
  * file-source rule (`spark.sql.files.maxPartitionBytes`, `openCostInBytes`,
  * `minPartitionNum`; see [[XlsxIO.pack]]), in sorted path order. A single
  * workbook is not splittable (one zip central directory, one XML stream)
  * and is small by construction — Excel caps at ~1M rows — so the 100 TB
  * story is *many* files fanning out across executors, the same layout the
  * directory-watcher ingest (S2) produces. The FILE stays the unit that is
  * opened, fails or is skipped: a partition's reader opens each workbook
  * when it reaches it. Executors read the session's Hadoop conf through one
  * broadcast per scan (per stream instance for the stream), so a task
  * carries no conf of its own. All columns are strings (`pro.py`
  * stringifies too); downstream casts are `try_cast`-based lenient casts
  * (T6).
  *
  * Options: `header` (default true), `sheet` (1-based index, default 1),
  * `ignoreCorruptFiles` (default: the session's
  * `spark.sql.files.ignoreCorruptFiles`) — an unreadable workbook reads as
  * empty instead of failing the task; essential for the STREAMING source,
  * where a poison file in the watched directory would otherwise crash
  * every restart of the query forever. `ignoreMissingFiles` (default: the
  * session's `spark.sql.files.ignoreMissingFiles`) — the separate escape
  * for a file DELETED after listing/admission. Streaming-only:
  * `maxFilesPerTrigger`, `pruneRemovedFiles` (see [[XlsxOffset]]).
  */
class XlsxDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "xlsx"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val files = XlsxIO.listFiles(options)
    require(files.nonEmpty, s"no .xlsx files at ${options.get("path")}")
    val header = XlsxIO.boolOpt(options, "header", default = true)
    val sheet = XlsxIO.intOpt(options, "sheet", default = 1)
    // The first file whose sheet STARTS non-empty defines the schema (the
    // CSV header-from-first-file convention: later, wider files truncate to
    // this width). Skipping empty-starting files matters: an empty first
    // workbook would otherwise infer a ZERO-column schema and the whole
    // directory would read as data-less rows with no error — the silent
    // zero-information mode the missing-path check exists to prevent
    // (review finding). `maxRows = 1` stops each probe after one row —
    // inference never pays a full-sheet parse.
    val first = files.iterator
      .map { case (f, _) => XlsxIO.readSheet(f, sheet, maxRows = 1)
        .take(1).toSeq.headOption.getOrElse(Seq.empty) }
      .find(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"cannot infer schema at ${options.get("path")}: sheet $sheet of " +
          "every workbook starts with an empty row — pass an explicit schema"))
    val width = first.map(_._1).max + 1
    val names =
      if (header) {
        val byIdx = first.toMap
        (0 until width).map(i => byIdx.getOrElse(i, s"_c$i"))
      } else (0 until width).map(i => s"_c$i")
    StructType(names.map(n => StructField(n, StringType, nullable = true)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    require(schema.fields.forall(_.dataType == StringType),
      "xlsx source reads every column as string (cast downstream, T6 lenient-cast semantics)")
    new XlsxTable(schema, new CaseInsensitiveStringMap(properties))
  }
}

class XlsxTable(schema0: StructType, options: CaseInsensitiveStringMap)
  extends Table with SupportsRead {
  override def name(): String = s"xlsx:${options.get("path")}"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    // Honor the SCAN-time options Spark hands us (per-query read options on
    // a catalog-registered table), falling back to the table-construction
    // properties for keys the scan doesn't set — discarding the parameter
    // silently ignored every per-query option (review finding). The
    // format(...).load(...) path passes the same map twice, so this merge
    // is the identity there.
    val merged = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
    merged.putAll(caseInsensitiveOptions.asCaseSensitiveMap())
    val scanOptions = new CaseInsensitiveStringMap(merged)
    new ScanBuilder {
      override def build(): Scan = new XlsxScan(schema0, scanOptions)
    }
  }
}

class XlsxScan(schema0: StructType, options: CaseInsensitiveStringMap) extends Scan with Batch {
  override def readSchema(): StructType = schema0
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new XlsxMicroBatchStream(schema0, options)
  override def description(): String = s"xlsx scan of ${options.get("path")}"

  override def planInputPartitions(): Array[InputPartition] = {
    // Resolve options once, not once per listed file (the streaming twin
    // hoists these into vals the same way).
    val sheet = XlsxIO.intOpt(options, "sheet", 1)
    val header = XlsxIO.boolOpt(options, "header", default = true)
    val ignoreCorrupt = XlsxIO.ignoreCorrupt(options)
    val ignoreMissing = XlsxIO.ignoreMissing(options)
    XlsxIO.pack(SparkSession.active, XlsxIO.listFiles(options))(
      XlsxFilePartition(_, sheet, header, ignoreCorrupt, ignoreMissing))
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // Ship the SESSION Hadoop conf (spark.hadoop.* keys: credentials, HA
    // nameservices) to executors — a bare `new Configuration()` works on
    // local paths but breaks on any real cluster store. Broadcast, as
    // Spark's own FileScans do: a conf embedded in the factory is
    // deserialized again by every task (tens of ms of CPU each).
    val session = SparkSession.active
    XlsxReaderFactory(schema0.length, session.sparkContext.broadcast(
      new SerializableConfiguration(session.sessionState.newHadoopConf())))
  }
}

/** ONE reader factory for the batch scan and the micro-batch stream (they
  * read identical partitions; two copies of this block would have to be
  * edited in lockstep — review finding). The conf is a broadcast, so the
  * factory every task carries stays small (XlsxSpec bounds it at 4 KB).
  * Nothing destroys the broadcast: Spark's ContextCleaner drops it once no
  * plan or batch holds the factory. */
case class XlsxReaderFactory(width: Int, conf: Broadcast[SerializableConfiguration])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new XlsxPartitionReader(partition.asInstanceOf[XlsxFilePartition], width, conf)
}

/** One read task's workbooks, in sorted path order, as [[XlsxIO.pack]]
  * grouped them (a zip stream is not splittable, so a file is never
  * divided). */
case class XlsxFilePartition(paths: Seq[String], sheet: Int, header: Boolean,
                             ignoreCorrupt: Boolean = false,
                             ignoreMissing: Boolean = false) extends InputPartition

/** Streaming offset = the set of workbook VERSIONS already processed —
  * each entry a `path#mtime#length` triple, serialized as a sorted JSON
  * array. A directory-watch offset must identify FILES, not a count or a
  * high-water name: files arrive in arbitrary name order and a count- or
  * watermark-shaped offset would silently skip a late file sorting below
  * the mark. The entries are (path, mtime, length) VERSIONS, not bare
  * paths, because the reference's watchdog fires on create AND modify
  * (`pro.py:96-108` handles both events with the same full re-read): an
  * overwritten workbook stats as a new version, is re-admitted whole, and
  * the downstream T1 content dedup yields exactly the reference's
  * re-read + diff delta semantics (SURVEY §7.4) — the one watcher
  * behavior Spark's own append-only FileStreamSource cannot express.
  *
  * Known stat-versioning window: an overwrite that lands within one
  * filesystem timestamp tick AND deflates to the identical byte length
  * stats as the same version and is NOT re-admitted — the same blind spot
  * as any stat-based watcher (Spark's file source keys on mtime alone and
  * shares it). Content hashing would close it at the cost of reading every
  * file on every trigger; for the watch-a-directory flow the next real
  * save re-admits the workbook.
  *
  * The file-set shape's cost grows with corpus size, the same trade
  * Spark's seen-files log makes (compacted) — at lake scale the
  * production path is the parquet/csv file source over a committed
  * layout; this source exists for the literal watch-Excel-directory flow,
  * where workbook counts are small by construction. The opt-in
  * `pruneRemovedFiles` option drops entries for DELETED paths from the
  * offset at each admission, bounding it by the directory's live
  * population (a deleted-then-restored file with identical stats is then
  * re-admitted whole — watcher create semantics, absorbed by the T1
  * content dedup downstream). */
case class XlsxOffset(entries: Seq[String])
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    import org.json4s.JsonDSL._
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(entries.toList))
  }
}
object XlsxOffset {
  def fromJson(json: String): XlsxOffset = XlsxOffset(
    org.json4s.jackson.JsonMethods.parse(json)
      .asInstanceOf[org.json4s.JArray].arr
      .map(_.asInstanceOf[org.json4s.JString].s))
  /** `#` cannot appear in the numeric suffixes, so splitting on the LAST
    * two `#`s recovers the path unambiguously even if the path itself
    * contains `#`. */
  def entry(path: String, mtime: Long, len: Long): String = s"$path#$mtime#$len"
  def pathOf(entry: String): String =
    entry.substring(0, entry.lastIndexOf('#', entry.lastIndexOf('#') - 1))
  def lengthOf(entry: String): Long = entry.substring(entry.lastIndexOf('#') + 1).toLong
}

/** S2-over-xlsx: the reference's directory watcher fires per created
  * workbook (`pro.py:96-108` watchdog → `process_excel_file`); the Spark
  * twin is a MicroBatchStream that lists the watched directory each
  * trigger, diffs against the seen-file offset, and packs the NEW
  * workbooks into [[XlsxFilePartition]]s — the same discovery contract as
  * Spark's file source, over the same reader as the batch scan.
  *
  * Admission control: `maxFilesPerTrigger` (default: all available) bounds
  * each micro-batch; [[SupportsTriggerAvailableNow]] snapshots the listing
  * at query start so an AvailableNow drain terminates even while files
  * keep arriving (late files are the NEXT run's work — offsets in the
  * checkpoint make that resume exact, certified in XlsxSpec). */
class XlsxMicroBatchStream(schema0: StructType, options: CaseInsensitiveStringMap)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  // Refused unless positive, as Spark's file source does: 0 would admit
  // nothing on every trigger, and the query would idle with no error.
  private val maxFilesPerTrigger: Option[Int] =
    Option(options.get("maxFilesPerTrigger")).map { v =>
      scala.util.Try(v.toInt).toOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"Invalid value '$v' for option 'maxFilesPerTrigger', must be a positive integer"))
    }
  private val session = SparkSession.active
  // Driver-side conf capture (same rationale as the batch scan's factory):
  // listing reads it directly, executors through one broadcast per stream.
  private val conf = session.sessionState.newHadoopConf()
  private val confBc = session.sparkContext.broadcast(new SerializableConfiguration(conf))
  private val sheet = XlsxIO.intOpt(options, "sheet", 1)
  private val header = XlsxIO.boolOpt(options, "header", default = true)
  private val ignoreCorrupt = XlsxIO.ignoreCorrupt(options)
  private val ignoreMissing = XlsxIO.ignoreMissing(options)
  private val pruneRemoved =
    XlsxIO.boolOpt(options, "pruneRemovedFiles", default = false)

  /** AvailableNow snapshot: when set, discovery is frozen at this listing. */
  @volatile private var snapshot: Option[Seq[String]] = None

  private def listNow(): Seq[String] =
    snapshot.getOrElse(XlsxIO.listEntriesIn(options, conf))

  override def prepareForTriggerAvailableNow(): Unit =
    snapshot = Some(XlsxIO.listEntriesIn(options, conf))

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset = XlsxOffset(Nil)
  override def deserializeOffset(json: String): Offset = XlsxOffset.fromJson(json)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-control latestOffset(start, limit) is the entry point")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val seenEntries = start.asInstanceOf[XlsxOffset].entries
    val seen = seenEntries.toSet
    val listed = listNow()
    val fresh = listed.filterNot(seen).sorted
    val admitted = limit match {
      case m: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        fresh.take(m.maxFiles())
      case _ => fresh
    }
    if (admitted.isEmpty) start
    else {
      // Opt-in offset compaction (see XlsxOffset's doc): entries whose PATH
      // no longer exists drop out with the next admission. Prune only when
      // a batch is being formed anyway — pruning on an otherwise-empty
      // trigger would make every tick a (zero-partition) micro-batch.
      val kept =
        if (!pruneRemoved) seenEntries
        else {
          val live = listed.map(XlsxOffset.pathOf).toSet
          seenEntries.filter(e => live.contains(XlsxOffset.pathOf(e)))
        }
      XlsxOffset((kept.toSet ++ admitted).toSeq.sorted)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[XlsxOffset].entries.toSet
    val fresh = end.asInstanceOf[XlsxOffset].entries.filterNot(seen).sorted
      .map(e => (XlsxOffset.pathOf(e), XlsxOffset.lengthOf(e)))
    XlsxIO.pack(session, fresh)(
      XlsxFilePartition(_, sheet, header, ignoreCorrupt, ignoreMissing))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    XlsxReaderFactory(schema0.length, confBc)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class XlsxPartitionReader(part: XlsxFilePartition, width: Int,
                          conf: Broadcast[SerializableConfiguration])
  extends PartitionReader[InternalRow] with org.apache.spark.internal.Logging {
  // `ignoreCorrupt` mirrors Spark's own file sources (the
  // spark.sql.files.ignoreCorruptFiles contract, FileScanRDD's
  // IOException|RuntimeException catch): an unreadable workbook logs and
  // reads as EMPTY instead of failing the task, and the reader goes on to
  // the partition's next workbook — the FILE is the unit that is skipped,
  // as in FileScanRDD. The case that makes this matter is the STREAM: a
  // poison file in a watched directory would otherwise crash every restart
  // forever — with the flag, the bad version still enters the seen-file
  // offset, so the query moves on and a FIXED overwrite of the file stats
  // as a new version and is re-admitted (the modify path doubling as the
  // repair path).
  private def corrupt(path: String): PartialFunction[Throwable, Iterator[Seq[(Int, String)]]] = {
    // Clause order mirrors Spark's FileScanRDD: a FileNotFoundException is
    // exclusively `ignoreMissingFiles` territory — a file DELETED between
    // admission and the batch run is not corruption, and without its own
    // flag the stream would replay the committed batch and crash on every
    // restart with no repair path (the file is gone, so the fixed-overwrite
    // escape can never fire). Conversely ignoreCorruptFiles must NOT
    // swallow a missing file: the two flags answer different operational
    // questions (junk content vs. racing deletes) and conflating them
    // masks real corruption when only deletes were meant to be tolerated.
    case e: java.io.FileNotFoundException if part.ignoreMissing =>
      logWarning(s"skipping missing xlsx $path: $e")
      Iterator.empty
    case e @ (_: java.io.IOException | _: RuntimeException |
              _: javax.xml.stream.XMLStreamException)
        if part.ignoreCorrupt && !e.isInstanceOf[XlsxMissingSheetException] &&
          !e.isInstanceOf[java.io.FileNotFoundException] =>
      logWarning(s"skipping corrupt xlsx $path: $e")
      Iterator.empty
  }
  /** One workbook's rows, read when the reader reaches the file. One catch
    * covers the WHOLE file: readSheet reads the zip and parses the complete
    * sheet XML eagerly (the iterator it returns is over an already-built
    * buffer), so truncated zips, garbled XML, and missing sheets all
    * surface here — there is no mid-iteration failure mode. */
  private def open(path: String): Iterator[Seq[(Int, String)]] =
    try {
      val it = XlsxIO.readSheet(path, part.sheet, conf.value.value)
      if (part.header && it.hasNext) { it.next(); it } else it
    } catch corrupt(path)
  private val rows: Iterator[Seq[(Int, String)]] = part.paths.iterator.flatMap(open)
  private var current: InternalRow = _

  override def next(): Boolean =
    if (!rows.hasNext) false
    else {
      val cells = rows.next()
      val arr = new Array[Any](width)
      cells.foreach { case (i, v) =>
        if (i < width && v != null) arr(i) = UTF8String.fromString(v)
      }
      current = new GenericInternalRow(arr)
      true
    }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Zip + sheet-XML plumbing shared by schema inference and the reader. */
/** A structurally-readable workbook lacking the REQUESTED sheet index —
  * deliberately NOT skippable by `ignoreCorruptFiles` (see readSheet). */
class XlsxMissingSheetException(msg: String) extends IllegalArgumentException(msg)

object XlsxIO {

  def boolOpt(o: CaseInsensitiveStringMap, k: String, default: Boolean): Boolean =
    Option(o.get(k)).map(_.toBoolean).getOrElse(default)
  def intOpt(o: CaseInsensitiveStringMap, k: String, default: Int): Int =
    Option(o.get(k)).map(_.toInt).getOrElse(default)

  /** `ignoreCorruptFiles` source option, defaulting to the session's
    * `spark.sql.files.ignoreCorruptFiles` — the same knob Spark's built-in
    * file sources honor, resolved DRIVER-side at plan time so executors
    * need no session. Schema INFERENCE deliberately ignores it: inference
    * reads the first listed workbook, and silently inferring from a corrupt
    * file has no sane result — pass an explicit schema when the directory
    * may hold junk. */
  def ignoreCorrupt(o: CaseInsensitiveStringMap): Boolean =
    Option(o.get("ignoreCorruptFiles")).map(_.toBoolean).getOrElse(
      SparkSession.active.sessionState.conf.ignoreCorruptFiles)

  /** `ignoreMissingFiles` source option, defaulting to the session's
    * `spark.sql.files.ignoreMissingFiles` — the deleted-between-admission-
    * and-read escape, deliberately SEPARATE from ignoreCorruptFiles (same
    * split as Spark's built-in file sources; see the reader's clause-order
    * comment). */
  def ignoreMissing(o: CaseInsensitiveStringMap): Boolean =
    Option(o.get("ignoreMissingFiles")).map(_.toBoolean).getOrElse(
      SparkSession.active.sessionState.conf.ignoreMissingFiles)

  /** The workbooks the `path` option names, each with the path a batch
    * read opens it by: the file itself (by the path as given), or every
    * `.xlsx` directly inside a directory (by its listed path), sorted by
    * path for determinism. Uses the Hadoop FileSystem API so the same code
    * reads local paths in tests and distributed stores on a cluster. A
    * missing path throws `FileNotFoundException`; each caller decides what
    * that means. */
  private def workbooks(options: CaseInsensitiveStringMap,
                        conf: org.apache.hadoop.conf.Configuration)
      : Seq[(String, org.apache.hadoop.fs.FileStatus)] = {
    val raw = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("xlsx source requires a path"))
    val p = new org.apache.hadoop.fs.Path(raw)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) Seq(p.toString -> st)
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.toLowerCase.endsWith(".xlsx"))
      .map(s => s.getPath.toString -> s).sortBy(_._1)
  }

  /** Batch listing: (path, byte length) per workbook, against the active
    * session's Hadoop conf (it carries spark.hadoop.*). A missing path is
    * an ERROR here: a batch read with an explicit schema never passes
    * through `inferSchema`'s nonEmpty require, so without it a mistyped
    * path would silently read as zero rows (review finding). The
    * STREAMING listing ([[listEntriesIn]]) deliberately differs. */
  def listFiles(options: CaseInsensitiveStringMap): Seq[(String, Long)] =
    workbooks(options, SparkSession.active.sessionState.newHadoopConf())
      .map { case (path, s) => (path, s.getLen) }

  /** Pack workbooks, in the given order, into read partitions by the rule
    * Spark's built-in file sources use: the split size comes from
    * `spark.sql.files.maxPartitionBytes`, `openCostInBytes` and
    * `minPartitionNum` (default: the leaf-node parallelism), each file
    * costs its length plus the open cost, and a partition closes when the
    * next file would pass the split size. Keeping the order keeps the row
    * order of a per-file read. */
  def pack(session: SparkSession, files: Seq[(String, Long)])(
      part: Seq[String] => XlsxFilePartition): Array[InputPartition] = {
    val openCost = session.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(session, files.map(_._2 + openCost).sum)
    val pfs = files.map { case (p, len) =>
      PartitionedFile(InternalRow.empty, SparkPath.fromPathString(p), 0L, len) }
    FilePartition.getFilePartitions(session, pfs, maxSplit)
      .map(fp => part(fp.files.toSeq.map(_.filePath.toPath.toString)): InputPartition)
      .toArray
  }

  /** Streaming listing: one [[XlsxOffset.entry]] per workbook VERSION
    * (path, mtime, length) — an overwritten file stats as a new entry and
    * re-enters discovery, the watch-modify half of `pro.py:96-108`. An
    * entry names the workbook by its status path (qualified, also for a
    * single-file `path`). The stream captures `conf` once at query start.
    * A missing path lists as empty: a watched directory legitimately starts
    * before its first workbook arrives. */
  def listEntriesIn(options: CaseInsensitiveStringMap,
                    conf: org.apache.hadoop.conf.Configuration): Seq[String] =
    try workbooks(options, conf).map { case (_, s) =>
      XlsxOffset.entry(s.getPath.toString, s.getModificationTime, s.getLen) }
    catch {
      // Also covers a path deleted mid-listing (getFileStatus → listStatus):
      // "absent at this trigger" instead of crashing discovery every
      // trigger (review finding: reader-side ignoreMissingFiles cannot
      // cover the DRIVER-side listing). The next trigger re-lists.
      case _: java.io.FileNotFoundException => Nil
    }

  /** Parse one sheet of one workbook into rows of (0-based column index,
    * string value). Streams the zip entries once, keeping only the shared
    * string table and the target sheet in memory (sheets are bounded by
    * Excel's own row limit); only when the workbook's declared tab order
    * maps the index to a differently-named part (see below) is the zip
    * streamed a second time for that one entry. Cell types handled: shared
    * string (`t="s"`), inline string (`t="inlineStr"`), formula string
    * (`t="str"`), boolean (`t="b"`), and plain numeric (no `t`).
    * `maxRows` stops the sheet parse after that many rows (schema
    * inference passes 1 — it never pays a full-sheet parse). */
  def readSheet(path: String, sheet: Int,
                conf0: org.apache.hadoop.conf.Configuration = null,
                maxRows: Int = Int.MaxValue): Iterator[Seq[(Int, String)]] = {
    val conf = if (conf0 != null) conf0 else SparkSession.active.sessionState.newHadoopConf()
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(conf)
    def openZip() = new ZipInputStream(new java.io.BufferedInputStream(fs.open(hp)))
    // The sheetN.xml naming CONVENTION is only the fallback: Excel does not
    // renumber worksheet parts on delete/reorder (delete Sheet1 from a
    // 3-sheet workbook and the parts are sheet2/sheet3.xml; reorder tabs
    // and part numbers stay put), so the authoritative index→part mapping
    // is the workbook's declared tab order (xl/workbook.xml <sheets>)
    // resolved through the workbook rels — reading by part NAME alone
    // could silently return the wrong sheet's data (review finding).
    val fallback = s"xl/worksheets/sheet$sheet.xml"
    var sheetBytes: Array[Byte] = null
    var sharedBytes: Array[Byte] = null
    var wbBytes: Array[Byte] = null
    var relsBytes: Array[Byte] = null
    var sawWorksheet = false
    def isWorksheetPart(name: String): Boolean =
      name.startsWith("xl/worksheets/") && name.endsWith(".xml")
    val zip = openZip()
    try {
      var e = zip.getNextEntry
      while (e != null && (sheetBytes == null || sharedBytes == null ||
                           wbBytes == null || relsBytes == null)) {
        val n = e.getName
        if (isWorksheetPart(n)) sawWorksheet = true
        if (n == fallback) sheetBytes = zip.readAllBytes()
        else if (n == "xl/sharedStrings.xml") sharedBytes = zip.readAllBytes()
        else if (n == "xl/workbook.xml") wbBytes = zip.readAllBytes()
        else if (n == "xl/_rels/workbook.xml.rels") relsBytes = zip.readAllBytes()
        e = zip.getNextEntry
      }
    } finally zip.close()
    // Throws XlsxMissingSheetException when the workbook declares its
    // sheets and the index is out of range; None when workbook/rels are
    // absent or unparsable (fall back to the naming convention).
    val target = resolveSheetPart(wbBytes, relsBytes, sheet).getOrElse(fallback)
    if (target != fallback) {
      // Mapped to a differently-named part: one more (cheap — skipped
      // entries are not inflated) pass for that single entry. The common
      // Excel file maps index i to sheet{i}.xml and never takes this branch.
      sheetBytes = null
      val zip2 = openZip()
      try {
        var e = zip2.getNextEntry
        while (e != null && sheetBytes == null) {
          if (e.getName == target) sheetBytes = zip2.readAllBytes()
          e = zip2.getNextEntry
        }
      } finally zip2.close()
    }
    // Two distinct failure classes (review findings, several passes): the
    // split keys on whether the archive holds worksheet parts AT ALL. A
    // zip with none — junk bytes, a renamed .jar/.docx — is the
    // corrupt-file class, skippable under ignoreCorruptFiles at ANY
    // requested sheet (a poison file must not wedge a sheet=2 stream
    // either). A readable workbook that lacks the requested sheet is a
    // misconfigured `sheet` option, which must stay loud even under the
    // flag: silently reading a whole directory as zero rows is the
    // failure mode this source's missing-path check exists to prevent.
    if (sheetBytes == null) {
      if (!sawWorksheet)
        throw new java.io.IOException(
          s"$path has no worksheets ($target absent) — not a usable workbook")
      else
        throw new XlsxMissingSheetException(
          s"$path is a workbook but has no sheet $sheet ($target); this is " +
            "a misconfigured `sheet` option, not file corruption")
    }
    val shared = if (sharedBytes == null) IndexedSeq.empty else parseSharedStrings(sharedBytes)
    parseSheet(sheetBytes, shared, maxRows)
  }

  /** Resolve a 1-based sheet index to its zip part name through the
    * workbook's declared tab order: the n-th `<sheet>` element of
    * `xl/workbook.xml` names a relationship id, and the workbook rels map
    * that id to the part. Returns None when either part is absent,
    * unparsable, or the rels lack the id (callers fall back to the
    * sheetN.xml naming convention); throws [[XlsxMissingSheetException]]
    * when the workbook DOES declare its sheets and the requested index is
    * out of range or resolves to a non-worksheet part (a chartsheet) —
    * both are `sheet`-option misconfigurations, loud by the same rule as
    * a missing sheetN.xml part. */
  private[xlsx] def resolveSheetPart(wbBytes: Array[Byte], relsBytes: Array[Byte],
                                     sheet: Int): Option[String] = {
    if (wbBytes == null || relsBytes == null) return None
    val rIds = try {
      val r = xmlReader(wbBytes)
      val ids = mutable.ArrayBuffer.empty[String]
      while (r.hasNext) {
        if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "sheet") {
          // r:id is namespace-qualified — match the attribute LOCAL name
          // (getAttributeValue(null, "id") only finds unqualified attrs).
          var found: String = null
          var i = 0
          while (i < r.getAttributeCount && found == null) {
            if (r.getAttributeLocalName(i) == "id") found = r.getAttributeValue(i)
            i += 1
          }
          if (found != null) ids += found
        }
      }
      r.close()
      ids.toSeq
    } catch { case _: javax.xml.stream.XMLStreamException => return None }
    if (rIds.isEmpty) return None
    val targets = try {
      val r = xmlReader(relsBytes)
      val m = mutable.Map.empty[String, String]
      while (r.hasNext) {
        if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "Relationship") {
          val id = r.getAttributeValue(null, "Id")
          val tgt = r.getAttributeValue(null, "Target")
          if (id != null && tgt != null) m(id) = tgt
        }
      }
      r.close()
      m
    } catch { case _: javax.xml.stream.XMLStreamException => return None }
    if (sheet < 1 || sheet > rIds.size)
      throw new XlsxMissingSheetException(
        s"workbook declares ${rIds.size} sheet(s); requested sheet=$sheet " +
          "is out of range — a misconfigured `sheet` option, not file corruption")
    targets.get(rIds(sheet - 1)).map { t =>
      // Rels targets are relative to xl/ ("worksheets/sheet2.xml",
      // sometimes "./"-prefixed) or package-absolute ("/xl/...").
      val norm =
        if (t.startsWith("/")) t.drop(1)
        else "xl/" + (if (t.startsWith("./")) t.drop(2) else t)
      if (!norm.startsWith("xl/worksheets/"))
        throw new XlsxMissingSheetException(
          s"sheet $sheet resolves to non-worksheet part '$t' (a chartsheet?) " +
            "— not readable by this source; a misconfigured `sheet` option")
      norm
    }
  }

  /** One configured StAX factory per thread: `newInstance()` walks the
    * service lookup on every call (hundreds of µs, four calls a workbook),
    * and StAX does not promise that a factory is thread-safe. */
  private val xmlFactory = ThreadLocal.withInitial[javax.xml.stream.XMLInputFactory] { () =>
    val f = javax.xml.stream.XMLInputFactory.newInstance()
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  private def xmlReader(bytes: Array[Byte]): javax.xml.stream.XMLStreamReader =
    xmlFactory.get.createXMLStreamReader(new java.io.ByteArrayInputStream(bytes))

  /** sharedStrings.xml: <sst><si><t>text</t></si>...</sst> (rich-text runs
    * <si><r><t>a</t></r><r><t>b</t></r></si> concatenate). Phonetic runs
    * (`<rPh><t>…</t></rPh>`, the furigana annotations East-Asian Excel
    * saves alongside the text) are EXCLUDED: their <t> is a reading aid,
    * not cell content, and concatenating it corrupts the value — "漢字"
    * would read back as "漢字カンジ" (review finding; POI and openpyxl
    * skip rPh the same way). */
  def parseSharedStrings(bytes: Array[Byte]): IndexedSeq[String] = {
    val r = xmlReader(bytes)
    val out = mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inSi = false
    var inRPh = false
    var inT = false
    while (r.hasNext) {
      r.next() match {
        case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => inSi = true; sb.clear()
            case "rPh" => inRPh = true
            case "t" if inSi && !inRPh => inT = true
            case _ => ()
          }
        case javax.xml.stream.XMLStreamConstants.CHARACTERS if inT =>
          sb.append(r.getText)
        case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "t" => inT = false
            case "rPh" => inRPh = false
            case "si" => inSi = false; out += sb.toString
            case _ => ()
          }
        case _ => ()
      }
    }
    r.close()
    out.toIndexedSeq
  }

  /** ECMA-376 / Excel column capacity: "XFD" = 16384 columns. Refs beyond
    * it cannot come from a real workbook, so they are treated as MALFORMED
    * (positional fallback), same as a letterless ref. */
  val MaxCols: Int = 16384

  /** Column index from an A1-style cell reference: "BC12" -> 54. Returns -1
    * (the malformed-ref sentinel callers already map to positional
    * fallback) for refs past [[MaxCols]] — without the cap, a crafted ref
    * like r="ZZZZZZZ1" overflows the Int accumulator (26^7 > 2^31) into an
    * arbitrary index, and a merely-huge one (r="AAAA1") would make schema
    * inference build a ~450k-field StructType from `max(idx) + 1`: an
    * adversarial workbook OOMing the DRIVER, which ignoreCorruptFiles (an
    * executor-side reader flag) can never protect (fuzz-arc finding). */
  def colIndex(ref: String): Int = {
    var i = 0
    var acc = 0L
    while (i < ref.length && ref.charAt(i).isLetter) {
      val c0 = ref.charAt(i)
      // Only raw A-Z/a-z can appear in a real ref; the range check runs on
      // the RAW char, not toUpper's output — unicode letters whose
      // uppercase lands in A-Z ('ı' dotless i → 'I', 'ſ' long
      // s → 'S') would otherwise alias onto column digits (review
      // finding). Malformed → same sentinel.
      if (!((c0 >= 'A' && c0 <= 'Z') || (c0 >= 'a' && c0 <= 'z'))) return -1
      val c = if (c0 >= 'a') (c0 - 32).toChar else c0
      acc = acc * 26L + (c - 'A' + 1)
      if (acc > MaxCols) return -1
      i += 1
    }
    acc.toInt - 1
  }

  /** worksheet XML: <sheetData><row><c r="A1" t="s"><v>0</v></c>...</row>.
    * Stops after `maxRows` rows (schema inference reads one). */
  def parseSheet(bytes: Array[Byte], shared: IndexedSeq[String],
                 maxRows: Int = Int.MaxValue)
      : Iterator[Seq[(Int, String)]] = {
    val r = xmlReader(bytes)
    val rows = mutable.ArrayBuffer.empty[Seq[(Int, String)]]
    var row = mutable.ArrayBuffer.empty[(Int, String)]
    var cellIdx = -1
    var cellType = ""
    var nextIdx = 0 // fallback position when a cell has no r= attribute
    var inV = false
    var inIsT = false
    val sb = new StringBuilder
    while (r.hasNext) {
      r.next() match {
        case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" =>
              row = mutable.ArrayBuffer.empty; nextIdx = 0
            case "c" =>
              // A ref with no leading letters (r="", r="123") parses to
              // colIndex -1; treated like a MISSING ref (positional
              // fallback) — propagated, the negative index crashed the
              // partition reader's row array fill with an uncaught
              // ArrayIndexOutOfBounds (the reader bound-checks i < width
              // only) and skewed inference's width arithmetic
              // (review finding).
              cellIdx = Option(r.getAttributeValue(null, "r"))
                .map(colIndex).filter(_ >= 0).getOrElse(nextIdx)
              cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
              sb.clear()
            case "v" => inV = true
            case "t" if cellType == "inlineStr" => inIsT = true
            case _ => ()
          }
        case javax.xml.stream.XMLStreamConstants.CHARACTERS if inV || inIsT =>
          sb.append(r.getText)
        case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "v" => inV = false
            case "t" => inIsT = false
            case "c" =>
              val raw = sb.toString
              // typed-empty cells (<c t="s"/>) and out-of-range sst indices
              // yield a null cell, not a task failure
              val value = cellType match {
                case "s" =>
                  raw.trim.toIntOption
                    .filter(i => i >= 0 && i < shared.length)
                    .map(shared).orNull
                // A typed-empty boolean (<c t="b"/> with no <v>) is a null
                // cell like its shared-string twin above — fabricating
                // "false" from an empty cell invents data (review finding).
                case "b" => raw.trim match {
                  case "1" => "true"
                  case ""  => null
                  case _   => "false"
                }
                case _ => raw // inlineStr text, formula str, or numeric literal
              }
              if (value != null && value.nonEmpty) row += ((cellIdx, value))
              nextIdx = cellIdx + 1
            case "row" =>
              rows += row.toSeq
              if (rows.size >= maxRows) { r.close(); return rows.iterator }
            case _ => ()
          }
        case _ => ()
      }
    }
    r.close()
    rows.iterator
  }
}
