package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional extra args: restrict the dump to the named queries (local
    // iteration aid; the driver always passes exactly two args).
    val only = args.drop(2).toSet
    val spark = Session.build(Session.cpus, Session.cpus)
    new java.io.File(outDir).mkdirs()
    // A restricted run (`only` nonempty — local iteration) must not stamp
    // the shared artifact dir certified-clean: carry over recorded errors
    // for queries OUTSIDE this run's scope from any existing _errors.json.
    // Keys are plain query names and values are already-escaped JSON string
    // bodies, so pairs can be spliced back raw without unescaping. Parsed
    // BEFORE the query loop so a corrupt file aborts the run up front, not
    // after minutes of Spark work.
    val errPath = Paths.get(s"$outDir/_errors.json")
    val carried: Seq[(String, String)] =
      if (only.isEmpty || !Files.exists(errPath)) Nil
      else {
        val raw = Files.readString(errPath)
        val pair = """"((?:[^"\\]|\\.)*)"\s*:\s*("(?:[^"\\]|\\.)*")""".r
        val pairs = pair.findAllMatchIn(raw).toSeq
          .map(m => m.group(1) -> m.group(2))
        // Parse guard (ADVICE r12): a non-empty file from which the pair
        // regex extracts NOTHING is corrupt or foreign-format — silently
        // carrying zero records would stamp the artifact dir cleaner than
        // it is. Refuse to rewrite and fail the restricted run loudly.
        if (pairs.isEmpty && raw.exists(c => c != '{' && c != '}' && !c.isWhitespace))
          sys.error(s"$errPath is non-empty but no key/value pairs parsed; " +
            "refusing to overwrite it from a restricted run — delete or fix it first")
        pairs.filterNot { case (k, _) => only(k) }
      }
    // Loud failures (VERDICT r11 #3): a throwing query must appear as an err
    // row in the artifact, not silently vanish from it. Collect per-query
    // messages and always write _errors.json — an empty {} certifies the
    // harness ran and saw zero errors, distinct from the file being absent.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        errors(name) = msg.linesIterator.take(3).mkString(" | ").take(400)
        System.err.println(s"[verify] $name FAILED: $msg")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = (carried.map { case (k, v) => s"${q(k)}: $v" } ++
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }).mkString("{", ",", "}")
    Files.writeString(errPath, errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
