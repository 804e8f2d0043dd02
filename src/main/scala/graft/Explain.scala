package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints the formatted physical plan for selected registered
  * queries so pushdown / broadcast / codegen can be inspected and iterated.
  *
  * Usage: runMain graft.Explain [sfDir] [--sweep] [queryName ...]
  * With no names, explains a representative subset; `--sweep` (anywhere)
  * prints one summary line per named query, or per registered query when
  * none is named.
  */
object Explain {
  val Usage = "usage: graft.Explain [sfDir] [--sweep] [queryName ...]"

  final case class Args(sfDir: String, sweep: Boolean, names: Seq[String])

  /** Pure command-line parse: flags may appear anywhere, the first
    * positional argument is the sf directory, the rest are query names. */
  def parse(args: Seq[String]): Either[String, Args] = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    flags.filterNot(_ == "--sweep") match {
      case Seq() =>
        val sweep = flags.nonEmpty
        val names = positional.drop(1)
        Right(Args(positional.headOption.getOrElse("/root/testdata/sf0.001"), sweep,
          if (names.nonEmpty || sweep) names else DefaultNames))
      case bad => Left(s"unknown flag ${bad.mkString(", ")}\n$Usage")
    }
  }

  private val DefaultNames = Seq("s1_scan_clean", "t10_point_lookup",
    "t18_dim_join", "join_shuffle_agg", "join_interval", "a1_weighted_gpa",
    "flagship_progress", "d3_lsh_jaccard_pairs", "d7_minhash_rowsig",
    "e1_cosine_topk", "x5_clean_corpus", "x10_contamination")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq).flatMap { a =>
      val unknown = a.names.filterNot(SparkEntry.queries.keySet)
      if (unknown.isEmpty) Right(a) else Left(s"unknown query ${unknown.mkString(", ")}\n$Usage")
    }.fold(msg => { System.err.println(msg); sys.exit(2) }, identity)
    val spark = Session.build(Session.cpus, Session.cpus)
    if (args.sweep) sweep(spark, args.sfDir, args.names)
    else args.names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, args.sfDir).explain("formatted")
    }
    spark.stop()
  }

  /** `runMain graft.Explain <sfDir> --sweep [query ...]` — one line per
    * named query (every REGISTERED query when none is named) summarizing its
    * formatted physical plan (exchange count, join strategies, scans
    * with/without PushedFilters, cartesian/BNLJ flags, Sort nodes, and
    * sort-path aggregates: SortAggregate + ObjectHashAggregate), so "all ~150
    * untouched plans are clean" is a committed, diffable artifact instead of
    * a /tmp claim (r19 verdict #6).
    * Streaming replay rungs execute at build time — run at a small sf. */
  private def sweep(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val nodeRe = """\(\d+\) ([A-Za-z]+)""".r
    val pushedRe = """PushedFilters: \[(.*?)\]""".r
    for (n <- if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted) {
      val line = try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val nodes = nodeRe.findAllMatchIn(plan).map(_.group(1)).toSeq
        val joins = nodes.filter(s => s.contains("Join") || s == "CartesianProduct")
          .groupBy(identity).map { case (k, v) => s"$k:${v.size}" }.toSeq.sorted
        val pushed = pushedRe.findAllMatchIn(plan).map(_.group(1).trim).toSeq
        f"$n%-28s exchanges=${nodes.count(_ == "Exchange")}%-3d " +
          f"joins=${if (joins.isEmpty) "-" else joins.mkString(",")}%s " +
          f"scans=${nodes.count(_.startsWith("Scan"))} " +
          f"pushed=${pushed.count(_.nonEmpty)}/${pushed.size} " +
          f"cartesian=${nodes.count(_ == "CartesianProduct")} " +
          f"bnlj=${nodes.count(_ == "BroadcastNestedLoopJoin")} " +
          f"sorts=${nodes.count(_ == "Sort")} " +
          f"sortagg=${nodes.count(n => n == "SortAggregate" || n == "ObjectHashAggregate")}"
      } catch { case e: Throwable => s"$n ERROR ${e.getClass.getSimpleName}: ${e.getMessage.take(100)}" }
      println(s"[sweep] $line")
    }
  }
}
