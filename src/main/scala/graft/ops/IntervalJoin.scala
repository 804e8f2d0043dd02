package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Range-containment (interval) join: points (key, t) matched to intervals
  * (key, start, end) with start <= t <= end — sessions-to-events, validity
  * windows, slowly-changing dimensions. Spark has no native range join: the
  * declarative form `p JOIN i ON p.key = i.key AND t BETWEEN start AND end`
  * becomes an equi-join on key whose every key-group is a nested loop — fine
  * until one key holds millions of points × thousands of intervals.
  *
  * Bucketized form (the standard scale fix, cf. Databricks' range-join
  * optimization): quantize time into width-`w` buckets, explode each interval
  * over the buckets it covers, equi-join on (key, bucket), then apply the
  * exact range predicate. Work becomes points × (span/w + 1) per key instead
  * of points × intervals; pick `w` near the median interval span so most
  * intervals explode to ≤ 2 buckets. All shuffles are equi-shuffles — AQE
  * skew-split applies if one (key, bucket) is hot.
  *
  * Width choice is the whole ballgame at scale (the ×100 SCD2 probe swings
  * 18× between a 1-hour and a 1-day bucket on the same data), so the
  * no-knob overload DERIVES `w` from the data: the median interval length
  * after clamping to the points' observed time range (the clamp keeps an
  * SCD2 9999-12-31 sentinel row from dragging the median to ~8000 years).
  * Median-length buckets mean a typical interval explodes to ≤ 2 bucket
  * rows while a typical bucket is spanned by O(1) intervals — the same
  * measured-volume sizing used by Dedup.widthForVolume (Σdf² → width).
  */
object IntervalJoin {

  /** No-knob variant: bucket width derived from the measured median
    * clamped-interval length (one column-pruned aggregate over each side).
    * Prefer this in production; the explicit-width overload remains for
    * callers with out-of-band knowledge (e.g. all intervals share one
    * known span). */
  def bucketed(points: DataFrame, intervals: DataFrame, keyCol: String,
               tCol: String, startCol: String, endCol: String): DataFrame =
    bucketedImpl(points, intervals, keyCol, tCol, startCol, endCol, None)

  /** `points`: (keyCol, tCol micros-long) · `intervals`: (keyCol, startCol,
    * endCol micros-long). Returns every (point row, interval row) pair with
    * containment, columns prefixed. Bounds inclusive on both ends. */
  def bucketed(points: DataFrame, intervals: DataFrame, keyCol: String,
               tCol: String, startCol: String, endCol: String,
               bucketMicros: Long): DataFrame = {
    require(bucketMicros > 0, "bucket width must be positive")
    bucketedImpl(points, intervals, keyCol, tCol, startCol, endCol,
      Some(bucketMicros))
  }

  private def bucketedImpl(points: DataFrame, intervals: DataFrame,
                           keyCol: String, tCol: String, startCol: String,
                           endCol: String, bucketOpt: Option[Long]): DataFrame = {
    // Pin the points projection FIRST: the time-bounds aggregate below and
    // the join both read this one materialized frame, so (a) the upstream
    // points plan executes once, not twice, and (b) a non-deterministic
    // source (sampling, unpinned limit) cannot make the clamp bounds
    // disagree with the rows actually joined — without the pin, bounds from
    // run #1 could silently drop run #2's range-edge matches. Cost: one
    // materialization of the points frame (write+read in reliable mode).
    val p0 = graft.Materialize.pin(
      points.select((Seq(col(keyCol).as("__k"), col(tCol).as("__t")) ++
        points.columns.map(c => col(c).as(s"p_$c"))): _*))
    // Clamp interval explosion to the points' observed time range — one
    // tiny column-pruned aggregate to the driver buys a PROVABLE bound on
    // the blowup: buckets outside the range cannot contain any point, so
    // the clamp is exact, and an open-ended interval (an SCD2 current row
    // ending 9999-12-31) no longer explodes to ~10^8 bucket rows or past
    // sequence()'s 2.1B element cap (review finding).
    val tb = p0.agg(min(col("__t")), max(col("__t"))).head()
    val (loT, hiT) =
      if (tb.isNullAt(0)) (0L, 0L) // no points: any clamp yields 0 pairs
      else (tb.getLong(0), tb.getLong(1))
    val bucketMicros = bucketOpt.getOrElse {
      // Median CLAMPED interval length: intervals already filtered to those
      // overlapping [loT, hiT] and truncated to it, so one pathological
      // open-ended row can't set the width. percentile_approx at 1e-4
      // relative accuracy — the width only needs to be the right order of
      // magnitude, and floor/least keep correctness independent of it.
      val m = intervals
        .filter(col(startCol) <= col(endCol) &&
          col(endCol) >= loT && col(startCol) <= hiT)
        .agg(percentile_approx(
          least(col(endCol), lit(hiT)) - greatest(col(startCol), lit(loT)) + 1L,
          lit(0.5), lit(10000))).head()
      val median = if (m.isNullAt(0)) 1L else math.max(1L, m.getLong(0))
      // Median-of-lengths alone is a trap on bimodal corpora: many 1-µs
      // intervals plus one range-spanning interval derive a 1-µs width,
      // and the long interval then explodes sequence() past its 2^31
      // element cap (r16 review finding — the same blowup class the r15
      // clamp fixed for sentinels, reintroduced through the derivation).
      // Floor the width so the whole CLAMPED point range holds at most
      // 2^20 buckets: no single interval can explode past that budget
      // (len_i/w ≤ span/w ≤ 2^20 « 2^31), and below ~2^-20 of the range a
      // finer width cannot reduce per-bucket interval fan-in any further —
      // it only multiplies the explode volume. BigInt: the span of
      // caller-supplied longs may overflow Long arithmetic.
      val span = BigInt(hiT) - BigInt(loT) + 1
      val maxBuckets = 1L << 20
      val minW = ((span + maxBuckets - 1) / maxBuckets).toLong
      math.max(median, math.max(1L, minW))
    }
    // Bucket bounds follow arithmetically from the time bounds (floor is
    // monotonic), using the same double-division floor Spark's
    // floor(col / lit) computes so driver and executors can never disagree
    // on a boundary bucket.
    val lo = math.floor(loT.toDouble / bucketMicros).toLong
    val hi = math.floor(hiT.toDouble / bucketMicros).toLong
    val p = p0.withColumn("__bucket", floor(col("__t") / bucketMicros))
    val i = intervals.select((Seq(col(keyCol).as("__k"), col(startCol).as("__s"),
        col(endCol).as("__e")) ++
        intervals.columns.map(c => col(c).as(s"i_$c"))): _*)
      .filter(col("__s") <= col("__e"))
      // drop intervals entirely outside the point range BEFORE clamping —
      // a clamped sequence(start > stop) would count DOWN, not empty out
      .filter(floor(col("__e") / bucketMicros) >= lo &&
        floor(col("__s") / bucketMicros) <= hi)
      .withColumn("__bucket",
        explode(sequence(
          greatest(floor(col("__s") / bucketMicros), lit(lo)),
          least(floor(col("__e") / bucketMicros), lit(hi)))))
    p.join(i, Seq("__k", "__bucket"))
      .filter(col("__t") >= col("__s") && col("__t") <= col("__e"))
      .drop("__k", "__bucket", "__t", "__s", "__e")
  }
}
