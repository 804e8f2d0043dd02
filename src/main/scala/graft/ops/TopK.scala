package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Grouped top-k ("per-entity leaderboard") in two execution shapes.
  *
  * The WINDOW shape (`row_number().over(partitionBy(keys).orderBy(...))`
  * then `rn <= k`, as registered by w_topn_group) is what SQL users write;
  * Spark plans it Sort → WindowGroupLimit(Partial) → Exchange → Sort →
  * WindowGroupLimit(Final) → Window — two full O(n log n) sorts.
  *
  * [[groupedTopK]] is the AGGREGATE shape: one hash aggregate carrying the
  * top-k in flat primitive buffer slots ([[graft.functions.LexTopK]]),
  * map-side combined, fixed-width buffers through the exchange, zero
  * sorts. Identical rows and ranks for rows with NON-NULL ordering keys
  * (LexTopKSpec pins the equivalence on randomized data); the one
  * divergence is null ordering keys — row_number ranks null-ordered rows
  * at the tail (still within k when the group is small), LexTopK skips
  * them entirely, so swap shapes only where the ordering columns are
  * non-null or null rows are not wanted in the leaderboard. Which shape
  * wins is a GROUP-CARDINALITY crossover —
  * measured at two decades in BASELINE.md r17 (ProbeTopN): the
  * aggregate wins while the per-task group table stays cache-resident,
  * the window's flat-row sort wins 3–4× once groups number in the
  * millions. Pick by corpus shape; LexTopK's Scaladoc carries the rule. */
object TopK {

  /** Top `kTop` rows per `keys` group by (ord1 desc-extreme, ord2) under
    * the lexicographic rule of [[graft.functions.LexTopK]] (pass negated
    * columns to flip a component's direction, as with max_by). Returns
    * (keys…, value, ord1, rn) with rn = 1-based rank, best first —
    * the window form's row_number. */
  def groupedTopK(df: DataFrame, keys: Seq[String], value: Column,
                  ord1: Column, ord2: Column, kTop: Int,
                  valueName: String = "v", ordName: String = "o1"): DataFrame = {
    val keyCols = keys.map(col)
    df.groupBy(keyCols: _*)
      .agg(graft.functions.LexTopK.topKByLex(value, ord1, ord2, kTop).as("__top"))
      .select(keyCols :+ posexplode(col("__top")): _*)
      .select(keyCols ++ Seq(
        col("col.v").as(valueName),
        col("col.o1").as(ordName),
        (col("pos") + 1).cast("int").as("rn")): _*)
  }
}
