package graft

import org.apache.spark.sql.functions._

import graft.streaming.Replay

/** The materialization seam: identical results in every mode, lineage
  * actually truncated, reliable mode really writes to the checkpoint dir,
  * and a representative iterative operator (connected components) works
  * under `reliable` — the 100 TB fault-tolerance posture. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def withMode[A](mode: String)(body: => A): A =
    Replay.withConfs(spark, Map(Materialize.ModeKey -> mode))(body)

  test("pin returns identical rows in local and reliable modes") {
    val df = (1L to 1000L).map(i => (i, s"v$i", i % 7)).toDF("id", "s", "k")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("tot"))
    val expect = df.orderBy("k").collect().toSeq

    val ckpt = java.nio.file.Files.createTempDirectory("mat_ckpt").toString
    Replay.withConfs(spark, Map(Materialize.DirKey -> ckpt)) {
      for (mode <- Seq("local", "reliable")) withMode(mode) {
        val got = Materialize.pin(df).orderBy("k").collect().toSeq
        assert(got == expect, s"mode=$mode")
      }
    }
    // reliable mode left real checkpoint data on disk
    def depth(f: java.io.File): Iterator[java.io.File] =
      Iterator(f) ++ f.listFiles().iterator.filter(_ != null).flatMap(c =>
        if (c.isDirectory) depth(c) else Iterator(c))
    assert(depth(new java.io.File(ckpt)).exists(_.isFile),
      "reliable pin wrote nothing under the checkpoint dir")
  }

  test("pin truncates lineage (local and reliable)") {
    val df = (1L to 100L).toDF("id").withColumn("x", col("id") * 2)
    for (mode <- Seq("local", "reliable")) withMode(mode) {
      val pinned = Materialize.pin(df)
      // checkpointed frames re-plan as a scan of materialized blocks
      assert(pinned.queryExecution.optimizedPlan.collectLeaves()
        .forall(l => !l.toString.contains("Range")), s"mode=$mode lineage kept")
    }
  }

  test("an iterative operator runs under reliable mode end-to-end") {
    // 3 chains of 4 ids each -> 3 clusters; exercises per-round pin calls
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
                    (10L, 11L), (11L, 12L), (12L, 13L),
                    (20L, 21L), (21L, 22L), (22L, 23L))
      .toDF("a", "b")
    val local = withMode("local") {
      graft.ops.Dedup.connectedComponents(pairs, "a", "b")
        .orderBy("doc_id").collect().toSeq
    }
    val reliable = withMode("reliable") {
      graft.ops.Dedup.connectedComponents(pairs, "a", "b")
        .orderBy("doc_id").collect().toSeq
    }
    assert(local == reliable && local.nonEmpty)
  }

  test("an unknown materialize mode fails fast instead of silently going local") {
    // A typo like 'relaible' on a 100 TB cluster must not silently drop the
    // fault-tolerance posture the mode was set for. 'none' (an unpinned
    // pass-through) is not a mode either.
    val df = (1L to 10L).toDF("id")
    for (mode <- Seq("relaible", "none")) withMode(mode) {
      val e = intercept[IllegalArgumentException](Materialize.pin(df))
      assert(e.getMessage.contains(s"'$mode'"))
    }
  }
}
