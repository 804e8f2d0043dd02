package graft

/** Session confs hold by construction: `Session.build` sets every one, and
  * loading a table sets none (so no spec's behaviour depends on which suite
  * touched `Tables` first). */
class SessionSpec extends SparkSpec {

  test("a built session carries every graft conf") {
    val sc = spark.sparkContext
    assert(sc.master == "local[4]")
    assert(sc.getConf.get("spark.ui.enabled") == "false")
    assert(sc.getConf.get(Session.ShuffleWriterThreshold._1) == Session.ShuffleWriterThreshold._2)
    assert(sc.getConf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
    assert(Seq("spark.sql.shuffle.partitions" -> "4",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
        "spark.sql.icu.caseMappings.enabled" -> "false")
      .forall { case (k, v) => spark.conf.get(k) == v })
  }

  test("loading a table leaves a fresh session's confs unchanged") {
    val fresh = spark.newSession()
    val before = fresh.conf.getAll
    model.Tables(fresh, "/root/testdata/sf0.001", "events")
    assert(fresh.conf.getAll == before)
    assert(fresh.conf.get("spark.sql.icu.caseMappings.enabled") == "false")
  }
}
