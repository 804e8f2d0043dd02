package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._

import graft.etl.Upsert
import graft.functions.GradeScale4
import graft.ops.Dedup

/** Property-based checks (SURVEY.md §5.3): grade banding is monotone and
  * bounded, the GPA is always in [0, 4], hash-diff dedup is idempotent, and
  * the keyed upsert is idempotent under redelivery. Pure properties run 200
  * scalacheck cases; Spark-backed ones run fewer (a job per case). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(label: String, cases: Int)(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases), p)
    assert(r.passed, s"$label: ${r.status}")
  }

  private val grades = Set(0.0, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0)

  test("grade banding maps into the 8 band values and is monotone") {
    check("range", 200)(Prop.forAll(Gen.choose(-5.0, 15.0)) { d =>
      grades.contains(GradeScale4.eval(d))
    })
    check("monotone", 200)(Prop.forAll(
      Gen.choose(-5.0, 15.0), Gen.choose(-5.0, 15.0)) { (a, b) =>
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      GradeScale4.eval(lo) <= GradeScale4.eval(hi)
    })
  }

  test("credit-weighted GPA is always within [0, 4]") {
    val course = for {
      g <- Gen.choose(0.0, 10.0)
      cr <- Gen.choose(0.5, 6.0)
    } yield (g, cr)
    check("gpa-range", 200)(Prop.forAll(Gen.nonEmptyListOf(course)) { cs =>
      val pts = cs.map { case (g, cr) => GradeScale4.eval(g) * cr }.sum
      val cr = cs.map(_._2).sum
      val gpa = if (cr > 0) pts / cr else 0.0
      gpa >= 0.0 && gpa <= 4.0
    })
  }

  test("hash-diff dedup is idempotent: diff(x, hashes(x)) is empty") {
    val rows = Gen.listOfN(30, Gen.zip(Gen.alphaStr.map(_.take(8)), Gen.choose(0, 99)))
    check("t1-idempotent", 8)(Prop.forAll(rows) { xs =>
      val df = xs.toDF("k", "v")
      val h = md5(concat_ws("|", col("k"), col("v")))
      val seen = df.select(h.as("row_hash")).distinct()
      df.withColumn("row_hash", h)
        .join(seen, Seq("row_hash"), "left_anti")
        .count() == 0L
    })
  }

  test("bloom dedup equals the plain anti-join on random overlapping corpora") {
    // small word pool forces real overlap between batch and seen
    val doc = Gen.listOfN(4, Gen.oneOf("ant", "bee", "cat", "dog", "elk"))
      .map(_.mkString(" "))
    val corpus = Gen.listOfN(25, doc)
    check("bloom-exact", 6)(Prop.forAll(corpus, corpus) { (seenTexts, batchTexts) =>
      val seen = seenTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val batch = batchTexts.zipWithIndex.map { case (t, i) => (1000L + i, t) }
        .toDF("doc_id", "text")
      val got = Dedup.bloomDedup(batch, seen, "text")
        .select("doc_id").as[Long].collect().toSet
      val want = batch.select(col("doc_id"), md5(col("text")).as("h"))
        .join(seen.select(md5(col("text")).as("h")).distinct(), Seq("h"), "left_anti")
        .select("doc_id").as[Long].collect().toSet
      got == want
    })
  }

  test("chunk dedup: kept chunks are globally distinct and cover every distinct chunk") {
    val doc = Gen.listOfN(9, Gen.oneOf("ant", "bee", "cat", "dog"))
      .map(_.mkString(" "))
    check("chunk-invariants", 6)(Prop.forAll(Gen.listOfN(12, doc)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = Dedup.chunkDedup(df, "text", width = 3).collect()
      val keptChunks = out.flatMap(r => r.getString(3).split(" ").grouped(3)
        .map(_.mkString(" ")).filter(_.nonEmpty))
      val allChunks = texts.flatMap(_.split(" ").grouped(3).map(_.mkString(" ")))
      // every surviving chunk is unique corpus-wide, and together the
      // survivors cover every distinct chunk of the input exactly once
      keptChunks.length == keptChunks.distinct.length &&
        keptChunks.toSet == allChunks.toSet
    })
  }

  test("chunk dedup equals the keep-first model on both encodings (packed long / struct fallback)") {
    // Full differential against an in-test sequential model of the
    // keep-first rule (global (doc_id, pos)-lexicographic first owner per
    // distinct chunk), not just set invariants: attribution of WHICH doc
    // keeps a shared chunk is the part the invariants test cannot see.
    // The id offset draws from {0, -5}: negative doc_ids defeat the
    // packed-long encoding guard, so the struct-min fallback path runs
    // under the same law as the production packed path (r16: the fallback
    // was otherwise spec-dead).
    val doc = Gen.oneOf(
      Gen.listOfN(7, Gen.oneOf("ant", "bee", "cat", "dog")).map(_.mkString(" ")),
      Gen.const(""))
    val gen = for {
      texts <- Gen.listOfN(10, doc)
      offset <- Gen.oneOf(0L, -5L)
    } yield (texts, offset)
    check("chunk-model", 6)(Prop.forAll(gen) { case (texts, offset) =>
      val rows = texts.zipWithIndex.map { case (t, i) => (offset + i, t) }
      val width = 3
      // sequential model
      val chunksPerDoc = rows.map { case (id, t) =>
        id -> t.split(" ").filter(_.nonEmpty).grouped(width)
          .map(_.mkString(" ")).toVector
      }
      val seen = scala.collection.mutable.Set[String]()
      val keptBy = scala.collection.mutable.Map[Long, Vector[String]]()
      for ((id, chunks) <- chunksPerDoc.sortBy(_._1); c <- chunks)
        if (seen.add(c)) keptBy(id) = keptBy.getOrElse(id, Vector()) :+ c
      val want = chunksPerDoc.map { case (id, chunks) =>
        val k = keptBy.getOrElse(id, Vector())
        (id, chunks.size.toLong, k.size.toLong, k.mkString(" "))
      }.toSet
      val got = Dedup.chunkDedup(rows.toDF("doc_id", "text"), "text", width)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2), r.getString(3)))
        .toSet
      got == want
    })
  }

  test("interval join with derived width equals the naive theta join on random shapes") {
    // The no-knob width must stay a pure performance decision under every
    // interval-shape regime at once: tiny lengths (drag the median down),
    // sentinel ends (the SCD2 current row), inverted intervals (dropped by
    // contract), and point times far outside every interval. The naive
    // equi-join + range filter is the semantics oracle.
    val key = Gen.choose(1L, 3L)
    val point = for { k <- key; t <- Gen.choose(0L, 2000L) } yield (k, t)
    val interval = for {
      k <- key
      s <- Gen.choose(0L, 1500L)
      len <- Gen.oneOf(Gen.choose(0L, 3L), Gen.choose(0L, 800L),
        Gen.const(Long.MaxValue / 2), Gen.const(-5L)) // -5: inverted
    } yield (k, s, s + len)
    val gen = for {
      ps <- Gen.listOfN(15, point)
      ivs <- Gen.nonEmptyListOf(interval).map(_.take(8))
    } yield (ps, ivs)
    check("interval-derived", 6)(Prop.forAll(gen) { case (ps, ivs) =>
      val p = ps.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("pid", "k", "t")
      val iv = ivs.zipWithIndex.map { case ((k, s, e), i) => (i.toLong, k, s, e) }
        .toDF("iid", "k", "s", "e")
      val got = graft.ops.IntervalJoin.bucketed(p, iv, "k", "t", "s", "e")
        .select(col("p_pid"), col("i_iid")).as[(Long, Long)].collect().toSet
      val want = p.join(iv, Seq("k"))
        .filter(col("t") >= col("s") && col("t") <= col("e"))
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      got == want
    })
  }

  test("salted sum equals the plain aggregation, MapType columns tolerated") {
    // Exactness law for the skew rewrite: groupBy(keys+salt) partial then
    // final groupBy(keys) must equal the one-shot aggregation for ANY salt
    // assignment. The frame carries a MapType column on purpose — hash()
    // rejects maps at analysis, so this also pins the r16 hash-safe salt
    // (the pre-fix salt hashed every column and failed to plan here).
    val row = for {
      k <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(-50L, 50L)
    } yield (k, v)
    check("salted-sum", 8)(Prop.forAll(Gen.nonEmptyListOf(row)) { rows =>
      val df = rows.toDF("k", "v")
        .withColumn("meta", map(lit("src"), col("k")))
      val got = graft.ops.Skew.saltedSum(df, Seq("k"), "v", buckets = 4)
        .select("k", "sum_v", "n").as[(String, Long, Long)].collect().toSet
      val want = df.groupBy("k")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .as[(String, Long, Long)].collect().toSet
      got == want
    })
  }

  test("salted join equals the plain inner join as a multiset") {
    // Replicating the right side `buckets` times and salting the left must
    // be invisible in the output — including duplicate left rows, which
    // share a salt (the documented caveat trades SPREAD, never rows).
    val leftRow = for { k <- Gen.choose(1L, 4L); v <- Gen.choose(0L, 9L) } yield (k, v)
    val rightRow = for { k <- Gen.choose(1L, 5L); w <- Gen.choose(0L, 9L) } yield (k, w)
    check("salted-join", 8)(Prop.forAll(
      Gen.nonEmptyListOf(leftRow), Gen.nonEmptyListOf(rightRow)) { (ls, rs) =>
      val l = ls.toDF("k", "v"); val r = rs.toDF("k", "w")
      val got = graft.ops.Skew.saltedJoin(l, r, "k", buckets = 3)
        .select("k", "v", "w")
      val want = l.join(r, Seq("k")).select("k", "v", "w")
      got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty
    })
  }

  test("IVF top-k at full probe equals brute force exactly") {
    // With nprobe = |centroids| every query probes every cell, so the
    // candidate set is the whole (assignable) corpus and the exact rerank
    // must reproduce brute force bit-for-bit — same cosine expression,
    // same tie rule. This pins that IVF's recall loss comes ONLY from
    // probing fewer cells, never from the plumbing.
    val vec = Gen.listOfN(4, Gen.choose(-5, 5)).map(_.map(_.toFloat).toArray)
      .suchThat(v => v.exists(_ != 0f))
    val gen = for {
      corpus <- Gen.listOfN(12, vec)
      cents <- Gen.listOfN(3, vec)
      k <- Gen.choose(1, 4)
    } yield (corpus, cents, k)
    check("ivf-full-probe", 6)(Prop.forAll(gen) { case (corpus, cents, k) =>
      val c = corpus.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val q = c.limit(3)
      val cent = cents.zipWithIndex.map { case (v, i) => (100L + i, v) }
        .toDF("vec_id", "embedding")
      val got = graft.ops.Similarity.ivfTopK(c, q, cent, k, nprobe = cents.size)
        .select("query_id", "nbr_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      val want = graft.ops.Similarity.bruteForceTopK(c, q, k)
        .select("query_id", "nbr_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      got == want
    })
  }

  test("lexical near-dup: partition-invariant, symmetric score, exact copy at 1.0") {
    val doc = Gen.listOfN(8, Gen.oneOf("ant", "bee", "cat", "dog", "elk", "fox"))
      .map(_.mkString(" "))
    check("d13-invariants", 5)(Prop.forAll(Gen.listOfN(8, doc)) { texts =>
      // append an exact copy of doc 0 so at least one pair must score 1.0
      val rows = (texts :+ texts.head).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val df = rows.toDF("doc_id", "text")
      def run(d: org.apache.spark.sql.DataFrame) =
        Dedup.lexicalNearDup(d, "text", threshold = 0.0, maxDfFrac = 1.0,
          minShared = 1).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).sorted.toSeq
      val a = run(df)
      val b = run(df.repartition(7, col("text"))) // different physical layout
      val copyPair = a.find(p => p._1 == 0L && p._2 == texts.length.toLong)
      a == b && copyPair.exists(p => math.abs(p._3 - 1.0) < 1e-12)
    })
  }

  test("composed dedup: weight accounting reconciles with plain d13 on any corpus") {
    // The d19 contract as a law: for a corpus with arbitrary exact-duplicate
    // structure (random replica counts per base doc), at an uncapped df the
    // plain d13 pair count over ALL docs must equal d19's
    // Σ pair_weight (cross-content underlying pairs) + Σ C(n_dups, 2)
    // (intra-group exact pairs, collapsed into multiplicity) — the exact
    // identity the sf0.1/sf1x probes verified once, here over random
    // corpora. Threshold 0 with minShared 1 makes every sharing pair count,
    // so the identity is total, not threshold-dependent.
    val doc = Gen.listOfN(6, Gen.oneOf("ant", "bee", "cat", "dog"))
      .map(_.mkString(" "))
    val corpus = for {
      bases <- Gen.listOfN(5, doc)
      reps <- Gen.listOfN(5, Gen.choose(1, 3))
    } yield bases.zip(reps)
    check("d19-accounting", 5)(Prop.forAll(corpus) { spec =>
      val rows = spec.zipWithIndex.flatMap { case ((t, n), b) =>
        (0 until n).map(r => ((b * 10 + r).toLong, t))
      }
      val df = rows.toDF("doc_id", "text")
      val plain = Dedup.lexicalNearDup(df, "text", threshold = 0.0,
        maxDfFrac = 1.0, minShared = 1).count()
      val composed = Dedup.composedNearDup(df, "text", threshold = 0.0,
        maxDfFrac = 1.0, minShared = 1).collect()
      val crossPairs = composed.map(_.getAs[Long]("pair_weight")).sum
      // intra-group pairs from the ACTUAL distinct-content groups (two base
      // docs can generate identical text, merging their replicas)
      val intraPairs = rows.groupBy(_._2).values
        .map(g => g.size.toLong * (g.size - 1) / 2).sum
      plain == crossPairs + intraPairs
    })
  }

  test("length buckets: total, batch-size cap, and partition invariance") {
    val doc = Gen.choose(1, 40).map(n => List.fill(n)("w").mkString(" "))
    check("x20-invariants", 5)(Prop.forAll(Gen.listOfN(30, doc)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def run(d: org.apache.spark.sql.DataFrame) =
        graft.ops.Packing.lengthBuckets(d, "text", nBuckets = 4,
          batchSize = 4, shards = 2).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
            r.getLong(4))).sorted.toSeq
      val a = run(df)
      val b = run(df.repartition(5, col("doc_id")))
      val batchSizes = a.groupBy(r => (r._3, r._4, r._5)).values.map(_.length)
      a.length == texts.length && a == b && batchSizes.forall(_ <= 4)
    })
  }

  test("canonical pick: partition-invariant, exactly one keeper per cluster") {
    val member = Gen.zip(Gen.choose(0L, 5L), Gen.choose(0.0, 1.0), Gen.choose(1, 500))
    check("d16-invariants", 5)(Prop.forAll(Gen.listOfN(25, member)) { xs =>
      // synthesize docs 0..24, clustered by the generated cluster key;
      // clusters with one member behave exactly like unclustered docs
      val scored = xs.zipWithIndex
        .map { case ((_, q, nc), i) => (i.toLong, q, nc) }
        .toDF("doc_id", "quality", "n_chars")
      val clusters = xs.zipWithIndex
        .map { case ((c, _, _), i) => (i.toLong, c * 1000L) }
        .toDF("doc_id", "cluster_id")
      def run(c: org.apache.spark.sql.DataFrame, s: org.apache.spark.sql.DataFrame) =
        Dedup.canonicalPick(c, s).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          .sorted.toSeq
      val a = run(clusters, scored)
      val b = run(clusters.repartition(7, col("cluster_id")),
        scored.repartition(5, col("doc_id")))
      val nClusters = xs.map(_._1).distinct.length
      a == b && a.length == nClusters && a.map(_._3).sum == xs.length
    })
  }

  test("keyed upsert merge is idempotent: re-delivering a batch changes nothing") {
    val rows = Gen.listOfN(20, Gen.zip(Gen.choose(1, 5), Gen.choose(1, 1000)))
    check("upsert-idempotent", 5)(Prop.forAll(rows) { xs =>
      val dir = java.nio.file.Files.createTempDirectory("prop-upsert").toString
      val batch = xs.zipWithIndex
        .map { case ((k, v), i) => (k, v.toDouble, i.toLong, s"p${k % 2}") }
        .toDF("k", "v", "seq", "part")
      Upsert.mergeBatch(spark, batch, dir, Seq("k"), "seq", "seq", "part")
      val once = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
      Upsert.mergeBatch(spark, batch, dir, Seq("k"), "seq", "seq", "part")
      val twice = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
      once.nonEmpty && once == twice
    })
  }

  test("Misra-Gries sketch respects the undercount bound under random partitioning") {
    graft.functions.TopKSketch.register(spark)
    val stream = Gen.listOfN(300,
      Gen.frequency(5 -> Gen.const("HOT"), 3 -> Gen.oneOf("w1", "w2", "w3"),
        2 -> Gen.choose(0, 50).map(i => s"rare$i")))
    check("mg-bound", 5)(Prop.forAll(stream, Gen.choose(2, 7)) { (xs, parts) =>
      val truth = xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val capacity = 8
      val est = xs.toDF("v").repartition(parts)
        .agg(expr(s"topk_sketch(v, $capacity)").as("tk"))
        .select(explode(col("tk"))).as[(String, Long)].collect().toMap
      val bound = xs.size.toLong / capacity
      // every estimate is an undercount by at most n/capacity, and any value
      // with true count > n/capacity must survive the merges
      est.forall { case (k, c) => c <= truth(k) && truth(k) - c <= bound } &&
        truth.filter(_._2 > bound).keySet.subsetOf(est.keySet)
    })
  }

  test("minhash signature entries stay within the hash universe [0, P)") {
    val doc = Gen.nonEmptyListOf(Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
      .map(_.mkString(" "))
    check("minhash-universe", 5)(Prop.forAll(Gen.listOfN(6, doc)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val sigs = Dedup.minhashSignatures(df, "text", 2).collect()
      sigs.forall(r => (1 to Dedup.minhashSeeds.size).forall { i =>
        val v = r.getLong(i); v >= 0 && v < Dedup.P
      })
    })
  }
  test("row-form MinHash signatures equal the aggregate form on random docs") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "x1", "người", "được", "học")
    val doc = Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    check("row-vs-agg", 8)(Prop.forAll(Gen.listOfN(6, doc)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val byRow = Dedup.rowMinhashSignatures(df, "text").drop("sh")
      val byAgg = Dedup.minhashSignatures(df, "text")
      byRow.exceptAll(byAgg).isEmpty && byAgg.exceptAll(byRow).isEmpty
    })
  }

  test("kmeans assignment is invariant under input row order") {
    val emb = graft.model.Tables(spark, "/root/testdata/sf0.001", "embeddings").limit(60)
    val a = graft.ops.Similarity.kmeansAssign(emb, k = 4, iters = 2, dims = 64)
      .orderBy("vec_id").collect().toSeq
    val shuffled = emb.orderBy(md5(col("vec_id").cast("string"))) // scrambled order
    val b = graft.ops.Similarity.kmeansAssign(shuffled, k = 4, iters = 2, dims = 64)
      .orderBy("vec_id").collect().toSeq
    assert(a == b, "fixed-point sums must make k-means order-independent")
  }

  test("as-of join equals the brute-force latest-row pick, nulls carried intact") {
    // Differential net under the struct-carry fix: for every left row the op
    // must return THE latest right row at-or-before t wholesale — each value
    // column exactly as that row carries it, nulls included, never a blend
    // of different right rows. Right (k, rt) pairs are unique per the op's
    // pre-arbitration contract (ties between right rows are otherwise
    // arbitrary on both sides of the comparison).
    val rightRows = Gen.mapOf(Gen.zip(
      Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 60L)),
      Gen.zip(Gen.option(Gen.choose(0L, 9L)), Gen.option(Gen.choose(10L, 19L)))))
    val leftRows = Gen.listOfN(20, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 60L)))
    check("asof-brute", 8)(Prop.forAll(leftRows, rightRows) { (ls, rm) =>
      val left = ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("id", "k", "t")
      val rs = rm.toSeq.map { case ((k, rt), (a, b)) => (k, rt, a, b) }
      val right = rs.toDF("k", "rt", "a", "b")
      val got = graft.ops.AsOfJoin.asOf(left, right, Seq("k"), "t", "rt", Seq("a", "b"))
        .select("id", "a", "b")
        .as[(Long, Option[Long], Option[Long])].collect().toSet
      val expect = ls.zipWithIndex.map { case ((k, t), i) =>
        val m = rs.filter(r => r._1 == k && r._2 <= t)
        if (m.isEmpty) (i.toLong, None, None)
        else { val w = m.maxBy(_._2); (i.toLong, w._3, w._4) }
      }.toSet
      got == expect
    })
  }

  test("interval join equals the naive range join on random spans incl. sentinels") {
    // Differential net under the bucket-range clamp: any mix of tiny,
    // negative-timestamp, and open-ended (far-future sentinel) intervals
    // must produce exactly the naive key-equi + bounds-filter pairs at any
    // bucket width — the clamp is a pure cost bound, never a semantics one.
    val pointRows = Gen.listOfN(15, Gen.zip(Gen.choose(0L, 2L), Gen.choose(-50L, 120L)))
    val span = for {
      k <- Gen.choose(0L, 2L)
      s <- Gen.choose(-60L, 110L)
      len <- Gen.oneOf(Gen.choose(0L, 30L), Gen.const(9_999_999_999_999L))
    } yield (k, s, s + len)
    check("interval-brute", 6)(Prop.forAll(pointRows, Gen.listOfN(8, span),
        Gen.oneOf(1L, 7L, 100L)) { (ps, is, w) =>
      val points = ps.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("pid", "k", "t")
      val intervals = is.zipWithIndex.map { case ((k, s, e), i) => (i.toLong, k, s, e) }
        .toDF("iid", "k", "s", "e")
      val got = graft.ops.IntervalJoin.bucketed(points, intervals, "k", "t", "s", "e", w)
        .select(col("p_pid"), col("i_iid")).as[(Long, Long)].collect().toSet
      val naive = ps.zipWithIndex.flatMap { case ((pk, t), pi) =>
        is.zipWithIndex.collect {
          case ((ik, s, e), ii) if ik == pk && t >= s && t <= e => (pi.toLong, ii.toLong)
        }
      }.toSet
      got == naive
    })
  }

  test("funnel equals the brute-force greedy walk on random event streams") {
    // Differential net over the aggregate-fold funnel: per user, walk
    // events sorted by (ts, type) — the exact sort_array(struct) order —
    // and advance on the next wanted type only at a STRICTLY later ts than
    // the previous advance. Tiny key/ts spaces force ties and collisions.
    val evGen = Gen.listOfN(40, Gen.zip(
      Gen.choose(0L, 4L), Gen.choose(0L, 8L), Gen.oneOf("a", "b", "c", "z")))
    val stepsGen = Gen.oneOf(Seq("a", "b"), Seq("a", "b", "c"), Seq("b", "a"),
      Seq("a", "a"), Seq("c"))
    check("funnel-brute", 8)(Prop.forAll(evGen, stepsGen) { (evs, steps) =>
      val df = evs.map { case (u, t, et) =>
        (u, new java.sql.Timestamp(t * 1000L), et) }.toDF("user_id", "ts", "event_type")
      val got = graft.ops.Funnels.funnel(df, steps)
        .select("step", "users").as[(Int, Long)].collect().toMap
      val expect = steps.indices.map { k =>
        val users = evs.groupBy(_._1).count { case (_, uevs) =>
          val sorted = uevs.filter(e => steps.contains(e._3))
            .map(e => (e._2, e._3)).sorted
          var step = 0; var last = Option.empty[Long]
          for ((t, et) <- sorted)
            if (step < steps.size && et == steps(step) && last.forall(t > _)) {
              step += 1; last = Some(t)
            }
          step >= k + 1
        }
        (k + 1) -> users.toLong
      }.toMap
      got == expect
    })
  }

  test("prefix-filtered near-dup equals the plain capped join on random corpora") {
    // The Bayardo prefix filter is a pure candidate-pruning optimization:
    // on ANY corpus (zero-token and punctuation-only docs included) its
    // surviving pairs and exact cosines must be identical to d13's plain
    // capped join at any threshold/shingle width.
    val word = Gen.oneOf("data", "spark", "query", "engine", "alpha", "beta",
      "gamma", "delta", "x9", "học", "!!", "??")
    val doc = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    check("d14-vs-d13", 5)(Prop.forAll(
        Gen.listOfN(8, doc), Gen.oneOf(0.3, 0.6, 0.9), Gen.oneOf(2, 3)) { (texts, th, n) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      def canon(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          math.rint(r.getDouble(4) * 1e12))
      val a = Dedup.lexicalNearDup(df, "text", threshold = th,
        maxDfFrac = 1.0, minShared = 1, n = n).collect().map(canon).sorted.toSeq
      val b = Dedup.prefixNearDup(df, "text", threshold = th,
        maxDfFrac = 1.0, minShared = 1, n = n).collect().map(canon).sorted.toSeq
      a == b
    })
  }

  test("scd2 history equals the brute-force change fold, null states included") {
    // Differential net under the rn=1 fix: per key, versions open exactly
    // at the first row and at every null-safe value CHANGE; valid_to is the
    // next version's ts; only the last version is current. NULL is a
    // tracked state of its own — chains like 3 -> null -> 3 must emit
    // three versions.
    val rowGen = Gen.listOfN(24, Gen.zip(
      Gen.choose(0L, 2L), Gen.choose(0L, 6L), Gen.option(Gen.choose(0L, 2L))))
    check("scd2-brute", 8)(Prop.forAll(rowGen) { rows0 =>
      // unique (k, ts, tie) via the index as tie — the documented contract
      val rows = rows0.zipWithIndex.map { case ((k, t, v), i) => (k, t, i.toLong, v) }
      val df = rows.toDF("k", "t", "seq", "v")
      val got = Upsert.scd2History(df, Seq("k"), "v", "t", "seq")
        .select("k", "v", "valid_from", "valid_to", "is_current")
        .as[(Long, Option[Long], Long, Option[Long], Boolean)].collect().toSet
      val expect = rows.groupBy(_._1).toSeq.flatMap { case (k, krs) =>
        val sorted = krs.sortBy(r => (r._2, r._3))
        val kept = sorted.foldLeft(Vector.empty[(Long, Option[Long])]) {
          case (acc, (_, t, _, v)) =>
            if (acc.isEmpty || acc.last._2 != v) acc :+ (t -> v) else acc
        }
        kept.zipWithIndex.map { case ((t, v), i) =>
          val to = if (i + 1 < kept.size) Some(kept(i + 1)._1) else None
          (k, v, t, to, to.isEmpty)
        }
      }.toSet
      got == expect
    })
  }

  test("connected components equal union-find min-labels on random graphs") {
    // Random edge soups (self-loops and duplicates included): every node in
    // the edge list must label to its component's MINIMUM id — verified
    // against a driver-side union-find.
    val edgeGen = Gen.listOfN(40, Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 30L)))
    check("cc-brute", 6)(Prop.forAll(edgeGen) { es =>
      val pairs = es.toDF("a", "b")
      val got = Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // union-by-min keeps each root the component minimum, so find IS the
      // expected label
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val expect = nodes.map(n => n -> find(n)).toMap
      got == expect
    })
  }

  test("sequence packing equals the per-bucket running-sum fold") {
    // Contiguous-fill contract on random corpora: per md5-derived bucket,
    // docs ordered by doc_id lay head-to-tail; each doc's first token lands
    // at (Σ preceding tokens) — pack id and offset are pure integer
    // arithmetic off that running sum.
    def h31(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16) % 2147483647L
    }
    val word = Gen.oneOf("data", "spark", "pack", "học", "x1")
    val doc = Gen.chooseNum(0, 9).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    check("pack-brute", 6)(Prop.forAll(Gen.listOfN(12, doc), Gen.oneOf(4, 16)) {
      (texts, cap) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = graft.ops.Packing.packSequences(df, "text", capacity = cap, buckets = 3)
        .select("doc_id", "bucket", "n_tokens", "pack_id", "pack_offset")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val toks = texts.map(t => t.split(" ").count(_.nonEmpty).toLong)
      val expect = texts.indices
        .map(i => (i.toLong, h31(s"${i}_pack") % 3, toks(i)))
        .groupBy(_._2).toSeq.flatMap { case (b, ds) =>
          ds.sortBy(_._1).foldLeft((0L, Vector.empty[(Long, Long, Long, Long, Long)])) {
            case ((start, acc), (id, _, n)) =>
              (start + n, acc :+ ((id, b, n, start / cap, start % cap)))
          }._2
        }.toSet
      got == expect
    })
  }

  test("compaction preserves content exactly on random fragmentations") {
    // The maintenance path must be a pure file-layout rewrite: random rows
    // written at a random fragmentation compact to fewer files with the
    // multiset of rows unchanged.
    val rowsGen = Gen.listOfN(60, Gen.zip(Gen.choose(0L, 9L), Gen.option(Gen.alphaStr.map(_.take(4)))))
    check("compact-brute", 4)(Prop.forAll(rowsGen, Gen.choose(5, 24)) { (rows, frags) =>
      val dir = graft.util.TempRoots.create("prop_compact_").toString + "/t"
      rows.toDF("k", "s").repartition(frags).write.mode("overwrite").parquet(dir)
      val (before, after) = graft.etl.Compact.compact(spark, dir, targetBytes = 512L << 20)
      val back = spark.read.parquet(dir).as[(Long, Option[String])]
        .collect().toSeq.sorted
      after <= before && back == rows.map(r => (r._1, r._2)).sorted
    })
  }

  test("bm25 top-k equals a from-scratch reference on random corpora and queries") {
    // Independent reimplementation of the whole scoring path: Robertson
    // idf ln(1+(N-df+0.5)/(df+0.5)), tf normalization with k1/b and
    // dl/avgdl, 1e-6 fixed-point quantization per (doc, term), matched-term
    // filter, (score desc, doc_id asc) top-k. Query terms may repeat — the
    // op must dedup them (set semantics).
    val vocab = Vector("data", "spark", "query", "plan", "học", "x1")
    val word = Gen.oneOf(vocab)
    val doc = Gen.chooseNum(0, 8).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val queryGen = Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, word))
    check("bm25-brute", 6)(Prop.forAll(Gen.listOfN(10, doc), queryGen) { (texts, q) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = graft.ops.Retrieval.bm25TopK(df, "text", q, k = 5)
        .as[(Long, Int, Double)].collect().toSeq
        .map { case (id, nt, s) => (id, nt, math.round(s * 1e6)) }
      val (k1, b) = (1.2, 0.75)
      val toks = texts.map(_.split(" ").filter(_.nonEmpty).toSeq)
      val n = toks.size.toDouble
      val avgdl = toks.map(_.size).sum.toDouble / n
      val terms = q.distinct
      val dfs = terms.map(t => t -> toks.count(_.contains(t))).toMap
      val expect = toks.zipWithIndex.flatMap { case (ts, i) =>
        val hits = terms.filter(ts.contains)
        if (hits.isEmpty) None
        else {
          val fp = hits.map { t =>
            val tf = ts.count(_ == t).toDouble
            val idf = math.log(1.0 + (n - dfs(t) + 0.5) / (dfs(t) + 0.5))
            val tfn = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * ts.size / avgdl))
            math.round(idf * tfn * 1e6)
          }.sum
          Some((i.toLong, hits.size, fp))
        }
      }.sortBy(r => (-r._3, r._1)).take(5)
      got == expect
    })
  }

  test("latest-by-key picks the (ts, tie) maximum on random version streams") {
    // Duplicate timestamps are the point: arbitration must fall through to
    // the tie column, per key, on any input order.
    val rowGen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 4L)))
    check("lww-brute", 8)(Prop.forAll(rowGen) { rs0 =>
      val rs = rs0.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      val got = Upsert.latestByKey(rs.toDF("k", "t", "seq"), Seq("k"), "t", "seq")
        .as[(Long, Long, Long)].collect().toSet
      val expect = rs.groupBy(_._1).values.map(_.maxBy(r => (r._2, r._3))).toSet
      got == expect
    })
  }

  test("simhash banding equals the all-pairs hamming filter at random shapes") {
    // The pigeonhole guarantee under the even-band-width arithmetic: at any
    // (bits, maxHamming) shape, banding must find EXACTLY the pairs within
    // the radius — widths differing by ≤1 make the guarantee hold at
    // non-divisible splits too, which is where the arithmetic can silently
    // break. Signatures cluster near a few seeds so near-pairs exist.
    val shapeGen = for {
      bits <- Gen.oneOf(7, 16, 31, 32, 59, 60)
      maxH <- Gen.choose(0, 5)
    } yield (bits, maxH)
    val sigGen = (bits: Int) => {
      val mask = if (bits == 64) -1L else (1L << bits) - 1
      val seed = Gen.oneOf(0L, 0x5a5a5a5aL, 0x7fffffffL)
      Gen.listOfN(16, Gen.zip(seed, Gen.choose(0, 5), Gen.choose(0, bits - 1))
        .map { case (s, flips, at) =>
          (0 until flips).foldLeft(s)((v, i) => v ^ (1L << ((at + i * 7) % bits))) & mask
        })
    }
    check("simhash-brute", 8)(Prop.forAll(shapeGen.flatMap { case (bits, maxH) =>
      sigGen(bits).map(sigs => (bits, maxH, sigs)) }) { case (bits, maxH, sigList) =>
      val sigs = sigList.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("doc_id", "simhash")
      val got = Dedup.simhashNearDup(sigs, maxHamming = maxH, bits = bits)
        .select("a", "b").as[(Long, Long)].collect().toSet
      val want = (for {
        a <- sigList.indices; b <- sigList.indices if a < b
        if java.lang.Long.bitCount(sigList(a) ^ sigList(b)) <= maxH
      } yield (a.toLong, b.toLong)).toSet
      got == want
    })
  }

  test("sig-level dupClusters equals components over the doc-level pair graph") {
    // dupClusters closes over the SIGNATURE graph and never materializes
    // doc pairs; this differential pins row-identity with the composed
    // doc-level shape it replaced (connectedComponents ∘ simhashNearDup) —
    // including duplicate-signature groups (the seeds generate flips=0
    // often, so same-sig cliques and edge-less multi-doc groups both
    // occur), singleton exclusion, and the min-doc cluster id.
    val shapeGen = for {
      bits <- Gen.oneOf(16, 32, 60)
      maxH <- Gen.choose(0, 4)
    } yield (bits, maxH)
    val sigGen = (bits: Int) => {
      val mask = (1L << bits) - 1
      val seed = Gen.oneOf(0L, 0x5a5a5a5aL, 0x7fffffffL)
      Gen.listOfN(20, Gen.zip(seed, Gen.choose(0, 5), Gen.choose(0, bits - 1))
        .map { case (s, flips, at) =>
          (0 until flips).foldLeft(s)((v, i) => v ^ (1L << ((at + i * 7) % bits))) & mask
        })
    }
    check("dupclusters-diff", 6)(Prop.forAll(shapeGen.flatMap { case (bits, maxH) =>
      sigGen(bits).map(sigs => (bits, maxH, sigs)) }) { case (bits, maxH, sigList) =>
      val sigs = sigList.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("doc_id", "simhash")
      val want = Dedup.connectedComponents(
        Dedup.simhashNearDup(sigs, maxHamming = maxH, bits = bits))
        .as[(Long, Long)].collect().toSet
      val got = Dedup.dupClusters(sigs, maxHamming = maxH, bits = bits)
        .as[(Long, Long)].collect().toSet
      got == want
    })
  }

  test("LSH near-dup pairs equal a from-scratch minhash pipeline reference") {
    // Independent end-to-end reimplementation of d3: regex tokens, word
    // trigram shingles (truncated shingle for short docs, zero-token docs
    // dropped), md5-derived 31-bit shingle hashes, k=8 (a·h+b) mod P
    // minima, 4 bands of 2 rows, candidates = pairs sharing any band
    // SLICE, exact Jaccard over the distinct hash sets, threshold 0.5.
    // Corpora mix near-copies (mutated suffixes) with unrelated docs so
    // both banding recall and the jaccard verify bite.
    def h31(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16) % Dedup.P
    }
    val bases = Vector(
      "the quick brown fox jumps over the lazy dog tonight",
      "spark shuffles partition data across the cluster nodes fast",
      "một văn bản tiếng việt có dấu đầy đủ ở đây")
    val word = Gen.oneOf("extra", "tail", "mut", "x7")
    val doc = for {
      b <- Gen.oneOf(bases); k <- Gen.chooseNum(0, 2)
      ws <- Gen.listOfN(k, word)
    } yield (b +: ws).mkString(" ")
    check("d3-brute", 5)(Prop.forAll(Gen.listOfN(10, doc)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = Dedup.nearDupPairs(df, "text", n = 3, threshold = 0.5)
        .select("a", "b", "jaccard").as[(Long, Long, Double)].collect()
        .map { case (a, b, j) => (a, b, math.rint(j * 1e12)) }.toSet
      val tokRe = graft.ops.TextAnalysis.TokenRegex.r
      val hashSets = texts.map { t =>
        val ts = tokRe.findAllIn(t.toLowerCase).toVector
        if (ts.isEmpty) Set.empty[Long]
        else (0 until math.max(1, ts.size - 2))
          .map(i => ts.slice(i, i + 3).mkString(" ")).distinct
          .map(h31).toSet
      }
      val sigs = hashSets.map(hs =>
        if (hs.isEmpty) Vector.empty[Long]
        else Dedup.minhashSeeds.map { case (a, b) => hs.map(h => (a * h + b) % Dedup.P).min }.toVector)
      val expect = (for {
        a <- texts.indices; b <- texts.indices
        if a < b && sigs(a).nonEmpty && sigs(b).nonEmpty
        if sigs(a).grouped(2).zip(sigs(b).grouped(2)).exists { case (x, y) => x == y }
        inter = (hashSets(a) & hashSets(b)).size.toDouble
        j = inter / (hashSets(a).size + hashSets(b).size - inter)
        if j >= 0.5
      } yield (a.toLong, b.toLong, math.rint(j * 1e12))).toSet
      got == expect
    })
  }

  test("winsorize equals the interpolated-percentile clip reference") {
    // Per group: exact interpolated percentiles (rank q·(n−1), linear
    // between neighbors — Spark's percentile()) bound the clip; null group
    // keys must survive (the null-safe re-join fix).
    val rowGen = Gen.listOfN(30, Gen.zip(
      Gen.option(Gen.choose(0L, 2L)), Gen.choose(0, 1000).map(_ / 10.0)))
    check("winsorize-brute", 6)(Prop.forAll(rowGen) { rows =>
      val df = rows.zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
        .toDF("id", "g", "v")
      val got = graft.query.Dashboards.winsorize(df, Seq("g"), "v", 0.1, 0.9)
        .select("id", "v_w").as[(Long, Double)].collect().toMap
      def pct(vs: Seq[Double], q: Double): Double = {
        val s = vs.sorted; val pos = q * (s.size - 1)
        val lo = s(pos.toInt)
        if (pos.toInt + 1 >= s.size) lo
        else lo + (pos - pos.toInt) * (s(pos.toInt + 1) - lo)
      }
      val byGroup = rows.groupBy(_._1).map { case (g, grp) =>
        val vs = grp.map(_._2)
        g -> (pct(vs, 0.1), pct(vs, 0.9))
      }
      rows.zipWithIndex.forall { case ((g, v), i) =>
        val (lo, hi) = byGroup(g)
        math.abs(got(i.toLong) - math.min(math.max(v, lo), hi)) < 1e-9
      }
    })
  }

  test("monotonic ingest sequence equals the sorted rank on random frames") {
    val rowGen = Gen.listOfN(40, Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)))
    check("monoseq-brute", 6)(Prop.forAll(rowGen) { rows0 =>
      // unique (t, tie) via index so the required total order exists
      val rows = rows0.zipWithIndex.map { case ((t, _), i) => (t, i.toLong) }
      val df = rows.toDF("t", "tie")
      val got = graft.etl.Ingest.monotonicTimestamp(df, Seq(col("t"), col("tie")))
        .select("t", "tie", "ingest_seq").as[(Long, Long, Long)]
        .collect().toSet
      val expect = rows.sortBy(identity).zipWithIndex
        .map { case ((t, tie), i) => (t, tie, i + 1L) }.toSet
      got == expect
    })
  }

  test("chunk windows equal the integer stride fold on random docs") {
    val word = Gen.oneOf("aa", "bb", "cc", "dd")
    val doc = Gen.chooseNum(0, 20).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    check("chunkwin-brute", 6)(Prop.forAll(Gen.listOfN(6, doc),
        Gen.oneOf((4, 3), (5, 5), (8, 2))) { case (texts, (width, stride)) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = graft.ops.Packing.chunkWindows(df, "text", width, stride)
        .select("doc_id", "chunk_id", "start_tok", "n_tokens", "chunk")
        .as[(Long, Int, Long, Long, String)].collect().toSet
      val expect = texts.zipWithIndex.flatMap { case (t, i) =>
        val toks = t.split(" ").filter(_.nonEmpty).toVector
        val n = if (toks.size <= width) 1
          else ((toks.size - width + stride - 1) / stride) + 1
        (0 until n).map { k =>
          val start = k.toLong * stride
          val slice = toks.slice(start.toInt, start.toInt + width)
          (i.toLong, k, start,
            math.max(0L, math.min(width.toLong, toks.size - start)),
            slice.mkString(" "))
        }
      }.toSet
      got == expect
    })
  }

  test("language id equals the stopword-vote argmax on random token soups") {
    val word = Gen.frequency(
      6 -> Gen.oneOf("the", "der", "el", "le", "và", "of", "und", "que"),
      4 -> Gen.oneOf("zzz", "qqq", "x1"))
    val doc = Gen.chooseNum(0, 15).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    check("langid-brute", 6)(Prop.forAll(Gen.listOfN(8, doc)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = graft.ops.TextAnalysis.languageId(spark, df, "text")
        .as[(Long, String, Long)].collect().toSet
      val langs = graft.ops.TextAnalysis.stopwords.toSeq.sortBy(_._1)
      val expect = texts.zipWithIndex.map { case (t, i) =>
        val toks = t.split(" ").filter(_.nonEmpty)
        val hits = langs.map { case (l, ws) => l -> toks.count(ws.contains).toLong }
        val (bl, bh) = hits.maxBy { case (l, h) => (h, -langs.indexWhere(_._1 == l)) }
        if (bh > 0) (i.toLong, bl, bh) else (i.toLong, "und", 0L)
      }.toSet
      got == expect
    })
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xFF}%02x").mkString
  private def h31ref(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(8), 16) % Dedup.P
  private def shingles5(t: String): Seq[String] = {
    val ts = graft.ops.TextAnalysis.TokenRegex.r.findAllIn(t.toLowerCase).toVector
    if (ts.isEmpty) Nil // the "" fallback is dropEmpty-excluded
    else (0 until math.max(1, ts.size - 4)).map(i => ts.slice(i, i + 5).mkString(" "))
  }

  test("fingerprint equals the min-md5 substring fold") {
    val doc = Gen.chooseNum(0, 25).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar)).map(_.mkString)
    check("fingerprint-brute", 6)(Prop.forAll(Gen.listOfN(8, doc)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = graft.ops.TextAnalysis.fingerprint(df, "text", 8)
        .as[(Long, String)].collect().toMap
      texts.zipWithIndex.forall { case (t, i) =>
        val n = math.max(t.length - 7, 1)
        val expect = (0 until n).map(j => md5hex(t.substring(j, math.min(j + 8, t.length)))).min
        got(i.toLong) == expect
      }
    })
  }

  test("dup-span stats equal the shared-shingle fold on random corpora") {
    val word = Gen.oneOf("data", "spark", "query", "engine", "shuffle", "plan")
    val doc = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    check("dupspan-brute", 6)(Prop.forAll(Gen.listOfN(8, doc)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = Dedup.dupSpanStats(df, "text", n = 5)
        .select("doc_id", "n_spans", "n_shared").as[(Long, Long, Long)]
        .collect().toSet
      val per = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> shingles5(t).map(h31ref).groupBy(identity).view.mapValues(_.size.toLong).toMap
      }.filter(_._2.nonEmpty)
      val shared = per.flatMap(_._2.keys).groupBy(identity)
        .filter(_._2.size >= 2).keySet
      val expect = per.map { case (id, hs) =>
        (id, hs.values.sum, hs.filter(kv => shared(kv._1)).values.sum)
      }.toSet
      got == expect
    })
  }

  test("contamination equals the benchmark shingle-intersection fold") {
    val word = Gen.oneOf("data", "spark", "query", "engine", "eval", "test")
    val doc = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    check("contamination-brute", 6)(Prop.forAll(Gen.listOfN(10, doc)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = Dedup.contaminationScore(df, col("doc_id") % 4 === 0, "text", n = 3)
        .select("doc_id", "n_shingles", "n_hit").as[(Long, Long, Long)]
        .collect().toSet
      def sh3(t: String): Set[Long] = {
        val ts = graft.ops.TextAnalysis.TokenRegex.r.findAllIn(t.toLowerCase).toVector
        if (ts.isEmpty) Set.empty
        else (0 until math.max(1, ts.size - 2))
          .map(i => h31ref(ts.slice(i, i + 3).mkString(" "))).toSet
      }
      val bench = texts.zipWithIndex.filter(_._2 % 4 == 0).flatMap(p => sh3(p._1)).toSet
      val expect = texts.zipWithIndex.filter(_._2 % 4 != 0)
        .map { case (t, i) => (i.toLong, sh3(t)) }
        .filter(_._2.nonEmpty)
        .map { case (id, hs) => (id, hs.size.toLong, (hs & bench).size.toLong) }
        .toSet
      got == expect
    })
  }

  // --- multimodal decoder fuzz (r15 verdict #6): randomized byte mutation
  // of VALID container payloads — flip random bytes, truncate at a random
  // offset, or append random garbage — must never make a decoder throw or
  // hang: the contract is None (rejected) or a CONSISTENT decoded value
  // (same feature vector on a second decode). The r14/r15 crafted-payload
  // fixes (AVI Int overflow, stride aliasing, WAV format laundering, LIST
  // recursion) were each one adversarial example; these properties sweep
  // the neighborhood around every valid payload. Driver-side pure
  // functions — no Spark job per case, so the case counts are cheap.

  private val anyByte: Gen[Byte] = Gen.choose(0, 255).map(_.toByte)

  private def mutate(valid: Array[Byte]): Gen[Array[Byte]] = Gen.oneOf(
    // flip 1-8 bytes at random offsets
    for {
      n <- Gen.choose(1, 8)
      idxs <- Gen.listOfN(n, Gen.choose(0, valid.length - 1))
      vals <- Gen.listOfN(n, anyByte)
    } yield {
      val c = valid.clone()
      idxs.zip(vals).foreach { case (i, v) => c(i) = v }
      c
    },
    // truncate anywhere (including to empty)
    Gen.choose(0, valid.length).map(k => valid.take(k)),
    // extend with 1-64 random trailing bytes
    for {
      n <- Gen.choose(1, 64)
      extra <- Gen.listOfN(n, anyByte)
    } yield valid ++ extra.toArray)

  test("png decode survives random byte mutation: None or consistent stats") {
    import graft.ops.Multimodal.ImageCodec
    val payload = for {
      w <- Gen.choose(4, 16); h <- Gen.choose(4, 14); s <- Gen.choose(0L, 999L)
      bytes <- mutate(ImageCodec.encodePng(w, h, s))
    } yield bytes
    check("png-fuzz", 500)(Prop.forAll(payload) { bytes =>
      def run() = ImageCodec.decode(bytes).map(i => ImageCodec.pixelStats(i, 8).toSeq)
      run() == run()
    })
  }

  test("wav decode survives random byte mutation: None or consistent stats") {
    import graft.ops.Multimodal.AudioCodec
    val payload = for {
      n <- Gen.choose(0, 400); rate <- Gen.choose(8000, 48000)
      s <- Gen.choose(0L, 999L)
      bytes <- mutate(AudioCodec.encodeWav(n, rate, s))
    } yield bytes
    check("wav-fuzz", 500)(Prop.forAll(payload) { bytes =>
      def run() = AudioCodec.decode(bytes).map(c => AudioCodec.pcmStats(c, 8).toSeq)
      run() == run()
    })
  }

  test("avi decode survives random byte mutation: None or consistent stats") {
    import graft.ops.Multimodal.VideoCodec
    val payload = for {
      w <- Gen.choose(4, 15); h <- Gen.choose(4, 13); f <- Gen.choose(2, 8)
      s <- Gen.choose(0L, 999L)
      bytes <- mutate(VideoCodec.encodeAvi(w, h, f, 40000, s))
    } yield bytes
    check("avi-fuzz", 500)(Prop.forAll(payload) { bytes =>
      def run() = VideoCodec.decode(bytes).map(v => VideoCodec.frameStats(v, 8).toSeq)
      run() == run()
    })
  }

  test("xlsx container survives random byte mutation: rows or a catchable error") {
    // Same sweep as the codec fuzz, one layer up: the xlsx source parses an
    // UNTRUSTED container format (zip + XML) with hand-rolled plumbing, and
    // its poison-file contract (`ignoreCorruptFiles`, XlsxPartitionReader's
    // corrupt() catch) only holds if every failure a mutated workbook can
    // provoke surfaces as one of the classes that catch covers — an
    // uncovered Throwable class would fail the TASK even under the flag and
    // wedge a watched-directory stream forever. Contract per mutant:
    // rows back (with every column index inside the ECMA-376 cap — the
    // driver-OOM guard on inference's `max(idx)+1` width arithmetic), OR an
    // exception in {IOException, XMLStreamException, RuntimeException};
    // either way DETERMINISTIC on a second read. XlsxMissingSheetException
    // is in the allowed set (it is loud by DESIGN under the flag — a
    // mutated rels target is indistinguishable from a misconfigured `sheet`
    // option) but tracked as its own outcome class for the determinism leg.
    import graft.sources.xlsx.{XlsxIO, XlsxWriter}
    val conf = spark.sessionState.newHadoopConf()
    val dir = java.nio.file.Files.createTempDirectory("xlsx-fuzz").toFile
    dir.deleteOnExit()
    val cell: Gen[Any] = Gen.oneOf(
      Gen.alphaNumStr.map(s => (s.take(6)): Any),
      Gen.choose(-99, 999).map(i => i: Any),
      Gen.choose(-9.5, 9.5).map(d => d: Any),
      Gen.oneOf(true, false).map(b => b: Any),
      Gen.const(null: Any))
    def build(rows: List[List[Any]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      XlsxWriter.writeTo(bos, rows)
      bos.toByteArray
    }
    val payload = for {
      nRows <- Gen.choose(1, 5)
      rows <- Gen.listOfN(nRows, Gen.listOfN(3, cell))
      bytes <- mutate(build(rows))
    } yield bytes
    def outcome(bytes: Array[Byte]): Any = {
      val f = new java.io.File(dir, s"m${bytes.hashCode}-${bytes.length}.xlsx")
      java.nio.file.Files.write(f.toPath, bytes)
      try XlsxIO.readSheet(f.getAbsolutePath, 1, conf).toSeq
      catch {
        // The EXACT classes XlsxPartitionReader.corrupt() covers — anything
        // else propagates and fails the property with its real class.
        case e @ (_: java.io.IOException | _: javax.xml.stream.XMLStreamException |
                  _: RuntimeException) => e.getClass.getName
      } finally f.delete()
    }
    check("xlsx-fuzz", 400)(Prop.forAll(payload) { bytes =>
      val o1 = outcome(bytes)
      // The cap check lives OUTSIDE outcome's try as a Prop boolean: a
      // ScalaTest assert inside it would throw TestFailedException — a
      // RuntimeException the catch arm above converts into an
      // "allowed exception" outcome, silently passing the property on the
      // exact regression it exists to pin (review finding).
      val bounded = o1 match {
        case rows: Seq[_] => rows.asInstanceOf[Seq[Seq[(Int, String)]]]
          .forall(_.forall { case (i, _) => i >= 0 && i < XlsxIO.MaxCols })
        case _ => true
      }
      bounded && o1 == outcome(bytes)
    })
  }

  test("xlsx roundtrip preserves arbitrary unicode cell text") {
    val cell = Gen.nonEmptyListOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('đ', 'ư', 'ơ', 'ă', 'â', 'ê', 'ô', '<', '&', '"', ' ')))
      .map(_.mkString.trim).suchThat(_.nonEmpty)
    check("xlsx-roundtrip", 6)(Prop.forAll(Gen.listOfN(4, cell)) { cells =>
      val d = java.nio.file.Files.createTempDirectory("xp").toFile
      val f = new java.io.File(d, "t.xlsx").getAbsolutePath
      XlsxTestFixture.write(f, Seq(Seq("c0", "c1", "c2", "c3"), cells.map(x => x: Any)))
      val got = spark.read.format("xlsx").load(f).collect()(0)
      (0 until 4).forall(i => got.getString(i) == cells(i))
    })
  }

  test("SRP-LSH top-k at full probe coverage equals brute force exactly") {
    // The IVF twin (above) pins that IVF's recall loss comes only from
    // probing fewer cells; this pins the same for SRP-LSH: with planes = 2
    // and multiProbe = 2 the probe set {own, 2 single-flips, 1 double-flip}
    // covers ALL 4 buckets, so every (query, candidate) pair is scored and
    // the result must reproduce brute force bit-for-bit — same cosine
    // expression, same (cos desc, nbr_id asc) tie rule. Any divergence is a
    // plumbing bug (bucket packing, probe expansion, dims guard), never
    // "LSH being approximate".
    val vec = Gen.listOfN(4, Gen.choose(-5, 5)).map(_.map(_.toFloat).toArray)
      .suchThat(v => v.exists(_ != 0f))
    val gen = for {
      corpus <- Gen.listOfN(12, vec)
      k <- Gen.choose(1, 4)
    } yield (corpus, k)
    check("srp-full-probe", 6)(Prop.forAll(gen) { case (corpus, k) =>
      val c = corpus.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val q = c.limit(3)
      val got = graft.ops.Similarity.lshTopK(c, q, k,
        planes = 2, dims = 4, multiProbe = 2)
        .select("query_id", "nbr_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      val want = graft.ops.Similarity.bruteForceTopK(c, q, k)
        .select("query_id", "nbr_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      got == want
    })
  }

  test("retention equals the brute-force cohort fold on random event streams") {
    // Funnels.retention vs a from-scratch sequential model: cohort = each
    // user's min event DAY, a user is retained at offset d iff they have
    // any event exactly d days after cohort, users counted distinct per
    // (cohort, offset). Random multi-day streams with repeated same-day
    // events per user exercise the distinct-count and the maxDays clip; the
    // fold works in integer day indices so the comparison is exact (both
    // sides derive the calendar date from the same timestamp strings).
    val ev = for {
      user <- Gen.choose(0, 4)
      day <- Gen.choose(0, 9)
      hour <- Gen.choose(0, 23)
    } yield (user.toLong, day, hour)
    val gen = for {
      events <- Gen.nonEmptyListOf(ev)
      maxDays <- Gen.choose(0, 6)
    } yield (events, maxDays)
    check("retention-fold", 6)(Prop.forAll(gen) { case (events, maxDays) =>
      val rows = events.map { case (u, d, h) =>
        (u, java.sql.Timestamp.valueOf(f"2026-01-${d + 1}%02d $h%02d:30:00"))
      }
      val df = rows.toDF("user_id", "ts")
      val got = graft.ops.Funnels.retention(df, maxDays)
        .select(col("cohort_date").cast("string"), col("day_offset"), col("users"))
        .as[(String, Int, Long)].collect().toSet
      // reference fold in day indices
      val cohort = events.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).min }
      val want = events.map { case (u, d, _) => (u, d) }.distinct
        .map { case (u, d) => (cohort(u.toLong), d - cohort(u.toLong), u) }
        .filter { case (_, off, _) => off >= 0 && off <= maxDays }
        .groupBy { case (c, off, _) => (c, off) }
        .map { case ((c, off), us) =>
          (f"2026-01-${c + 1}%02d", off, us.map(_._3).distinct.size.toLong) }
        .toSet
      got == want
    })
  }

  test("phrase count equals the greedy non-overlapping token scan") {
    // phraseTopK's replace-length arithmetic (double-space delimiter trick,
    // Retrieval.scala:88-119) vs the definitional greedy left-to-right
    // non-overlapping scan over the token list. A 3-word alphabet forces
    // back-to-back repeats AND self-overlapping phrases ("a a" in "a a a")
    // — the two edge classes the delimiter trick exists to get right.
    val word = Gen.oneOf("aa", "bb", "cc")
    val gen = for {
      docs <- Gen.listOfN(6, Gen.listOfN(8, word))
      phrase <- Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, word))
    } yield (docs, phrase)
    check("phrase-scan", 6)(Prop.forAll(gen) { case (docs, phrase) =>
      val df = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = graft.ops.Retrieval.phraseTopK(df, "text", phrase, k = 100)
        .as[(Long, Int)].collect().toMap
      def greedy(toks: List[String]): Int = {
        @annotation.tailrec
        def go(i: Int, acc: Int): Int =
          if (i + phrase.size > toks.size) acc
          else if (toks.slice(i, i + phrase.size) == phrase) go(i + phrase.size, acc + 1)
          else go(i + 1, acc)
        go(0, 0)
      }
      val want = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, greedy(ws)) }
        .filter(_._2 > 0).toMap
      got == want
    })
  }

  /** Sequential mirror of the codegen'd [[graft.functions.DotProduct]]
    * fold (ascending index, single accumulator) — bit-identical doubles,
    * so the similarity mirrors below can compare floats EXACTLY instead
    * of with a tolerance that could hide a real arithmetic divergence. */
  private def dotSeq(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.size) { acc += a(i) * b(i); i += 1 }
    acc
  }

  test("fuzzy join equals the all-pairs levenshtein scan, nulls dropped") {
    // FastSS blocking (deletion variants + equi-join + verify) vs the
    // definitional O(n²) scan. A 2-char alphabet at lengths 0-3 forces
    // dense distance-1 neighborhoods (every string has many 1-edit
    // cousins), exact-duplicate keys exercise the distance-0 self-join
    // path, and None keys pin the null-drop contract.
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val key = Gen.choose(0, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b")).map(_.mkString))
    val gen = Gen.listOfN(12, Gen.option(key))
    check("fuzzy-allpairs", 6)(Prop.forAll(gen) { keys =>
      val df = keys.zipWithIndex
        .map { case (k, i) => (i.toLong, k.orNull) }.toDF("id", "name")
      val got = graft.ops.FuzzyJoin.editDistancePairs(df, "id", "name")
        .select("a_id", "b_id", "a_key", "b_key", "dist")
        .as[(Long, Long, String, String, Int)].collect().toSet
      val present = keys.zipWithIndex.collect { case (Some(k), i) => (i.toLong, k) }
      val want = (for {
        (ia, ka) <- present; (ib, kb) <- present
        if ia < ib
        d = lev(ka, kb) if d <= 1
      } yield (ia, ib, ka, kb, d)).toSet
      got == want
    })
  }

  test("hybrid RRF fusion equals the fold over its two collected legs") {
    // hybridRrf recomputes both legs internally; since bm25TopK and
    // bruteForceTopK are each property-pinned deterministic above, the
    // fusion arithmetic (reciprocal ranks, missing leg -> 0, order by
    // rrf desc / doc_id asc) is the only untested layer — mirror it in
    // Scala over the legs' own collected output, exact doubles.
    val word = Gen.oneOf("ant", "bee", "cat", "dog")
    val vec = Gen.listOfN(4, Gen.choose(-5, 5)).map(_.map(_.toFloat).toArray)
      .suchThat(v => v.exists(_ != 0f))
    val gen = for {
      docs <- Gen.listOfN(6, Gen.listOfN(6, word).map(_.mkString(" ")))
      vecs <- Gen.listOfN(6, vec)
      terms <- Gen.someOf("ant", "bee", "cat").suchThat(_.nonEmpty)
      kPerLeg <- Gen.choose(1, 5)
      k <- Gen.choose(1, 6)
    } yield (docs, vecs, terms.toList, kPerLeg, k)
    check("rrf-fusion", 6)(Prop.forAll(gen) { case (docs, vecs, terms, kPerLeg, k) =>
      val d = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val e = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val got = graft.ops.Retrieval.hybridRrf(d, "text", e, 0L, terms, kPerLeg, k)
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
      val lexRank = graft.ops.Retrieval.bm25TopK(d, "text", terms, kPerLeg)
        .select("doc_id", "score").as[(Long, Double)].collect()
        .sortBy { case (id, s) => (-s, id) }.zipWithIndex
        .map { case ((id, _), r) => id -> (r + 1) }.toMap
      val denseRank = graft.ops.Similarity
        .bruteForceTopK(e, e.filter(col("vec_id") === 0L), kPerLeg)
        .select("nbr_id", "rank").as[(Long, Int)].collect().toMap
      def rr(r: Option[Int]) = r.map(x => 1.0 / (60.0 + x.toDouble)).getOrElse(0.0)
      val want = (lexRank.keySet ++ denseRank.keySet).toSeq
        .map(id => (id, rr(lexRank.get(id)) + rr(denseRank.get(id))))
        .sortBy { case (id, s) => (-s, id) }.take(k)
      got == want
    })
  }

  test("rerank cascade equals the candidates-then-cosine fold") {
    // rerankTopK = bm25 candidate pre-select, then exact cosine over ONLY
    // the candidates. Mirror: the op's own lexical leg (pinned above)
    // fed through the sequential-fold cosine, top-k by (cos desc, doc_id
    // asc) — exact double comparison, no tolerance.
    val word = Gen.oneOf("ant", "bee", "cat", "dog")
    val vec = Gen.listOfN(4, Gen.choose(-5, 5)).map(_.map(_.toFloat).toArray)
      .suchThat(v => v.exists(_ != 0f))
    val gen = for {
      docs <- Gen.listOfN(6, Gen.listOfN(6, word).map(_.mkString(" ")))
      vecs <- Gen.listOfN(6, vec)
      terms <- Gen.someOf("ant", "bee").suchThat(_.nonEmpty)
      k <- Gen.choose(1, 4)
    } yield (docs, vecs, terms.toList, k)
    check("rerank-cascade", 6)(Prop.forAll(gen) { case (docs, vecs, terms, k) =>
      val d = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val e = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val got = graft.ops.Retrieval
        .rerankTopK(d, "text", e, 0L, terms, candidates = 4, k)
        .as[(Long, Double, Double)].collect().toSeq
      val emb = vecs.map(_.map(_.toDouble).toSeq)
      def cos(a: Seq[Double], b: Seq[Double]) =
        dotSeq(a, b) / (math.sqrt(dotSeq(a, a)) * math.sqrt(dotSeq(b, b)))
      val want = graft.ops.Retrieval.bm25TopK(d, "text", terms, 4)
        .select("doc_id", "score").as[(Long, Double)].collect().toSeq
        .map { case (id, s) => (id, s, cos(emb.head, emb(id.toInt))) }
        .sortBy { case (id, _, c) => (-c, id) }.take(k)
      got == want
    })
  }

  test("SQ8 quantized top-k equals the sequential quantize-score-rank mirror") {
    // quantizedTopK end-to-end vs a from-scratch mirror: per-vector
    // max|x| scaling, HALF_UP rounding to the int8 grid (BigDecimal —
    // Spark's round() semantics, away-from-zero on negatives where
    // math.round is not), integer dot (exact at <= 64*127^2), cosine on
    // the quantized vectors, rank by (approx_cos desc, nbr_id asc). The
    // integer dot makes qdot engine-exact; the cosine divisions are
    // mirrored operation-for-operation so doubles compare bit-equal.
    val vec = Gen.listOfN(4, Gen.choose(-5, 5)).map(_.map(_.toFloat).toArray)
      .suchThat(v => v.exists(_ != 0f))
    val gen = for {
      corpus <- Gen.listOfN(10, vec)
      k <- Gen.choose(1, 4)
    } yield (corpus, k)
    check("sq8-mirror", 6)(Prop.forAll(gen) { case (corpus, k) =>
      val c = corpus.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val q = c.limit(3)
      val got = graft.ops.Similarity.quantizedTopK(c, q, k)
        .select("query_id", "nbr_id", "qdot", "approx_cos", "rank")
        .as[(Long, Long, Long, Double, Int)].collect().toSet
      def quant(v: Array[Float]): Seq[Double] = {
        val e = v.map(_.toDouble)
        val m = e.map(math.abs).max
        e.map(x => java.math.BigDecimal.valueOf(x * 127.0 / m)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()).toSeq
      }
      val qv = corpus.map(quant)
      val nrm = qv.map(v => math.sqrt(dotSeq(v, v)))
      val want = (for {
        qi <- 0 until 3
        ranked = (0 until corpus.size).filter(_ != qi)
          .map { ni =>
            val d = dotSeq(qv(qi), qv(ni))
            (ni, d.toLong, d / (nrm(qi) * nrm(ni)))
          }
          .sortBy { case (ni, _, a) => (-a, ni) }.take(k)
        ((ni, qd, a), r) <- ranked.zipWithIndex
      } yield (qi.toLong, ni.toLong, qd, a, r + 1)).toSet
      got == want
    })
  }

  test("random projection equals the signed-sum fold, wrong-dims dropped") {
    // randomProjection's literal-weight dot per plane vs the direct
    // Σ planeSign(p,d)·x_d fold — integer-valued floats, so the sums are
    // exact in any order. A trailing wrong-arity vector pins the
    // size(embedding) === dims guard.
    val vec = Gen.listOfN(4, Gen.choose(-9, 9)).map(_.map(_.toFloat).toArray)
    val gen = Gen.listOfN(8, vec)
    check("rp-fold", 6)(Prop.forAll(gen) { vecs =>
      val rows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) } :+
        (99L, Array(1f, 2f, 3f)) // arity 3: must be dropped
      val df = rows.toDF("vec_id", "embedding")
      val got = graft.ops.Similarity.randomProjection(df, outDims = 3, dims = 4)
        .as[(Long, Double, Double, Double)].collect().toSet
      val want = vecs.zipWithIndex.map { case (v, i) =>
        def r(p: Int) = (0 until 4)
          .map(dd => graft.ops.Similarity.planeSign(p, dd) * v(dd).toDouble).sum
        (i.toLong, r(0), r(1), r(2))
      }.toSet
      got == want
    })
  }

  test("semDedup equals the assign-then-keep-first sequential model") {
    // Cell assignment (max cosine, tie -> lowest cell) and the
    // drop-every-later-cell-mate-above-threshold rule vs a direct fold.
    // Cosines are mirrored through the same sequential dot, so the argmax
    // and the >= threshold decisions agree bit-for-bit.
    val vec = Gen.listOfN(4, Gen.choose(-5, 5)).map(_.map(_.toFloat).toArray)
      .suchThat(v => v.exists(_ != 0f))
    val gen = for {
      corpus <- Gen.listOfN(10, vec)
      cents <- Gen.listOfN(3, vec)
      thr <- Gen.oneOf(0.3, 0.7, 0.95)
    } yield (corpus, cents, thr)
    check("semdedup-model", 6)(Prop.forAll(gen) { case (corpus, cents, thr) =>
      val c = corpus.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val cf = cents.zipWithIndex.map { case (v, i) => (100L + i, v) }
        .toDF("vec_id", "embedding")
      val got = graft.ops.Similarity.semDedup(c, cf, thr, dims = 4)
        .as[(Long, Long, Boolean)].collect().toSet
      val emb = corpus.map(_.map(_.toDouble).toSeq)
      val ce = cents.map(_.map(_.toDouble).toSeq)
      val nrm = emb.map(v => math.sqrt(dotSeq(v, v)))
      val cnrm = ce.map(v => math.sqrt(dotSeq(v, v)))
      val cell = emb.indices.map { i =>
        (0 until cents.size).map { j =>
          (dotSeq(emb(i), ce(j)) / (nrm(i) * cnrm(j)), -(100L + j))
        }.max match { case (_, negCell) => -negCell }
      }
      val dropped = (for {
        a <- emb.indices; b <- emb.indices
        if a < b && cell(a) == cell(b) &&
          dotSeq(emb(a), emb(b)) / (nrm(a) * nrm(b)) >= thr
      } yield b.toLong).toSet
      val want = emb.indices
        .map(i => (i.toLong, cell(i), !dropped(i.toLong))).toSet
      got == want
    })
  }

  test("PQ top-k equals the encode-LUT-scan mirror on integer grids") {
    // pqTopK end-to-end vs a sequential mirror of its documented pipeline:
    // codebook = `codes` lowest-vec_id vectors, per-subspace encode by
    // min (3-dot expansion distance, code), query LUT in fixed-point
    // floor(d·2^20 + 0.5), ADC = integer sum over subspaces, rank by
    // (dist asc, nbr_id asc). Integer-valued vectors make every subspace
    // distance an exact integer, so the comparison is exact — any
    // mismatch is plumbing (slice bounds, encode tie rule, LUT join),
    // not quantization noise.
    val vec = Gen.listOfN(4, Gen.choose(-5, 5)).map(_.map(_.toFloat).toArray)
      .suchThat(v => v.exists(_ != 0f))
    val gen = for {
      corpus <- Gen.listOfN(10, vec)
      k <- Gen.choose(1, 4)
    } yield (corpus, k)
    check("pq-mirror", 6)(Prop.forAll(gen) { case (corpus, k) =>
      val c = corpus.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val q = c.limit(3)
      val got = graft.ops.Similarity.pqTopK(c, q, k, m = 2, codes = 3, dims = 4)
        .select("query_id", "nbr_id", "rank", "dist")
        .as[(Long, Long, Int, Double)].collect().toSet
      val emb = corpus.map(_.map(_.toDouble).toSeq)
      val cb = (0 until 3).map(i => (i.toLong, emb(i))) // codes lowest ids
      def sv(v: Seq[Double], mi: Int) = v.slice(mi * 2, mi * 2 + 2)
      def sd(v: Seq[Double], cv: Seq[Double], mi: Int) = {
        val (a, b) = (sv(v, mi), sv(cv, mi))
        dotSeq(a, a) - 2.0 * dotSeq(a, b) + dotSeq(b, b)
      }
      def encode(v: Seq[Double], mi: Int): Long =
        cb.map { case (code, cv) => (sd(v, cv, mi), code) }.min._2
      def lut(qv: Seq[Double], mi: Int, code: Long): Long =
        math.floor(sd(qv, cb(code.toInt)._2, mi) * 1048576.0 + 0.5).toLong
      val want = (for {
        qi <- 0 until 3
        ranked = emb.indices.filter(_ != qi).map { ni =>
          val fx = (0 until 2).map(mi => lut(emb(qi), mi, encode(emb(ni), mi))).sum
          (ni.toLong, fx)
        }.sortBy { case (ni, fx) => (fx, ni) }.take(k)
        ((ni, fx), r) <- ranked.zipWithIndex
      } yield (qi.toLong, ni, r + 1, fx.toDouble / 1048576.0)).toSet
      got == want
    })
  }

  test("PRF retrieval equals the two-pass seed-feedback-expansion fold") {
    // prfTopK end-to-end vs a sequential mirror of both passes: BM25 over
    // the seeds, top-fbDocs feedback set by (score desc, doc_id asc),
    // expansion terms ranked by (feedback tf desc, corpus df asc, term
    // asc) with seeds excluded, then BM25 over seeds ∪ expansion. The
    // scoring core reuses the bm25 property's reference arithmetic
    // (Robertson idf, k1/b normalization, 1e-6 fixed point), so what this
    // adds is the feedback/expansion plumbing — the part the single-pass
    // property cannot see. Seeds may repeat: set semantics must hold.
    val vocab = Vector("data", "spark", "query", "plan", "học", "x1")
    val doc = Gen.chooseNum(0, 8).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
      .map(_.mkString(" "))
    val gen = for {
      texts <- Gen.listOfN(10, doc)
      seeds <- Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
      fbTerms <- Gen.choose(0, 2)
    } yield (texts, seeds, fbTerms)
    check("prf-two-pass", 6)(Prop.forAll(gen) { case (texts, seeds, fbTerms) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.ops.Retrieval
        .prfTopK(df, "text", seeds, k = 5, fbDocs = 2, fbTerms = fbTerms)
        .as[(Long, Int, Double)].collect().toSeq
        .map { case (id, nt, s) => (id, nt, math.round(s * 1e6)) }
      val (k1, b) = (1.2, 0.75)
      val toks = texts.map(_.split(" ").filter(_.nonEmpty).toSeq)
      val n = toks.size.toDouble
      val avgdl = toks.map(_.size).sum.toDouble / n
      def scorePass(terms: Seq[String], outK: Int): Seq[(Long, Int, Long)] = {
        val dfs = terms.map(t => t -> toks.count(_.contains(t))).toMap
        toks.zipWithIndex.flatMap { case (ts, i) =>
          val hits = terms.filter(ts.contains)
          if (hits.isEmpty) None
          else Some((i.toLong, hits.size, hits.map { t =>
            val tf = ts.count(_ == t).toDouble
            val idf = math.log(1.0 + (n - dfs(t) + 0.5) / (dfs(t) + 0.5))
            val tfn = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * ts.size / avgdl))
            math.round(idf * tfn * 1e6)
          }.sum))
        }.sortBy(r => (-r._3, r._1)).take(outK)
      }
      val sd = seeds.distinct
      val fb = scorePass(sd, 2).map(_._1.toInt).toSet
      val expansion = toks.zipWithIndex.filter(p => fb(p._2))
        .flatMap(_._1).groupBy(identity)
        .map { case (t, xs) => (t, xs.size.toLong) } // feedback tf
        .filterNot { case (t, _) => sd.contains(t) }
        .map { case (t, tfFb) => (t, tfFb, toks.count(_.contains(t))) }
        .toSeq.sortBy { case (t, tfFb, cdf) => (-tfFb, cdf, t) }
        .take(fbTerms).map(_._1)
      val want = scorePass(sd ++ expansion, 5)
      got == want
    })
  }

  // ---- streaming batch-boundary invariance ----------------------------
  // The replay specs (StreamingSpec, gate queries) pin FIXED batch splits;
  // these properties pin that the settled output is invariant under a
  // RANDOM micro-batch partitioning of the same rows — the property a
  // restart/redelivery can silently break while every fixed split passes.

  private val qn = new java.util.concurrent.atomic.AtomicInteger(0)
  implicit private val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** Split `rows` into contiguous batches at positions drawn from `cuts`. */
  private def batched[A](rows: List[A], cuts: List[Int]): List[List[A]] =
    if (rows.isEmpty) Nil
    else {
      val points = cuts.map(c => 1 + math.abs(c) % rows.size).distinct.sorted
      val bounds = (0 :: points ::: List(rows.size)).distinct.sorted
      bounds.zip(bounds.tail).map { case (a, b) => rows.slice(a, b) }
    }

  private def settle[A](q: org.apache.spark.sql.streaming.StreamingQuery,
                        name: String)(read: => A): A =
    try { q.processAllAvailable(); read } finally {
      q.stop(); spark.catalog.dropTempView(name)
    }

  test("stream dedup settles to the distinct rows under any batch split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val row = for {
      m <- Gen.choose(0, 30); k <- Gen.oneOf("a", "b", "c")
      v <- Gen.oneOf(1.0, 2.0)
    } yield (new java.sql.Timestamp(base + m * 60000L), k, v)
    val gen = for {
      rows <- Gen.listOfN(14, row) // 3 keys x 2 values: duplicates certain
      cuts <- Gen.listOfN(3, Gen.choose(0, 1000))
    } yield (rows, cuts)
    check("dedup-split", 4)(Prop.forAll(gen) { case (rows, cuts) =>
      val name = s"pdedup${qn.incrementAndGet()}"
      val in = MemoryStream[(java.sql.Timestamp, String, Double)]
      // horizon (2h) > total span (30min): no row is ever late and no hash
      // state evicts, so the settled output is exactly the distinct rows
      // whatever the delivery order or batch boundaries.
      val out = graft.streaming.Pipeline.dedupStream(
        in.toDF().toDF("@timestamp", "k", "v"), horizon = "2 hours")
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      batched(rows, cuts).foreach { b => in.addData(b); q.processAllAvailable() }
      val got = settle(q, name)(spark.table(name)
        .select(col("`@timestamp`"), col("k"), col("v"))
        .as[(java.sql.Timestamp, String, Double)].collect().toSeq)
      got.size == rows.distinct.size && got.toSet == rows.toSet
    })
  }

  test("sessionize settles to the batch gap-fold under any ordered batch split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{Replay, SessionTimeout}
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def t(minutes: Long) = new java.sql.Timestamp(base + minutes * 60000L)
    val ev = for { u <- Gen.choose(0L, 2L); m <- Gen.choose(0, 40) } yield (u, m)
    val gen = for {
      events <- Gen.nonEmptyListOf(ev).map(_.take(16))
      cuts <- Gen.listOfN(3, Gen.choose(0, 1000))
      gapMin <- Gen.oneOf(5, 10)
    } yield (events, cuts, gapMin)
    check("sess-split", 4)(Prop.forAll(gen) { case (events, cuts, gapMin) =>
      val name = s"psess${qn.incrementAndGet()}"
      val in = MemoryStream[(java.sql.Timestamp, Long, Double)]
      // transformWithState needs the RocksDB state store
      val got = Replay.withConfs(spark, Map(Replay.StateProvider -> Replay.RocksDbProvider)) {
        val q = SessionTimeout.summaries(
            in.toDF().toDF("ts", "user_id", "value"), gapMs = gapMin * 60000L,
            watermark = "10 minutes")
          .toDF().writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        // globally ts-ordered delivery, random contiguous boundaries (the
        // in-order file-source contract); two escalating far-future sentinel
        // events push the watermark past every real session's end + gap so
        // the event-time timers all fire before we read.
        val ordered = events.sortBy(_._2).map { case (u, m) => (t(m.toLong), u, 1.0) }
        batched(ordered, cuts).foreach { b => in.addData(b); q.processAllAvailable() }
        in.addData((t(40L + gapMin + 30), 99L, 1.0)); q.processAllAvailable()
        in.addData((t(40L + gapMin + 60), 99L, 1.0)); q.processAllAvailable()
        // the two sentinels close a session for user 99 themselves (the
        // second exceeds the gap) — exclude the flush user from the read
        settle(q, name)(spark.table(name)
          .filter(col("user_id") =!= 99L)
          .select("user_id", "start_ms", "end_ms", "n_events")
          .as[(Long, Long, Long, Long)]
          .collect().toSet)
      }
      val want = events.groupBy(_._1).flatMap { case (u, es) =>
        val ts = es.map(_._2.toLong).sorted
        ts.tail.foldLeft(List((ts.head, ts.head, 1L))) {
          case ((s, e, n) :: done, x) =>
            if (x - e <= gapMin) (s, math.max(e, x), n + 1) :: done
            else (x, x, 1L) :: (s, e, n) :: done
          case (Nil, _) => Nil // unreachable: seed is nonempty
        }.map { case (s, e, n) => (u, t(s).getTime, t(e).getTime, n) }
      }.toSet
      got == want
    })
  }

  test("stream-stream interval join settles to the theta join under any split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def t(minutes: Int) = new java.sql.Timestamp(base + minutes * 60000L)
    val ev = for { u <- Gen.choose(0L, 2L); m <- Gen.choose(0, 30) } yield (u, m)
    val gen = for {
      clicks <- Gen.listOfN(6, ev)
      buys <- Gen.listOfN(6, ev)
      cuts <- Gen.listOfN(2, Gen.choose(0, 1000))
      flip <- Gen.listOfN(4, Gen.oneOf(true, false))
    } yield (clicks, buys, cuts, flip)
    check("ssjoin-split", 4)(Prop.forAll(gen) { case (clicks, buys, cuts, flip) =>
      val name = s"pssj${qn.incrementAndGet()}"
      val cIn = MemoryStream[(java.sql.Timestamp, Long, Long)]
      val bIn = MemoryStream[(java.sql.Timestamp, Long, Long)]
      val q = graft.streaming.Pipeline.intervalJoinStreams(
          cIn.toDF().toDF("ts", "user_id", "click_id"),
          bIn.toDF().toDF("ts", "user_id", "buy_id"),
          "user_id", "ts", within = "10 minutes")
        .select(col("l.click_id"), col("r.buy_id"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      // watermark (2h) >> span (30min): no state evicts, so every pair
      // must eventually emit no matter how the two sides interleave.
      val cRows = clicks.zipWithIndex.map { case ((u, m), i) => (t(m), u, 100L + i) }
      val bRows = buys.zipWithIndex.map { case ((u, m), i) => (t(m), u, 500L + i) }
      val cb = batched(cRows, cuts)
      val bb = batched(bRows, cuts.map(_ + 7))
      (0 until math.max(cb.size, bb.size)).foreach { i =>
        val legs = List(
          () => cb.lift(i).foreach(in => cIn.addData(in)),
          () => bb.lift(i).foreach(in => bIn.addData(in)))
        (if (flip.lift(i).getOrElse(false)) legs.reverse else legs).foreach(_())
        q.processAllAvailable()
      }
      val got = settle(q, name)(spark.table(name)
        .as[(Long, Long)].collect().toSet)
      val want = (for {
        (ct, cu, cid) <- cRows; (bt, bu, bid) <- bRows
        if cu == bu && bt.getTime >= ct.getTime &&
          bt.getTime <= ct.getTime + 10 * 60000L
      } yield (cid, bid)).toSet
      got == want
    })
  }

  test("LexArgExtreme equals struct-ordered max_by/min_by on adversarial keys") {
    // The primitive-buffer lexicographic argmax (the codegen-fast
    // replacement for max_by(v, struct(o1, o2)) — Similarity.assignCells,
    // pqTopK encode) must agree with the struct form on EVERY ordering
    // edge the SQL ordering defines: null keys (row skipped), exact
    // (o1, o2) ties (same winner), NaN (greatest), and -0.0 vs 0.0
    // (equal for <, ordered for total order — both forms use the same
    // SQL comparators, so they must agree whichever rule that is).
    val o1 = Gen.oneOf[java.lang.Double](1.0, 2.0, Double.NaN, 0.0, -0.0, null)
    // v is a FUNCTION of the normalized key (-0.0 ≡ 0.0, one NaN): rows
    // whose keys tie under SQL comparison carry the same value, so the
    // winner is well-defined even though which tied ROW wins is not.
    def vOf(a: java.lang.Double, b: java.lang.Long): Long = {
      val an = Option[java.lang.Double](a)
        .map(x => java.lang.Double.doubleToLongBits(x.doubleValue() + 0.0))
        .getOrElse(7L)
      31L * an + Option[java.lang.Long](b).map(_.longValue()).getOrElse(11L) & 0xffL
    }
    val row = for {
      g <- Gen.choose(0, 2)
      a <- o1
      b <- Gen.oneOf[java.lang.Long](1L, 2L, 3L, null)
    } yield (g, a, b, vOf(a, b))
    check("lex-arg-extreme", 8)(Prop.forAll(Gen.nonEmptyListOf(row)) { rows =>
      val df = rows.toDF("g", "o1", "o2", "v")
      def collect(c: org.apache.spark.sql.Column) =
        df.groupBy("g").agg(c.as("w")).as[(Int, java.lang.Long)].collect().toSet
      val maxGot = collect(graft.functions.LexArgExtreme.maxByLex(
        col("v"), col("o1"), col("o2")))
      // the struct form skips null-keyed rows too, via the same filter the
      // callers apply; LexArgExtreme has the skip built in
      val fd = df.filter(col("o1").isNotNull && col("o2").isNotNull)
      def collectF(c: org.apache.spark.sql.Column) = {
        val present = fd.groupBy("g").agg(c.as("w"))
        df.select("g").distinct()
          .join(present, Seq("g"), "left")
          .as[(Int, java.lang.Long)].collect().toSet
      }
      val maxWant = collectF(max_by(col("v"), struct(col("o1"), col("o2"))))
      val minGot = collect(graft.functions.LexArgExtreme.minByLex(
        col("v"), col("o1"), col("o2")))
      val minWant = collectF(min_by(col("v"), struct(col("o1"), col("o2"))))
      maxGot == maxWant && minGot == minWant
    })
  }

  // ---- random crash-point restart invariance ---------------------------
  // The restart replay specs (StreamingSpec, gate queries) crash at a FIXED
  // kill point (batch 2 of 4); these properties randomize BOTH the corpus
  // and the crash position — including the first batch and the last data
  // batch, the two edges where the r13 review found the batch-math bug.
  // The settled table must be independent of where the crash lands.

  test("upsert restart settles to latest-wins for any corpus and crash point") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val ev = for {
      u <- Gen.oneOf(10L, 20L, 30L)
      day <- Gen.choose(0, 1)
      min <- Gen.choose(0, 600)
      t <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(0, 99)
    } yield (u, day, min, t, v.toDouble)
    val gen = for {
      rows <- Gen.listOfN(16, ev)
      nFiles <- Gen.choose(3, 5)
      kill <- Gen.choose(1, nFiles - 1)
    } yield (rows, nFiles, kill)
    check("upsert-crash-point", 4)(Prop.forAllNoShrink(gen) { case (rows, nFiles, kill) =>
      val events = rows.zipWithIndex.map { case ((u, day, min, t, v), i) =>
        (i + 1L, u, t, v,
          new java.sql.Timestamp(base + day * 86400000L + min * 60000L))
      }
      val df = events.toDF("event_id", "user_id", "event_type", "value", "ts")
      val got = graft.streaming.Pipeline
        .replayUpsertDaily(spark, df, nFiles, kill)
        .select(col("user_id"), col("event_id"))
        .as[(Long, Long)].collect().toSet
      // sequential latest-wins: max (ts, event_id) per (user, calendar day).
      // Day via Instant-at-UTC: the SESSION timezone is pinned to UTC
      // (SparkSpec/build.sbt), so to_date(ts) buckets by UTC day whatever
      // the host JVM zone — a JVM-default LocalDate here failed under
      // -Duser.timezone=Asia/Bangkok (review finding).
      // NB valuesIterator, not Map.map — mapping a Map to (u, id) pairs
      // would re-key by user and silently drop all but one day per user.
      val want = events.groupBy { case (_, u, _, _, ts) =>
        (u, ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate)
      }.valuesIterator.map { es =>
        val (id, u, _, _, _) = es.maxBy { case (id, _, _, _, ts) => (ts.getTime, id) }
        (u, id)
      }.toSet
      got == want
    })
  }

  test("stateful-GPA restart settles like the steady replay at any crash point") {
    // restart-vs-steady on the SAME staged corpus (shared stageKey): the
    // recovered accumulator fold must be invariant in the crash position.
    // Two pinned far-apart events guarantee the staging straddle premise
    // (at least one student spread across micro-batch files) at any cut.
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val ev = for {
      u <- Gen.choose(1L, 3L)
      day <- Gen.choose(0, 5)
      min <- Gen.choose(0, 600)
      t <- Gen.oneOf("pass", "fail", "exam")
      v <- Gen.choose(0, 500)
    } yield (u, day, min, t, v.toDouble)
    val gen = for {
      rows <- Gen.listOfN(14, ev)
      kill <- Gen.choose(1, 3)
    } yield (rows, kill)
    val keyN = new java.util.concurrent.atomic.AtomicInteger(0)
    check("gpa-crash-point", 3)(Prop.forAllNoShrink(gen) { case (rows, kill) =>
      val pinned = List((1L, 0, 0, "pass", 250.0), (1L, 5, 600, "fail", 100.0))
      val events = (pinned ++ rows).zipWithIndex.map { case ((u, day, min, t, v), i) =>
        (i + 1L, u, t, v,
          new java.sql.Timestamp(base + day * 86400000L + min * 60000L))
      }
      val df = events.toDF("event_id", "user_id", "event_type", "value", "ts")
      val excl = graft.query.EventsAdapter.ExcludedSemester
      val key = Some(s"pgpa${keyN.incrementAndGet()}")
      def settle(d: org.apache.spark.sql.DataFrame) =
        d.select(col("masv"), col("dtbctl"), col("credits"), col("n"))
          .as[(String, Double, Double, Long)].collect().toSet
      val steady = settle(graft.streaming.Pipeline
        .replayStatefulGpa(spark, df, excl, nFiles = 4, stageKey = key))
      val restarted = settle(graft.streaming.Pipeline
        .replayStatefulGpa(spark, df, excl, nFiles = 4,
          killAfterBatches = kill, stageKey = key))
      steady.nonEmpty && restarted == steady
    })
  }

  test("session-timer restart settles like the steady replay at any crash point") {
    // The RocksDB state + event-time timer shape: sessions and their close
    // timers recovered from the checkpoint must yield the steady table no
    // matter which micro-batch the crash follows. Pinned extreme events
    // keep the time-ranged staging at 4 non-empty files for every draw.
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val ev = for {
      u <- Gen.choose(1L, 3L)
      min <- Gen.choose(0, 180)
      v <- Gen.choose(0, 99)
    } yield (u, min, v.toDouble)
    val gen = for {
      rows <- Gen.listOfN(14, ev)
      kill <- Gen.choose(1, 3)
    } yield (rows, kill)
    val keyN = new java.util.concurrent.atomic.AtomicInteger(0)
    check("sess-crash-point", 3)(Prop.forAllNoShrink(gen) { case (rows, kill) =>
      val pinned = List((1L, 0, 1.0), (2L, 90, 1.0), (3L, 180, 1.0))
      val events = (pinned ++ rows).map { case (u, min, v) =>
        (u, new java.sql.Timestamp(base + min * 60000L), v)
      }
      val df = events.toDF("user_id", "ts", "value")
      val key = Some(s"psessr${keyN.incrementAndGet()}")
      def settle(d: org.apache.spark.sql.DataFrame) =
        d.select(col("user_id"), col("n_events"), col("total_cents"),
            col("start_ms"), col("end_ms"))
          .as[(Long, Long, Long, Long, Long)].collect().toSet
      val steady = settle(graft.streaming.Pipeline
        .replaySessionSummaries(spark, df, nFiles = 4, stageKey = key))
      val restarted = settle(graft.streaming.Pipeline
        .replaySessionSummaries(spark, df, nFiles = 4,
          killAfterBatches = kill, stageKey = key))
      steady.nonEmpty && restarted == steady
    })
  }
}
