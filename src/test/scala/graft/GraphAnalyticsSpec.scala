package graft

import org.apache.spark.sql.{functions => sf}
import graft.operators._
import graft.dq.QualityChecks

/** Hand-computed cases for the round-5 analytics wave: basket
  * co-occurrence lift, fixed-point PageRank, multi-touch attribution,
  * seasonal-baseline anomalies, calibration/ECE, soft-dedup weights. */
class GraphAnalyticsSpec extends SparkFunSuite {
  import spark.implicits._

  test("Graph.cooccurrenceLift: hand-computed pair counts and lift") {
    val df = Seq(
      (1L, "x"), (1L, "y"), (1L, "z"),
      (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "y"), (3L, "y"), // dup (3, y) must collapse
      (4L, "z")).toDF("basket", "item")
    val out = Graph.cooccurrenceLift(df, "basket", "item", minPairCount = 2).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[String]("item_a") == "x" && r.getAs[String]("item_b") == "y")
    assert(r.getAs[Long]("c_ab") == 3 && r.getAs[Long]("c_a") == 3 &&
      r.getAs[Long]("c_b") == 3)
    // lift = 4 * 3 / (3 * 3) = 1.3333
    assert(r.getAs[Double]("lift") == 1.3333)
  }

  test("Graph.pageRank: path graph matches the hand-run integer recurrence") {
    // a - b - c (two baskets); SCALE = 1e12, 3 iterations, minPairCount=1.
    val df = Seq((1L, "a"), (1L, "b"), (2L, "b"), (2L, "c")).toDF("basket", "item")
    val got = Graph.pageRank(df, "basket", "item", minPairCount = 1, iters = 3)
      .collect().map(r => r.getAs[String]("item") -> r.getAs[Long]("rank_fx")).toMap
    assert(got == Map(
      "a" -> 209729166666L, "b" -> 580541666666L, "c" -> 209729166666L), s"got $got")
  }

  test("EventOps.attributionLinear: equal split, lookback boundary, direct fallback") {
    val t0 = java.sql.Timestamp.valueOf("2024-06-10 12:00:00")
    def ts(offsetSec: Long) = new java.sql.Timestamp(t0.getTime + offsetSec * 1000)
    val events = Seq(
      // user 1: two in-window touches share a 10.00 purchase equally
      (1L, ts(-3600), 1L, "click", 0.0),
      (2L, ts(-7200), 1L, "view", 0.0),
      (3L, ts(0), 1L, "purchase", 10.0),
      // user 2: only touch is outside the 3-day lookback -> direct
      (4L, ts(-259201), 2L, "click", 0.0),
      (5L, ts(0), 2L, "purchase", 7.5),
      // user 3: touch EXACTLY at the lookback boundary is included
      (6L, ts(-259200), 3L, "click", 0.0),
      (7L, ts(0), 3L, "purchase", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventOps.attributionLinear(events).collect()
      .map(r => r.getAs[String]("channel") ->
        ((r.getAs[Long]("n_attributions"), r.getAs[Double]("credit")))).toMap
    assert(got == Map(
      "click" -> ((2L, 7.0)),   // 5.00 from user 1 + 2.00 from user 3
      "view" -> ((1L, 5.0)),
      "direct" -> ((1L, 7.5))), s"got $got")
  }

  test("EventOps.seasonalAnomalies: only the planted outlier in its slot flags") {
    val base = java.sql.Timestamp.valueOf("2024-06-10 09:30:00")
    def ts(day: Int) = new java.sql.Timestamp(base.getTime + day * 86400000L)
    val rows = (0 until 9).map(d => (d.toLong, ts(d), 1L, "click", 10.0)) :+
      (99L, ts(9), 1L, "click", 200.0) :+
      (100L, java.sql.Timestamp.valueOf("2024-06-10 11:00:00"), 1L, "view", 500.0)
    // the 11:00 view slot has n=1 -> never scores
    val events = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventOps.seasonalAnomalies(events, zThresh = 2.5).collect()
    assert(got.length == 1 && got(0).getAs[Long]("event_id") == 99L)
    // z = (200-29)/sqrt(3610) = 2.846
    assert(got(0).getAs[Double]("z") == 2.846)
  }

  test("QualityChecks.calibration: hand bins and ECE") {
    val df = Seq(
      (0.95, 1), (0.95, 1), (0.05, 0), (0.05, 0), (0.55, 1), (0.45, 0))
      .toDF("conf", "y")
    val out = QualityChecks.calibration(df, "conf", "y", nBins = 10).collect()
      .map(r => r.getAs[Long]("bin") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("avg_conf"),
          r.getAs[Double]("accuracy"), r.getAs[Double]("gap")))).toMap
    assert(out == Map(
      0L -> ((2L, 0.05, 0.0, 0.05)),
      4L -> ((1L, 0.45, 0.0, 0.45)),
      5L -> ((1L, 0.55, 1.0, 0.45)),
      9L -> ((2L, 0.95, 1.0, 0.05))), s"got $out")
    // ECE = (2*0.05 + 1*0.45 + 1*0.45 + 2*0.05) / 6 = 0.1833
    val ece = QualityChecks.calibration(df, "conf", "y", nBins = 10)
      .select("ece").distinct().collect()
    assert(ece.length == 1 && ece(0).getDouble(0) == 0.1833)
  }

  test("Similarity.dominantComponent: planted direction found; partition-invariant") {
    // all vectors ~ along (1,1,1,1): the power iteration must align
    val rows = Seq(
      (1L, Array(10.1f, 10.0f, 9.9f, 10.0f)),
      (2L, Array(20.0f, 19.8f, 20.2f, 20.0f)),
      (3L, Array(5.0f, 5.1f, 4.9f, 5.0f)),
      (4L, Array(9.9f, 10.0f, 10.1f, 10.0f)),
      (5L, Array(15.0f, 15.0f, 15.0f, 15.1f)))
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.dominantComponent(df, "vec_id", "embedding", iters = 2).collect()
    assert(got.length == 5)
    got.foreach(r => assert(math.abs(r.getAs[Double]("cos_dom")) > 0.999,
      s"vec ${r.getAs[Long]("vec_id")} cos ${r.getAs[Double]("cos_dom")}"))
    // all projections share a sign (one side of the component)
    assert(got.map(r => r.getAs[Long]("proj_fx") > 0).distinct.length == 1)
    // exact integer pipeline => identical output under any partitioning
    spark.catalog.clearCache()
    val got7 = Similarity.dominantComponent(df.repartition(7), "vec_id", "embedding",
      iters = 2).collect()
    assert(got.map(_.toString).toSeq == got7.map(_.toString).toSeq)
    spark.catalog.clearCache()
  }

  test("EventOps.sessionWindowAgg: exact-gap event EXTENDS; end = last + gap") {
    val t0 = java.sql.Timestamp.valueOf("2024-06-10 12:00:00")
    def ts(sec: Long) = new java.sql.Timestamp(t0.getTime + sec * 1000)
    val events = Seq(
      (1L, ts(0), 1L, "click", 1.0),
      (2L, ts(900), 1L, "click", 2.0),    // 15 min later: same session
      // EXACTLY 30 min after the previous event: session_window merges
      // windows that touch (merge condition start <= prev end,
      // INCLUSIVE), so the boundary event extends the session — the
      // same closed-boundary convention as the gap sessionizer (q37)
      (3L, ts(900 + 1800), 1L, "click", 4.0),
      (4L, ts(10), 2L, "view", 8.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventOps.sessionWindowAgg(events, gap = "30 minutes").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("session_start"),
        r.getAs[String]("session_end"), r.getAs[Long]("n_events"),
        r.getAs[Double]("sum_value")))
    assert(got.toSeq == Seq(
      (1L, "2024-06-10 12:00:00", "2024-06-10 13:15:00", 3L, 7.0),
      (2L, "2024-06-10 12:00:10", "2024-06-10 12:30:10", 1L, 8.0)), s"got ${got.toSeq}")
  }

  test("TextAnalysis.tokenizerFertility: hand counts, empty-source guard") {
    val docs = Seq(
      (1L, "hello world!", "a"),   // ws=2, bpe=3 (hello, world, !), bytes=12
      (2L, "a b", "a"),            // ws=2, bpe=2, bytes=3
      (3L, "", "b"))               // ws=0, bpe=0, bytes=0
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.tokenizerFertility(docs, "source", "text").collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens"), r.getAs[Long]("n_bytes"),
          Option(r.getAs[java.lang.Double]("fertility")).map(_.toDouble)))).toMap
    assert(got("a") == ((4L, 5L, 15L, Some(1.25))), s"got ${got("a")}")
    assert(got("b") == ((0L, 0L, 0L, None)), s"got ${got("b")}")
  }

  test("Dedup.softDedupWeights: 1e6 div group_size by normalized fingerprint") {
    val docs = Seq(
      (1L, "Hello  World", "s1"),  // normalizes to the same content as doc 2
      (2L, "hello world", "s1"),
      (3L, "unique text", "s2")).toDF("doc_id", "text", "source")
    val got = Dedup.softDedupWeights(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("group_size"), r.getAs[Long]("weight_fx")))).toMap
    assert(got == Map(
      1L -> ((2L, 500000L)), 2L -> ((2L, 500000L)), 3L -> ((1L, 1000000L))), s"got $got")
  }

  test("Graph.triangles: K4 yields its four triangles, pendant edge none") {
    // one basket with {a,b,c,d} -> K4 (4 triangles); {d,e} adds a
    // pendant edge that closes nothing
    val df = (Seq("a", "b", "c", "d").map((1L, _)) ++ Seq((2L, "d"), (2L, "e")))
      .toDF("basket", "item")
    val got = Graph.triangles(df, "basket", "item", minPairCount = 1).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq(("a", "b", "c"), ("a", "b", "d"), ("a", "c", "d"), ("b", "c", "d")),
      s"got $got")
  }

  test("Sampling.clusterAwareSplit: near-dup pairs never straddle splits; exhaustive") {
    // docs 1/2 identical (one cluster), 3..40 distinct
    val docs = (Seq((1L, "same text here exactly"), (2L, "same text here exactly")) ++
      (3L to 40L).map(i => (i, s"unique document number $i with words w$i x$i y$i z$i")))
      .toDF("doc_id", "text")
    val labels = Dedup.nearDupClusters(docs, "doc_id", "text", threshold = 0.9)
    val got = Sampling.clusterAwareSplit(docs, "doc_id", labels,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split_key", "split").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got.size == 40 && got.values.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    // the near-dup pair shares its cluster key and therefore its split
    assert(got(1L)._1 == got(2L)._1 && got(1L)._2 == got(2L)._2, s"got ${got(1L)} ${got(2L)}")
    // singletons split on their own id
    assert(got(3L)._1 == 3L)
  }

  test("EventOps.stationaryDistribution: two-state chain settles; terminal leak shrinks mass") {
    val t0 = java.sql.Timestamp.valueOf("2026-05-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    // a -> b and b -> a alternating, both users: symmetric 2-state
    // chain; uniform start is already stationary -> pi stays (1/2, 1/2)
    val sym = Seq(
      (1L, 1L, ts(0), "a"), (2L, 1L, ts(1), "b"), (3L, 1L, ts(2), "a"),
      (4L, 2L, ts(0), "b"), (5L, 2L, ts(1), "a"), (6L, 2L, ts(2), "b"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = EventOps.stationaryDistribution(sym, iters = 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 500000000000L, "b" -> 500000000000L), s"got $got")
    // a -> end (terminal): all mass leaves a; end keeps receiving only
    // from a's shrinking share
    val term = Seq((1L, 1L, ts(0), "a"), (2L, 1L, ts(1), "end"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val got2 = EventOps.stationaryDistribution(term, iters = 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // round 1: a -> 0, end <- a's 5e11; round 2: nothing moves (end is
    // terminal) -> total mass drained to 0
    assert(got2 == Map("a" -> 0L, "end" -> 0L), s"got $got2")
    val got1 = EventOps.stationaryDistribution(term, iters = 1).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got1 == Map("a" -> 0L, "end" -> 500000000000L), s"got $got1")
  }

  test("Sampling.weightedTopK: replayable A-ES keys, zero weights out, k bounds") {
    val df = (1L to 50L).map(i => (i, (i % 7).toDouble)).toDF("id", "w")
    val got = Sampling.weightedTopK(df, "id", sf.col("w"), k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(got.length == 10)
    // replay the operator's own key formula and take the same top 10
    val want = (1L to 50L).filter(_ % 7 != 0).map { i =>
      val h = ((i % 2147483648L) * 2654435761L) % 4294967296L
      val u = (h + 1).toDouble / 4294967296.0
      val k = math.floor(math.pow(u, 1.0 / (i % 7).toDouble) * 1e12 + 0.5).toLong
      (i, (i % 7).toDouble, k)
    }.sortBy { case (i, _, k) => (-k, i) }.take(10)
    assert(got.toSeq == want, s"got ${got.toSeq.take(3)} want ${want.take(3)}")
    // k larger than the population returns everyone with w > 0
    assert(Sampling.weightedTopK(df, "id", sf.col("w"), k = 100).count() ==
      (1L to 50L).count(_ % 7 != 0))
    // fractional weights are reported exactly, not truncated to long
    val frac = Seq((1L, 0.5), (2L, 2.25)).toDF("id", "w")
    val fgot = Sampling.weightedTopK(frac, "id", sf.col("w"), k = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(fgot == Map(1L -> 0.5, 2L -> 2.25), s"got $fgot")
  }

  test("Sampling.weightedTopKPerGroup: each group runs its own exact A-ES lottery") {
    val df = (1L to 60L).map(i => (if (i % 3 == 0) "a" else "b", i, (i % 5).toDouble))
      .toDF("g", "id", "w")
    val got = Sampling.weightedTopKPerGroup(spark, df, "g", "id", sf.col("w"), k = 4)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // replay: per group, rank by (key desc, id), zero weights out
    def key(i: Long) = {
      val h = ((i % 2147483648L) * 2654435761L) % 4294967296L
      math.floor(math.pow((h + 1).toDouble / 4294967296.0, 1.0 / (i % 5).toDouble) * 1e12 + 0.5).toLong
    }
    val want = (1L to 60L).filter(_ % 5 != 0)
      .map(i => (if (i % 3 == 0) "a" else "b", i, key(i)))
      .groupBy(_._1).toSeq.flatMap { case (g, rows) =>
        rows.sortBy { case (_, i, k) => (-k, i) }.take(4).zipWithIndex
          .map { case ((_, i, k), r) => (g, r + 1, i, k) }
      }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want, s"got ${got.toSeq} want $want")
    // a group smaller than k returns all its members
    val small = Seq(("x", 1L, 2.0), ("x", 2L, 3.0), ("y", 3L, 1.0)).toDF("g", "id", "w")
    val counts = Sampling.weightedTopKPerGroup(spark, small, "g", "id", sf.col("w"), k = 5)
      .groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("x" -> 2L, "y" -> 1L), s"got $counts")
  }

  test("EventOps.trendSlopes: exact linear series recovers slope; one-bin group NULL") {
    val t0 = java.sql.Timestamp.valueOf("2026-04-01 00:00:00")
    def ts(h: Int) = new java.sql.Timestamp(t0.getTime + h * 3600000L)
    // x: value = 2 + 3*bin for bins 0..5; y: all in one bin
    val rows = (0 to 5).map(h => ("x", ts(h), 2.0 + 3.0 * h)) ++
      Seq(("y", ts(0), 1.0), ("y", ts(0), 9.0))
    val got = EventOps.trendSlopes(rows.toDF("event_type", "ts", "value")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(got("x") == ((6L, Some(3.0), Some(2.0))), s"got ${got("x")}")
    assert(got("y") == ((2L, None, None)), s"got ${got("y")}")
  }

  test("Similarity.centroidSimilarity: aligned 1, orthogonal 0, zero-norm NULL") {
    val df = Seq(
      (Array(1.0f, 0.0f), 0), (Array(3.0f, 0.0f), 0),   // centroid (2, 0)
      (Array(0.0f, 5.0f), 1),                            // centroid (0, 5)
      (Array(4.0f, 0.0f), 2),                            // centroid (4, 0): aligned with 0
      (Array(0.0f, 0.0f), 3)                             // zero centroid
    ).toDF("embedding", "label")
    val got = Similarity.centroidSimilarity(df).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got((0, 1)) == Some(0.0) && got((0, 2)) == Some(1.0) &&
      got((1, 2)) == Some(0.0) && got((0, 3)).isEmpty && got((1, 3)).isEmpty,
      s"got $got")
  }

  test("CorpusStats.sourceConcentration: equal split vs dominant source, single-source NULL gini") {
    // equal: 4 sources x 5 tokens -> gini 0, hhi 0.25, top 0.25
    val eq = Seq.tabulate(4)(i => (s"s$i", "a b c d e")).toDF("source", "text")
    val r1 = CorpusStats.sourceConcentration(eq, "source", "text").collect()(0)
    assert(r1.getLong(0) == 4L && r1.getDouble(1) == 0.0 &&
      r1.getDouble(2) == 0.25 && r1.getDouble(3) == 0.25, s"got $r1")
    // dominant: masses 1 and 9 -> top 0.9, hhi 0.01+0.81, gini = 2*(1*1+2*9)/(2*10) - 3/2 = 0.4
    val dom = Seq(("a", "x"), ("b", Seq.fill(9)("y").mkString(" "))).toDF("source", "text")
    val r2 = CorpusStats.sourceConcentration(dom, "source", "text").collect()(0)
    assert(r2.getDouble(1) == 0.4 && r2.getDouble(2) == 0.82 && r2.getDouble(3) == 0.9,
      s"got $r2")
    val one = Seq(("a", "x y z")).toDF("source", "text")
    assert(CorpusStats.sourceConcentration(one, "source", "text").collect()(0).isNullAt(1))
  }

  test("QualityChecks.anovaF: separated groups score high, equal means near zero, k=1 NULL") {
    val sep = (Seq.fill(20)(("a", 1.0)) ++ Seq.fill(20)(("b", 5.0)) ++
      Seq.fill(20)(("b", 5.5)) ++ Seq.fill(20)(("a", 1.5)))
      .toDF("g", "v")
    val r1 = QualityChecks.anovaF(sep, "g", "v").collect()(0)
    assert(r1.getLong(0) == 2L && r1.getLong(1) == 80L)
    assert(r1.getDouble(2) > 100.0, s"separated means must give large F, got $r1")
    val same = Seq(("a", 1.0), ("a", 3.0), ("b", 1.0), ("b", 3.0)).toDF("g", "v")
    val r2 = QualityChecks.anovaF(same, "g", "v").collect()(0)
    assert(r2.getDouble(2) == 0.0, s"identical group means -> F = 0, got $r2")
    val one = Seq(("a", 1.0), ("a", 2.0)).toDF("g", "v")
    assert(QualityChecks.anovaF(one, "g", "v").collect()(0).isNullAt(2))
  }

  test("QualityChecks.spearman: monotone -> 1, reversed -> -1, constant -> NULL") {
    val up = Seq((1.0, 10.0), (2.0, 40.0), (3.0, 90.0), (4.0, 160.0)).toDF("x", "y")
    assert(QualityChecks.spearman(up, "x", "y").collect()(0).getDouble(1) == 1.0)
    val down = Seq((1.0, 9.0), (2.0, 4.0), (3.0, 1.0)).toDF("x", "y")
    assert(QualityChecks.spearman(down, "x", "y").collect()(0).getDouble(1) == -1.0)
    val const = Seq((1.0, 7.0), (2.0, 7.0)).toDF("x", "y")
    assert(QualityChecks.spearman(const, "x", "y").collect()(0).isNullAt(1))
    // ties: x = (1,1,2), y = (1,2,3): midranks x = (1.5,1.5,3), y = (1,2,3)
    // -> rho = cov/sd = ((3*29.5-13.5*12)/sqrt((3*64.5-13.5^2)*(3*56-144)))... replay:
    val tied = Seq((1.0, 1.0), (1.0, 2.0), (2.0, 3.0)).toDF("x", "y")
    val got = QualityChecks.spearman(tied, "x", "y").collect()(0).getDouble(1)
    val (ra, rb) = (Seq(3.0, 3.0, 6.0), Seq(2.0, 4.0, 6.0)) // doubled midranks
    val n = 3.0
    val num = n * ra.lazyZip(rb).map(_ * _).sum - ra.sum * rb.sum
    val den = math.sqrt((n * ra.map(r => r * r).sum - ra.sum * ra.sum) *
      (n * rb.map(r => r * r).sum - rb.sum * rb.sum))
    assert(got == math.floor(num / den * 10000.0 + 0.5) / 10000.0, s"got $got")
  }

  test("Graph.graphProfile: hand-computed K4 + pendant metrics") {
    val df = (Seq("a", "b", "c", "d").map((1L, _)) ++ Seq((2L, "d"), (2L, "e")))
      .toDF("basket", "item")
    val got = Graph.graphProfile(df, "basket", "item", minPairCount = 1).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // degrees: a,b,c = 3, d = 4, e = 1 -> wedges 3*3 + 6 + 0 = 15
    assert(got == Map(
      "n_nodes" -> 5.0, "n_edges" -> 7.0, "max_degree" -> 4.0,
      "avg_degree" -> 2.8, "density" -> 0.7, "wedges" -> 15.0,
      "n_triangles" -> 4.0, "global_clustering" -> 0.8), s"got $got")
  }

  test("Graph.triangles: open wedge does not emit") {
    val df = Seq((1L, "a"), (1L, "b"), (2L, "b"), (2L, "c")).toDF("basket", "item")
    assert(Graph.triangles(df, "basket", "item", minPairCount = 1).count() == 0)
  }

  test("EventOps.decayedScore: hand-computed half-life weights, null rows excluded") {
    val ref = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
    val old = java.sql.Timestamp.valueOf("2026-01-01 00:00:00") // exactly one half-life
    val df = Seq(
      (1L, ref, Some(2.0)),  // w = 1e9,  term 2.0
      (1L, old, Some(4.0)),  // w = 5e8,  term 2.0
      (2L, old, Some(3.0)),  // w = 5e8,  term 1.5
      (2L, ref, None)        // null value: excluded entirely
    ).toDF("user_id", "ts", "value")
    val got = EventOps.decayedScore(df, halfLifeHours = 24.0).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map(1L -> ((2L, 4.0)), 2L -> ((1L, 1.5))), s"got $got")
  }

  test("Similarity.quantizationError: exact-representable is 0, known error reproduced") {
    val df = Seq(
      (Array(127.0f, 0.0f, -127.0f), 0),  // codes land exactly -> err 0
      (Array(0.0f, 0.0f), 1),             // zero vector: scale-0 guard -> err 0
      (Array(1.0f, 0.5f), 2)              // 0.5/(1/127) = 63.5 rounds to 64
    ).toDF("embedding", "label")
    val got = Similarity.quantizationError(df).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got(0) == ((1L, 0.0, 0.0)) && got(1) == ((1L, 0.0, 0.0)), s"got $got")
    // expected via the operator's own snapping rule
    val s = 1.0 / 127.0
    val d = 0.5 - math.floor(0.5 / s + 0.5) * s
    val fx = math.floor(d * d * 1e10 + 0.5)
    val want = math.floor(fx / 1e10 * 1e8 + 0.5) / 1e8
    assert(got(2) == ((1L, want, want)), s"got ${got(2)} want $want")
  }

  test("Dedup.containmentPairs generic path (vocab > 64): equals brute force") {
    val rnd = new scala.util.Random(20260815)
    val vocab = Vector.tabulate(100)(i => s"w$i")
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    for (i <- 0 until 30) {
      if (i > 0 && rnd.nextInt(3) == 0) {
        // subset of an earlier doc: drop a couple of words
        val w = texts(rnd.nextInt(i)).split(" ").distinct
        texts += rnd.shuffle(w.toVector).drop(1 + rnd.nextInt(2)).mkString(" ")
      } else texts += Seq.fill(4 + rnd.nextInt(10))(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val nonEmpty = texts.zipWithIndex.collect {
      case (t, i) if t.trim.nonEmpty => (i.toLong, t) }
    val df = nonEmpty.toSeq.toDF("doc_id", "text")
    for (t <- Seq(0.7, 1.0)) {
      val got = Dedup.containmentPairs(df, "doc_id", "text", t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val sets = nonEmpty.map { case (i, s) => i -> s.split("\\s+").toSet }.toMap
      val want = (for {
        (ia, sa) <- sets.toSeq; (ib, sb) <- sets.toSeq
        if ia != ib
        c = (sa & sb).size.toDouble / sa.size
        if c >= t
      } yield (ia, ib, math.floor(c * 10000.0 + 0.5) / 10000.0)).toSet
      assert(got == want, s"t=$t missing=${(want -- got).take(4)} extra=${(got -- want).take(4)}")
    }
  }

  test("Dedup.containmentPairs: subsets, duplicates, and thresholds") {
    val docs = Seq(
      (1L, "a b"), (2L, "a b c"), (3L, "x y"), (4L, "b a"), (5L, "a b q"))
      .toDF("doc_id", "text")
    // t = 1.0: {1,4} are the same set (mutual) and subset into both
    // supersets 2 ({a,b,c}) and 5 ({a,b,q})
    val t1 = Dedup.containmentPairs(docs, "doc_id", "text", 1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(t1 == Seq((1L, 2L, 1.0), (1L, 4L, 1.0), (1L, 5L, 1.0),
      (4L, 1L, 1.0), (4L, 2L, 1.0), (4L, 5L, 1.0)), s"got $t1")
    // t = 0.6 adds the partial containments: 5 -> 2 (2/3), 2 -> 5 (2/3),
    // 5 -> 1/4 (2/3), 1/4 -> 5 (2/2=1 ... no: |{a,b} ∩ {a,b,q}| / 2 = 1)
    val t6 = Dedup.containmentPairs(docs, "doc_id", "text", 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = {
      val sets = Map(1L -> Set("a", "b"), 2L -> Set("a", "b", "c"),
        3L -> Set("x", "y"), 4L -> Set("a", "b"), 5L -> Set("a", "b", "q"))
      (for {
        (ia, sa) <- sets.toSeq; (ib, sb) <- sets.toSeq
        if ia != ib
        c = (sa & sb).size.toDouble / sa.size
        if c >= 0.6
      } yield (ia, ib, math.floor(c * 10000.0 + 0.5) / 10000.0)).toSet
    }
    assert(t6 == brute, s"missing=${brute -- t6} extra=${t6 -- brute}")
  }

  test("Graph.labelPropagation: two bridged cliques resolve to two communities") {
    // triangles {1,2,3} and {10,11,12} plus a 3-10 bridge; one basket
    // per edge, minPairCount = 1
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    val df = edges.zipWithIndex.flatMap { case ((u, v), i) =>
      Seq((i.toLong, u), (i.toLong, v))
    }.toDF("basket", "item")
    // hand-propagated: r1 = (2,1,1,3,10,10), r2 = (1,1,1,10,3,3),
    // r3: {1,2,3} -> 1, {10,11,12} -> 3
    val got = Graph.labelPropagation(df, "basket", "item",
      minPairCount = 1, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 3L), (11L, 3L), (12L, 3L)), s"got ${got.toList}")
    // synchronous determinism: a second run is bit-identical
    val again = Graph.labelPropagation(df, "basket", "item",
      minPairCount = 1, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(again == got)
  }

  test("QualityChecks.rocAuc: separators, ties, hand U, one-class NULL") {
    // perfect separator: every positive outranks every negative
    val perfect = Seq((3.0, 1), (4.0, 1), (1.0, 0), (2.0, 0)).toDF("s", "y")
    val p = QualityChecks.rocAuc(perfect, "s", "y").collect()(0)
    assert(p.getLong(0) == 2L && p.getLong(1) == 2L &&
      p.getDouble(2) == 1.0 && p.getDouble(3) == 1.0, s"got $p")
    // anti-separator -> 0
    val anti = Seq((1.0, 1), (2.0, 1), (3.0, 0), (4.0, 0)).toDF("s", "y")
    assert(QualityChecks.rocAuc(anti, "s", "y").collect()(0).getDouble(2) == 0.0)
    // all scores tied -> 0.5 (ties count half)
    val flat = Seq((7.0, 1), (7.0, 0), (7.0, 1), (7.0, 0)).toDF("s", "y")
    assert(QualityChecks.rocAuc(flat, "s", "y").collect()(0).getDouble(2) == 0.5)
    // hand case with a tie: pos {1,2}, neg {1,3}:
    // U = (p=1 vs n=1: 0.5) + (1 vs 3: 0) + (2 vs 1: 1) + (2 vs 3: 0) = 1.5
    val hand = Seq((1.0, 1), (2.0, 1), (1.0, 0), (3.0, 0)).toDF("s", "y")
    val h = QualityChecks.rocAuc(hand, "s", "y").collect()(0)
    assert(h.getDouble(2) == 0.375 && h.getDouble(3) == -0.25, s"got $h")
    // one class only -> NULL auc
    val one = Seq((1.0, 1), (2.0, 1)).toDF("s", "y")
    assert(QualityChecks.rocAuc(one, "s", "y").collect()(0).isNullAt(2))
  }

  test("QualityChecks.contractValidate: hand violations, NULL predicate counts, unique surplus") {
    val df = Seq(
      (1L, Some(10.0), "A"), (2L, Some(-5.0), "A"),   // -5 violates range
      (2L, Some(20.0), "B"),                          // duplicate key 2
      (3L, None, "Z"))                                // NULL range pred -> violation; Z not in enum
      .toDF("id", "price", "status")
    val got = QualityChecks.contractValidate(df,
      rowRules = Seq(
        "price_range" -> (sf.col("price") > 0.0),
        "status_enum" -> sf.col("status").isin("A", "B")),
      uniqueRules = Seq("id_unique" -> Seq("id")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSeq
    assert(got == Seq(
      ("id_unique", "unique", 1L, 4L, false),
      ("price_range", "row", 2L, 4L, false),
      ("status_enum", "row", 1L, 4L, false)), s"got $got")
    // a clean table passes everything
    val clean = Seq((1L, Some(1.0), "A"), (2L, Some(2.0), "B")).toDF("id", "price", "status")
    val ok = QualityChecks.contractValidate(clean,
      rowRules = Seq("price_range" -> (sf.col("price") > 0.0)),
      uniqueRules = Seq("id_unique" -> Seq("id")))
      .collect().map(_.getBoolean(4))
    assert(ok.forall(identity))
  }

  test("QualityChecks.isotonicCalibration: weighted PAV pooling, monotone output, identity on monotone input") {
    // bins (conf ~.1/.3/.6/.9 -> bins 0..3 at nBins=4) with raw
    // accuracies .1, .5, .3, .8; bins 1,2 violate monotonicity and pool
    // to (5+9)/(10+30) = .35 -> iso = [.1, .35, .35, .8]
    def rows(conf: Double, n: Int, pos: Int) =
      (0 until n).map(i => (conf, if (i < pos) 1 else 0))
    val df = (rows(0.1, 10, 1) ++ rows(0.3, 10, 5) ++
      rows(0.6, 30, 9) ++ rows(0.9, 10, 8)).toDF("conf", "y")
    val got = QualityChecks.isotonicCalibration(df, "conf", "y", nBins = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == Seq((0L, 10L, 0.1, 0.1), (1L, 10L, 0.5, 0.35),
      (2L, 30L, 0.3, 0.35), (3L, 10L, 0.8, 0.8)), s"got $got")
    val isoVals = got.map(_._4)
    assert(isoVals == isoVals.sorted, "isotonic fit must be monotone")
    // already-monotone input is a fixed point
    val mono = (rows(0.1, 10, 1) ++ rows(0.6, 10, 5) ++ rows(0.9, 10, 9)).toDF("conf", "y")
    val fixed = QualityChecks.isotonicCalibration(mono, "conf", "y", nBins = 4)
      .collect().map(r => (r.getDouble(3), r.getDouble(4)))
    assert(fixed.forall { case (acc, iso) => acc == iso }, s"got ${fixed.toList}")
  }

  test("QualityChecks.bootstrapMeanCI: constant collapses, CI brackets the mean, deterministic") {
    // constant values: every resample mean is the constant -> p05 = p95
    // = mean, se = 0
    val const = (1L to 100L).map(i => ("a", i, 5.0)).toDF("k", "id", "v")
    val c = QualityChecks.bootstrapMeanCI(const, "k", "id", "v", b = 40).collect()(0)
    assert(c.getLong(1) == 100L && c.getDouble(2) == 5.0 &&
      c.getLong(3) == 40L && c.getDouble(4) == 5.0 &&
      c.getDouble(5) == 5.0 && c.getDouble(6) == 0.0, s"got $c")
    // spread values: the bootstrap interval brackets the point mean and
    // has positive width/se
    val spread = (1L to 200L).map(i => ("a", i, (i % 10).toDouble)).toDF("k", "id", "v")
    val s1 = QualityChecks.bootstrapMeanCI(spread, "k", "id", "v", b = 40).collect()(0)
    assert(s1.getDouble(4) <= s1.getDouble(2) && s1.getDouble(2) <= s1.getDouble(5),
      s"CI must bracket the mean: $s1")
    assert(s1.getDouble(6) > 0.0)
    // hash-derived resamples: a second run is bit-identical
    val s2 = QualityChecks.bootstrapMeanCI(spread, "k", "id", "v", b = 40).collect()(0)
    assert(s1 == s2)
  }

  test("QualityChecks.mutualInformation: independent 0, identical ln2, NULL-entropy guard") {
    // independent 2x2 (uniform): MI = 0, H(x) = H(y) = ln 2, NMI = 0
    val ind = Seq(("a", "u"), ("a", "v"), ("b", "u"), ("b", "v")).toDF("x", "y")
    val i = QualityChecks.mutualInformation(ind, "x", "y").collect()(0)
    assert(i.getLong(0) == 4L && i.getLong(1) == 2L && i.getLong(2) == 2L)
    assert(i.getDouble(3) == 0.0 && i.getDouble(4) == 0.693147 &&
      i.getDouble(5) == 0.693147 && i.getDouble(6) == 0.0, s"got $i")
    // x == y: MI = H(x) = H(y) = ln 2, NMI = 1
    val id = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b")).toDF("x", "y")
    val d = QualityChecks.mutualInformation(id, "x", "y").collect()(0)
    assert(d.getDouble(3) == 0.693147 && d.getDouble(6) == 1.0, s"got $d")
    // constant x: H(x) = 0 -> NMI NULL, MI 0
    val cx = Seq(("a", "u"), ("a", "v")).toDF("x", "y")
    val c = QualityChecks.mutualInformation(cx, "x", "y").collect()(0)
    assert(c.getDouble(3) == 0.0 && c.isNullAt(6), s"got $c")
  }

  test("Graph.personalizedPageRank: mass radiates from the seed; disconnected part stays 0") {
    // triangle {a,b,c} + disconnected edge {d,e}; seed = {a}
    val df = Seq(("t", "a"), ("t", "b"), ("t", "c"), ("p", "d"), ("p", "e"))
      .toDF("basket", "item")
    val got = Graph.personalizedPageRank(df, "basket", "item",
      item => item === "a", minPairCount = 1, iters = 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // r0: a = 1e12; one round: b, c each get 85% of (1e12 div 2);
    // a keeps only its restart base; d, e exactly 0 (the signal)
    assert(got == Map("a" -> 150000000000L,
      "b" -> 425000000000L, "c" -> 425000000000L, "d" -> 0L, "e" -> 0L), s"got $got")
  }

  test("Graph *FromEdges variants: one mined edge list reproduces all standalone results") {
    val df = Seq(("1", "a"), ("1", "b"), ("2", "b"), ("2", "c"),
      ("3", "c"), ("3", "d"), ("t", "a"), ("t", "b"), ("t", "c"))
      .toDF("basket", "item")
    val edges = Graph.minedEdges(df, "basket", "item", minPairCount = 1).persist()
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSeq
    assert(rows(Graph.kCoreFromEdges(edges, k = 2, rounds = 3)) ==
      rows(Graph.kCore(df, "basket", "item", k = 2, minPairCount = 1, rounds = 3)))
    assert(rows(Graph.personalizedPageRankFromEdges(edges, _ === "a", iters = 2)) ==
      rows(Graph.personalizedPageRank(df, "basket", "item", _ === "a",
        minPairCount = 1, iters = 2)))
    assert(rows(Graph.bfsHopsFromEdges(edges, _ === "a", rounds = 2)) ==
      rows(Graph.bfsHops(df, "basket", "item", _ === "a",
        minPairCount = 1, rounds = 2)))
    // caller-ownership contract: the shared persisted edge list must
    // STAY cached after every *FromEdges call above released its own
    // loop frames (the r10 end-of-loop cleanup must not free it)
    assert(edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "caller-persisted edge list was unpersisted by a *FromEdges loop")
    edges.unpersist()
  }

  test("Graph.associationRules: hand confidence/lift/leverage/conviction, conf=1 NULL") {
    // baskets: {a,b} x2, {a,c}, {b,c} -> n=4, c_a=3, c_b=3, c_ab=2
    val df = Seq(("1", "a"), ("1", "b"), ("2", "a"), ("2", "b"),
      ("3", "a"), ("3", "c"), ("4", "b"), ("4", "c")).toDF("basket", "item")
    val got = Graph.associationRules(df, "basket", "item", minPairCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8),
          if (r.isNullAt(9)) Double.NaN else r.getDouble(9))).toMap
    // a->b: support 0.5, conf 2/3, lift 4*2/9, leverage .5-.5625,
    // conviction (1-.75)/(1-2/3) = .75
    val ab = got(("a", "b"))
    assert(ab == ((0.5, 0.666667, 0.888889, -0.0625, 0.75)), ab.toString)
    assert(got(("b", "a")) == ab, "symmetric counts give symmetric rules here")
    // perfect rule: {x,y} x2 only -> conf = 1 -> conviction NULL
    val perf = Seq(("1", "x"), ("1", "y"), ("2", "x"), ("2", "y"))
      .toDF("basket", "item")
    val gp = Graph.associationRules(perf, "basket", "item", minPairCount = 2)
      .collect()
    assert(gp.length == 2 && gp.forall(_.isNullAt(9)), gp.mkString(";"))
    assert(gp.forall(_.getDouble(6) == 1.0)) // confidence exactly 1
  }

  test("Graph *FromPairs variants: one mined pair list reproduces both triangle readouts") {
    val df = Seq(("1", "a"), ("1", "b"), ("1", "c"), ("2", "b"), ("2", "c"),
      ("2", "d"), ("3", "a"), ("3", "c"), ("t", "d"), ("t", "a"))
      .toDF("basket", "item")
    val pairs = Graph.minedPairs(df, "basket", "item", minPairCount = 1).persist()
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSeq
    assert(rows(Graph.trianglesFromPairs(pairs)) ==
      rows(Graph.triangles(df, "basket", "item", minPairCount = 1)))
    assert(rows(Graph.localClusteringFromPairs(pairs)) ==
      rows(Graph.localClustering(df, "basket", "item", minPairCount = 1)))
    assert(pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "caller-persisted pair list was unpersisted by a *FromPairs call")
    pairs.unpersist()
  }

  test("Graph.bfsHops: exact layers within the round budget, NULL beyond it") {
    // path a-b-c-d-e, seed {a}: layers 0..4; rounds=2 resolves <= 2 hops
    val df = Seq(("1", "a"), ("1", "b"), ("2", "b"), ("2", "c"),
      ("3", "c"), ("3", "d"), ("4", "d"), ("4", "e")).toDF("basket", "item")
    def run(r: Int) = Graph.bfsHops(df, "basket", "item",
      item => item === "a", minPairCount = 1, rounds = r)
      .collect().map(x => x.getString(0) ->
        (if (x.isNullAt(1)) -1L else x.getLong(1))).toMap
    assert(run(2) == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> -1L, "e" -> -1L))
    assert(run(4) == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L, "e" -> 4L))
  }

  test("Graph.kCore: tail peels off round by round, triangle survives") {
    // triangle {a,b,c} + path tail c-d-e
    val df = Seq(("t", "a"), ("t", "b"), ("t", "c"),
      ("p1", "c"), ("p1", "d"), ("p2", "d"), ("p2", "e")).toDF("basket", "item")
    // one peel: only e (deg 1) is gone; d survives on stale degree 2
    val r1 = Graph.kCore(df, "basket", "item", k = 2, minPairCount = 1, rounds = 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(r1 == Seq(("a", 2L), ("b", 2L), ("c", 3L), ("d", 1L)))
    // two peels reach the fixpoint: the triangle, all residual degree 2
    val r2 = Graph.kCore(df, "basket", "item", k = 2, minPairCount = 1, rounds = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(r2 == Seq(("a", 2L), ("b", 2L), ("c", 2L)))
    // k above the max core -> empty
    assert(Graph.kCore(df, "basket", "item", k = 3, minPairCount = 1,
      rounds = 3).count() == 0)
  }

  test("QualityChecks.fdrProportionTests: BH rejects only the planted effect") {
    import org.apache.spark.sql.Row
    // find user ids landing in each hash arm
    val ids = (1L to 400L).toDF("user_id")
      .withColumn("a", Sampling.hashBucket(sf.col("user_id")) < 5000)
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val armA = ids.filter(_._2).map(_._1).take(40)
    val armB = ids.filterNot(_._2).map(_._1).take(40)
    assert(armA.length == 40 && armB.length == 40, "need 40 users per arm")
    // type "strong": A always succeeds (value 100), B never (value 1);
    // type "null": both arms half-and-half
    val rows =
      armA.map(u => (u, "strong", 100.0)) ++ armB.map(u => (u, "strong", 1.0)) ++
      armA.zipWithIndex.map { case (u, i) => (u, "nulltype", if (i % 2 == 0) 100.0 else 1.0) } ++
      armB.zipWithIndex.map { case (u, i) => (u, "nulltype", if (i % 2 == 0) 100.0 else 1.0) }
    val df = rows.toSeq.toDF("user_id", "event_type", "value")
    val got = QualityChecks.fdrProportionTests(df)
      .collect().map(r => r.getAs[String]("group") -> r).toMap
    assert(got("strong").getAs[Boolean]("reject"),
      s"strong effect must be rejected: ${got("strong")}")
    assert(!got("nulltype").getAs[Boolean]("reject"))
    assert(got("strong").getAs[Long]("bh_rank") == 1L)
    assert(got("strong").getAs[Double]("p_value") <
      got("nulltype").getAs[Double]("p_value"))
  }

  test("QualityChecks.ols2: exact plane recovered; collinear design yields NULLs") {
    // y = 2 + 3*x1 - 0.5*x2 with 2-decimal-exact values
    val rows = for (i <- 1 to 10; j <- 1 to 5)
      yield (2.0 + 3.0 * i - 0.5 * (j * 0.1), i.toDouble, j * 0.1)
    val df = rows.toDF("y", "x1", "x2")
    val r = QualityChecks.ols2(df, "y", "x1", "x2").collect()(0)
    assert(r.getAs[Long]("n") == 50L)
    assert(math.abs(r.getAs[Double]("beta0") - 2.0) < 1e-6, r.toString)
    assert(math.abs(r.getAs[Double]("beta1") - 3.0) < 1e-6, r.toString)
    assert(math.abs(r.getAs[Double]("beta2") + 0.5) < 1e-6, r.toString)
    assert(r.getAs[Double]("r2") == 1.0 && r.getAs[Double]("rmse") == 0.0)
    // collinear: x2 = 2*x1 exactly -> singular, NULL betas
    val col = Seq((1.0, 1.0, 2.0), (2.0, 2.0, 4.0), (3.0, 3.0, 6.0))
      .toDF("y", "x1", "x2")
    val rc = QualityChecks.ols2(col, "y", "x1", "x2", x2Scale = 0).collect()(0)
    assert(rc.isNullAt(1) && rc.isNullAt(2) && rc.isNullAt(3))
  }

  test("Graph.clusterLabelAgreement: perfect match = 1; mixed cluster replays fx") {
    // perfect: clusters == classes
    val perfect = Seq((1L, 10L, "a"), (2L, 10L, "a"), (3L, 20L, "b"))
    val pl = perfect.map(t => (t._1, t._2)).toDF("item", "community")
    val pc = perfect.map(t => (t._1, t._3)).toDF("item", "cls")
    val rp = Graph.clusterLabelAgreement(pl, pc).head()
    assert(rp.getAs[Double]("homogeneity") == 1.0 &&
      rp.getAs[Double]("completeness") == 1.0 &&
      rp.getAs[Double]("v_measure") == 1.0, rp.toString)
    // mixed: cluster 1 = {a,a,b}, cluster 2 = {b}
    val ml = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L)).toDF("item", "community")
    val mc = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b")).toDF("item", "cls")
    val r = Graph.clusterLabelAgreement(ml, mc).head()
    def fx(x: Double) = math.floor(x * 1e9 + 0.5).toLong
    def ent(n: Long, nn: Long, m: Long) =
      fx(n.toDouble / nn.toDouble * math.log(n.toDouble / m.toDouble))
    val hckFx = ent(2, 4, 3) + ent(1, 4, 3) + ent(1, 4, 1)
    val hkcFx = ent(2, 4, 2) + ent(1, 4, 2) + ent(1, 4, 2)
    val hcFx = ent(2, 4, 4) + ent(2, 4, 4)
    val hkFx = ent(3, 4, 4) + ent(1, 4, 4)
    val h = 1.0 - hckFx.toDouble / hcFx.toDouble
    val c = 1.0 - hkcFx.toDouble / hkFx.toDouble
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(r.getAs[Long]("n_items") == 4 && r.getAs[Long]("n_clusters") == 2 &&
      r.getAs[Long]("n_classes") == 2, r.toString)
    assert(r.getAs[Double]("homogeneity") == r6(h), r.toString)
    assert(r.getAs[Double]("completeness") == r6(c), r.toString)
    assert(r.getAs[Double]("v_measure") == r6(2.0 * h * c / (h + c)), r.toString)
  }

  test("Graph.communityQualityFromEdges: two triangles + bridge, hand-computed") {
    // the classic modularity example: triangles {1,2,3} and {4,5,6}
    // bridged by 3-4; m=7, 2m=14, d_A=d_B=7, intra directed edges 12
    // -> Q = (14*12 - 2*49)/196 = 70/196; assortativity = -8/48
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 2L), (5L, 2L), (6L, 2L)).toDF("item", "community")
    val r = Graph.communityQualityFromEdges(edges, labels).collect().head
    assert(r.getAs[Long]("n_nodes") == 6 && r.getAs[Long]("n_edges") == 7 &&
      r.getAs[Long]("n_communities") == 2, r.toString)
    assert(r.getAs[Double]("intra_edge_frac") == 0.857143, r.toString)
    assert(r.getAs[Double]("modularity") == 0.357143, r.toString)
    assert(r.getAs[Double]("assortativity") == -0.166667, r.toString)
    // a regular graph has zero degree variance -> NULL assortativity
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val triE = (tri ++ tri.map(_.swap)).toDF("src", "dst")
    val triL = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("item", "community")
    val rt = Graph.communityQualityFromEdges(triE, triL).collect().head
    assert(rt.isNullAt(rt.fieldIndex("assortativity")), rt.toString)
    // one community holding everything: Q = intra(1) - 1 = 0 exactly
    assert(rt.getAs[Double]("modularity") == 0.0, rt.toString)
  }

  test("loop entry points free every cache entry they create") {
    // CacheManager entries only: each result's own localCheckpoint RDD
    // shows up in getPersistentRDDs by design and is not counted here
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val baskets = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (2L, 11L),
      (3L, 11L), (3L, 12L), (4L, 12L), (4L, 13L), (5L, 10L), (5L, 13L),
      (6L, 10L), (6L, 11L), (6L, 13L), (7L, 13L), (7L, 14L)).toDF("basket", "item")
    val seed = (c: org.apache.spark.sql.Column) => c.isin(10L, 13L)
    def edges = Graph.minedEdges(baskets, "basket", "item", 1)
    def weighted = Graph.minedWeightedEdges(baskets, "basket", "item", 1)
    // 6 rounds cross one UnpersistBatch lineage cut; 12 cross two
    val mined: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "pageRank" -> (() => Graph.pageRank(baskets, "basket", "item", 1, 6)),
      "pageRankWeighted" -> (() => Graph.pageRankWeighted(baskets, "basket", "item", 1, 6)),
      "personalizedPageRank" -> (() =>
        Graph.personalizedPageRank(baskets, "basket", "item", seed, 1, 6)),
      "bfsHops" -> (() => Graph.bfsHops(baskets, "basket", "item", seed, 1, 12)),
      "sssp" -> (() => Graph.sssp(baskets, "basket", "item", seed, 1, 6)),
      "labelPropagation" -> (() => Graph.labelPropagation(baskets, "basket", "item", 1, 6)),
      "communityQuality" -> (() => Graph.communityQuality(baskets, "basket", "item", 1, 6)),
      "kCore" -> (() => Graph.kCore(baskets, "basket", "item", 2, 1, 12)),
      // hits reads each score frame four times a round: 3 rounds keep the
      // uncut plan small
      "hitsBipartite" -> (() => Graph.hitsBipartite(baskets, "basket", "item", 3)),
      "eigenvectorCentrality" -> (() =>
        Graph.eigenvectorCentrality(baskets, "basket", "item", 1, 6)),
      "katzCentrality" -> (() => Graph.katzCentrality(baskets, "basket", "item", 1, 6)),
      "closenessCentrality" -> (() =>
        Graph.closenessCentrality(baskets, "basket", "item", seed, 1, 6)),
      "eccentricity" -> (() => Graph.eccentricity(baskets, "basket", "item", seed, 1, 6)))
    val fromEdges: Seq[(String, () => org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      ("personalizedPageRankFromEdges", () => edges,
        Graph.personalizedPageRankFromEdges(_, seed, 6)),
      ("bfsHopsFromEdges", () => edges, Graph.bfsHopsFromEdges(_, seed, 12)),
      ("ssspFromEdges", () => weighted, Graph.ssspFromEdges(_, seed, 6)),
      ("labelPropagationFromEdges", () => edges, Graph.labelPropagationFromEdges(_, 6)),
      ("communityQualityFromEdges", () => edges,
        e => Graph.communityQualityFromEdges(e, Graph.labelPropagationFromEdges(e, 3))),
      ("kCoreFromEdges", () => edges, Graph.kCoreFromEdges(_, 1, 12)),
      ("eigenvectorCentralityFromEdges", () => edges,
        Graph.eigenvectorCentralityFromEdges(_, 6)),
      ("katzCentralityFromEdges", () => edges, Graph.katzCentralityFromEdges(_, 6)),
      ("closenessFromEdges", () => edges, Graph.closenessFromEdges(_, seed, 6)),
      ("eccentricityFromEdges", () => edges, Graph.eccentricityFromEdges(_, seed, 6)))
    spark.catalog.clearCache()
    val calls = mined ++ fromEdges.map { case (name, in, op) => name -> (() => op(in())) }
    for ((name, call) <- calls) {
      assert(call().collect().nonEmpty, name)
      assert(cache.isEmpty, s"$name left a Dataset cache entry")
    }
    for ((name, in, op) <- fromEdges) {
      val cached = in().persist()
      op(cached).collect()
      assert(cached.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        s"$name unpersisted the caller's edges")
      cached.unpersist()
      assert(cache.isEmpty, s"$name left a cache entry beside the caller's edges")
    }
    // the throw path releases too: katz's overflow guard fails after
    // the loop persisted the edges
    val hub = (1 to 40).map(i => (s"n$i", "hub")).toDF("src", "dst")
    intercept[IllegalArgumentException](Graph.katzCentralityFromEdges(hub, iters = 20))
    assert(cache.isEmpty, "katz's overflow guard left the edge cache behind")
  }

  test("Graph.degreeAssortativity: star is -1, regular cycle NULL") {
    import spark.implicits._
    // star: center c, leaves a/b/d -> perfectly disassortative
    val star = Seq((1L, "c"), (1L, "a"), (2L, "c"), (2L, "b"),
      (3L, "c"), (3L, "d")).toDF("basket", "item")
    val rs = Graph.degreeAssortativity(star, "basket", "item",
      minPairCount = 1).head()
    assert(rs.getAs[Long]("n_directed_edges") == 6 &&
      rs.getAs[Double]("assortativity") == -1.0, rs.toString)
    // triangle: every degree 2 -> zero degree variance -> NULL
    val tri = Seq((1L, "a"), (1L, "b"), (2L, "b"), (2L, "c"),
      (3L, "c"), (3L, "a")).toDF("basket", "item")
    val rt = Graph.degreeAssortativity(tri, "basket", "item",
      minPairCount = 1).head()
    assert(rt.isNullAt(rt.fieldIndex("assortativity")))
  }

  test("Graph.katzCentrality: path graph hand-run integer recurrence") {
    import spark.implicits._
    // a - b - c: three x = (sum_in x) div 8 + 1e6 rounds by hand
    val df = Seq((1L, "a"), (1L, "b"), (2L, "b"), (2L, "c")).toDF("basket", "item")
    val got = Graph.katzCentrality(df, "basket", "item", minPairCount = 1, iters = 3)
      .collect().map(r => r.getAs[String]("item") -> r.getAs[Long]("katz_fx")).toMap
    assert(got == Map("a" -> 1160156L, "b" -> 1289062L, "c" -> 1160156L),
      got.toString)
  }

  test("Graph.katzCentralityFromEdges: overflow guard prices d_max, fails fast") {
    import spark.implicits._
    // 40-in-degree hub: (40/8)^20 * 1e6 wraps int64 — the guard must
    // throw BEFORE the loop instead of returning wrapped garbage...
    val hub = (1 to 40).map(i => (s"n$i", "hub")).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Graph.katzCentralityFromEdges(hub, iters = 20)
    }
    assert(e.getMessage.contains("overflow"), e.getMessage)
    // ...while the same graph at the default 3 rounds is safely inside
    // the bound and runs: hub = 40*(1e6 div 8)+1e6 after round 1, etc.
    val ok = Graph.katzCentralityFromEdges(hub, iters = 3).collect()
    assert(ok.length == 41 && ok.head.getAs[String]("item") == "hub", ok.length)
  }

  test("Graph.frequentItemsets: hand supports at sizes 1-3; basket-size abort") {
    import spark.implicits._
    // baskets: {a,b,c} x3, {a,b} x1, {d} x1 -> at minSupport 3:
    // L1 = a:4 b:4 c:3; pairs ab:4 ac:3 bc:3; triple abc:3; d drops
    val rows = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"), (2L, "a"), (2L, "b"), (2L, "c"),
      (3L, "a"), (3L, "b"), (3L, "c"), (4L, "a"), (4L, "b"), (5L, "d"))
    val got = Graph.frequentItemsets(rows.toDF("bk", "it"), "bk", "it",
        minSupport = 3)
      .collect().map(r => (r.getInt(0), Option(r.getString(1)).orNull,
        Option(r.getString(2)).orNull, Option(r.getString(3)).orNull,
        r.getLong(4))).toSeq
    assert(got == Seq(
      (1, "a", null, null, 4L), (1, "b", null, null, 4L), (1, "c", null, null, 3L),
      (2, "a", "b", null, 4L), (2, "a", "c", null, 3L), (2, "b", "c", null, 3L),
      (3, "a", "b", "c", 3L)), got.toString)
    // oversized basket: abort with guidance, never a silent cube
    val big = (1 to 5).map(i => (1L, s"i$i")) ++ (1 to 5).flatMap(i =>
      Seq((i.toLong + 1, s"i$i"), (i.toLong + 10, s"i$i"), (i.toLong + 20, s"i$i")))
    val e = intercept[Exception] {
      Graph.frequentItemsets(big.toDF("bk", "it"), "bk", "it",
        minSupport = 3, maxBasketSize = 4).collect()
    }
    assert(e.getMessage.contains("maxBasketSize"), e.getMessage)
  }

  test("Graph.adjustedRandIndex: identical 1, chance 0, degenerate NULL") {
    import spark.implicits._
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (4L, 20L), (5L, 20L), (6L, 20L)).toDF("item", "community")
    def classes(f: Long => String) =
      (1L to 6L).map(i => (i, f(i))).toDF("item", "cls")
    // identical partitions
    val r1 = Graph.adjustedRandIndex(labels, classes(i => if (i <= 3) "A" else "B")).head()
    assert(r1.getAs[Long]("n_items") == 6 && r1.getAs[Double]("ari") == 1.0, r1.toString)
    // constant class: clustering carries no information -> exactly 0
    val r0 = Graph.adjustedRandIndex(labels, classes(_ => "A")).head()
    assert(r0.getAs[Double]("ari") == 0.0, r0.toString)
    // single cluster vs single class: denominator 0 -> NULL
    val one = Seq((1L, 10L), (2L, 10L)).toDF("item", "community")
    val rn = Graph.adjustedRandIndex(one, classes(_ => "A")).head()
    assert(rn.isNullAt(rn.fieldIndex("ari")), rn.toString)
  }

  test("Graph.clusteringAgreement: identical FM=1 VI=0, orthogonal hand VI") {
    import spark.implicits._
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L))
      .toDF("item", "community")
    def classes(f: Long => String) =
      (1L to 4L).map(i => (i, f(i))).toDF("item", "cls")
    val same = Graph.clusteringAgreement(labels,
      classes(i => if (i <= 2) "x" else "y")).head()
    assert(same.getAs[Double]("fowlkes_mallows") == 1.0 &&
      same.getAs[Double]("variation_of_information") == 0.0, same.toString)
    // crossing partition: TP = 0, VI = 2 ln 2 on the snapped grid
    val cross = Graph.clusteringAgreement(labels,
      classes(i => if (i % 2 == 1) "x" else "y")).head()
    assert(cross.getAs[Double]("fowlkes_mallows") == 0.0, cross.toString)
    // la = lb = 4 ln2 (two margins of 2 each side), lc = 0:
    // VI = 8 ln2 / 4 = 2 ln 2
    val ln2_9 = math.floor(math.log(2.0) * 1e9 + 0.5)
    assert(cross.getAs[Double]("variation_of_information") ==
      math.floor(8 * ln2_9 / (4 * 1e9) * 1e6 + 0.5) / 1e6, cross.toString)
  }

  test("Graph.attributeAssortativity: hand mixing 0.2; perfect homophily 1") {
    import spark.implicits._
    val labels = Seq((1L, "X"), (2L, "X"), (3L, "Y"), (4L, "Z"))
      .toDF("node", "lbl")
    // one within-X edge, one Y-Z edge (mirrored): r = (4*2-6)/(16-6)
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val r = Graph.attributeAssortativity(edges, labels, "node", "lbl").head()
    assert(r.getAs[Long]("n_directed_edges") == 4 &&
      r.getAs[Long]("n_labels") == 3, r.toString)
    assert(r.getAs[Double]("assortativity") == 0.2, r.toString)
    // both edges within their label: perfect homophily
    val lab2 = Seq((1L, "X"), (2L, "X"), (3L, "Y"), (4L, "Y")).toDF("node", "lbl")
    val rp = Graph.attributeAssortativity(edges, lab2, "node", "lbl").head()
    assert(rp.getAs[Double]("assortativity") == 1.0, rp.toString)
  }

  test("Graph.disparityBackboneFromPairs: hub keeps its dominant spoke only") {
    import spark.implicits._
    // hub h: strength 10 over spokes (8, 1, 1). alpha_h(8) = 0.2^2 =
    // 0.04 < 0.05 survives; alpha_h(1) = 0.9^2 = 0.81 pruned; the
    // degree-1 leaf side never qualifies on its own.
    val pairs = Seq(("a", "h", 8L), ("b", "h", 1L), ("c", "h", 1L))
      .toDF("item_a", "item_b", "c_ab")
    val got = Graph.disparityBackboneFromPairs(pairs, alpha = 0.05).collect()
    assert(got.length == 1, got.mkString(";"))
    val r = got(0)
    assert(r.getAs[String]("item_a") == "a" && r.getAs[String]("item_b") == "h")
    assert(r.getAs[Long]("c_ab") == 8 && r.getAs[Double]("alpha_min") == 0.04,
      r.toString)
  }

  test("Graph.componentSizesFromPairs: triangle + lone edge histogram") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (7L, 8L))
      .toDF("item_a", "item_b")
    val got = Graph.componentSizesFromPairs(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((2L, 1L, 2L, 0.4), (3L, 1L, 3L, 0.6)),
      got.mkString(";"))
  }

  test("Graph.kTrussFromPairs: pendant peeled at k=3; cascade empties k=4") {
    import spark.implicits._
    // triangle {1,2,3} + pendant (3,4): k=3 keeps the triangle edges
    // (support 1 each), the pendant peels in round 1
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("item_a", "item_b")
    val got = Graph.kTrussFromPairs(pairs, k = 3, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L)),
      got.mkString(";"))
    // K4 minus an edge at k=4: round 1 keeps only the shared edge
    // (support 2), round 2 finds no triangle -> empty truss (cascade)
    val k4m = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("item_a", "item_b")
    assert(Graph.kTrussFromPairs(k4m, k = 4, rounds = 2).count() == 0)
  }

  test("Graph.richClubFromPairs: triangle-with-pendant curve by hand") {
    import spark.implicits._
    // edges 1-2, 1-3, 1-4, 2-3: degrees 1:3, 2:2, 3:2, 4:1;
    // d_min hist {1:1, 2:3}. k=1: N=3, E=3 -> phi=1 (the core IS the
    // triangle); k=2: N=1 -> NULL; k=3: N=0 -> NULL.
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L))
      .toDF("item_a", "item_b")
    val got = Graph.richClubFromPairs(pairs).collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[Long]("n_nodes_gt"), r.getAs[Long]("n_edges_gt"),
          if (r.isNullAt(r.fieldIndex("phi"))) null
          else r.getAs[Double]("phi"))).toMap
    assert(got(1L) == ((3L, 3L, 1.0)), got.toString)
    assert(got(2L) == ((1L, 0L, null)), got.toString)
    assert(got(3L) == ((0L, 0L, null)), got.toString)
    assert(got.size == 3, got.toString)
  }

  test("Graph.localClustering: triangle corners vs connector vs pendant") {
    import spark.implicits._
    // triangle a-b-c plus pendant edge c-d
    val df = Seq((1L, "a"), (1L, "b"), (2L, "b"), (2L, "c"),
      (3L, "c"), (3L, "a"), (4L, "c"), (4L, "d")).toDF("basket", "item")
    val got = Graph.localClustering(df, "basket", "item", minPairCount = 1)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("a").getAs[Long]("degree") == 2 &&
      got("a").getAs[Long]("n_triangles") == 1 &&
      got("a").getAs[Double]("local_cc") == 1.0)
    assert(got("c").getAs[Long]("degree") == 3 &&
      got("c").getAs[Long]("n_triangles") == 1 &&
      got("c").getAs[Double]("local_cc") ==
        math.floor(1.0 / 3.0 * 1e6 + 0.5) / 1e6)
    assert(got("d").getAs[Long]("degree") == 1 &&
      got("d").getAs[Long]("n_triangles") == 0 &&
      got("d").isNullAt(got("d").fieldIndex("local_cc")))
  }

  test("Graph.adamicAdar: path scores 1/ln2, adjacent pairs excluded, degree cap") {
    import spark.implicits._
    // path a-c-b: only candidate {a, b} through center c (degree 2)
    val path = Seq((1L, "a"), (1L, "c"), (2L, "c"), (2L, "b"))
      .toDF("basket", "item")
    val rp = Graph.adamicAdar(path, "basket", "item", minPairCount = 1)
      .collect()
    assert(rp.length == 1)
    assert(rp.head.getAs[String]("item_a") == "a" &&
      rp.head.getAs[String]("item_b") == "b" &&
      rp.head.getAs[Long]("common_neighbors") == 1)
    val w9 = math.floor(1.0 / math.log(2.0) * 1e9 + 0.5)
    assert(rp.head.getAs[Double]("aa_score") ==
      math.floor(w9 / 1e9 * 1e6 + 0.5) / 1e6)
    // triangle: every pair already adjacent -> nothing to predict
    val tri = Seq((1L, "a"), (1L, "b"), (2L, "b"), (2L, "c"),
      (3L, "c"), (3L, "a")).toDF("basket", "item")
    assert(Graph.adamicAdar(tri, "basket", "item", minPairCount = 1)
      .collect().isEmpty)
    // star with degree-3 center capped at 2 -> all wedges excluded
    val star = Seq((1L, "c"), (1L, "a"), (2L, "c"), (2L, "b"),
      (3L, "c"), (3L, "d")).toDF("basket", "item")
    assert(Graph.adamicAdar(star, "basket", "item", minPairCount = 1,
      maxCenterDegree = 2).collect().isEmpty)
    assert(Graph.adamicAdar(star, "basket", "item", minPairCount = 1)
      .collect().length == 3)
  }

  test("Graph.linkPrediction: path pair scores all four families") {
    import spark.implicits._
    // path a-c-b: candidate {a, b} through center c; d_a = d_b = 1
    val path = Seq((1L, "a"), (1L, "c"), (2L, "c"), (2L, "b"))
      .toDF("basket", "item")
    val rp = Graph.linkPrediction(path, "basket", "item", minPairCount = 1)
      .collect()
    assert(rp.length == 1)
    val r = rp.head
    assert(r.getAs[String]("item_a") == "a" && r.getAs[String]("item_b") == "b")
    assert(r.getAs[Long]("common_neighbors") == 1)
    assert(r.getAs[Double]("jaccard") == 1.0) // 1/(1+1-1)
    val w9 = math.floor(1.0 / math.log(2.0) * 1e9 + 0.5)
    assert(r.getAs[Double]("aa_score") == math.floor(w9 / 1e9 * 1e6 + 0.5) / 1e6)
    assert(r.getAs[Double]("ra_score") == 0.5) // 1e9 div 2
    assert(r.getAs[Long]("pa_score") == 1L)
    // triangle: every pair adjacent -> nothing to predict
    val tri = Seq((1L, "a"), (1L, "b"), (2L, "b"), (2L, "c"),
      (3L, "c"), (3L, "a")).toDF("basket", "item")
    assert(Graph.linkPrediction(tri, "basket", "item", minPairCount = 1)
      .collect().isEmpty)
  }

  test("Graph.closenessCentrality: path horizon, closeness and harmonic") {
    import spark.implicits._
    // path 10-20-30-40
    val path = Seq((1L, 10L), (1L, 20L), (2L, 20L), (2L, 30L),
      (3L, 30L), (3L, 40L)).toDF("basket", "item")
    val r3 = Graph.closenessCentrality(path, "basket", "item",
        item => item === 10L, minPairCount = 1, rounds = 3).collect()
    assert(r3.length == 1)
    // dists 1,2,3: closeness = 3/6, harmonic = 1 + .5 + floor(1e9/3)/1e9
    assert(r3.head.getAs[Long]("n_reached") == 3L &&
      r3.head.getAs[Long]("sum_dist") == 6L)
    assert(r3.head.getAs[Double]("closeness") == 0.5)
    assert(r3.head.getAs[Double]("harmonic") == 1.833333)
    // rounds = 2: node 40 beyond the horizon
    val r2 = Graph.closenessCentrality(path, "basket", "item",
        item => item === 10L, minPairCount = 1, rounds = 2).collect()
    assert(r2.head.getAs[Long]("n_reached") == 2L &&
      r2.head.getAs[Long]("sum_dist") == 3L)
    assert(r2.head.getAs[Double]("closeness") == 0.666667)
    assert(r2.head.getAs[Double]("harmonic") == 1.5)
    // two seeds: each gets its own row keyed by its own distances
    val rs = Graph.closenessCentrality(path, "basket", "item",
        item => item === 10L || item === 40L, minPairCount = 1, rounds = 3)
      .collect()
    assert(rs.length == 2 && rs.map(_.getAs[Long]("item")).toSeq == Seq(10L, 40L))
    assert(rs.forall(_.getAs[Double]("closeness") == 0.5))
  }

  test("Graph.hitsBipartite: hand-run coupled integer recurrence") {
    import spark.implicits._
    // s1 -> {p1, p2}, s2 -> {p1}; duplicate edge must collapse.
    val df = Seq(("s1", "p1"), ("s1", "p2"), ("s2", "p1"), ("s2", "p1"))
      .toDF("sup", "part")
    val got = Graph.hitsBipartite(df, "sup", "part", iters = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("score_fx")).toMap
    // r1: a_raw(p1)=2e6, a_raw(p2)=1e6 -> a=(1e6, 500000);
    //     h_raw(s1)=1.5e6, h_raw(s2)=1e6 -> h=(1e6, 666666)
    // r2: a_raw(p1)=1666666, a_raw(p2)=1e6 -> a=(1e6, 600000);
    //     h_raw(s1)=1.6e6, h_raw(s2)=1e6 -> h=(1e6, 625000)
    assert(got == Map(
      ("auth", "p1") -> 1000000L, ("auth", "p2") -> 600000L,
      ("hub", "s1") -> 1000000L, ("hub", "s2") -> 625000L), s"got $got")
  }

  test("Graph.eigenvectorCentrality: path graph replay; isolated dst pins 0") {
    import spark.implicits._
    // path a-b-c: bare power iteration oscillates with period 2 —
    // deterministic under the fixed round count.
    val df = Seq((1L, "a"), (1L, "b"), (2L, "b"), (2L, "c")).toDF("basket", "item")
    val got = Graph.eigenvectorCentrality(df, "basket", "item",
      minPairCount = 1, iters = 3).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("eig_fx")).toMap
    // r1: raw=(1e6, 2e6, 1e6) -> x=(5e5, 1e6, 5e5)
    // r2: raw=(1e6, 1e6, 1e6) -> x=(1e6, 1e6, 1e6)
    // r3: raw=(1e6, 2e6, 1e6) -> x=(5e5, 1e6, 5e5)
    assert(got == Map("a" -> 500000L, "b" -> 1000000L, "c" -> 500000L), s"got $got")
    // pre-mined asymmetric list: dst-only node scores, src-only pins 0
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val g2 = Graph.eigenvectorCentralityFromEdges(edges, iters = 1).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("eig_fx")).toMap
    assert(g2 == Map("a" -> 0L, "b" -> 1000000L), s"got $g2")
  }

  test("Graph.betweenness: path graph — the bridge carries all traffic") {
    // baskets {a,b} and {b,c} mine edges a-b, b-c: b is the only broker.
    // From source a: delta_a(b) = (sigma_ab/sigma_ac)(1 + 0) = 1;
    // symmetric from c; from b both neighbors are leaves. bc(b) = 2,
    // averaged over 3 sources -> 0.666667; endpoints 0.
    val df = Seq(("k1", "a"), ("k1", "b"), ("k2", "b"), ("k2", "c"))
      .toDF("basket", "item")
    val got = Graph.betweenness(df, "basket", "item",
        minPairCount = 1, nSources = 3, depth = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == Map(
      "b" -> (2000000000L, 0.666667),
      "a" -> (0L, 0.0), "c" -> (0L, 0.0)), s"got $got")
  }

  test("Graph.betweenness: star center vs rim, sampled sources stay deterministic") {
    // star a-center, b-center, c-center: every rim pair routes through
    // the center; with all 4 sources, bc(center) = 3 sources x 2
    // reachable rims x ... -> rim deltas 0, center collects from each
    // rim source (2 paths through it)
    val df = Seq(("k1", "hub"), ("k1", "r1"), ("k2", "hub"), ("k2", "r2"),
      ("k3", "hub"), ("k3", "r3")).toDF("basket", "item")
    val got = Graph.betweenness(df, "basket", "item",
        minPairCount = 1, nSources = 4, depth = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // each rim source: hub's delta = (1/1)(1+0) for each of the 2 other
    // rims' shortest paths -> sigma_hub/sigma_rim = 1 each -> 2e9; hub
    // as source contributes nothing to itself; rims never intermediate
    assert(got("hub") == 3L * 2000000000L, s"got $got")
    assert(Seq("r1", "r2", "r3").forall(got(_) == 0L), s"got $got")
  }
}
