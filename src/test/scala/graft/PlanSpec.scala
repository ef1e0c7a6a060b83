package graft

import org.apache.spark.sql.{functions => sf}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.StarSchema
import graft.sources.Tables

/** Plan-shape assertions: these are the scale guarantees — filters reach
  * the parquet scan, projections prune the read schema, dim joins
  * broadcast rather than shuffle the fact.
  */
class PlanSpec extends SparkFunSuite {

  private def executed(df: org.apache.spark.sql.DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def collectAll(p: SparkPlan): Seq[SparkPlan] = {
    // AQE wraps materialized stages in QueryStageExec whose children are
    // empty; unwrap to reach the join operators inside.
    val kids = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    (p +: kids.flatMap(collectAll)) ++ p.subqueries.flatMap(collectAll)
  }

  test("filter pushdown reaches the parquet scan") {
    val df = Tables.load(spark, sf001, "documents").filter(sf.col("doc_id") < 40)
    val scanDesc = df.queryExecution.executedPlan.toString()
    assert(scanDesc.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,40)]"),
      s"pushdown missing:\n$scanDesc")
  }

  test("column pruning reaches the read schema") {
    val df = Tables.load(spark, sf001, "lineitem").select("l_orderkey", "l_quantity")
    val scanDesc = df.queryExecution.executedPlan.toString()
    assert(scanDesc.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"pruning missing:\n$scanDesc")
  }

  test("star join broadcasts every dimension (no fact shuffle for dims)") {
    val df = StarSchema.revenueByRegion(spark, sf001)
    df.collect() // finalize AQE
    val plan = executed(df)
    val broadcasts = collectAll(plan).count(_.isInstanceOf[BroadcastHashJoinExec])
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts in:\n$plan")
  }

  test("bucketed tables join without a shuffle") {
    val spark = this.spark
    import java.nio.file.Files
    val wh = Files.createTempDirectory("graft_bucket").toString
    val li = Tables.load(spark, sf001, "lineitem").select("l_orderkey", "l_quantity")
    val ord = Tables.load(spark, sf001, "orders").select("o_orderkey", "o_totalprice")
    StarSchema.writeBucketed(li, "li_b", s"$wh/li", "l_orderkey", 8)
    StarSchema.writeBucketed(ord, "ord_b", s"$wh/ord", "o_orderkey", 8)
    try {
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"), sf.col("l_orderkey") === sf.col("o_orderkey"))
        .groupBy("o_orderkey").count()
      joined.collect()
      val shuffles = collectAll(executed(joined))
        .count(_.isInstanceOf[ShuffleExchangeExec])
      assert(shuffles == 0,
        s"bucketed join should be shuffle-free, got $shuffles shuffles")
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("rollup broadcasts dims and aggregates grouping sets in one pass") {
    val df = StarSchema.revenueRollup(spark, sf001)
    df.collect()
    val plan = executed(df)
    val all = collectAll(plan)
    assert(all.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 3,
      s"expected broadcast dims in:\n$plan")
    // one shuffle for the (expanded) aggregation + one for the sort —
    // grouping sets must NOT multiply exchanges
    assert(all.count(_.isInstanceOf[ShuffleExchangeExec]) <= 2,
      s"too many shuffles in:\n$plan")
  }

  test("label centroids shuffle once (partial avg per (label, dim) map-side)") {
    val emb = Tables.load(spark, sf001, "embeddings")
    val df = graft.operators.Similarity.labelCentroids(emb, "label", "embedding")
    df.collect()
    val shuffles = collectAll(executed(df)).count(_.isInstanceOf[ShuffleExchangeExec])
    // agg + orderBy
    assert(shuffles <= 2, s"expected <=2 shuffles, got $shuffles")
  }

  test("scd2 reuses one sort for both windows and the interval aggregate") {
    val ev = Tables.load(spark, sf001, "events")
    val df = graft.operators.EventOps.scdType2(ev)
    df.collect()
    val shuffles = collectAll(executed(df)).count(_.isInstanceOf[ShuffleExchangeExec])
    // key shuffle (+agg reuses it via same partitioning) + final orderBy;
    // allow one more for the run-window repartitioning
    assert(shuffles <= 3, s"expected <=3 shuffles, got $shuffles")
  }

  test("bucketed cosine near-dup pair plans contain no cartesian/nested-loop join") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val emb = Tables.load(spark, sf001, "embeddings")
    val plans = Seq(
      graft.operators.Similarity.cosineNearDupBucketedPlan(
        emb, "vec_id", "embedding", 0.4, bands = 8, bitsPerBand = 5, seed = 42),
      graft.operators.Similarity.ivfNearDupPairsPlan(
        emb, "vec_id", "embedding", 0.35, nCentroids = 8, nProbe = 2))
    for (df <- plans) {
      df.collect()
      val all = collectAll(executed(df))
      assert(!all.exists(p => p.isInstanceOf[CartesianProductExec] ||
          p.isInstanceOf[BroadcastNestedLoopJoinExec]),
        s"quadratic join in pair-enumeration plan:\n${all.head}")
    }
  }

  test("image near-dup plan contains no cartesian/nested-loop join") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import spark.implicits._
    val ids = (0L until 40L).toDF("doc_id")
    def synth(pert: Boolean) = graft.functions.pgmSynthMix(
      sf.col("doc_id"), sf.lit(24), sf.lit(16), sf.lit(pert))
    val media = ids.select(sf.col("doc_id").as("img_id"), synth(false).as("payload"))
      .unionAll(ids.filter(sf.col("doc_id") % 10 === 0)
        .select((sf.col("doc_id") + 1000000L).as("img_id"), synth(true).as("payload")))
    val df = graft.operators.Multimodal.imageNearDup(media, "img_id", maxHamming = 3)
    df.collect()
    val all = collectAll(executed(df))
    assert(!all.exists(p => p.isInstanceOf[CartesianProductExec] ||
        p.isInstanceOf[BroadcastNestedLoopJoinExec]),
      s"quadratic join in image near-dup plan:\n${all.head}")
  }

  test("line dedup picks winners with a combinable partial min, not a window") {
    val docs = Tables.load(spark, sf001, "documents")
    val df = graft.operators.Dedup.lineDedupKeepFirst(docs, "doc_id", "text")
    df.collect()
    val all = collectAll(executed(df))
    // A row_number window on the line hash would ship every copy of a
    // hyper-frequent line (empty line, boilerplate) to one reducer; the
    // min(struct(id, idx)) aggregation must combine map-side instead.
    assert(!all.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      s"winner selection must not be a window:\n${all.head}")
    val planStr = all.map(_.toString).mkString("\n")
    assert(planStr.contains("partial_min"),
      s"expected partial_min on the line-hash exchange in:\n$planStr")
  }

  test("decontaminate broadcasts the benchmark grams; corpus side never shuffles pre-agg") {
    val d = Tables.load(spark, sf001, "documents")
    val df = graft.operators.TextAnalysis.decontaminate(
      d.filter(sf.col("doc_id") % 10 =!= 0), d.filter(sf.col("doc_id") % 10 === 0),
      "doc_id", "text", n = 8)
    df.collect()
    val all = collectAll(executed(df))
    assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"benchmark gram set must broadcast:\n${all.head}")
    // shuffles: Par.spread's deliberate input repartition, benchmark
    // distinct, the combinable per-doc count, the final orderBy — the
    // exploded corpus grams themselves never shuffle
    val shuffles = all.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles <= 4, s"expected <=4 shuffles, got $shuffles in:\n${all.head}")
  }

  test("cross-corpus near-dup plan contains no cartesian/nested-loop join") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val d = Tables.load(spark, sf001, "documents").filter(sf.col("doc_id") < 100)
    val df = graft.operators.Dedup.crossCorpusNearDup(
      d.filter(sf.col("doc_id") % 2 === 1), d.filter(sf.col("doc_id") % 2 === 0),
      "doc_id", "text", threshold = 0.9)
    df.collect()
    val all = collectAll(executed(df))
    assert(!all.exists(p => p.isInstanceOf[CartesianProductExec] ||
        p.isInstanceOf[BroadcastNestedLoopJoinExec]),
      s"quadratic join in cross-corpus plan:\n${all.head}")
  }

  test("sequence packing: no unpartitioned window over the corpus rows") {
    val docs = Tables.load(spark, sf001, "documents")
    val df = graft.operators.Packing.packSequences(docs, "doc_id", "text",
      capacity = 512, bucketSize = 64)
    df.collect()
    val all = collectAll(executed(df))
    val windows = all.collect {
      case wx: org.apache.spark.sql.execution.window.WindowExec => wx }
    // EVERY window carries an explicit partition spec: corpus rows are
    // partitioned by bucket, and the bounded per-bucket-totals root
    // scan declares its single partition with a constant key (so
    // nothing in the plan is an accidental global-order window)
    val unpartitioned = windows.filter(_.partitionSpec.isEmpty)
    assert(unpartitioned.isEmpty,
      s"unpartitioned window in packing plan: ${unpartitioned.size}")
    val corpusWindows = windows.filter(
      _.partitionSpec.exists(!_.foldable))
    assert(corpusWindows.nonEmpty, "within-bucket running sum missing")
  }

  /** Runs `action` and returns the QueryExecution of every action it
    * ran on the session (eager checkpoints included), in order. The
    * listener is fed asynchronously; the bus delivers in order, so the
    * marker collect's event arrives after every earlier one. */
  private def executions(action: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(f -> qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val marker = spark.range(1).toDF("__plan_spec_marker")
    spark.listenerManager.register(listener)
    try {
      action
      marker.collect()
      Iterator.continually(seen.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .map { e => assert(e != null, "listener events missing"); e }
        .takeWhile { case (_, qe) =>
          !qe.analyzed.output.exists(_.name == "__plan_spec_marker") }
        .map(_._2).toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("two-sample tests: one aggregate builds the value domain, no full-outer merge") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal, Pmod}
    import org.apache.spark.sql.catalyst.plans.FullOuter
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan,
      UnaryNode, Union, Window => LogicalWindow}
    import graft.dq.{QualityChecks => qc}
    val ev = Tables.load(spark, sf001, "events")
    val a = ev.filter(sf.col("event_type") === "click")
    val b = ev.filter(sf.col("event_type") === "view")
    // (operator, whether its prefix over the value domain is a
    // constant-key window); the others ride globalPrefixSums, whose
    // difference or value domain may approach row counts and must
    // never sort on one task
    val table = Seq[(String, (DataFrame, DataFrame, String) => DataFrame, Boolean)](
      ("ksTest", qc.ksTest, true),
      ("kuiperTest", qc.kuiperTest, true),
      ("mannWhitneyU", qc.mannWhitneyU, true),
      ("cliffsDelta", qc.cliffsDelta, true),
      ("wassersteinDistance", qc.wassersteinDistance, true),
      ("cramerVonMises", qc.cramerVonMises, false),
      ("andersonDarling", qc.andersonDarling, false),
      ("brunnerMunzel", qc.brunnerMunzel, false),
      ("ansariBradley", qc.ansariBradley, false),
      ("energyDistance", qc.energyDistance, false),
      ("hodgesLehmann", qc.hodgesLehmann, false))
    def overUnion(p: LogicalPlan): Boolean = p match {
      case _: Union => true
      case _: Aggregate => false
      case u: UnaryNode => overUnion(u.child)
      case _ => false
    }
    // windows on ONE partition: no key, a constant key, or pmod(_, 1)
    // (the analyzer moves a computed key into a Project below the
    // window: look it up); globalPrefixSums' numPartitions-row offsets
    // window (ordered by __pid) is bounded and does not count
    def oneTaskWindows(p: LogicalPlan): Seq[LogicalWindow] = {
      val defs = p.flatMap(_.expressions)
        .flatMap(_.collect { case a: Alias => a.exprId -> a.child }).toMap
      def oneTask(w: LogicalWindow) = {
        val keys = w.partitionSpec.map {
          case r: AttributeReference => defs.getOrElse(r.exprId, r)
          case e => e
        }
        keys.forall(_.foldable) || keys.exists {
          case Pmod(_, Literal(1, _), _) => true
          case _ => false
        }
      }
      p.collect { case w: LogicalWindow if oneTask(w) &&
        !w.orderSpec.exists(_.references.exists(_.name == "__pid")) => w }
    }
    // every operator is checked; the failures are reported together
    val failures = table.flatMap { case (name, op, windowed) =>
      val qes = executions(op(a, b, "value").collect())
      val logical = qes.map(_.optimizedPlan)
      val fullOuter = logical.exists(_.exists {
        case j: Join => j.joinType == FullOuter
        case _ => false
      })
      val counts = logical.flatMap(_.collect {
        case g: Aggregate if g.output.exists(o => o.name == "__ca" || o.name == "__cb") => g })
      val oneGrouping = counts.nonEmpty && counts.forall { g =>
        Set("__ca", "__cb").subsetOf(g.output.map(_.name).toSet) &&
          g.groupingExpressions.size == 1 && overUnion(g.child)
      }
      val oneTask = logical.flatMap(oneTaskWindows)
      Seq(
        Option.when(fullOuter)(s"$name merges its domain with a full-outer join"),
        Option.when(!oneGrouping)(
          s"$name: the domain is not one grouping of the two samples' union"),
        Option.when(oneTask.nonEmpty != windowed)(
          s"$name: ${oneTask.size} one-partition domain window(s), expected " +
            (if (windowed) "the constant-key prefix window" else "none"))).flatten
    }
    if (failures.nonEmpty) fail(failures.mkString("\n", "\n", ""))
  }

  test("zipf slope: vocabulary ranking has no unpartitioned window") {
    // The vocabulary of a web-scale corpus is 10^8-10^9 distinct tokens;
    // a row_number() over an empty partition spec would rank it on ONE
    // task. Ranks must ride globalDenseIds (range-partitioned parallel
    // numbering), whose only windows are the per-partition numbering
    // (partitioned by __pid) and the numPartitions-row offsets window
    // (partitioned by a constant key — foldable-or-not, but bounded).
    val docs = Tables.load(spark, sf001, "documents")
    val df = graft.operators.CorpusStats.zipfSlope(docs, "text")
    df.collect()
    val all = collectAll(executed(df))
    val unpartitioned = all.collect {
      case wx: org.apache.spark.sql.execution.window.WindowExec
        if wx.partitionSpec.isEmpty => wx }
    assert(unpartitioned.isEmpty,
      s"unpartitioned window in zipfSlope plan: ${unpartitioned.size}")
  }

  test("lorenz gini: the (all) pass has no one-partition window") {
    // The pooled row's cumulative pass once partitioned by the literal
    // "(all)" — EliminateWindowPartitions strips foldable keys, leaving
    // a bare global WindowExec (the r10 finding). Both passes must key
    // their windows on non-foldable expressions (source column /
    // pmod(hash(domain), 1)) so the bounded-by-the-domain intent
    // survives optimization.
    val docs = Tables.load(spark, sf001, "documents")
    val df = graft.operators.CorpusStats.lorenzGini(docs, "text", "source")
    df.collect()
    val all = collectAll(executed(df))
    val oneTask = all.collect {
      case wx: org.apache.spark.sql.execution.window.WindowExec
        if wx.partitionSpec.isEmpty || wx.partitionSpec.forall(_.foldable) => wx }
    assert(oneTask.isEmpty,
      s"one-partition window in lorenzGini plan: ${oneTask.size}")
  }

  test("simhash near-dup dedups pairs with the first-witness test, not an aggregate") {
    val docs = Tables.load(spark, sf001, "documents")
    val df = graft.operators.Dedup.simHashNearDup(docs, "doc_id", "text", maxHamming = 6)
    df.collect()
    val all = collectAll(executed(df))
    // multi-slice collisions are suppressed by the smallest-agreeing-
    // slice filter on the joined rows — the pair stream must reach the
    // output with no aggregate (the old dropDuplicates) and no exchange
    // beyond the slice join's own and the final orderBy's range sort
    assert(!all.exists(_.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec]),
      s"aggregate in simhash pair plan:\n${all.head}")
    val shuffles = all.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles <= 3, s"expected <=3 shuffles (join sides + orderBy), got $shuffles")
  }

  test("hot-key salted join explodes only the hot-key slice of the small side") {
    import org.apache.spark.sql.execution.GenerateExec
    val spark = this.spark
    import spark.implicits._
    val big = ((1 to 400).map(_ => (1L, "hot")) ++ (2L to 50L).map(k => (k, "cold")))
      .toDF("k", "tag")
    val small = (1L to 50L).map(k => (k, s"dim$k")).toDF("sk", "name")
    val joined = graft.operators.Skew.saltedJoinHotKeys(big, small, "k", "sk",
      saltFactor = 4, hotKeyThreshold = 100L)
    // output identical to the plain join: 400 rows for the hot key + 49 cold
    assert(joined.count() == 449)
    val all = collectAll(executed(joined))
    // exactly one explode, and it sits above the left-semi hot-key
    // filter of the small side — the cold branch never replicates
    val gens = all.filter(_.isInstanceOf[GenerateExec])
    assert(gens.size == 1, s"expected 1 explode, got ${gens.size} in:\n${all.head}")
    val sub = collectAll(gens.head)
    assert(sub.exists {
      case b: BroadcastHashJoinExec => b.joinType.toString == "LeftSemi"
      case _ => false
    }, s"explode input must be the hot-key semi join:\n${gens.head}")
  }

  test("windowed event agg shuffles once (partial aggregation map-side)") {
    val df = graft.operators.EventOps.windowedAgg(Tables.load(spark, sf001, "events"))
    df.collect()
    val plan = executed(df)
    val shuffles = collectAll(plan).count(_.isInstanceOf[ShuffleExchangeExec])
    // one shuffle for the agg + one for the final orderBy
    assert(shuffles <= 2, s"expected <=2 shuffles, got $shuffles in:\n$plan")
  }

  test("bloom semi join probes the filter below the join on the big side") {
    val urgent = Tables.load(spark, sf001, "orders")
      .filter(sf.col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val df = graft.operators.Bloom.semiJoin(Tables.load(spark, sf001, "lineitem"),
      urgent, "l_orderkey", "o_orderkey", numBits = 1 << 14)
    df.collect()
    val nodes = collectAll(executed(df))
    // the membership probe (getbit over the literal bit array) must sit
    // below the exact semi join, dropping rows before any join movement
    val joinIdx = nodes.indexWhere(_.nodeName.toLowerCase.contains("join"))
    val hasProbeBelowJoin = nodes.drop(joinIdx + 1)
      .exists(n => n.isInstanceOf[org.apache.spark.sql.execution.FilterExec] &&
        n.toString.contains("getbit"))
    assert(joinIdx >= 0 && hasProbeBelowJoin,
      s"bloom probe not below the join:\n${executed(df)}")
  }

  test("pq scoring joins codes, not vectors, on the corpus side") {
    val emb = Tables.load(spark, sf001, "embeddings")
    val df = graft.operators.Similarity.pqTopK(emb, "vec_id", "embedding",
      sf.col("vec_id") < 5, k = 3)
    df.collect()
    val joins = collectAll(executed(df)).filter(n =>
      n.nodeName.toLowerCase.contains("join"))
    assert(joins.nonEmpty)
    // every join input that carries corpus rows exposes only codes
    // (ints/longs) — the 64-double vectors must not ride the join
    val scoringJoin = joins.head
    val corpusSide = scoringJoin.children.filterNot(
      _.toString.contains("BroadcastExchange")) ++
      scoringJoin.children.filter(_.isInstanceOf[
        org.apache.spark.sql.execution.adaptive.QueryStageExec])
    corpusSide.foreach { side =>
      side.output.foreach { attr =>
        assert(!attr.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType],
          s"corpus side of the PQ join carries an array column ${attr.name}:\n$scoringJoin")
      }
    }
  }

  test("hashSplit is map-only: no shuffle, no sort") {
    val df = graft.operators.Sampling.hashSplit(
      Tables.load(spark, sf001, "documents"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    df.collect()
    val nodes = collectAll(executed(df))
    assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeExec]),
      s"hashSplit must not shuffle:\n${executed(df)}")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      s"hashSplit must not sort:\n${executed(df)}")
  }

  test("dedupDocLines is map-only up to the final order") {
    val df = graft.operators.Cleaning.dedupDocLines(
      Tables.load(spark, sf001, "documents"), "doc_id", "text")
    df.collect()
    val nodes = collectAll(executed(df))
    // every line comparison stays inside its own row: the only
    // exchange is the output orderBy's range repartition
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles <= 1, s"dedupDocLines must not shuffle data:\n${executed(df)}")
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.aggregate.BaseAggregateExec]),
      s"dedupDocLines must not aggregate:\n${executed(df)}")
  }

  test("dupNgramFraction explodes the corpus once (checkpointed pair stream)") {
    val df = graft.operators.TextAnalysis.dupNgramFraction(
      Tables.load(spark, sf001, "documents"), "doc_id", "text")
    df.collect()
    val generates = collectAll(executed(df)).count(
      _.isInstanceOf[org.apache.spark.sql.execution.GenerateExec])
    // the shingle explode happens once, at checkpoint build; the query
    // plan over the checkpoint must not re-run it (2 = regression to
    // the double-scan shape)
    assert(generates == 0, s"expected 0 Generates, got $generates")
  }

  test("r7 sequential/series operators: no unpartitioned windows anywhere") {
    // changePoint/theilSen ride per-type windows; conformal and SPRT
    // ride globalPrefixSums' range-partitioned numbering — a window
    // with an empty partition spec would serialize the whole domain
    // through one task at 100 TB.
    val ev = Tables.load(spark, sf001, "events")
    val docs = Tables.load(spark, sf001, "documents")
    val plans = Seq(
      "changePoint" -> graft.operators.EventOps.changePoint(ev),
      "theilSen" -> graft.operators.EventOps.theilSenTrend(ev),
      "sprt" -> graft.operators.EventOps.sprtReadout(ev),
      "conformal" -> graft.dq.QualityChecks.conformalThreshold(
        docs.select(sf.col("doc_id"), (sf.col("doc_id") % 100).cast("double").as("score"),
          (sf.col("doc_id") % 2).cast("int").as("y")), "score", "y", "doc_id"))
    plans.foreach { case (name, df) =>
      df.collect()
      val bad = collectAll(executed(df)).collect {
        case wx: org.apache.spark.sql.execution.window.WindowExec
          if wx.partitionSpec.isEmpty => wx }
      assert(bad.isEmpty, s"$name has ${bad.size} unpartitioned window(s)")
    }
  }

  test("r7 iterative graph operators: no cartesian products; BNLJ only single-row") {
    // cooccurrenceLift crosses a ONE-ROW n_baskets aggregate into the
    // pair table — a benign 1-row BroadcastNestedLoopJoin. The failure
    // shape is a CartesianProduct or a BNLJ whose build side is a real
    // table (no equi keys on a data-sized join).
    val li = Tables.load(spark, sf001, "lineitem")
    val plans = Seq(
      "kCore" -> graft.operators.Graph.kCore(li, "l_orderkey", "l_partkey",
        k = 2, minPairCount = 2, rounds = 2),
      "ppr" -> graft.operators.Graph.personalizedPageRank(li, "l_orderkey",
        "l_partkey", _ % 5 === 0, minPairCount = 2, iters = 2),
      "bfs" -> graft.operators.Graph.bfsHops(li, "l_orderkey", "l_partkey",
        _ % 5 === 0, minPairCount = 2, rounds = 2))
    plans.foreach { case (name, df) =>
      df.collect()
      val nodes = collectAll(executed(df))
      assert(!nodes.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.CartesianProductExec]),
        s"$name plan has a cartesian product")
      val bnlj = nodes.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j }
      // every BNLJ build side must be the single-row count aggregate
      bnlj.foreach { j =>
        val buildIsAgg = collectAll(j).exists {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
            a.groupingExpressions.isEmpty
          case _ => false
        }
        assert(buildIsAgg, s"$name has a non-scalar BNLJ:\n$j")
      }
    }
  }

  test("r8 gates (c4/mojibake) are map-only; OLS is one single-row aggregate") {
    val docs = Tables.load(spark, sf001, "documents")
    // both gates: per-row work only — the single exchange is the
    // output orderBy's range partition
    Seq(
      "c4Gate" -> graft.operators.TextAnalysis.c4Gate(docs, "doc_id", "text"),
      "encodingAudit" -> graft.operators.Cleaning.encodingAudit(docs, "doc_id", "text"))
      .foreach { case (name, df) =>
        df.collect()
        // Par.spread's round-robin fan-out and the output orderBy's
        // range partition are not data-keyed shuffles; a hash exchange
        // would mean real per-key data movement
        val hashShuffles = collectAll(executed(df)).collect {
          case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e }
        assert(hashShuffles.isEmpty,
          s"$name must be map-only, got ${hashShuffles.size} hash exchanges")
      }
    // ols2: data rows feed ONE partial+final aggregate pair; no data-row
    // shuffle (only the single-row exchange between the agg halves)
    val ols = graft.dq.QualityChecks.ols2(
      Tables.load(spark, sf001, "lineitem"),
      "l_extendedprice", "l_quantity", "l_discount")
    ols.collect()
    val nodes = collectAll(executed(ols))
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.SortExec]), "ols2 must not sort")
    val aggs = nodes.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a }
    assert(aggs.nonEmpty && aggs.forall(_.groupingExpressions.isEmpty),
      "ols2 must aggregate to a single row")
  }

  test("r8 pca corpus pass: one moment-domain shuffle, no corpus sort") {
    // the iteration itself is driver arithmetic on the bounded d x d
    // matrix; the CORPUS side must be one kernel projection + one
    // map-side-combined groupBy on the d + d(d+1)/2 moment positions
    val emb = Tables.load(spark, sf001, "embeddings")
    val terms = graft.operators.Par.spread(emb
      .filter(sf.col("embedding").isNotNull && sf.size(sf.col("embedding")) === 64))
      .select(graft.functions.gramUpperE6(sf.col("embedding")).as("__g"))
      .filter(sf.size(sf.col("__g")) > 0)
      .select(sf.posexplode(sf.col("__g")).as(Seq("__p", "__x")))
      .groupBy("__p")
      .agg(sf.sum(sf.col("__x").cast("decimal(38,0)")).as("__s"))
    terms.collect()
    val nodes = collectAll(executed(terms))
    val hashShuffles = nodes.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e }
    assert(hashShuffles.size == 1,
      "pca moment pass must hash-shuffle exactly once (moment domain)")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      "pca moment pass must not sort the corpus")
  }

  test("r8 fdr/temperature-mix windows and joins live on bounded domains") {
    val ev = Tables.load(spark, sf001, "events")
    val fdr = graft.dq.QualityChecks.fdrProportionTests(ev)
    fdr.collect()
    val fdrNodes = collectAll(executed(fdr))
    // BH runs AFTER the group-domain aggregate: every window input is
    // the aggregated frame, so no window may sit below the first agg
    assert(fdrNodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.aggregate.BaseAggregateExec]),
      "fdr must aggregate the event rows")
    val docs = Tables.load(spark, sf001, "documents")
    val mix = graft.operators.Sampling.temperatureMix(docs, "source",
      graft.functions.tokenCount(sf.col("text")), budget = 1000000L)
    mix.collect()
    val mixNodes = collectAll(executed(mix))
    assert(!mixNodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "temperatureMix must not produce a cartesian product")
    // the one-row totals frame joins via broadcast, never shuffling the
    // source domain
    assert(mixNodes.exists(p =>
      p.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec] ||
      p.isInstanceOf[BroadcastHashJoinExec]),
      "temperatureMix totals must broadcast")
  }

  test("r8 wave 2: map-only kernels stay map-only; bounded-domain shapes hold") {
    val emb = Tables.load(spark, sf001, "embeddings")
    // q224 JL distortion: one kernel pass per row — the ONLY exchange
    // allowed is the output ordering's range repartition
    val jl = graft.operators.Similarity.jlDistortion(
      emb, "vec_id", "embedding", dims = 64, k = 16)
    jl.collect()
    val jlNodes = collectAll(executed(jl))
    val jlHash = jlNodes.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e }
    assert(jlHash.isEmpty, "jlDistortion must not hash-shuffle the corpus")
    // q226 TextRank: fused kernel — zero joins of any kind in the plan
    val docs = Tables.load(spark, sf001, "documents")
    val tr = graft.operators.TextAnalysis.textRankKeywords(docs, "doc_id", "text")
    tr.collect()
    val trNodes = collectAll(executed(tr))
    assert(!trNodes.exists(p =>
      p.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      "textRankKeywords must not join — the per-doc graph is kernel-local")
    val trHash = trNodes.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e }
    assert(trHash.isEmpty, "textRankKeywords must not hash-shuffle the corpus")
    // q225 Naive Bayes: no cartesian product anywhere; the label-domain
    // constants frame joins via broadcast
    val nb = graft.operators.CorpusStats.naiveBayesEval(docs, "doc_id", "text", "lang")
    nb.collect()
    val nbNodes = collectAll(executed(nb))
    assert(!nbNodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "naiveBayesEval must not produce a cartesian product")
    // q228 CMH: event stream aggregates once; no windows, no sorts below
    // the one-row reduction
    val ev = Tables.load(spark, sf001, "events")
    val cmh = graft.dq.QualityChecks.cmhTest(ev, "event_type",
      graft.operators.Sampling.hashBucket(sf.col("user_id")) < 5000,
      sf.col("value") >= 50.0)
    cmh.collect()
    val cmhNodes = collectAll(executed(cmh))
    assert(!cmhNodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.window.WindowExec]),
      "cmhTest must not window")
  }

  test("r8 wave 3: embeddings/entropy/profile shapes hold") {
    val docs = Tables.load(spark, sf001, "documents")
    // q233: the vocab-dim PPMI matrix must never materialize as a
    // cartesian product; margins/pairs are keyed joins only
    val embs = graft.operators.CorpusStats.itemEmbeddings(docs, "text")
    embs.collect()
    val emNodes = collectAll(executed(embs))
    assert(!emNodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "itemEmbeddings must not produce a cartesian product")
    // q235/q227: domain aggregations, zero windows anywhere
    val se = graft.operators.CorpusStats.sourceEntropy(docs, "source", "text")
    se.collect()
    assert(!collectAll(executed(se)).exists(_.isInstanceOf[
      org.apache.spark.sql.execution.window.WindowExec]),
      "sourceEntropy must not window")
    val gt = graft.operators.CorpusStats.goodTuring(docs, "doc_id", "text")
    gt.collect()
    assert(!collectAll(executed(gt)).exists(_.isInstanceOf[
      org.apache.spark.sql.execution.window.WindowExec]),
      "goodTuring must not window")
    // q230: map-only parse + one hash aggregation — no joins beyond the
    // broadcast totals, no sort below the output ordering
    val jp = graft.dq.QualityChecks.jsonKeyProfile(
      Tables.load(spark, sf001, "events"), "props")
    jp.collect()
    val jpNodes = collectAll(executed(jp))
    assert(!jpNodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "jsonKeyProfile must not produce a cartesian product")
  }

  test("minedEdges is the bare funnel: no sort, no joins, two exchanges") {
    // the graph family's shared upstream must NOT pay cooccurrenceLift's
    // margins (item-count joins), n_baskets cross join, or global sort —
    // only the lift REPORT needs those. Expected shape: scan -> basket
    // collect_set agg -> pair count agg -> mirror union. At 100 TB the
    // pair domain is 1e9+ rows; an unneeded sort of it per graph
    // operator is the difference between minutes and hours.
    val li = Tables.load(spark, sf001, "lineitem")
    val edges = graft.operators.Graph.minedEdges(li, "l_orderkey", "l_partkey")
    edges.collect()
    val nodes = collectAll(executed(edges))
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      "minedEdges must not sort")
    assert(!nodes.exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      "minedEdges must not join")
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles <= 2,
      s"minedEdges should shuffle at most twice (basket agg, pair count), got $shuffles")
  }

  test("r9 additions: centrality loops clean; kendall pairing broadcast; series window-free") {
    val li = Tables.load(spark, sf001, "lineitem")
    val ev = Tables.load(spark, sf001, "events")
    // HITS/eigenvector: no cartesian products; every BNLJ build side
    // is the one-row max aggregate (the integer normalization scalar)
    Seq(
      "hits" -> graft.operators.Graph.hitsBipartite(li, "l_suppkey",
        "l_partkey", iters = 2),
      "eig" -> graft.operators.Graph.eigenvectorCentrality(li, "l_orderkey",
        "l_partkey", minPairCount = 2, iters = 2))
      .foreach { case (name, df) =>
        df.collect()
        val nodes = collectAll(executed(df))
        assert(!nodes.exists(_.isInstanceOf[
          org.apache.spark.sql.execution.joins.CartesianProductExec]),
          s"$name plan has a cartesian product")
        nodes.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        }.foreach { j =>
          val buildIsAgg = collectAll(j).exists {
            case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
              a.groupingExpressions.isEmpty
            case _ => false
          }
          assert(buildIsAgg, s"$name has a non-scalar BNLJ:\n$j")
        }
      }
    // kendallTau: the pair enumeration must ride a BROADCAST of the
    // bounded cell domain (the caller-bucketing contract) — never a
    // CartesianProduct, never a shuffled sort-merge self join
    val kt = graft.dq.QualityChecks.kendallTau(
      li.select(sf.col("l_quantity").cast("long").as("x"),
        sf.expr("CAST(floor(CAST(l_extendedprice AS DOUBLE)/10000.0) AS BIGINT)").as("y")),
      "x", "y")
    kt.collect()
    val ktNodes = collectAll(executed(kt))
    assert(!ktNodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "kendallTau plan has a cartesian product")
    assert(ktNodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "kendallTau pairing should be a broadcast nested loop over the cell domain")
    // the new series/stat operators: zero unpartitioned data windows
    // (globalDenseIds' offset window is keyed on a bounded constant)
    val emb = Tables.load(spark, sf001, "embeddings")
    val plans = Seq(
      "forecastBacktest" -> graft.operators.EventOps.forecastBacktest(ev),
      "seasonalStrength" -> graft.operators.EventOps.seasonalStrength(ev),
      "durbinWatson" -> graft.operators.EventOps.durbinWatson(ev),
      "ljungBox" -> graft.operators.EventOps.ljungBox(ev),
      "mmdLinear" -> graft.operators.Similarity.mmdLinear(emb, "vec_id",
        "embedding", "label", "0", "1"))
    plans.foreach { case (name, df) =>
      df.collect()
      val bad = collectAll(executed(df)).collect {
        case wx: org.apache.spark.sql.execution.window.WindowExec
          if wx.partitionSpec.isEmpty => wx }
      assert(bad.isEmpty, s"$name has ${bad.size} unpartitioned window(s)")
    }
  }
}
