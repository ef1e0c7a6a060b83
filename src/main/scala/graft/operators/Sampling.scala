package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row}
import org.apache.spark.sql.types.{LongType, StructField}
import org.apache.spark.sql.{functions => sf}
import graft.functions.dec
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}

/** Deterministic sampling for corpus curation. `sample(fraction)` on a
  * DataFrame is seed-stable only per partitioning; these samplers hash
  * the ROW KEY, so membership is a pure function of the data — stable
  * across runs, partitionings, cluster sizes, and engines (the Knuth
  * multiplicative hash is plain 64-bit integer arithmetic, reproducible
  * verbatim in a SQL oracle).
  */
object Sampling {

  /** Hash of the key scaled to [0, 10000): permille-of-ten-thousand
    * buckets give 0.01% granularity.
    *
    * The key is folded to 31 bits (pmod 2^31) BEFORE the Knuth multiply:
    * (2^31-1) * 2654435761 ≈ 5.7e18 stays inside a signed 64-bit long,
    * so the hash never overflows — neither here (Spark ANSI mode throws
    * on long overflow; legacy mode wraps negative and defeats every
    * `< threshold` filter) nor in a BIGINT SQL oracle (DuckDB raises).
    * pmod keeps the folded key non-negative for negative inputs too. */
  def hashBucket(key: Column): Column =
    ((sf.pmod(key.cast("long"), sf.lit(2147483648L)) * sf.lit(2654435761L))
      % sf.lit(4294967296L)) % 10000

  /** Keep rows whose key hashes into the first `fraction` of buckets.
    * Map-only: runs at scan speed, no shuffle, and the same rows are
    * kept at any scale or parallelism. */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0, 1]")
    df.filter(hashBucket(sf.col(keyCol)) < math.round(fraction * 10000).toInt)
  }

  /** Stratified deterministic sample: a per-stratum keep fraction
    * (e.g. downsample 'en' to 1%, keep low-resource languages whole).
    * Still map-only — the threshold is a CASE over the stratum column. */
  def stratifiedHashSample(df: DataFrame, keyCol: String, stratumCol: String,
                           fractions: Map[String, Double],
                           defaultFraction: Double = 0.0): DataFrame = {
    val threshold = fractions.toSeq.sortBy(_._1).foldLeft(
      sf.lit(math.round(defaultFraction * 10000).toInt)) { case (acc, (k, f)) =>
      sf.when(sf.col(stratumCol) === k, math.round(f * 10000).toInt).otherwise(acc)
    }
    df.filter(hashBucket(sf.col(keyCol)) < threshold)
  }

  /** Token-budget mixture sampling: build a training mix by giving each
    * source a WEIGHT BUDGET (e.g. tokens) instead of a row fraction.
    * Each source's keep fraction is budget / total_weight(source),
    * capped at 1 — sources under budget are kept whole, oversized
    * sources are downsampled so their expected kept weight ≈ budget.
    * Rows are selected by the same partition-invariant key hash as
    * `hashSample`, so membership is deterministic and engines agree.
    *
    * Scale shape: one partial-aggregated groupBy over the corpus for
    * per-source totals (output = #sources rows), broadcast-joined back —
    * no driver collect, and the corpus itself never shuffles. The
    * threshold uses pure integer arithmetic (`budget * 10000 div
    * total`), replayable verbatim in a SQL oracle — no double rounding
    * to diverge on. Budgets are capped at ~9.2e14 so budget*10000 stays
    * inside int64.
    *
    * @param weight   per-row weight expression (e.g.
    *                 `functions.tokenCount(col("text"))`)
    * @param budgets  per-source weight budget; sources absent from the
    *                 map get `defaultBudget` (0 = drop unlisted sources)
    */
  def mixtureSample(df: DataFrame, keyCol: String, sourceCol: String,
                    weight: Column, budgets: Map[String, Long],
                    defaultBudget: Long = 0L): DataFrame = {
    require((budgets.values ++ Seq(defaultBudget)).forall(b => b >= 0 && b <= 922337203685477L),
      "budgets must be in [0, 9.22e14] (budget * 10000 must fit int64)")
    val budgetCol = budgets.toSeq.sortBy(_._1).foldLeft(
      sf.lit(defaultBudget)) { case (acc, (k, b)) =>
      sf.when(sf.col(sourceCol) === k, sf.lit(b)).otherwise(acc)
    }
    val totals = df.groupBy(sf.col(sourceCol).as("__src"))
      .agg(sf.sum(weight.cast("long")).as("__total"))
    // threshold in tenth-permille buckets; `div` = int64 floor division
    // (budget and total are non-negative), `least` caps keep-all
    // sources. A zero-weight source trivially fits any positive budget.
    val threshold = sf.when(sf.col("__total") <= 0,
        sf.when(sf.col("__budget") > 0, sf.lit(10000L)).otherwise(sf.lit(0L)))
      .otherwise(sf.least(sf.lit(10000L), sf.expr("__budget * 10000 div __total")))
    df.withColumn("__budget", budgetCol)
      .join(sf.broadcast(totals), sf.col(sourceCol) === sf.col("__src"))
      .filter(hashBucket(sf.col(keyCol)) < threshold)
      .drop("__src", "__total", "__budget")
  }

  /** Weighted (importance) sampling: each row is kept with probability
    * ∝ its weight — inclusion p_i = min(1, budget·w_i / W) with
    * W = Σ weights, so the expected kept-row count ≈ `budget` and
    * heavier rows (longer documents, higher quality scores) are
    * favored. Membership is the same portable key hash as
    * `hashSample`: a pure function of the data, reproducible in SQL.
    *
    * The keep test is DIVISION-FREE exact integer arithmetic —
    * `hash·W < 10000·budget·w` — evaluated in bounded decimals
    * (hash ≤ 10⁴ in decimal(5,0), W in decimal(20,0): the left product
    * is exact in decimal(26,0); the right literal 10⁴·budget ≤ 9.2e18
    * in decimal(20,0) times w in decimal(15,0) is exact in
    * decimal(36,0)). No rounding step exists for engines to disagree
    * on, and the p=1 cap is automatic (hash < 10⁴ ≤ the scaled
    * threshold whenever budget·w ≥ W). Zero-weight rows are never
    * kept.
    *
    * Scale shape: one combinable global-sum aggregate (one row),
    * broadcast back; the corpus itself never shuffles — map-only
    * membership at any size. Weights above 10¹⁵ would overflow the
    * right product's 36-digit bound and are rejected row-wise by the
    * cast (null → dropped); practical weights (token counts, byte
    * sizes) sit orders of magnitude below. */
  def weightedHashSample(df: DataFrame, keyCol: String, weight: Column,
                         budget: Long): DataFrame = {
    require(budget >= 0 && budget <= 922337203685477L,
      "budget must be in [0, 9.22e14] (10000 * budget must fit int64)")
    val totals = df.agg(sf.sum(weight.cast("long")).as("__W"))
    df.crossJoin(sf.broadcast(totals))
      .filter(hashBucket(sf.col(keyCol)).cast("decimal(5,0)") *
          sf.col("__W").cast("decimal(20,0)") <
        sf.lit(budget * 10000L).cast("decimal(20,0)") *
          weight.cast("decimal(15,0)"))
      .drop("__W")
  }

  /** Leakage-safe train/val/test split: assign every NEAR-DUP CLUSTER
    * to one split, not every document — the splitting mistake that
    * silently inflates eval scores is a near-duplicate pair straddling
    * train and test, and no per-document split can prevent it. The
    * split key is the document's cluster label when it has one
    * (`clusterLabels`: any (id, cluster_id) frame, e.g.
    * `Dedup.nearDupClusters`) and its own id otherwise, then the
    * standard deterministic [[hashSplit]] applies: disjoint,
    * exhaustive, growth-stable — and by construction zero clusters
    * span splits.
    *
    * Scale shape: one left equi join against the cluster table plus
    * hashSplit's map-only bucketing. */
  def clusterAwareSplit(df: DataFrame, idCol: String, clusterLabels: DataFrame,
                        splits: Seq[(String, Double)]): DataFrame = {
    val lbl = clusterLabels.select(sf.col("doc_id").as("__cl_id"),
      sf.col("cluster_id").as("__cl"))
    val keyed = df
      .join(lbl, df(idCol) === sf.col("__cl_id"), "left")
      .withColumn("split_key", sf.coalesce(sf.col("__cl"), df(idCol).cast("long")))
      .drop("__cl_id", "__cl")
    hashSplit(keyed, "split_key", splits)
  }

  /** EXACT-k weighted sampling without replacement (Efraimidis &
    * Spirakis 2006, A-ES): rank rows by u^(1/w) for a per-row uniform
    * u and keep the top k — inclusion probability proportional to
    * weight, sample size exactly k. The fixed-size twin of
    * [[weightedHashSample]] (Bernoulli, expected-size): quota-bounded
    * curation ("the best 100k docs by quality-weighted lottery")
    * needs the exact count.
    *
    * Determinism: u derives from the portable integer key hash (the
    * q99 convention) as (h+1)/2^32 — exact in double on any engine —
    * and the ONE libm pow per row snaps to a 1e-12 grid; ranking is
    * (key desc, id), a total order, so the sample is a pure function
    * of the data and replayable in SQL.
    *
    * Scale shape: map-only scoring + a global top-k, which Spark
    * executes as TakeOrderedAndProject — per-partition heaps of k,
    * never a full sort. */
  def weightedTopK(df: DataFrame, keyCol: String, weight: Column,
                   k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val h32 = sf.pmod(sf.col(keyCol).cast("long"), sf.lit(2147483648L)) *
      sf.lit(2654435761L) % sf.lit(4294967296L)
    val u = (h32 + 1L).cast("double") / 4294967296.0
    val keyFx = sf.floor(sf.pow(u, sf.lit(1.0) / weight.cast("double")) * 1e12 + 0.5)
      .cast("long")
    df.filter(weight.cast("double") > 0)
      // report the weight as a (rounded) double: ranking uses the exact
      // double, so a long cast here would misreport fractional weights
      .select(sf.col(keyCol),
        graft.functions.roundAt(weight.cast("double"), 4).as("weight"),
        keyFx.as("key_fx"))
      .orderBy(sf.col("key_fx").desc, sf.col(keyCol))
      .limit(k)
  }

  /** Deterministic multi-way split (train/val/test): each row's split
    * is a pure function of its key hash, so splits are DISJOINT and
    * EXHAUSTIVE by construction, stable across runs/partitionings/
    * engines, and new rows join a split without reshuffling old ones —
    * the property that keeps eval sets uncontaminated as the corpus
    * grows. Fractions are quantized to 0.01% bucket edges; the last
    * split absorbs the rounding remainder. Map-only at any scale. */
  def hashSplit(df: DataFrame, keyCol: String,
                splits: Seq[(String, Double)]): DataFrame = {
    require(splits.size >= 2 && splits.map(_._1).distinct.size == splits.size,
      "need >= 2 uniquely named splits")
    require(splits.forall(_._2 > 0) && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must be positive and sum to 1, got $splits")
    val edges = splits.scanLeft(0.0)(_ + _._2).tail
      .map(f => math.round(f * 10000).toInt)
    val bucket = hashBucket(sf.col(keyCol))
    val label = splits.init.zip(edges.init).reverse.foldLeft(
      sf.lit(splits.last._1)) { case (acc, ((name, _), edge)) =>
      sf.when(bucket < edge, name).otherwise(acc)
    }
    df.withColumn("split", label)
  }

  /** Per-group quantile cut: keep each group's top `frac` of rows by
    * score (e.g. "the best 25% of documents per source by quality").
    * The threshold is rank-defined — the LARGEST score t such that at
    * least ceil(frac · n_group) rows score >= t — and ALL boundary ties
    * are kept, so the cut is an exact deterministic function of the
    * data (no interpolated percentile to disagree on, no arbitrary
    * pick among tied rows) and the kept count is the smallest superset
    * of the target fraction.
    *
    * Scale shape (the q35 distinct-value-compression trick): one
    * combinable groupBy compresses the corpus to (group, score, count)
    * — sized by DISTINCT scores per group, tiny for quantized quality
    * scores (quantize continuous scores first, e.g. `roundAt(s, 4)`).
    * The cumulative window runs over THAT table, partitioned by group,
    * then the per-group thresholds join back (AQE broadcasts the
    * few-groups case) for what is effectively a map-only filter. The
    * corpus itself never shuffles and never sorts. */
  def topFractionByScore(df: DataFrame, groupCol: String, scoreCol: String,
                         frac: Double): DataFrame = {
    require(frac > 0 && frac <= 1, s"frac must be in (0, 1], got $frac")
    val w = Window.partitionBy("__grp").orderBy(sf.col("__score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dist = df.groupBy(sf.col(groupCol).as("__grp"),
        sf.col(scoreCol).cast("double").as("__score"))
      .agg(sf.count(sf.lit(1)).as("__cnt"))
    val thresholds = dist
      .withColumn("__cum", sf.sum("__cnt").over(w))
      .withColumn("__n", sf.sum("__cnt").over(Window.partitionBy("__grp")))
      .filter(sf.col("__cum") >= sf.ceil(sf.col("__n") * frac))
      .groupBy("__grp").agg(sf.max("__score").as("__thr"))
    // AQE picks the join: broadcast for the common few-groups case, a
    // shuffle join when the group domain itself is too big for the
    // driver (the same reasoning as quantileProfile's totals join)
    df.join(thresholds, sf.col(groupCol) === sf.col("__grp"))
      .filter(sf.col(scoreCol).cast("double") >= sf.col("__thr"))
      .drop("__grp", "__thr")
  }

  /** Row record for the per-key cap aggregator. */
  case class CapRow(key: String, id: Long, h: Long)

  /** cap-bounded typed Aggregator keeping the `cap` smallest (h, id)
    * pairs per key — the same sorted-buffer design as
    * [[graft.operators.Similarity.TopKAgg]] (O(1) reject once full,
    * map-side partial reduction), ordered ascending because the
    * "score" here is a hash: smallest-hash-first IS the deterministic
    * random order. */
  class CapAgg(cap: Int) extends Aggregator[CapRow, Seq[(Long, Long)], Seq[(Long, Long)]] {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    private def beats(x: (Long, Long), y: (Long, Long)): Boolean =
      x._1 < y._1 || (x._1 == y._1 && x._2 < y._2)
    def zero: Seq[(Long, Long)] = Nil
    def reduce(b: Seq[(Long, Long)], a: CapRow): Seq[(Long, Long)] = {
      val x = (a.h, a.id)
      if (b.length >= cap && !beats(x, b.last)) b
      else {
        val out = Vector.newBuilder[(Long, Long)]
        var inserted = false
        var kept = 0
        val it = b.iterator
        while (it.hasNext && kept < cap) {
          val e = it.next()
          if (!inserted && beats(x, e)) { out += x; kept += 1; inserted = true }
          if (kept < cap) { out += e; kept += 1 }
        }
        if (!inserted && kept < cap) out += x
        out.result()
      }
    }
    def merge(x: Seq[(Long, Long)], y: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      val out = Vector.newBuilder[(Long, Long)]
      val ix = x.iterator.buffered
      val iy = y.iterator.buffered
      var n = 0
      while (n < cap && (ix.hasNext || iy.hasNext)) {
        out += (if (!iy.hasNext) ix.next()
                else if (!ix.hasNext) iy.next()
                else if (beats(iy.head, ix.head)) iy.next()
                else ix.next())
        n += 1
      }
      out.result()
    }
    def finish(r: Seq[(Long, Long)]): Seq[(Long, Long)] = r
    def bufferEncoder: Encoder[Seq[(Long, Long)]] =
      ExpressionEncoder[Seq[(Long, Long)]]()
    def outputEncoder: Encoder[Seq[(Long, Long)]] = bufferEncoder
  }

  /** Deterministic per-key row cap: keep at most `cap` rows per key,
    * chosen in portable-hash order ([[hashBucket]], ties by id) — the
    * "no single domain may exceed N documents" rule, with membership a
    * pure function of the data (stable across runs, partitionings, and
    * engines; replayable as a SQL window twin).
    *
    * Scale shape: the cap-bounded combinable aggregator — partial
    * buffers never exceed `cap` entries, so the shuffle carries at most
    * cap rows per (map task, key) and no per-key sort ever runs (the
    * window-rank formulation shuffles and sorts EVERY row per key and
    * survives only as the oracle twin). Returns (key, rank, id); the
    * caller semi-joins on id to materialize full surviving rows —
    * output-proportional. */
  def capPerKey(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                keyCol: String, idCol: String, cap: Int): DataFrame = {
    import spark.implicits._
    val ds = df.select(sf.col(keyCol).cast("string").as("key"),
        sf.col(idCol).cast("long").as("id"),
        hashBucket(sf.col(idCol)).cast("long").as("h"))
      .as[CapRow]
    val agg = new CapAgg(cap).toColumn
    ds.groupByKey(_.key).agg(agg.name("kept"))
      .toDF("key", "kept")
      .select(sf.col("key").as(keyCol), sf.posexplode(sf.col("kept")).as(Seq("i", "e")))
      .select(sf.col(keyCol), (sf.col("i") + 1).cast("int").as("rank"),
        sf.col("e._2").as(idCol))
      .orderBy(keyCol, "rank")
  }

  /** Exact-k weighted sampling without replacement PER GROUP — the
    * stratified form of [[weightedTopK]]: each group keeps its own
    * Efraimidis-Spirakis top-k by the snapped u^(1/w) key ("the best
    * 5k docs of EVERY source by quality-weighted lottery"), with
    * membership a pure function of the data.
    *
    * Scale shape: the A-ES key is map-only; per-group selection rides
    * the k-bounded combinable Aggregator (Similarity.TopKAgg — partial
    * buffers never exceed k, map-side combine, shuffle carries at most
    * tasks × groups × k rows), NEVER the window-rank formulation that
    * shuffles and sorts every row per group — that shape survives only
    * as the SQL oracle twin. Group keys stay strings end to end (no
    * hash-the-group trick: a collision would silently merge two
    * groups' lotteries). The exact key_fx longs convert losslessly to
    * the aggregator's double slot (< 2^53). */
  def weightedTopKPerGroup(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                           groupCol: String, keyCol: String, weight: Column,
                           k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import spark.implicits._
    val h32 = sf.pmod(sf.col(keyCol).cast("long"), sf.lit(2147483648L)) *
      sf.lit(2654435761L) % sf.lit(4294967296L)
    val u = (h32 + 1L).cast("double") / 4294967296.0
    val keyFx = sf.floor(sf.pow(u, sf.lit(1.0) / weight.cast("double")) * 1e12 + 0.5)
      .cast("long")
    val ds = df.filter(weight.cast("double") > 0)
      .select(sf.col(groupCol).cast("string").as("_1"),
        sf.struct(sf.lit(0L).as("qId"), sf.col(keyCol).cast("long").as("nId"),
          keyFx.cast("double").as("cosine")).as("_2"))
      .as[(String, Similarity.Scored)]
    val agg = new Similarity.TopKAgg(k).toColumn
    ds.groupByKey(_._1).mapValues(_._2).agg(agg.name("topk"))
      .toDF("g", "topk")
      .select(sf.col("g"), sf.posexplode(sf.col("topk")).as(Seq("i", "sn")))
      .select(sf.col("g").as(groupCol), (sf.col("i") + 1).cast("int").as("rank"),
        sf.col("sn._2").as(keyCol), sf.col("sn._1").cast("long").as("key_fx"))
      .orderBy(groupCol, "rank")
  }

  /** Quantile normalization across groups: each (group, value) maps to
    * the GLOBAL value at the same within-group quantile — out =
    * Q_global(F_group(x)) with max-tie CDFs and nearest-rank inverse.
    * The cross-source score calibrator: per-source quality scores
    * become comparable before a global threshold or mixture cut, with
    * no parametric assumption.
    *
    * Exact integer formulation: F_group(x) = cum_g/n_g (max-tie),
    * Q_global(p) = min v with cum_N(v) >= p·N, so the target global
    * rank is k = ceil(cum_g·N/n_g) (integer div) and the lookup is
    * "which global value's rank interval [cum_N − c_N + 1, cum_N]
    * contains k" — rank intervals partition [1, N], so each row maps
    * to exactly one value. No division, no doubles. The product
    * cum_g·N stays exact while N < ~3e9 rows (long headroom);
    * larger corpora should pre-aggregate or sample before calibrating.
    *
    * Scale shape: (group, value) domain compression first (map-side
    * combine); the group CDF is a PARTITIONED window over the
    * compressed domain; the global CDF rides
    * [[StarSchema.globalPrefixSums]] (range-partitioned parallel
    * prefix sums — never a one-task window over a possibly huge value
    * domain); the rank lookup is the binned interval EQUI join
    * ([[EventOps.intervalJoin]]), never a BroadcastNestedLoop. Output
    * is domain-sized (group, value, n_rows, norm_value); callers join
    * back on (group, value) to map full rows. */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
                        binWidth: Long = 64): DataFrame = {
    val gv = graft.operators.Par.spread(
        df.select(sf.col(groupCol).as("__g"), sf.col(valueCol).cast("long").as("__v")))
      .filter(sf.col("__v").isNotNull)
      .groupBy("__g", "__v").agg(sf.count(sf.lit(1)).as("__c"))
      .localCheckpoint(true) // group CDF + global CDF both read it
    val gw = Window.partitionBy("__g").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gcum = gv
      .withColumn("__cum_g", sf.sum("__c").over(gw))
      .withColumn("__n_g", sf.sum("__c").over(Window.partitionBy("__g")))
    val gl = gv.groupBy("__v").agg(sf.sum("__c").as("__cn"))
    val glc = StarSchema.globalPrefixSums(gl, Seq("__v"), "__cn", "__cumN")
      .select(sf.col("__v").as("__nv"),
        (sf.col("__cumN") - sf.col("__cn") + 1).as("__lo"),
        sf.col("__cumN").as("__hi"))
    val nTot = gl.agg(sf.sum("__cn").cast("long").as("__n_tot"))
    val probes = gcum.crossJoin(sf.broadcast(nTot))
      .withColumn("__k", sf.expr("(__cum_g * __n_tot + __n_g - 1) div __n_g"))
    EventOps.intervalJoin(probes, glc, "__k", "__lo", "__hi", binWidth)
      .select(sf.col("__g").as(groupCol), sf.col("__v").as("value"),
        sf.col("__c").cast("long").as("n_rows"),
        sf.col("__nv").as("norm_value"))
      .orderBy(groupCol, "value")
  }

  /** Waterfill token-budget allocation across sources: split a total
    * training budget fairly — every source gets an equal share of the
    * remaining budget each round, CAPPED at its capacity, and freed
    * budget from small saturated sources re-flows to the big ones
    * (progressive filling / max-min fairness) — the principled answer
    * to "fill a 1B-token mix from 20 unequal sources" that a plain
    * equal split (starves big sources) or proportional split
    * (over-weights big sources) both get wrong. The allocation feeds
    * [[mixtureSample]] as per-source budgets.
    *
    * Exactness: capacities and allocations are integers; each round's
    * share is one floor division of the remaining budget by the
    * active-source count. A fixed `rounds` bound (the Lloyd-rounds
    * pattern) keeps the result a pure function of the inputs; R
    * rounds saturate at least the R smallest capacity levels, and 4-6
    * rounds allocate > 99% of any realistic budget.
    *
    * Scale shape: ONE corpus pass for per-source capacities (map-side
    * combine, output = |sources| rows), collected once; the rounds fold
    * on the driver ([[DriverFold]]) — nothing corpus-sized moves after
    * the first pass. More than 2^20 sources refuse, naming `sourceCol`
    * to coarsen. */
  def waterfillBudgets(df: DataFrame, sourceCol: String, weight: Column,
                       budget: Long, rounds: Int = 4): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(rounds >= 1 && rounds <= 16, s"rounds must be in [1, 16], got $rounds")
    val caps = df.groupBy(sf.col(sourceCol).as("source"))
      .agg(sf.sum(weight.cast("long")).as("cap"))
      .filter(sf.col("cap").isNotNull && sf.col("cap") > 0)
    val rows = DriverFold.collect(caps, "waterfillBudgets", sourceCol)
    val cap = rows.map(_.getLong(1))
    val alloc = new Array[Long](cap.length)
    for (_ <- 1 to rounds) {
      val active = cap.indices.count(i => alloc(i) < cap(i))
      val share = if (active > 0) math.max((budget - alloc.sum) / active, 0L) else 0L
      for (i <- cap.indices) alloc(i) = math.min(cap(i), alloc(i) + share)
    }
    DriverFold.frame(df, rows.indices.map(i => Row(rows(i).get(0), cap(i), alloc(i))),
        caps.schema("source"), StructField("cap", LongType), StructField("alloc", LongType))
      .select(sf.col("source"), sf.col("cap").as("capacity"),
        sf.col("alloc").as("allocation"),
        (sf.col("alloc") === sf.col("cap")).as("saturated"),
        graft.functions.roundAt(sf.col("alloc").cast("double") /
          sf.col("cap").cast("double"), 4).as("fill_frac"))
      .orderBy("source")
  }

  /** Deterministic uniform negative sampling for contrastive training
    * (the random-negatives side of the batch; [[graft.operators
    * .Similarity.hardNegatives]] is the mined-hard side): each anchor
    * draws `k` pseudo-random partners by hashing (anchor index, slot)
    * into the dense index space — uniform over the corpus, stable
    * under reruns and repartitioning, and engine-replayable (the q167
    * multiplicative-hash convention). A self-collision remaps to the
    * next index (deterministic, no resample loop); a same-label draw
    * is emitted WITH its `same_label` flag — the standard in-batch
    * false-negative contract, made visible so the loss can mask it.
    *
    * Scale shape: dense indices ride `globalDenseIds` (range-
    * partitioned parallel numbering, never a one-task window); the
    * k-slot explode is bounded fan-out; the negative lookup is one
    * hash equi join on the dense index. The corpus row count enters as
    * a plan-time scalar (the pageRank `n` convention). */
  def negativeSamples(df: DataFrame, idCol: String, labelCol: String,
                      k: Int = 4): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")
    val idx = StarSchema.globalDenseIds(
      df.select(sf.col(idCol).cast("long").as("id"), sf.col(labelCol).as("lbl")),
      Seq("id"), keyName = "__sk")
      .select(sf.col("id"), sf.col("lbl"), (sf.col("__sk") - 1).as("__idx"))
      .localCheckpoint(true) // anchors + negative lookup both read it
    val n = idx.count()
    require(n >= 2, s"need >= 2 rows to sample negatives, got $n")
    val anchors = idx.select(sf.col("id").as("anchor_id"),
        sf.col("lbl").as("anchor_lbl"), sf.col("__idx").as("__ai"))
      .withColumn("slot", sf.explode(sf.sequence(sf.lit(1L), sf.lit(k.toLong))))
    val u = (sf.pmod(sf.col("__ai") * 41 + sf.col("slot"), sf.lit(2147483648L)) *
      sf.lit(2654435761L)) % sf.lit(4294967296L)
    val cand0 = u % n
    val cand = sf.when(cand0 === sf.col("__ai"), (cand0 + 1) % n).otherwise(cand0)
    anchors.withColumn("__ni", cand)
      .join(idx.select(sf.col("__idx").as("__ni"), sf.col("id").as("neg_id"),
        sf.col("lbl").as("neg_lbl")), Seq("__ni"))
      .select(sf.col("anchor_id"), sf.col("slot"), sf.col("neg_id"),
        (sf.col("anchor_lbl") <=> sf.col("neg_lbl")).as("same_label"))
      .orderBy("anchor_id", "slot")
  }

  /** Temperature-scaled (alpha-sampling) source mixture — the
    * multilingual-LM recipe (XLM-R / mT5 convention, alpha ≈ 0.3):
    * source share ∝ n_s^alpha, so low-resource sources are up-weighted
    * relative to proportional sampling without the equal-split
    * starvation of the big ones. Sits between [[mixtureSample]]'s
    * explicit weights and [[waterfillBudgets]]'s max-min fairness:
    * temperature DERIVES the weights from the data. Quota = the exact
    * integer floor of budget·w_s/Σw, capped at capacity (no
    * redistribution — compose with waterfill when freed budget should
    * re-flow).
    *
    * Determinism: n_s^alpha snaps to a 1e-9 grid (the q190 pow
    * convention) making each weight an exact integer; quotas are exact
    * integer floor-divisions in 128-bit/DECIMAL(38,0) arithmetic —
    * order-free, engine-replayable; only the report ratios divide in
    * pinned doubles.
    *
    * Scale shape: ONE map-side-combinable count onto the bounded
    * source domain; everything after lives on that domain with a
    * broadcast one-row total. */
  def temperatureMix(docs: DataFrame, sourceCol: String, weight: Column,
                     budget: Long, alpha: Double = 0.3): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val counts = docs.filter(sf.col(sourceCol).isNotNull)
      .groupBy(sf.col(sourceCol).as("source"))
      .agg(sf.sum(weight.cast("long")).as("n_tokens"))
      .filter(sf.col("n_tokens") > 0)
    val w9 = sf.floor(sf.pow(sf.col("n_tokens").cast("double"), sf.lit(alpha)) *
      sf.lit(1e9) + 0.5).cast("long")
    val keyed = counts.withColumn("w9", w9)
    val totals = keyed.agg(sf.sum(dec(sf.col("w9"))).as("__sw9"))
    val quota = (dec(sf.lit(budget)) * dec(sf.col("w9")) -
      sf.pmod(dec(sf.lit(budget)) * dec(sf.col("w9")), sf.col("__sw9"))) /
      sf.col("__sw9")
    keyed.crossJoin(sf.broadcast(totals))
      .withColumn("quota", quota.cast("long"))
      .select(sf.col("source"), sf.col("n_tokens"), sf.col("w9"),
        sf.col("quota"),
        sf.least(sf.col("n_tokens"), sf.col("quota")).as("allocation"),
        (sf.least(sf.col("n_tokens"), sf.col("quota")) === sf.col("n_tokens"))
          .as("saturated"),
        graft.functions.roundAt(sf.col("w9").cast("double") /
          sf.col("__sw9").cast("double"), 6).as("share"),
        graft.functions.roundAt(
          sf.least(sf.col("n_tokens"), sf.col("quota")).cast("double") /
            sf.col("n_tokens").cast("double"), 4).as("sampled_frac"))
      .orderBy("source")
  }

  /** Class-rebalancing loss weights per label — the two standard
    * recipes side by side: inverse frequency N/(K·n_c), and the
    * class-balanced effective-number weight of Cui et al. 2019
    * (CVPR), w_c ∝ (1−β)/(1−β^{n_c}), normalized to sum to K — the
    * fix for "inverse frequency over-boosts tiny classes once samples
    * start overlapping in information". This is the label-side twin
    * of [[weightedHashSample]]'s row-side importance weighting: feed
    * either column to a trainer's loss or to the sampler.
    *
    * Determinism: counts are exact; β^{n_c} snaps to a 1e-9 grid (the
    * q128 pow convention), the reciprocal snaps to a 1e12-scaled
    * integer so the normalizing sum is ORDER-FREE integer addition,
    * and each output is one pinned IEEE division rounded at 1e-4.
    *
    * Scale shape: one map-side-combinable label-domain count + one
    * single-row total; everything after lives on the bounded label
    * domain. */
  def classWeights(df: DataFrame, labelCol: String,
                   beta: Double = 0.999): DataFrame = {
    require(beta > 0 && beta < 1, s"beta must be in (0, 1), got $beta")
    val counts = df.filter(sf.col(labelCol).isNotNull)
      .groupBy(sf.col(labelCol).as("label"))
      .agg(sf.count(sf.lit(1)).as("n"))
      .localCheckpoint(true) // totals + output both read it
    // (1 - beta^n) at 1e-9; reciprocal at 1e12 -> exact integer sums
    val en9 = sf.lit(1000000000L) -
      sf.floor(sf.pow(sf.lit(beta), sf.col("n")) * 1e9 + 0.5).cast("long")
    val r12 = sf.floor(sf.lit(1e12) / sf.col("en9") + 0.5).cast("long")
    val keyed = counts.select(sf.col("label"), sf.col("n"), en9.as("en9"))
      .select(sf.col("label"), sf.col("n"), r12.as("r12"))
    val totals = keyed.agg(sf.count(sf.lit(1)).as("k_classes"),
      sf.sum("n").as("n_total"), sf.sum("r12").as("s12"))
    keyed.crossJoin(sf.broadcast(totals))
      .select(sf.col("label"), sf.col("n"),
        graft.functions.roundAt(sf.col("n_total").cast("double") /
          (sf.col("k_classes") * sf.col("n")).cast("double"), 4).as("inv_freq_w"),
        graft.functions.roundAt(sf.col("k_classes").cast("double") * sf.col("r12") /
          sf.col("s12").cast("double"), 4).as("eff_num_w"))
      .orderBy("label")
  }

  /** Neyman optimal stratified-sample allocation (Neyman 1934) — the
    * survey-sampling answer to "how should a labeling/eval budget of k
    * rows split across sources": n_h ∝ N_h·S_h allocates MORE budget
    * to big AND internally-VARIABLE strata, minimizing the variance of
    * the stratified mean at fixed cost — where proportional
    * allocation (shown beside it) only sees size. A near-constant
    * stratum (boilerplate mirror) earns ~0 under Neyman no matter how
    * big — the budget insight this table exists to surface.
    *
    * Determinism: per-stratum moments are exact DECIMAL(38,0) on the
    * 1e-4 grid; the Neyman weight N_h·S_h snaps once to a 1e-2
    * integer (S from an IEEE sqrt of an exact ratio), so the
    * cross-strata total is an EXACT integer sum (no float sum across
    * strata — partition-order-proof) and both allocations are exact
    * integer floor divisions of the budget. Zero-variance strata get
    * weight 0, documented.
    *
    * Scale shape: one combinable per-stratum moment rollup + a
    * broadcast one-row total + a strata-domain finish. */
  def neymanAllocation(df: DataFrame, stratumCol: String, valueCol: String,
                       budget: Long = 1000L): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val v4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val per = df.filter(sf.col(stratumCol).isNotNull && sf.col(valueCol).isNotNull)
      .select(sf.col(stratumCol).cast("string").as("stratum"), v4.as("v"))
      .groupBy("stratum")
      .agg(sf.count(sf.lit(1)).as("n_rows"),
        sf.sum(dec(sf.col("v"))).as("__s"),
        sf.sum(dec(sf.col("v")) * dec(sf.col("v"))).as("__q"))
      .select(sf.col("stratum"), sf.col("n_rows"), {
        val n = sf.col("n_rows").cast("double")
        val num = (dec(sf.col("n_rows")) * sf.col("__q") -
          sf.col("__s") * sf.col("__s")).cast("double")
        // N_h * S_h on the 1e-4 value grid, snapped to a 1e-2 integer:
        // sd carries the 1e4 scale, so w2 = N·sd4/100 keeps 2 decimals
        sf.when(num > 0, sf.floor(n * sf.sqrt(num / (n * n)) / 100.0 + 0.5)
          .cast("long")).otherwise(0L).as("__w2")
      })
      .localCheckpoint(true) // totals + finish read it
    val tot = per.agg(sf.sum("n_rows").cast("long").as("__nn"),
      sf.sum("__w2").cast("long").as("__wt"))
    per.crossJoin(sf.broadcast(tot))
      .select(sf.col("stratum"), sf.col("n_rows"),
        graft.functions.roundAt(sf.col("__w2").cast("double") /
          sf.col("n_rows").cast("double") / 100.0, 4).as("stratum_sd"),
        graft.functions.roundAt(sf.col("n_rows").cast("double") /
          sf.col("__nn").cast("double"), 6).as("prop_share"),
        sf.when(sf.col("__wt") > 0, graft.functions.roundAt(
          sf.col("__w2").cast("double") / sf.col("__wt").cast("double"), 6))
          .as("neyman_share"),
        sf.expr(s"CAST(($budget * n_rows) DIV __nn AS BIGINT)").as("n_prop"),
        sf.when(sf.col("__wt") > 0,
          sf.expr(s"CAST(($budget * __w2) DIV __wt AS BIGINT)"))
          .otherwise(0L).as("n_neyman"))
      .orderBy("stratum")
  }

  /** Deterministic mixture-interleave schedule (Bresenham / largest-
    * remainder pacing) — materialize the GLOBAL TRAINING ORDER that
    * realizes target source weights locally, not just in expectation:
    * the j-th document of source s lands at slot ⌈j/w_s⌉, so every
    * prefix of the schedule holds each source within one item of its
    * target share — the property shuffled sampling (row 86 picks WHAT
    * to train on; this decides WHEN) only gives asymptotically, and
    * the curriculum/data-ordering contract reproducible training
    * runs need.
    *
    * Determinism: weights snap to 1e-6 once; within a source the
    * order is the id order; slots are exact integer arithmetic
    * ⌈j·10⁶/w₆⌉ = (j·10⁶ + w₆ − 1) div w₆ (holds to ~9·10¹² rows per
    * source on the long grid); slot collisions across sources break
    * by (slot, source, rank) — fully integer-decided.
    *
    * Scale shape: NO per-source window over raw rows — per-source
    * ranks come from ONE range-partitioned global prefix sum (row 135
    * machinery) minus broadcast source offsets (bounded domain), and
    * the final contiguous position is a second prefix-sum pass over
    * (slot, source, rank). Two range shuffles total, both linear. */
  def mixtureInterleave(docs: DataFrame, sourceCol: String, idCol: String,
                        weights: Seq[(String, Double)]): DataFrame = {
    require(weights.nonEmpty && weights.map(_._1).distinct.size == weights.size
      && weights.forall(_._2 > 0), "weights: distinct sources, all > 0")
    // A weight below 5e-7 snaps to __w6 = 0 on the 1e-6 grid and the
    // slot expression `div __w6` divides by zero at runtime — reject
    // at the API instead, on the SNAPPED value the plan actually uses.
    require(weights.forall { case (_, w) => math.floor(w * 1e6 + 0.5) >= 1 },
      "weights: every weight must be >= 5e-7 (snaps to a positive 1e-6 grid value)")
    val spark = docs.sparkSession
    import spark.implicits._
    val wdf = weights.map { case (s, w) =>
      (s, math.floor(w * 1e6 + 0.5).toLong) }.toDF("__ws", "__w6")
    val rows = docs.filter(sf.col(sourceCol).isNotNull && sf.col(idCol).isNotNull)
      .select(sf.col(sourceCol).cast("string").as("__s"), sf.col(idCol).as("__id"))
      .join(sf.broadcast(wdf), sf.col("__s") === sf.col("__ws"))
      .select(sf.col("__s"), sf.col("__id"), sf.col("__w6"))
    val ranked = StarSchema.globalPrefixSums(
      rows.withColumn("__one", sf.lit(1L)), Seq("__s", "__id"), "__one", "__grk")
    val counts = rows.groupBy(sf.col("__s").as("__cs"))
      .agg(sf.count(sf.lit(1)).as("__cn"))
    val wo = Window.partitionBy(sf.pmod(sf.hash(sf.col("__cs")), sf.lit(1)))
      .orderBy("__cs")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = counts
      .withColumn("__off", sf.sum("__cn").over(wo) - sf.col("__cn"))
      .select("__cs", "__off")
    val slotted = ranked.join(sf.broadcast(offsets), sf.col("__s") === sf.col("__cs"))
      .select(sf.col("__s"), sf.col("__id"), sf.col("__w6"),
        (sf.col("__grk") - sf.col("__off")).as("rank_in_source"))
      .withColumn("slot", sf.expr(
        "CAST((rank_in_source * 1000000 + __w6 - 1) div __w6 AS BIGINT)"))
    StarSchema.globalPrefixSums(
        slotted.withColumn("__one", sf.lit(1L)),
        Seq("slot", "__s", "rank_in_source"), "__one", "global_pos")
      .select(sf.col("__id").as(idCol), sf.col("__s").as(sourceCol),
        sf.col("rank_in_source"), sf.col("slot"), sf.col("global_pos"))
      .orderBy("global_pos")
  }
}
