package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.{functions => sf}
import graft.{functions => gf}

/** Graph analytics over relational co-occurrence data: basket-style
  * pair mining (association lift) and fixed-point PageRank. The
  * reference pipeline has no graph surface; these are the two graph
  * shapes a training-data/analytics engine actually needs — "what
  * co-occurs" (recommendation, collocation beyond adjacent terms) and
  * "what is central" (link-graph quality priors a la Common Crawl
  * curation).
  *
  * Everything is DataFrame-declarative: pair enumeration explodes
  * WITHIN a basket (fan-out bounded by basket size, never all-pairs
  * across baskets), and PageRank iterations are key-partitioned
  * join+agg rounds whose shuffle volume is |edges| per round.
  */
object Graph {

  /** Distinct (basket, item) pairs — the input normalization both
    * operators share. One shuffle with map-side combine. */
  private def baskets(df: DataFrame, basketCol: String, itemCol: String): DataFrame =
    df.select(sf.col(basketCol).as("basket"), sf.col(itemCol).as("item")).distinct()

  /** The bare pair-mining funnel: every unordered item pair {a, b}
    * (item_a < item_b) co-occurring in >= `minPairCount` baskets, with
    * its co-count `c_ab`. This is the SHARED upstream of the whole
    * graph family — [[minedEdges]] / [[minedWeightedEdges]] / the
    * iterative operators consume it directly, and [[cooccurrenceLift]]
    * layers the per-item margins + lift on top. Keeping the bare
    * funnel join-free and SORT-FREE matters at scale: the pair domain
    * is easily 1e9+ rows at 100 TB, and edge consumers (PageRank,
    * k-core, BFS, ...) need neither the item-count joins nor any
    * global order — only the lift report does.
    *
    * Scale shape: baskets collapse to distinct (basket, item) once
    * (map-side combine), each basket's sorted item array expands to
    * its own pairs with builtin HOFs (fan-out bounded by basket size,
    * NEVER a cross-basket product), then ONE pair-keyed count with
    * map-side partial aggregation. No joins, no sort. */
  def minedPairs(df: DataFrame, basketCol: String, itemCol: String,
                 minPairCount: Long = 2): DataFrame = {
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    // no pre-distinct: collect_set dedups within the basket, so the
    // bare funnel is exactly TWO exchanges (basket agg, pair count)
    pairCounts(df.select(sf.col(basketCol).as("basket"),
      sf.col(itemCol).as("item")), minPairCount)
  }

  /** (item_a, item_b, c_ab) pair counts from a (basket, item) frame
    * (duplicates tolerated — collect_set dedups) — the body
    * [[minedPairs]] and [[cooccurrenceLift]] share; the lift path
    * passes its already-distinct frame so one scan feeds pairs AND
    * margins. */
  private def pairCounts(b: DataFrame, minPairCount: Long): DataFrame = {
    val arrs = b.groupBy("basket")
      .agg(sf.sort_array(sf.collect_set(sf.col("item"))).as("items"))
      .filter(sf.size(sf.col("items")) >= 2)
    // pairs via nested transform: for i < j emit (items[i], items[j]);
    // sort_array makes item_a < item_b deterministic.
    val pairs = arrs.select(sf.explode(sf.flatten(
      sf.expr("""transform(items, (x, i) ->
                   transform(slice(items, i + 2, size(items) - i - 1),
                             y -> struct(x as item_a, y as item_b)))"""))).as("p"))
      .select(sf.col("p.item_a"), sf.col("p.item_b"))
    pairs.groupBy("item_a", "item_b").agg(sf.count(sf.lit(1)).as("c_ab"))
      .filter(sf.col("c_ab") >= minPairCount)
  }

  /** Apriori frequent itemsets up to size 3 (Agrawal & Srikant 1994's
    * pruning, the flat-shuffle shape): all items, pairs, and triples
    * co-occurring in ≥ `minSupport` baskets — the raw material behind
    * [[associationRules]] (which reads only pairs) when the question
    * is bundle-shaped ("which THREE parts ship together"). Apriori
    * downward closure is applied where it pays: items below support
    * leave the baskets BEFORE any expansion (every frequent pair/triple
    * is made of frequent items), so the per-basket fan-out runs over
    * the pruned item lists; the pair/triple counts themselves are
    * exact direct counts (monotonicity makes an L2-membership pre-pass
    * a work-saving, not a correctness, device — at TPC-H-ish basket
    * sizes the cubic fan-out of a pruned basket is trivially bounded).
    *
    * Contract: per-basket expansion is O(size³/6) — baskets larger
    * than `maxBasketSize` ABORT with guidance (pre-segment or raise
    * knowingly), because one 10⁵-item basket is 1.7e14 triples and no
    * cluster survives that silently.
    *
    * Determinism: distinct (basket, item) support counts are exact;
    * items render as strings in the unified (size, item_a..c, support)
    * schema; ordering (size, items) is total — NULL item slots only
    * ever tie within a size class.
    *
    * Scale shape: one basket collapse (map-side combine), builtin-HOF
    * in-basket expansion (NEVER a cross-basket product), one combinable
    * count per itemset size. No joins anywhere in the counting path. */
  def frequentItemsets(df: DataFrame, basketCol: String, itemCol: String,
                       minSupport: Long = 2,
                       maxBasketSize: Int = 4096): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(maxBasketSize >= 2 && maxBasketSize <= 1000000,
      s"maxBasketSize must be in [2, 1e6], got $maxBasketSize")
    val b = baskets(df, basketCol, itemCol)
      .select(sf.col("basket"), sf.col("item").cast("string").as("item"))
      .localCheckpoint(true) // L1 + pruned expansion both read it
    val l1 = b.groupBy("item").agg(sf.count(sf.lit(1)).as("c"))
      .filter(sf.col("c") >= minSupport)
      .localCheckpoint(true) // output + prune both read it
    val arrs = b.join(l1.select("item"), Seq("item"), "left_semi")
      .groupBy("basket")
      .agg(sf.sort_array(sf.collect_set(sf.col("item"))).as("items"))
      .select(sf.when(sf.size(sf.col("items")) > maxBasketSize,
          sf.raise_error(sf.concat(sf.lit("frequentItemsets: basket "),
            sf.col("basket").cast("string"),
            sf.lit(s" has more than maxBasketSize=$maxBasketSize frequent" +
              " items after L1 pruning — cubic expansion would explode;" +
              " segment the basket or raise maxBasketSize knowingly"))))
        .otherwise(sf.col("items")).as("items"))
      .localCheckpoint(true) // pair + triple expansions both read it
    val pairs = arrs.filter(sf.size(sf.col("items")) >= 2)
      .select(sf.explode(sf.flatten(
        sf.expr("""transform(items, (x, i) ->
                     transform(slice(items, i + 2, size(items) - i - 1),
                               y -> struct(x as item_a, y as item_b)))"""))).as("p"))
      .groupBy("p.item_a", "p.item_b").agg(sf.count(sf.lit(1)).as("c"))
      .filter(sf.col("c") >= minSupport)
    val triples = arrs.filter(sf.size(sf.col("items")) >= 3)
      .select(sf.explode(sf.flatten(sf.flatten(
        sf.expr("""transform(items, (x, i) ->
                     transform(slice(items, i + 2, size(items) - i - 1), (y, j) ->
                       transform(slice(items, i + j + 3, size(items) - i - j - 2),
                                 z -> struct(x as item_a, y as item_b,
                                             z as item_c))))""")))).as("p"))
      .groupBy("p.item_a", "p.item_b", "p.item_c")
      .agg(sf.count(sf.lit(1)).as("c"))
      .filter(sf.col("c") >= minSupport)
    val nullS = sf.lit(null).cast("string")
    l1.select(sf.lit(1).as("size"), sf.col("item").as("item_a"),
        nullS.as("item_b"), nullS.as("item_c"), sf.col("c").as("support"))
      .unionAll(pairs.select(sf.lit(2).as("size"), sf.col("item_a"),
        sf.col("item_b"), nullS.as("item_c"), sf.col("c").as("support")))
      .unionAll(triples.select(sf.lit(3).as("size"), sf.col("item_a"),
        sf.col("item_b"), sf.col("item_c"), sf.col("c").as("support")))
      .orderBy("size", "item_a", "item_b", "item_c")
  }

  /** The mined co-occurrence graph as a directed (src, dst) edge list
    * (both directions per undirected pair): the pair-mining funnel
    * every graph operator here starts from, exposed so a PIPELINE can
    * mine once, persist, and feed all of [[kCore]] /
    * [[personalizedPageRank]] / [[bfsHops]] etc. via their `*FromEdges`
    * variants instead of paying the funnel per operator (the bench
    * times each operator standalone by design — see SURVEY §6).
    * Rides the bare [[minedPairs]] funnel: no item-count joins, no
    * global sort — the plan is scan → basket collapse → pair count →
    * mirror. */
  def minedEdges(df: DataFrame, basketCol: String, itemCol: String,
                 minPairCount: Long = 2): DataFrame = {
    val pairs = minedPairs(df, basketCol, itemCol, minPairCount)
      .select(sf.col("item_a"), sf.col("item_b"))
    pairs.select(sf.col("item_a").as("src"), sf.col("item_b").as("dst"))
      .union(pairs.select(sf.col("item_b").as("src"), sf.col("item_a").as("dst")))
  }

  /** Item co-occurrence with association lift.
    *
    * For every unordered item pair {a, b} appearing in at least
    * `minPairCount` common baskets: the co-count, the per-item basket
    * counts, and lift = n_baskets * c_ab / (c_a * c_b) (> 1 means the
    * pair co-occurs more than independence predicts).
    *
    * Scale shape: baskets collapse to distinct (basket, item) once
    * (map-side combine), then each basket's sorted item array expands
    * to its own pairs with builtin HOFs — fan-out is bounded by the
    * basket size (s*(s-1)/2), NEVER a cross-basket product. Pair
    * counts shuffle as one row per distinct pair after partial
    * aggregation; the two item-count joins are plain equi joins AQE
    * broadcasts when the item dimension is small. Lift is assembled
    * in one pinned double expression from exact integer counts.
    */
  def cooccurrenceLift(df: DataFrame, basketCol: String, itemCol: String,
                       minPairCount: Long = 2): DataFrame = {
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    val b = baskets(df, basketCol, itemCol)
    val cAb = pairCounts(b, minPairCount)
    val cItem = b.groupBy("item").agg(sf.count(sf.lit(1)).as("c_item"))
    val nB = b.select(sf.countDistinct(sf.col("basket")).as("n_baskets"))
    cAb
      .join(cItem.select(sf.col("item").as("item_a"), sf.col("c_item").as("c_a")), "item_a")
      .join(cItem.select(sf.col("item").as("item_b"), sf.col("c_item").as("c_b")), "item_b")
      .crossJoin(nB)
      .select(
        sf.col("item_a"), sf.col("item_b"), sf.col("c_ab"),
        sf.col("c_a"), sf.col("c_b"),
        gf.roundAt(sf.col("n_baskets").cast("double") * sf.col("c_ab") /
          (sf.col("c_a").cast("double") * sf.col("c_b")), 4).as("lift"))
      .orderBy("item_a", "item_b")
  }

  /** DIRECTED association rules a → b over the mined co-occurrence
    * pairs — the full Agrawal/Srikant rule readout [[cooccurrenceLift]]
    * stops short of (lift is symmetric; rules are not): for each
    * direction of every surviving pair,
    *
    *   support    = c_ab / n,   confidence = c_ab / c_a,
    *   lift       = n·c_ab / (c_a·c_b),
    *   leverage   = c_ab/n − (c_a/n)(c_b/n),
    *   conviction = (1 − c_b/n) / (1 − c_ab/c_a)   (NULL when conf = 1)
    *
    * — confidence answers "given a, how often b", conviction grades
    * the rule's directional strength where lift can't tell a→b from
    * b→a. The standard basket-analysis follow-up once lift flags a
    * pair.
    *
    * Determinism: all inputs are exact integer counts; every measure
    * is ONE pinned double assembly rounded 1e-6; the k-row cut orders
    * by (conviction's NULLS LAST would be engine-dependent, so) lift
    * desc, item_a, item_b — fully tie-deterministic TakeOrdered,
    * never a global sort materialization.
    *
    * Scale shape: the [[minedPairs]] funnel + two AQE-sized item-count
    * equi joins + a broadcast one-row basket count + a 2× direction
    * mirror + TakeOrdered(k). */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
                       minPairCount: Long = 2, topK: Int = 100): DataFrame = {
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    require(topK >= 1 && topK <= 100000, s"topK must be in [1, 1e5], got $topK")
    val b = baskets(df, basketCol, itemCol)
    val cAb = pairCounts(b, minPairCount)
    val cItem = b.groupBy("item").agg(sf.count(sf.lit(1)).as("c_item"))
    val nB = b.select(sf.countDistinct(sf.col("basket")).as("n"))
    val undirected = cAb
      .join(cItem.select(sf.col("item").as("item_a"), sf.col("c_item").as("c_a")), "item_a")
      .join(cItem.select(sf.col("item").as("item_b"), sf.col("c_item").as("c_b")), "item_b")
    val directed = undirected
      .select(sf.col("item_a").as("ante"), sf.col("item_b").as("cons"),
        sf.col("c_ab"), sf.col("c_a").as("c_ante"), sf.col("c_b").as("c_cons"))
      .union(undirected
        .select(sf.col("item_b").as("ante"), sf.col("item_a").as("cons"),
          sf.col("c_ab"), sf.col("c_b").as("c_ante"), sf.col("c_a").as("c_cons")))
    val n = sf.col("n").cast("double")
    val conf = sf.col("c_ab").cast("double") / sf.col("c_ante").cast("double")
    directed.crossJoin(sf.broadcast(nB))
      .select(sf.col("ante"), sf.col("cons"), sf.col("c_ab"),
        sf.col("c_ante"), sf.col("c_cons"),
        gf.roundAt(sf.col("c_ab").cast("double") / n, 6).as("support"),
        gf.roundAt(conf, 6).as("confidence"),
        gf.roundAt(n * sf.col("c_ab") /
          (sf.col("c_ante").cast("double") * sf.col("c_cons")), 6).as("lift"),
        gf.roundAt(sf.col("c_ab").cast("double") / n -
          (sf.col("c_ante").cast("double") / n) *
          (sf.col("c_cons").cast("double") / n), 6).as("leverage"),
        sf.when(sf.col("c_ab") < sf.col("c_ante"), gf.roundAt(
          (sf.lit(1.0) - sf.col("c_cons").cast("double") / n) /
            (sf.lit(1.0) - conf), 6)).as("conviction"))
      .orderBy(sf.col("lift").desc, sf.col("ante"), sf.col("cons"))
      .limit(topK)
  }

  /** PageRank over the undirected co-occurrence graph, `iters` rounds
    * of the damped update in EXACT integer fixed-point — every rank is
    * a BIGINT at scale 1e12, all updates are integer floor divisions,
    * so the result is bit-identical at any parallelism and replayable
    * verbatim in any engine (the oracle unrolls the same integer
    * recurrence):
    *
    *   r0(v)   = SCALE div n
    *   r_k+1(v) = (15 * SCALE) div (100 * n)
    *            + (85 * sum_{u -> v} (r_k(u) div outdeg(u))) div 100
    *
    * Edges are item pairs sharing >= `minPairCount` baskets, emitted in
    * both directions; an undirected co-occurrence graph has no dangling
    * nodes (every node in the graph has >= 1 edge).
    *
    * Scale shape: each round is one equi join (ranks x edges on the
    * source, outdeg pre-attached to the edge table) plus one
    * destination-keyed sum — shuffle volume is |edges| rows per round,
    * partially aggregated map-side. At cluster scale the edge table
    * would be cached pre-partitioned on src so only ranks move between
    * rounds; iteration count is a fixed small constant (PageRank on
    * link graphs converges to curation-useful precision in O(10)
    * rounds). Ranks stay scaled BIGINTs end-to-end — no doubles
    * anywhere, nothing to round.
    */
  def pageRank(df: DataFrame, basketCol: String, itemCol: String,
               minPairCount: Long = 2, iters: Int = 3): DataFrame =
    rankLoop(minedEdges(df, basketCol, itemCol, minPairCount), _ => sf.lit(true),
      iters, weighted = false, symmetric = true,
      "pageRank: graph is empty at this minPairCount")

  /** Node-count cap under which the per-round rank/score frame of an
    * iterative graph loop is small enough to broadcast — below it the
    * planner broadcasts the rank side and the persisted edge table is
    * never shuffled, so pre-partitioning would only add an exchange.
    * Above it the per-round joins fall back to sort-merge/shuffled
    * hash, and persisting the loop-invariant edge table ALREADY
    * hash-partitioned (and sorted) on the join key removes the |E|
    * shuffle+sort from every round (guide §2.4: two operations keyed
    * the same way share one exchange). Parameterised for clusters via
    * `spark.graft.loop.broadcastNodeCap`; the default (4M nodes ≈
    * 100 MB of (item, rank) rows) keeps local bench plans unchanged. */
  private def broadcastNodeCap(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.loop.broadcastNodeCap")
      .map(_.toLong).getOrElse(4000000L)

  /** How many loop rounds may accumulate persisted frames before a
    * loop cuts lineage with an eager checkpoint and frees the
    * superseded ones. Eager per-round counts measured 1-2s/query of
    * pure job overhead on the bench's 3-round standalone runs, so the
    * discipline is BATCHED: at most `UnpersistBatch` round frames are
    * ever cached beyond the live one, and a default-round run
    * (3 <= 5) pays zero extra jobs. */
  private val UnpersistBatch = 5

  /** True when the caller handed this loop an ALREADY-persisted frame
    * (the mine-once `*FromEdges` pipeline idiom): its cache is the
    * caller's to free — the loop must not unpersist it at cleanup. */
  private def callerCached(df: DataFrame): Boolean =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE

  /** The gate's default node figure: ±2 % HLL distinct counts of the
    * per-round join keys, the larger one (a threshold read, not a
    * result — an edges/2 proxy measured 20× over on dense mined graphs
    * and fired the gate an order of magnitude early). */
  private def nodeEstimate(keys: Seq[String]): Column =
    keys.map(k => sf.approx_count_distinct(sf.col(k))).reduce(sf.greatest(_, _))

  /** The scaffolding one iterative-operator call owns (see [[loop]]):
    * the loop-invariant edge frame, the round frames it persists, and
    * the lineage cut every `UnpersistBatch` rounds. */
  private final class Loop {
    private val owned = scala.collection.mutable.Buffer.empty[DataFrame]   // freed at the end
    private val pending = scala.collection.mutable.Buffer.empty[DataFrame] // freed at the next cut
    private var byKey = Map.empty[String, DataFrame]

    /** Persist the edge frame (unless the caller already did) and run
      * ONE probe aggregate over it: column 0 is the gate's node figure,
      * the rest are the scalars the recurrence needs (n, |S|, d_max).
      * The probe reads the just-persisted cache the first round would
      * materialize anyway (plan-stats `rowCount` is None for
      * parquet-derived frames, so a stats gate could never fire). Above
      * [[broadcastNodeCap]] the edges are re-persisted
      * hash-partitioned+sorted once per join key in `keys`, so no round
      * re-shuffles or re-sorts |E| rows. */
    def prepare(edges0: DataFrame, keys: String*)(
        probe: DataFrame => DataFrame = _.agg(nodeEstimate(keys))): Row = {
      val mine = !callerCached(edges0)
      val plain = if (mine) own(edges0) else edges0
      val stats = probe(plain).head()
      byKey =
        if (stats.getLong(0) <= broadcastNodeCap(plain.sparkSession))
          keys.map(_ -> plain).toMap
        else {
          val parted = keys.map(k =>
            k -> own(plain.repartition(sf.col(k)).sortWithinPartitions(k)))
          parted.foreach(_._2.count()) // materialize from the plain cache before freeing it
          if (mine) { plain.unpersist(); owned -= plain }
          parted.toMap
        }
      stats
    }

    /** [[prepare]] for a loop seeded from a node frame on the src key:
      * `derive` builds the node frame from an edge frame, and the
      * probe — `count(1)`, the gate's node figure, then `stats` — runs
      * over it. A `persisted` node frame (a general path's per-round
      * merge side) is persisted inside the probe, after the edge cache
      * exists, so the one probe job fills both caches (a cache first
      * touched inside a round plan costs one materialization job per
      * reference); otherwise it is re-derived from the prepared edges. */
    def prepareNodes(edges0: DataFrame, persisted: Boolean,
                     derive: DataFrame => DataFrame, stats: Column*): (Row, DataFrame) = {
      val kept = if (persisted) Some(derive(edges0)) else None
      val row = prepare(edges0, "src")(p =>
        kept.fold(derive(p))(own).agg(sf.count(sf.lit(1)), stats: _*))
      (row, kept.getOrElse(derive(edges("src"))))
    }

    /** The prepared edge frame for a round join on `key`. */
    def edges(key: String): DataFrame = byKey(key)

    /** Persist a frame every round reads; freed when the call ends. */
    def own(df: DataFrame): DataFrame = { owned += df; df.persist() }

    /** Persist a round frame; freed at the next lineage cut. */
    def keep(df: DataFrame): DataFrame = { pending += df; df.persist() }

    /** `rounds` synchronous steps from `init`. Every `UnpersistBatch`
      * rounds short of the last, the state is materialized with an
      * eager localCheckpoint — CUTTING LINEAGE: a frame read twice per
      * round doubles the plan tree every round, and the analyzer and
      * every AQE plan-description event walk it — and every frame
      * `keep` persisted since is freed. */
    def iterateAll(rounds: Int, init: Seq[DataFrame])(
        step: Seq[DataFrame] => Seq[DataFrame]): Seq[DataFrame] =
      (1 to rounds).foldLeft(init) { (state, r) =>
        val next = step(state)
        if (r % UnpersistBatch != 0 || r == rounds) next
        else {
          val cut = next.map(_.localCheckpoint(true))
          pending.foreach(_.unpersist()); pending.clear()
          cut
        }
      }

    def iterate(rounds: Int, init: DataFrame)(step: DataFrame => DataFrame): DataFrame =
      iterateAll(rounds, Seq(init))(s => Seq(step(s.head))).head

    def release(): Unit = {
      (pending ++ owned).foreach(_.unpersist())
      pending.clear(); owned.clear()
    }
  }

  /** A loop's node frame (item): the src set, or with `withDst` the
    * union(src, dst), so a node that only receives edges of an
    * asymmetric pre-mined list still gets a row. */
  private def nodesOf(withDst: Boolean)(e: DataFrame): DataFrame =
    (if (withDst) e.select(sf.col("src").as("item")).union(e.select(sf.col("dst").as("item")))
     else e.select(sf.col("src").as("item"))).distinct()

  /** Run one iterative operator: `body` builds the node-sized result,
    * which is materialized UNSORTED with one eager checkpoint (the
    * global sort runs once, in the consumer's action), then every frame
    * the loop persisted is freed — on the throw path too. A
    * caller-persisted edge frame stays cached. */
  private def loop(body: Loop => DataFrame): DataFrame = {
    val lp = new Loop
    try body(lp).localCheckpoint(true) finally lp.release()
  }

  /** WEIGHTED PageRank — [[pageRank]] with each node's rank split
    * across out-edges in proportion to CO-OCCURRENCE STRENGTH instead
    * of uniformly: a part that co-occurs 50× with one partner and
    * once with another sends 50/51 of its endorsement to the first —
    * the influence reading the unweighted walk flattens (uniform
    * split treats a freak one-basket pairing like a core bundle).
    *
    * Determinism: the same exact 1e12 integer fixed point as row 157,
    * with the weighted split (rank·w) div W_u computed in
    * DECIMAL(38,0) before the floor division (rank·w can exceed
    * int64); weights are the exact mined pair counts, W_u their exact
    * out-sum. `iters` bounds the walk explicitly.
    *
    * Scale shape: identical to row 157 — |edges| shuffle per round,
    * loop invariants persisted; the weight column rides the same
    * join. */
  def pageRankWeighted(df: DataFrame, basketCol: String, itemCol: String,
                       minPairCount: Long = 2, iters: Int = 3): DataFrame = {
    val pairs = minedPairs(df, basketCol, itemCol, minPairCount)
    val edges = pairs.select(sf.col("item_a").as("src"),
        sf.col("item_b").as("dst"), sf.col("c_ab").as("w"))
      .union(pairs.select(sf.col("item_b").as("src"),
        sf.col("item_a").as("dst"), sf.col("c_ab").as("w")))
    rankLoop(edges, _ => sf.lit(true), iters, weighted = true, symmetric = true,
      "pageRankWeighted: graph is empty at this minPairCount")
  }

  /** Personalized PageRank: [[pageRank]] with the restart (teleport)
    * mass concentrated on a SEED set instead of spread uniformly —
    * rank becomes "centrality relative to the seeds", the
    * related-item / similar-page primitive behind graph-based
    * recommendation and seed-expansion curation ("give me everything
    * that co-occurs tightly with this trusted set"). Identical exact
    * integer fixed-point recurrence, only the base term changes:
    *
    *   r0(v)    = v in S ? SCALE div |S| : 0
    *   r_k+1(v) = (v in S ? (15·SCALE) div (100·|S|) : 0)
    *            + (85 · sum_{u -> v} (r_k(u) div outdeg(u))) div 100
    *
    * Non-seed nodes with no inbound rank stay at exactly 0 and are
    * still emitted — the zero rows ARE the signal ("unreachable from
    * the seeds within the damped walk").
    *
    * Scale shape: identical to [[pageRank]] — |edges| shuffle per
    * round, seed membership rides the node table as a boolean, |S| is
    * the one plan-time scalar. */
  def personalizedPageRank(df: DataFrame, basketCol: String, itemCol: String,
                           seedPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                           minPairCount: Long = 2, iters: Int = 3): DataFrame =
    rankLoop(minedEdges(df, basketCol, itemCol, minPairCount), seedPred, iters,
      weighted = false, symmetric = true,
      "personalizedPageRank: seed set is empty on this graph")

  /** [[personalizedPageRank]] over a pre-mined edge list. */
  def personalizedPageRankFromEdges(edges: DataFrame,
                                    seedPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                                    iters: Int = 3): DataFrame =
    rankLoop(edges, seedPred, iters, weighted = false, symmetric = false,
      "personalizedPageRank: seed set is empty on this graph")

  /** The exact fixed-point recurrence behind the PageRank family:
    * [[pageRank]] is the all-seed case (|S| = n), `weighted` edges
    * carry `w` and split rank in proportion to it — (rank·w) div W_u
    * in DECIMAL(38,0), since rank·w can exceed int64 — instead of
    * rank div outdeg. Ranks are re-derived from the aggregated
    * contributions; seed membership is a pure expression of the node
    * id, so it is evaluated inline, never joined. `symmetric` edge
    * lists (both directions of every mined pair) give every node
    * in-edges every round, so the per-round `nodes LEFT JOIN contrib`
    * merge a general pre-mined list needs (nodes without in-edges keep
    * their base term) is dropped — PprSymmetricSpec pins the two paths
    * equal. The probe job counts |S| over the node frame. */
  private def rankLoop(edges: DataFrame, seedPred: Column => Column, iters: Int,
                       weighted: Boolean, symmetric: Boolean, empty: String): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters must be in [1, 20], got $iters")
    val SCALE = 1000000000000L // 1e12
    val (out, split) =
      if (weighted) (sf.sum("w").cast("long"),
        "CAST((CAST(rank_fx AS DECIMAL(38,0)) * w) DIV out AS BIGINT)")
      else (sf.count(sf.lit(1)), "rank_fx div out")
    val seed = seedPred(sf.col("item"))
    loop { lp =>
      val (stats, nodes) = lp.prepareNodes(
        edges.join(edges.groupBy("src").agg(out.as("out")), "src"), !symmetric,
        nodesOf(withDst = false), sf.count(sf.when(seed, 1)))
      val nSeeds = stats.getLong(1)
      require(nSeeds > 0, empty)
      val e = lp.edges("src")
      val base = (15L * SCALE) / (100L * nSeeds)
      val ranks0 = nodes.select(sf.col("item"),
        sf.when(seed, SCALE / nSeeds).otherwise(0L).as("rank_fx"))
      lp.iterate(iters, ranks0) { ranks =>
        val contrib = e.join(ranks, sf.col("src") === sf.col("item"))
          .select(sf.col("dst"), sf.expr(split).as("c"))
          .groupBy("dst").agg(sf.sum(sf.col("c")).as("s"))
        val merged =
          if (symmetric) contrib.select(sf.col("dst").as("item"), sf.col("s"))
          else nodes.join(contrib, sf.col("item") === sf.col("dst"), "left")
        merged.select(sf.col("item"), (sf.when(seed, base).otherwise(0L) +
          sf.expr("(85 * coalesce(s, 0L)) div 100")).as("rank_fx"))
      }
    }.orderBy(sf.col("rank_fx").desc, sf.col("item"))
  }

  /** Multi-source BFS hop distance, bounded rounds: dist(v) = length
    * of the shortest path from the seed SET (0 for seeds), NULL past
    * `rounds` hops — "how far is everything from the trusted core",
    * the expansion-frontier companion of [[personalizedPageRank]]
    * (hops answer reachability-in-k, PPR answers affinity). Each
    * round relaxes every edge once, synchronously: dist_k(v) =
    * min(dist_{k-1}(v), min over u->v of dist_{k-1}(u) + 1) — after k
    * rounds distances <= k are EXACT (BFS layer k is final by
    * induction), so a fixed bound is a contract ("within 3 hops"),
    * not an approximation error.
    *
    * Scale shape: per round ONE equi join of the frontier against the
    * edge list + one destination-keyed combinable min — |edges|
    * shuffle rows per round, no windows; at cluster scale the edge
    * table sits cache-partitioned on src and only distances move. */
  def bfsHops(df: DataFrame, basketCol: String, itemCol: String,
              seedPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
              minPairCount: Long = 2, rounds: Int = 3): DataFrame =
    bfsHopsFromEdges(minedEdges(df, basketCol, itemCol, minPairCount),
      seedPred, rounds)

  /** [[bfsHops]] over a pre-mined edge list. */
  /** Co-occurrence edges with an integer traversal cost: weight =
    * 1000000 div pairCount, so frequently co-occurring items are
    * "close" and rare links are expensive — the standard
    * strength-to-cost inversion. Exact integer division; the same
    * mined funnel as [[minedEdges]], mirrored both directions. */
  def minedWeightedEdges(df: DataFrame, basketCol: String, itemCol: String,
                         minPairCount: Long = 2): DataFrame = {
    val pairs = minedPairs(df, basketCol, itemCol, minPairCount)
      .select(sf.col("item_a"), sf.col("item_b"),
        sf.expr("CAST(1000000 DIV c_ab AS BIGINT)").as("w"))
    pairs.select(sf.col("item_a").as("src"), sf.col("item_b").as("dst"), sf.col("w"))
      .union(pairs.select(sf.col("item_b").as("src"), sf.col("item_a").as("dst"),
        sf.col("w")))
  }

  /** Single-source-set WEIGHTED shortest paths (bounded-round
    * Bellman–Ford) over the mined co-occurrence graph — the weighted
    * twin of [[bfsHops]]: distance = cheapest total edge cost from any
    * seed, exact for paths of <= `rounds` edges, NULL = unreached
    * within the round budget (the bounded-rounds contract shared by
    * BFS/k-core/PageRank). Costs are exact integers, so relaxation
    * replays in any engine — no fp path-sum drift.
    *
    * Scale shape: each round is one |edges| equi join + a
    * map-side-combined min per destination — the synchronous
    * Bellman–Ford data-parallel shape; edges persist as the loop
    * invariant. Rounds bound work at `rounds` × |E|. */
  def sssp(df: DataFrame, basketCol: String, itemCol: String,
           seedPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
           minPairCount: Long = 2, rounds: Int = 3): DataFrame =
    ssspFromEdges(minedWeightedEdges(df, basketCol, itemCol, minPairCount),
      seedPred, rounds)

  /** [[sssp]] over pre-mined weighted edges (src, dst, w) — mine once,
    * analyze many times (the `minedEdges`/`*FromEdges` contract). */
  def ssspFromEdges(edges0: DataFrame,
                    seedPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                    rounds: Int = 3): DataFrame =
    relaxRounds(edges0, seedPred, rounds, weighted = true)

  def bfsHopsFromEdges(edges0: DataFrame,
                       seedPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                       rounds: Int = 3): DataFrame =
    relaxRounds(edges0, seedPred, rounds, weighted = false)

  /** The shared synchronous relaxation loop behind [[bfsHopsFromEdges]]
    * (step cost 1) and [[ssspFromEdges]] (step cost `w`). The previous
    * distances are read twice per round (relax + merge), so each
    * round's frame is persisted and the [[Loop]] lineage cut bounds
    * the plan tree at any round budget. Nodes seed from
    * union(src, dst), so dst-only nodes of an asymmetric pre-mined
    * edge list still get an output row. */
  private def relaxRounds(edges0: DataFrame,
                          seedPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                          rounds: Int, weighted: Boolean): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds must be in [1, 20], got $rounds")
    val step = if (weighted) sf.col("w") else sf.lit(1L)
    loop { lp =>
      lp.prepare(edges0, "src")()
      val edges = lp.edges("src")
      val dist0 = nodesOf(withDst = true)(edges)
        .select(sf.col("item"),
          sf.when(seedPred(sf.col("item")), 0L).cast("long").as("dist"))
      lp.iterate(rounds, dist0) { prev =>
        val relax = edges.join(prev, sf.col("src") === sf.col("item"))
          .filter(sf.col("dist").isNotNull)
          .select(sf.col("dst"), (sf.col("dist") + step).as("nd"))
          .groupBy("dst").agg(sf.min("nd").as("nd"))
        lp.keep(prev.join(relax, sf.col("item") === sf.col("dst"), "left")
          .select(sf.col("item"),
            sf.when(sf.col("dist").isNull, sf.col("nd"))
              .when(sf.col("nd").isNull, sf.col("dist"))
              .otherwise(sf.least(sf.col("dist"), sf.col("nd"))).as("dist")))
      }
    }.orderBy("item")
  }

  /** Community detection by synchronous label propagation (LPA,
    * Raghavan et al. 2007) over the undirected co-occurrence graph:
    * every node starts labeled with its own id, and each round every
    * node adopts the MAJORITY label among its neighbors — ties break
    * to the smallest label, updates are synchronous (all nodes read
    * round k, write round k+1), so the result is a pure function of
    * the graph, not of visit order. A fixed small round count is the
    * production regime: labels stabilize into communities in O(5)
    * rounds on real graphs, and a deterministic bounded loop beats a
    * convergence test whose final iteration count varies with data.
    * Unlike [[graft.operators.Dedup]]'s connected components (which
    * merges everything reachable), LPA splits a connected graph into
    * densely-linked regions — the community structure.
    *
    * Scale shape: each round is one equi join (labels x edges on the
    * destination) plus one (node, label)-keyed count and one
    * node-keyed combinable argmax — max(struct(count, -label)) — so
    * shuffle volume is |edges| rows per round and no window touches
    * the node table. Edges persist across rounds; only labels move. */
  def labelPropagation(df: DataFrame, basketCol: String, itemCol: String,
                       minPairCount: Long = 2, rounds: Int = 3): DataFrame =
    labelPropagationFromEdges(minedEdges(df, basketCol, itemCol, minPairCount),
      rounds)

  /** [[labelPropagation]] over a pre-mined directed edge list (both
    * directions per undirected pair, e.g. a persisted [[minedEdges]]). */
  def labelPropagationFromEdges(edges0: DataFrame, rounds: Int = 3): DataFrame =
    propagateLabels(edges0, rounds).orderBy("item")

  /** The LPA loop: (item, community), materialized and unsorted. */
  private def propagateLabels(edges0: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds must be in [1, 20], got $rounds")
    loop { lp =>
      // per-round join key is dst (labels attach to the destination)
      lp.prepare(edges0, "dst")()
      val edges = lp.edges("dst")
      val labels0 = nodesOf(withDst = false)(edges)
        .select(sf.col("item"), sf.col("item").as("lbl"))
      lp.iterate(rounds, labels0) { labels =>
        edges
          .join(labels.select(sf.col("item").as("dst"), sf.col("lbl")), "dst")
          .groupBy("src", "lbl").agg(sf.count(sf.lit(1)).as("c"))
          .groupBy("src")
          .agg(sf.max(sf.struct(sf.col("c"), (-sf.col("lbl")).as("nl"))).as("m"))
          .select(sf.col("src").as("item"), (-sf.col("m.nl")).as("lbl"))
      }.select(sf.col("item"), sf.col("lbl").as("community"))
    }
  }

  /** Community-quality datasheet over a community labeling (by default
    * [[labelPropagation]]'s): Newman MODULARITY
    * Q = Σ_c [e_c/2m − (d_c/2m)²] — how much denser within-community
    * linkage is than the degree-preserving random expectation (the
    * number a "did the clustering find real structure?" review asks
    * for first) — plus degree ASSORTATIVITY r (Newman 2002): the
    * Pearson correlation of endpoint degrees over directed edges.
    * Hub-attracts-hub graphs (r > 0) respond differently to curation
    * than hub-and-spoke ones (r < 0), and r near −1 flags a
    * star/boilerplate topology.
    *
    * Determinism: every statistic is an EXACT integer sum (decimal(38)
    * so 100 TB degree sums can't overflow): Q's numerator 2m·Σe_c −
    * Σd_c² and r's m2·Sxy − Sx² / m2·Sxx − Sx² (the both-directions
    * edge list makes the x/y marginals symmetric, so r is a pure
    * RATIONAL — no sqrt to disagree on); ONE double division per
    * metric, snapped 1e-6. Regular graphs (zero degree variance) get
    * NULL assortativity.
    *
    * Scale shape: degrees and per-community sums are map-side
    * combinable aggregations; the labeling joins are |E|-row equi
    * joins (AQE-decided); every assembled frame is ONE row riding
    * broadcast cross joins. No windows, no cartesian products, no
    * driver materialization. */
  def communityQuality(df: DataFrame, basketCol: String, itemCol: String,
                       minPairCount: Long = 2, rounds: Int = 3): DataFrame =
    withCached(minedEdges(df, basketCol, itemCol, minPairCount)) { edges =>
      quality(edges, propagateLabels(edges, rounds))
    }

  /** `f` over `df` persisted, for readouts that scan their input more
    * than once: a caller-persisted frame is used as is (its cache is
    * the caller's) and the result stays lazy; otherwise the result is
    * materialized with one eager checkpoint and the cache freed. */
  private def withCached(df: DataFrame)(f: DataFrame => DataFrame): DataFrame =
    if (callerCached(df)) f(df)
    else {
      val cached = df.persist()
      try f(cached).localCheckpoint(true) finally cached.unpersist()
    }

  /** Cluster↔label agreement: homogeneity, completeness, V-measure
    * (Rosenberg & Hirschberg 2007) between any (item, community)
    * clustering and any (item, cls) external labeling — the
    * "did the mined communities recover the catalog metadata?" readout
    * that [[communityQuality]]'s structure-only modularity can't give:
    * h = 1 − H(C|K)/H(C) (each cluster holds one class),
    * c = 1 − H(K|C)/H(K) (each class stays in one cluster),
    * V = 2hc/(h+c). Degenerate conventions follow sklearn: a single
    * class ⇒ h = 1, a single cluster ⇒ c = 1, h + c = 0 ⇒ V = 0.
    *
    * Determinism: every entropy is a sum of per-cell pinned doubles
    * (n/N)·ln(n/margin) snapped to a 1e-9 grid BEFORE the unordered
    * cell-domain sum (exact longs); h and c are then pure fx RATIOS
    * (1 − hck_fx/hc_fx — the 1e-9 scale cancels), V one pinned
    * assembly, all rounded 1e-6.
    *
    * Scale shape: one item-keyed join + one map-side-combined groupBy
    * to the (cluster, class) contingency DOMAIN; margins and entropy
    * sums reduce that domain; one-row frames ride broadcast cross
    * joins. Never sorts, never windows. */
  def clusterLabelAgreement(labels: DataFrame, classes: DataFrame): DataFrame = {
    val cells = labels.select(sf.col("item"), sf.col("community"))
      .join(classes.select(sf.col("item"), sf.col("cls")), "item")
      .groupBy("community", "cls").agg(sf.count(sf.lit(1)).as("n_ck"))
      .localCheckpoint(true)
    val ck = cells.groupBy("community").agg(sf.sum("n_ck").cast("long").as("n_k"))
    val cc = cells.groupBy("cls").agg(sf.sum("n_ck").cast("long").as("n_c"))
    val nT = cells.agg(sf.sum("n_ck").cast("long").as("nn"),
      sf.count(sf.lit(1)).as("__dummy"))
    val counts = ck.agg(sf.count(sf.lit(1)).as("n_clusters"))
      .crossJoin(cc.agg(sf.count(sf.lit(1)).as("n_classes")))
    def fx9(x: Column) = sf.floor(x * 1e9 + 0.5).cast("long")
    def ent(nc: Column, nTot: Column, margin: Column) =
      fx9(nc.cast("double") / nTot.cast("double") *
        sf.log(nc.cast("double") / margin.cast("double")))
    val withN = cells.crossJoin(sf.broadcast(nT))
    val hck = withN.join(ck, "community")
      .agg(sf.sum(ent(sf.col("n_ck"), sf.col("nn"), sf.col("n_k"))).as("hck_fx"))
    val hkc = withN.join(cc, "cls")
      .agg(sf.sum(ent(sf.col("n_ck"), sf.col("nn"), sf.col("n_c"))).as("hkc_fx"))
    val hc = cc.crossJoin(sf.broadcast(nT))
      .agg(sf.sum(ent(sf.col("n_c"), sf.col("nn"), sf.col("nn"))).as("hc_fx"))
    val hk = ck.crossJoin(sf.broadcast(nT))
      .agg(sf.sum(ent(sf.col("n_k"), sf.col("nn"), sf.col("nn"))).as("hk_fx"))
    val h = sf.when(sf.col("hc_fx") === 0L, 1.0)
      .otherwise(sf.lit(1.0) -
        sf.col("hck_fx").cast("double") / sf.col("hc_fx").cast("double"))
    val c = sf.when(sf.col("hk_fx") === 0L, 1.0)
      .otherwise(sf.lit(1.0) -
        sf.col("hkc_fx").cast("double") / sf.col("hk_fx").cast("double"))
    nT.select(sf.col("nn").as("n_items"))
      .crossJoin(sf.broadcast(counts))
      .crossJoin(sf.broadcast(hck)).crossJoin(sf.broadcast(hkc))
      .crossJoin(sf.broadcast(hc)).crossJoin(sf.broadcast(hk))
      .select(sf.col("n_items"), sf.col("n_clusters"), sf.col("n_classes"),
        gf.roundAt(h, 6).as("homogeneity"),
        gf.roundAt(c, 6).as("completeness"),
        sf.when(h + c =!= 0.0, gf.roundAt(sf.lit(2.0) * h * c / (h + c), 6))
          .otherwise(0.0).as("v_measure"))
  }

  /** Adjusted Rand Index (Hubert & Arabie 1985) between a clustering
    * and external classes — the PAIR-COUNTING twin of
    * [[clusterLabelAgreement]]'s entropy view: of all item pairs, how
    * many land together/apart in BOTH partitions, corrected for the
    * agreement random partitions with these margins would get (0 ≈
    * chance, 1 = identical, < 0 = worse than chance). The two views
    * disagree exactly when cluster sizes are skewed — V-measure
    * forgives a giant cluster that ARI punishes — so datasheets carry
    * both.
    *
    * Determinism: contingency cells are exact; the doubled binomials
    * t(x) = x(x−1) (Index₂ = Σt(n_ij), SA₂ = Σt(a_i), SB₂ = Σt(b_j),
    * T₂ = N(N−1)) accumulate as DECIMAL(38,0), and
    * ARI = (T₂·Index₂ − SA₂·SB₂) / (T₂·(SA₂+SB₂)/2 − SA₂·SB₂) is ONE
    * pinned double assembly rounded 1e-6. Degenerate margins (both
    * partitions all-singletons or all-one-cluster → denominator 0)
    * yield NULL. Items missing a class drop (complete-case, the
    * [[clusterLabelAgreement]] join).
    *
    * Scale shape: one (community, cls) cell collapse + two margin
    * rollups + three one-row sums — the row-282 shape; nothing pairs
    * over ITEMS (the binomials count pairs in closed form). */
  def adjustedRandIndex(labels: DataFrame, classes: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    def t2(c: Column) = dec(c) * dec(c - 1)
    val cells = labels.select(sf.col("item"), sf.col("community"))
      .join(classes.select(sf.col("item"), sf.col("cls")), "item")
      .groupBy("community", "cls").agg(sf.count(sf.lit(1)).as("n_ck"))
      .localCheckpoint(true) // margins + index sum read it
    val idx = cells.agg(sf.sum(t2(sf.col("n_ck"))).as("__i2"),
      sf.sum("n_ck").cast("long").as("n_items"))
    val sa = cells.groupBy("community").agg(sf.sum("n_ck").cast("long").as("a"))
      .agg(sf.sum(t2(sf.col("a"))).as("__sa2"), sf.count(sf.lit(1)).as("n_clusters"))
    val sb = cells.groupBy("cls").agg(sf.sum("n_ck").cast("long").as("b"))
      .agg(sf.sum(t2(sf.col("b"))).as("__sb2"), sf.count(sf.lit(1)).as("n_classes"))
    idx.crossJoin(sf.broadcast(sa)).crossJoin(sf.broadcast(sb))
      .select({
        val i2 = sf.col("__i2").cast("double")
        val sa2 = sf.col("__sa2").cast("double")
        val sb2 = sf.col("__sb2").cast("double")
        val tt = (dec(sf.col("n_items")) *
          dec(sf.col("n_items") - 1)).cast("double")
        val num = tt * i2 - sa2 * sb2
        val den = tt * (sa2 + sb2) / 2.0 - sa2 * sb2
        Seq(sf.col("n_items"), sf.col("n_clusters"), sf.col("n_classes"),
          sf.when(den =!= 0.0, gf.roundAt(num / den, 6)).as("ari"))
      }: _*)
  }

  /** NUMERIC attribute assortativity — Pearson correlation of a
    * numeric node attribute across edge endpoints: do expensive parts
    * co-occur with expensive parts (price homophily), do long docs
    * link long docs — the continuous member between
    * [[degreeAssortativity]] (structural) and
    * [[attributeAssortativity]] (categorical). On a mirrored
    * undirected edge list the correlation is symmetric by
    * construction, so one Pearson over directed edges is the standard
    * estimator.
    *
    * Determinism: attributes ride the exact 1e-4 grid; a node carrying
    * several distinct attribute values collapses to its MINIMUM grid
    * value (one value per node — joining the raw pair-distinct table
    * would duplicate every incident edge per extra value and bias all
    * five sums); the five edge sums are DECIMAL(38,0); r is ONE pinned
    * assembly 1e-6. Unlabeled endpoints drop (complete-case); zero
    * variance on either margin → NULL.
    *
    * Scale shape: two value-attach equi joins on the edge list + one
    * combinable five-sum rollup — the row 306 plan with values in
    * place of degrees. */
  def numericAssortativity(edges: DataFrame, values: DataFrame,
                           nodeCol: String, valueCol: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val v4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val vals = values.filter(sf.col(valueCol).isNotNull)
      .select(sf.col(nodeCol).as("__node"), v4.as("__v"))
      .groupBy("__node").agg(sf.min("__v").as("__v"))
    edges
      .join(vals.select(sf.col("__node").as("src"), sf.col("__v").as("__x")), "src")
      .join(vals.select(sf.col("__node").as("dst"), sf.col("__v").as("__y")), "dst")
      .agg(sf.count(sf.lit(1)).as("n_directed_edges"),
        sf.sum(dec(sf.col("__x"))).as("sx"), sf.sum(dec(sf.col("__y"))).as("sy"),
        sf.sum(dec(sf.col("__x")) * dec(sf.col("__x"))).as("sxx"),
        sf.sum(dec(sf.col("__y")) * dec(sf.col("__y"))).as("syy"),
        sf.sum(dec(sf.col("__x")) * dec(sf.col("__y"))).as("sxy"))
      .select({
        val m = dec(sf.col("n_directed_edges"))
        val cxx = (m * sf.col("sxx") - sf.col("sx") * sf.col("sx")).cast("double")
        val cyy = (m * sf.col("syy") - sf.col("sy") * sf.col("sy")).cast("double")
        val cxy = (m * sf.col("sxy") - sf.col("sx") * sf.col("sy")).cast("double")
        Seq(sf.col("n_directed_edges"),
          sf.when(sf.col("n_directed_edges") > 1 && cxx > 0 && cyy > 0,
            gf.roundAt(cxy / (sf.sqrt(cxx) * sf.sqrt(cyy)), 6))
            .as("assortativity"))
      }: _*)
  }

  /** Fowlkes–Mallows index (1983) + variation of information (Meilă
    * 2003) between a labeling and a reference partition — the two
    * agreement numbers [[adjustedRandIndex]] doesn't give: FM =
    * TP/√((TP+FP)(TP+FN)) is the geometric mean of pairwise
    * precision/recall (reads like retrieval quality, stays meaningful
    * when cluster-size skew makes ARI saturate), and VI = H(A) + H(B)
    * − 2I(A,B) is a true METRIC on partitions (triangle inequality),
    * so labeling drift across corpus snapshots can be tracked as a
    * distance, not just a score. Together with ARI (row 410) and
    * V-measure (row 282) this completes the standard agreement panel.
    *
    * Determinism: pair counts TP = Σ C(n_ij,2) etc. are exact
    * DECIMAL(38,0) (the row 410 machinery); VI's entropies accumulate
    * 1e-9-snapped per-count ln longs (the row 417 machinery), VI =
    * (Σr·ln r + Σk·ln k − 2Σc·ln c)/(n·1e9) — ONE pinned assembly
    * each, rounded 1e-6 (FM's √ is IEEE-exact). Single-cluster-
    * crossed-with-single-class tables (zero pair denominator) → NULL
    * FM; VI is always defined.
    *
    * Scale shape: one (community, cls) cell collapse + two margin
    * rollups + a one-row finish — the row 410 plan exactly. */
  def clusteringAgreement(labels: DataFrame, classes: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    def t2(c: Column) = dec(c) * dec(c - 1)
    def lnTerm(c: Column) =
      sf.sum(dec(c) * dec(sf.floor(sf.log(c.cast("double")) * 1e9 + 0.5)
        .cast("long")))
    val cells = labels.select(sf.col("item"), sf.col("community"))
      .join(classes.select(sf.col("item"), sf.col("cls")), "item")
      .groupBy("community", "cls").agg(sf.count(sf.lit(1)).as("n_ck"))
      .localCheckpoint(true) // margins + pair sums read it
    val idx = cells.agg(sf.sum(t2(sf.col("n_ck"))).as("__i2"),
      lnTerm(sf.col("n_ck")).as("__lc"),
      sf.sum("n_ck").cast("long").as("n_items"))
    val sa = cells.groupBy("community").agg(sf.sum("n_ck").as("a"))
      .agg(sf.sum(t2(sf.col("a"))).as("__sa2"), lnTerm(sf.col("a")).as("__la"),
        sf.count(sf.lit(1)).as("n_clusters"))
    val sb = cells.groupBy("cls").agg(sf.sum("n_ck").as("b"))
      .agg(sf.sum(t2(sf.col("b"))).as("__sb2"), lnTerm(sf.col("b")).as("__lb"),
        sf.count(sf.lit(1)).as("n_classes"))
    idx.crossJoin(sf.broadcast(sa)).crossJoin(sf.broadcast(sb))
      .select({
        val tp2 = sf.col("__i2")          // 2·TP
        val fm = tp2.cast("double") /
          sf.sqrt(sf.col("__sa2").cast("double") * sf.col("__sb2").cast("double"))
        val vi = (sf.col("__la") + sf.col("__lb") -
          sf.lit(2).cast("decimal(38,0)") * sf.col("__lc")).cast("double") /
          (sf.col("n_items").cast("double") * 1e9)
        Seq(sf.col("n_items"), sf.col("n_clusters"), sf.col("n_classes"),
          sf.when(sf.col("__sa2") > 0 && sf.col("__sb2") > 0,
            gf.roundAt(fm, 6)).as("fowlkes_mallows"),
          gf.roundAt(vi, 6).as("variation_of_information"))
      }: _*)
  }

  /** [[communityQuality]] over a pre-mined edge list and any (item,
    * community) labeling (LPA, connected components, an external
    * partition — the metric is labeling-agnostic). */
  def communityQualityFromEdges(edges0: DataFrame, labels0: DataFrame): DataFrame =
    // the labeling feeds THREE consumers (the per-community degree
    // rollup and both sides of the intra-edge join); without a cut, each
    // consumer re-executes the full labeling plan — for an LPA input
    // that is 3x the whole propagation loop. One eager node-sized
    // checkpoint runs it exactly once.
    withCached(edges0)(quality(_, labels0.select("item", "community").localCheckpoint(true)))

  /** The [[communityQuality]] readout over persisted edges and a
    * materialized (item, community) labeling. */
  private def quality(edges: DataFrame, labeling: DataFrame): DataFrame = {
    val labels = labeling.select(sf.col("item"), sf.col("community").as("lbl"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val deg = edges.groupBy(sf.col("src").as("item"))
      .agg(sf.count(sf.lit(1)).as("dg"))
    val m2t = edges.agg(sf.count(sf.lit(1)).as("m2"))
    val nnt = deg.agg(sf.count(sf.lit(1)).as("n_nodes"))
    val dc = deg.join(labels, "item")
      .groupBy("lbl").agg(sf.sum("dg").as("d_c"))
    val aggc = dc.agg(sf.count(sf.lit(1)).as("n_comm"),
      sf.sum(dec(sf.col("d_c")) * dec(sf.col("d_c"))).as("sum_dc2"))
    val ecs = edges
      .join(labels.select(sf.col("item").as("src"), sf.col("lbl").as("sl")), "src")
      .join(labels.select(sf.col("item").as("dst"), sf.col("lbl").as("dl")), "dst")
      .filter(sf.col("sl") === sf.col("dl"))
      .agg(sf.count(sf.lit(1)).as("sum_ec"))
    val ast = edges
      .join(deg.select(sf.col("item").as("src"), sf.col("dg").as("dgs")), "src")
      .join(deg.select(sf.col("item").as("dst"), sf.col("dg").as("dgd")), "dst")
      .agg(sf.sum(dec(sf.col("dgs")) * dec(sf.col("dgd"))).as("sxy"),
        sf.sum(dec(sf.col("dgs"))).as("sx"),
        sf.sum(dec(sf.col("dgs")) * dec(sf.col("dgs"))).as("sxx"))
    val m2d = dec(sf.col("m2"))
    val modNum = (m2d * dec(sf.col("sum_ec")) - sf.col("sum_dc2")).cast("double")
    val modDen = (m2d * m2d).cast("double")
    val astNum = (m2d * sf.col("sxy") - sf.col("sx") * sf.col("sx")).cast("double")
    val astDen = (m2d * sf.col("sxx") - sf.col("sx") * sf.col("sx")).cast("double")
    nnt.crossJoin(sf.broadcast(m2t)).crossJoin(sf.broadcast(aggc))
      .crossJoin(sf.broadcast(ecs)).crossJoin(sf.broadcast(ast))
      .select(sf.col("n_nodes"),
        (sf.col("m2") / 2).cast("long").as("n_edges"),
        sf.col("n_comm").as("n_communities"),
        gf.roundAt(sf.col("sum_ec").cast("double") / sf.col("m2").cast("double"), 6)
          .as("intra_edge_frac"),
        gf.roundAt(modNum / modDen, 6).as("modularity"),
        sf.when(astDen =!= 0.0, gf.roundAt(astNum / astDen, 6)).as("assortativity"))
  }

  /** Bounded-round k-core peel over the undirected co-occurrence
    * graph: repeatedly delete nodes of degree < k; what survives
    * `rounds` peels is (a superset of, and at fixpoint exactly) the
    * k-core — the "dense kernel" membership that link-graph curation
    * uses as a page-quality prior and community analysis uses to
    * strip noisy leaf structure. A FIXED round count (like [[pageRank]] /
    * [[labelPropagation]]) keeps the result a pure function of the
    * graph and lets the oracle unroll the identical recurrence;
    * real graphs shed the low-degree fringe in O(5) peels, and a
    * fixed bound makes partial convergence an explicit contract
    * rather than a data-dependent surprise.
    *
    * Output: surviving nodes with their residual degree (their degree
    * in the surviving subgraph), `(item asc)`.
    *
    * Scale shape: each peel is one node-keyed count (map-side
    * combinable) + two semi joins of the edge list against the
    * surviving node set — shuffle volume |edges| per round, no
    * windows, no driver materialization; the edge list persists per
    * round so lineage doesn't re-derive the pair-mining funnel. */
  def kCore(df: DataFrame, basketCol: String, itemCol: String,
            k: Int, minPairCount: Long = 2, rounds: Int = 3): DataFrame =
    kCoreFromEdges(minedEdges(df, basketCol, itemCol, minPairCount), k, rounds)

  /** [[kCore]] over a pre-mined directed edge list (both directions per
    * undirected pair, e.g. a persisted [[minedEdges]]). */
  def kCoreFromEdges(edges0: DataFrame, k: Int, rounds: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 20, s"rounds must be in [1, 20], got $rounds")
    loop { lp =>
      // the first peel's degree count and src-side semi join run over
      // the UNSHRUNK edge list — the round the gate's src partitioning
      // serves. The peel frame is read three times per round (degree
      // count + two semi joins), so each round's frame is persisted.
      lp.prepare(edges0, "src")()
      lp.iterate(rounds, lp.edges("src")) { edges =>
        val alive = edges.groupBy("src").agg(sf.count(sf.lit(1)).as("deg"))
          .filter(sf.col("deg") >= k).select("src")
        lp.keep(edges
          .join(alive, Seq("src"), "left_semi")
          .join(alive.select(sf.col("src").as("dst")), Seq("dst"), "left_semi"))
      }.groupBy("src").agg(sf.count(sf.lit(1)).as("degree"))
        .select(sf.col("src").as("item"), sf.col("degree"))
    }.orderBy("item")
  }

  /** Triangle enumeration over the undirected co-occurrence graph —
    * the clustering/community-density primitive (graph-quality priors,
    * spam-farm detection on link graphs).
    *
    * Output: one row per triangle, as the id-sorted triple
    * (item_a < item_b < item_c).
    *
    * Algorithm: DEGREE-ORDERED ORIENTATION (the MapReduce-era standard,
    * Suri & Vassilvitskii WWW'11's "node-iterator++"). Orient every
    * undirected edge from its lower-(degree, id) endpoint to the
    * higher one; each triangle then has exactly ONE node with two
    * outgoing oriented edges, so enumerating wedges at the oriented
    * source and closing them against the oriented edge set counts each
    * triangle exactly once, no dedup shuffle.
    *
    * Scale shape: the wedge explosion is the quadratic step, and
    * orientation is what bounds it — a node of (unoriented) degree d
    * has out-degree <= max(d', sqrt(2|E|)) under degree ordering, so
    * wedge volume is O(|E|^1.5) worst case (arboricity-bounded in
    * practice) instead of sum(d^2), which a hub node would otherwise
    * blow up: the skew guard is built into the algorithm rather than
    * salted in. Both joins are keyed equi joins on node / edge
    * endpoints; AQE broadcasts the closing edge list when small. */
  def triangles(df: DataFrame, basketCol: String, itemCol: String,
                minPairCount: Long = 2): DataFrame =
    trianglesFromPairs(minedPairs(df, basketCol, itemCol, minPairCount))

  /** [[triangles]] over a pre-mined undirected pair list (canonical
    * item_a < item_b rows, e.g. a persisted [[minedPairs]]) — the
    * mine-once family member: a pipeline that also needs
    * [[localClusteringFromPairs]] pays the mining funnel once and can
    * share the persisted pair frame across both. */
  def trianglesFromPairs(pairs: DataFrame): DataFrame =
    triangleClosure(pairs
      .select(sf.col("item_a").as("u"), sf.col("item_b").as("v")))
      .orderBy("item_a", "item_b", "item_c")

  /** The orientation + wedge-close pipeline over an undirected (u, v)
    * edge list — unsorted triple stream, shared by [[triangles]] and
    * [[graphProfile]]. `deg0`, when given, is the caller's already-
    * derived (n, d) degree table (graphProfile/localClustering compute
    * it anyway for their own readouts — passing it in drops the
    * duplicate union+groupBy pass). The ORIENTED edge list feeds THREE
    * consumers below (both wedge sides + the closing list); it is
    * materialized once with an eager checkpoint so the degree joins run
    * once instead of three times and the wedge self-join probes one
    * cached frame from both sides. */
  private def triangleClosure(und: DataFrame,
                              deg0: Option[DataFrame] = None): DataFrame = {
    val deg = deg0.getOrElse(
      und.select(sf.col("u").as("n")).union(und.select(sf.col("v").as("n")))
        .groupBy("n").agg(sf.count(sf.lit(1)).as("d")))
    // orient low (d, id) -> high (d, id): a total order, so exactly one
    // direction survives per edge
    val oriented = und
      .join(deg.select(sf.col("n").as("u"), sf.col("d").as("du")), "u")
      .join(deg.select(sf.col("n").as("v"), sf.col("d").as("dv")), "v")
      .select(
        sf.when(sf.col("du") < sf.col("dv") ||
            (sf.col("du") === sf.col("dv") && sf.col("u") < sf.col("v")),
          sf.struct(sf.col("u").as("src"), sf.col("v").as("dst")))
          .otherwise(sf.struct(sf.col("v").as("src"), sf.col("u").as("dst")))
          .as("e"))
      .select(sf.col("e.src").as("src"), sf.col("e.dst").as("dst"))
      .localCheckpoint(true)
    // wedges at the oriented source: (src -> x, src -> y), one per
    // unordered {x, y} (dst order under the same total order)
    val l = oriented.select(sf.col("src"), sf.col("dst").as("x"))
    val r = oriented.select(sf.col("src"), sf.col("dst").as("y"))
    val wedges = l.join(r, Seq("src")).filter(sf.col("x") < sf.col("y"))
    // close the wedge: the third edge is oriented too, but {x, y}'s
    // orientation depends on degrees — probe both directions via the
    // canonical (min, max) form against a canonicalized edge list
    val closing = oriented.select(
      sf.least(sf.col("src"), sf.col("dst")).as("x"),
      sf.greatest(sf.col("src"), sf.col("dst")).as("y"))
    wedges.join(closing, Seq("x", "y"))
      .select(sf.array_sort(sf.array(sf.col("src"), sf.col("x"), sf.col("y"))).as("t"))
      .select(sf.element_at(sf.col("t"), 1).as("item_a"),
        sf.element_at(sf.col("t"), 2).as("item_b"),
        sf.element_at(sf.col("t"), 3).as("item_c"))
  }

  /** Disparity-filter backbone (Serrano, Boguñá & Vespignani 2009):
    * keep the edges whose weight is STATISTICALLY surprising against
    * each endpoint's own uniform null — for a node of degree k, an
    * edge carrying share p of its strength has
    * α = (1−p)^(k−1), and the edge survives if α < `alpha` at EITHER
    * endpoint. THE principled sparsifier for weighted co-occurrence
    * graphs: a global weight threshold keeps only hub edges (hubs
    * have big raw counts everywhere) and erases the periphery;
    * disparity keeps each node's locally-significant spokes, which is
    * what the downstream community/centrality passes should see.
    *
    * Determinism: weights and strengths are exact integers; α is one
    * pinned pow assembly SNAPPED to the 1e-9 grid before the
    * threshold test, so edge membership is reproducible across
    * engines (the
    * [[graft.operators.Similarity.centroidDistances]] convention —
    * libm pow ulp drift is absorbed by the snap); degree-1 endpoints
    * never pass on their own (α = 1, the classical convention), and
    * the reported alpha_min is the smaller endpoint α rounded 1e-6.
    *
    * Scale shape: one degree/strength rollup + two endpoint-attach
    * equi joins on the pair list + a map-only filter. */
  def disparityBackbone(df: DataFrame, basketCol: String, itemCol: String,
                        alpha: Double = 0.05,
                        minPairCount: Long = 2): DataFrame =
    disparityBackboneFromPairs(
      minedPairs(df, basketCol, itemCol, minPairCount), alpha)

  /** [[disparityBackbone]] over a pre-mined weighted pair list
    * (item_a, item_b, c_ab) — the mine-once family member. */
  def disparityBackboneFromPairs(pairs0: DataFrame,
                                 alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0, 1), got $alpha")
    val a9 = math.floor(alpha * 1e9 + 0.5).toLong
    val pairs = pairs0.select(sf.col("item_a"), sf.col("item_b"), sf.col("c_ab"))
      .localCheckpoint(true) // strength rollup + edge filter read it
    val nodes = pairs.select(sf.col("item_a").as("node"), sf.col("c_ab"))
      .union(pairs.select(sf.col("item_b").as("node"), sf.col("c_ab")))
      .groupBy("node")
      .agg(sf.count(sf.lit(1)).as("__k"), sf.sum("c_ab").cast("long").as("__s"))
    def alphaAt(k: String, s: String) = {
      val kD = sf.col(k).cast("double")
      val p = sf.col("c_ab").cast("double") / sf.col(s).cast("double")
      sf.floor(sf.pow(sf.lit(1.0) - p, kD - 1.0) * 1e9 + 0.5).cast("long")
    }
    pairs
      .join(nodes.select(sf.col("node").as("item_a"), sf.col("__k").as("__ka"),
        sf.col("__s").as("__sa")), "item_a")
      .join(nodes.select(sf.col("node").as("item_b"), sf.col("__k").as("__kb"),
        sf.col("__s").as("__sb")), "item_b")
      .withColumn("__aa", alphaAt("__ka", "__sa"))
      .withColumn("__ab", alphaAt("__kb", "__sb"))
      .filter((sf.col("__ka") > 1 && sf.col("__aa") < a9) ||
        (sf.col("__kb") > 1 && sf.col("__ab") < a9))
      .select(sf.col("item_a"), sf.col("item_b"), sf.col("c_ab"),
        gf.roundAt(sf.least(sf.col("__aa"), sf.col("__ab")).cast("double") / 1e9, 6)
          .as("alpha_min"))
      .orderBy("item_a", "item_b")
  }

  /** Connected-component size distribution of the mined co-occurrence
    * graph — size histogram + node share per size: the FRAGMENTATION
    * datasheet behind every clustering readout (one giant component =
    * the graph is a hairball and [[labelPropagation]] communities need
    * reading with suspicion; many small components = natural product
    * families — and for dedup graphs this histogram IS the duplicate
    * cluster-size spectrum at graph scale). Non-isolated nodes only
    * (the mined pair list defines the graph — documented).
    *
    * Determinism: components ride
    * [[graft.operators.Dedup.connectedComponents]]' star-contraction
    * (min-id labels, pure integer structure); sizes/counts exact, the
    * share one pinned division 1e-6.
    *
    * Scale shape: the star-contraction rounds (each a shuffle of the
    * SHRINKING edge set) + two combinable rollups + a broadcast
    * one-row total. */
  def componentSizes(df: DataFrame, basketCol: String, itemCol: String,
                     minPairCount: Long = 2): DataFrame =
    componentSizesFromPairs(minedPairs(df, basketCol, itemCol, minPairCount))

  /** [[componentSizes]] over a pre-mined undirected pair list — the
    * mine-once family member. */
  def componentSizesFromPairs(pairs0: DataFrame): DataFrame = {
    val cc = graft.operators.Dedup.connectedComponents(
      pairs0.select(sf.col("item_a").as("a_id"), sf.col("item_b").as("b_id")))
    val sizes = cc.groupBy("cluster_id").agg(sf.count(sf.lit(1)).as("__sz"))
      .localCheckpoint(true) // histogram + total read it
    val tot = sizes.agg(sf.sum("__sz").cast("long").as("__tn"))
    sizes.groupBy("__sz").agg(sf.count(sf.lit(1)).as("n_components"))
      .crossJoin(sf.broadcast(tot))
      .select(sf.col("__sz").as("component_size"), sf.col("n_components"),
        (sf.col("__sz") * sf.col("n_components")).as("n_nodes"),
        gf.roundAt((sf.col("__sz") * sf.col("n_components")).cast("double") /
          sf.col("__tn").cast("double"), 6).as("node_share"))
      .orderBy("component_size")
  }

  /** Attack-tolerance (hub-removal robustness) curve (Albert, Jeong &
    * Barabási 2000) — the component-size spectrum of
    * [[componentSizes]] re-read as a RESILIENCE experiment: remove
    * the top-k degree hubs for each rung of `hubsLadder` and report
    * how the giant component shrinks. Scale-free co-occurrence graphs
    * are robust to random failure but fragile to targeted hub removal
    * — whether the catalog's substitution network survives losing its
    * top parts IS this curve, and no single-k readout shows the
    * cliff.
    *
    * Determinism: degrees are exact; hub selection is the integer
    * order (degree desc, node asc); each rung's components come from
    * the same star-contraction CC as row 390. A rung that empties the
    * edge list reports zeros with NULL share.
    *
    * Scale shape: degrees are one combinable rollup; each rung is one
    * TakeOrdered hub pick + two broadcast anti joins + the row 390
    * O(log n)-round CC funnel — |ladder| bounded CC runs by contract,
    * the honest price of a curve. */
  def attackToleranceFromPairs(pairs0: DataFrame,
                               hubsLadder: Seq[Int] = Seq(0, 4, 16)): DataFrame = {
    require(hubsLadder.nonEmpty && hubsLadder.forall(_ >= 0) &&
      hubsLadder.size <= 8,
      s"hubsLadder must be 1..8 non-negative rungs, got $hubsLadder")
    val pairs = pairs0
      .select(sf.col("item_a").as("a_id"), sf.col("item_b").as("b_id"))
      .localCheckpoint(true) // degrees + every rung read it
    val deg = pairs.select(sf.col("a_id").as("node"))
      .union(pairs.select(sf.col("b_id")))
      .groupBy("node").agg(sf.count(sf.lit(1)).cast("long").as("deg"))
      .localCheckpoint(true) // every rung's hub pick reads it
    hubsLadder.map { k =>
      val hubs = deg.orderBy(sf.col("deg").desc, sf.col("node")).limit(k)
        .select("node")
      val kept = pairs
        .join(hubs.select(sf.col("node").as("a_id")), Seq("a_id"), "left_anti")
        .join(hubs.select(sf.col("node").as("b_id")), Seq("b_id"), "left_anti")
      val comp = graft.operators.Dedup.connectedComponents(kept)
        .groupBy("cluster_id").agg(sf.count(sf.lit(1)).as("__sz"))
      comp.agg(
          sf.coalesce(sf.sum("__sz"), sf.lit(0L)).cast("long").as("n_nodes"),
          sf.count(sf.lit(1)).cast("long").as("n_components"),
          sf.coalesce(sf.max("__sz"), sf.lit(0L)).cast("long").as("gcc_size"))
        .select(sf.lit(k).as("hubs_removed"), sf.col("n_nodes"),
          sf.col("n_components"), sf.col("gcc_size"),
          sf.when(sf.col("n_nodes") > 0, gf.roundAt(
            sf.col("gcc_size").cast("double") / sf.col("n_nodes").cast("double"),
            6)).as("gcc_share"))
    }.reduce(_ union _).orderBy("hubs_removed")
  }

  /** [[attackToleranceFromPairs]] over the row-156 mined pair list —
    * the mine-once family member. */
  def attackTolerance(df: DataFrame, basketCol: String, itemCol: String,
                      minPairCount: Long = 2,
                      hubsLadder: Seq[Int] = Seq(0, 4, 16)): DataFrame =
    attackToleranceFromPairs(minedPairs(df, basketCol, itemCol, minPairCount),
      hubsLadder)

  /** Bounded-round k-truss peel (Cohen 2008): edges supported by
    * ≥ k−2 triangles, iterated — the EDGE-cohesion refinement of
    * [[kCore]] (a k-core can be a sparse hub star; a k-truss edge is
    * embedded in actual triangle mesh), which makes it the stronger
    * community-core extractor on co-occurrence graphs: 3-truss+ edges
    * are the "these items really travel together" skeleton the
    * association-rule readouts should be read against. `rounds` bounds
    * the peel explicitly (the [[kCoreFromEdges]] truncation
    * convention — each round is a full O(|E|^1.5) triangle pass, and
    * bounded rounds are what a production pipeline schedules); edges
    * whose support fell only in the LAST removal wave survive with
    * their reported (possibly < k−2) support.
    *
    * Determinism: pure integer structure — the degree-ordered oriented
    * closure finds each triangle once, support counts are exact, the
    * peel keeps support ≥ k−2. Scale shape: per round one triangle
    * closure + a 3-way edge explode + a combinable edge-keyed count +
    * one semi-join filter; lineage cut per round (localCheckpoint). */
  def kTruss(df: DataFrame, basketCol: String, itemCol: String, k: Int,
             minPairCount: Long = 2, rounds: Int = 2): DataFrame =
    kTrussFromPairs(minedPairs(df, basketCol, itemCol, minPairCount), k, rounds)

  /** [[kTruss]] over a pre-mined undirected pair list — the mine-once
    * family member. */
  def kTrussFromPairs(pairs0: DataFrame, k: Int, rounds: Int = 2): DataFrame = {
    require(k >= 3 && k <= 64, s"k must be in [3, 64], got $k")
    require(rounds >= 1 && rounds <= 5, s"rounds must be in [1, 5], got $rounds")
    val need = (k - 2).toLong
    def support(e: DataFrame): DataFrame =
      triangleClosure(e.select(sf.col("item_a").as("u"), sf.col("item_b").as("v")))
        .select(sf.explode(sf.array(
          sf.struct(sf.col("item_a").as("x"), sf.col("item_b").as("y")),
          sf.struct(sf.col("item_a").as("x"), sf.col("item_c").as("y")),
          sf.struct(sf.col("item_b").as("x"), sf.col("item_c").as("y")))).as("e"))
        .select(sf.col("e.x").as("item_a"), sf.col("e.y").as("item_b"))
        .groupBy("item_a", "item_b").agg(sf.count(sf.lit(1)).as("support"))
    var edges = pairs0.select("item_a", "item_b").localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val sup = support(edges)
      edges = edges.join(sup, Seq("item_a", "item_b"), "left")
        .filter(sf.coalesce(sf.col("support"), sf.lit(0L)) >= need)
        .select("item_a", "item_b")
        .localCheckpoint(true) // next round's closure reads it twice
    }
    edges.join(support(edges), Seq("item_a", "item_b"), "left")
      .select(sf.col("item_a"), sf.col("item_b"),
        sf.coalesce(sf.col("support"), sf.lit(0L)).as("support"))
      .orderBy("item_a", "item_b")
  }

  /** Graph datasheet: the one-pass structural summary of the
    * co-occurrence graph (node/edge counts, degree stats, density,
    * wedge count, triangle count, global clustering coefficient) as a
    * tall (metric, value) frame — the corpusCard twin for graphs.
    * Clustering coefficient 3T / wedges is the standard "is this a
    * community structure or a hairball" curation signal on link and
    * co-occurrence graphs.
    *
    * Determinism: every metric is assembled from exact integer counts;
    * the three ratios divide exact values in pinned double expressions
    * rounded at 1e-6. Degenerate cases pin to 0 (density of a 1-node
    * graph, clustering of a wedgeless graph).
    *
    * Scale shape: one degree aggregation (map-side combinable), scalar
    * reductions over it, and the oriented triangle count — the
    * O(|E|^1.5)-bounded pipeline shared with [[triangles]]. */
  def graphProfile(df: DataFrame, basketCol: String, itemCol: String,
                   minPairCount: Long = 2): DataFrame = {
    val und = minedPairs(df, basketCol, itemCol, minPairCount)
      .select(sf.col("item_a").as("u"), sf.col("item_b").as("v"))
      .persist()
    // degree table feeds the stats rollup AND the closure's orientation
    // joins — derive it once (node-sized, eager so the closure below
    // consumes a materialized frame instead of re-running the rollup)
    val deg = und.select(sf.col("u").as("n")).union(und.select(sf.col("v").as("n")))
      .groupBy("n").agg(sf.count(sf.lit(1)).as("d"))
      .localCheckpoint(true)
    val degStats = deg.agg(
      sf.count(sf.lit(1)).as("n_nodes"),
      sf.sum(sf.col("d")).as("deg_sum"), // = 2|E|
      sf.max(sf.col("d")).as("max_degree"),
      // wedges: sum d*(d-1)/2, exact integer arithmetic end-to-end
      sf.sum(sf.expr("(d * (d - 1)) div 2")).as("wedges"))
    val nEdges = und.agg(sf.count(sf.lit(1)).as("n_edges"))
    val nTri = triangleClosure(und, Some(deg))
      .agg(sf.count(sf.lit(1)).as("n_triangles"))
    // materialize the ONE-ROW stats frame eagerly: the eight metric
    // branches below each embed this subplan, and without the
    // checkpoint every branch re-runs the funnel + triangle join
    val j = degStats.crossJoin(nEdges).crossJoin(nTri).localCheckpoint(true)
    // everything is materialized into j — release the pair invariant
    // (previously leaked to the harness clearCache)
    und.unpersist()
    def d(c: String) = sf.col(c).cast("double")
    def m(name: String, v: org.apache.spark.sql.Column) =
      j.select(sf.lit(name).as("metric"), v.cast("double").as("value"))
    m("avg_degree", gf.roundAt(d("deg_sum") / d("n_nodes"), 6))
      .union(m("density", sf.when(sf.col("n_nodes") > 1,
        gf.roundAt(d("deg_sum") / (d("n_nodes") * (d("n_nodes") - 1.0)), 6))
        .otherwise(0.0)))
      .union(m("global_clustering", sf.when(sf.col("wedges") > 0,
        gf.roundAt(sf.lit(3.0) * d("n_triangles") / d("wedges"), 6))
        .otherwise(0.0)))
      .union(m("max_degree", sf.col("max_degree")))
      .union(m("n_edges", sf.col("n_edges")))
      .union(m("n_nodes", sf.col("n_nodes")))
      .union(m("n_triangles", sf.col("n_triangles")))
      .union(m("wedges", sf.col("wedges")))
      .orderBy("metric")
  }

  /** Degree assortativity (Newman 2002, Phys. Rev. Lett. 89): the
    * Pearson correlation of endpoint degrees over the DIRECTED edge
    * list (both directions of each undirected edge — the standard
    * undirected formulation). r > 0 = hubs attach to hubs (social
    * core-periphery), r < 0 = hubs attach to leaves (star/broadcast
    * structure) — THE one-number "what kind of graph is this" reading
    * next to [[graphProfile]]'s clustering coefficient, and a strong
    * template-farm signal on link graphs (generated link lattices are
    * sharply disassortative).
    *
    * Determinism: degrees are exact integers; all six moment sums
    * accumulate in DECIMAL(38,0); r is one pinned double assembly
    * (the [[graft.dq.QualityChecks.spearman]] convention), rounded
    * 1e-6. Degree-regular graphs (zero degree variance) yield NULL.
    *
    * Scale shape: one map-side-combined degree aggregation + two
    * AQE-decided degree-attach equi joins on the edge list + a
    * single-row moment reduction. No sort, no window. */
  def degreeAssortativity(df: DataFrame, basketCol: String, itemCol: String,
                          minPairCount: Long = 2): DataFrame =
    degreeAssortativityFromEdges(minedEdges(df, basketCol, itemCol, minPairCount))

  /** [[degreeAssortativity]] over a pre-mined directed (src, dst)
    * edge list — the mine-once `*FromEdges` family member. */
  def degreeAssortativityFromEdges(edges: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val deg = edges.groupBy("src").agg(sf.count(sf.lit(1)).as("d"))
    val jk = edges
      .join(deg.select(sf.col("src"), sf.col("d").as("j")), "src")
      .join(deg.select(sf.col("src").as("dst"), sf.col("d").as("k")), "dst")
    jk.agg(sf.count(sf.lit(1)).as("m"),
        sf.sum(dec(sf.col("j"))).as("__sj"), sf.sum(dec(sf.col("k"))).as("__sk"),
        sf.sum(dec(sf.col("j")) * dec(sf.col("k"))).as("__sjk"),
        sf.sum(dec(sf.col("j")) * dec(sf.col("j"))).as("__sjj"),
        sf.sum(dec(sf.col("k")) * dec(sf.col("k"))).as("__skk"))
      .select({
        val m = sf.col("m").cast("double")
        val sj = sf.col("__sj").cast("double")
        val sk = sf.col("__sk").cast("double")
        val num = m * sf.col("__sjk").cast("double") - sj * sk
        val dj = m * sf.col("__sjj").cast("double") - sj * sj
        val dk = m * sf.col("__skk").cast("double") - sk * sk
        Seq(sf.col("m").as("n_directed_edges"),
          sf.when(dj > 0 && dk > 0,
            gf.roundAt(num / sf.sqrt(dj * dk), 6)).as("assortativity"))
      }: _*)
  }

  /** Rich-club coefficient over the degree grid (Zhou & Mondragón
    * 2004): φ(k) = 2·E_{>k}/(N_{>k}(N_{>k}−1)) — among nodes of degree
    * > k, what fraction of possible edges exist. The CORE-STRUCTURE
    * readout beside [[degreeAssortativity]]'s single number: r > 0
    * says hubs prefer hubs on average, the φ(k) CURVE says whether the
    * high-degree core is an actual near-clique (φ→1: an oligarchy of
    * boilerplate/spam templates all co-occurring) or stays sparse —
    * and WHERE on the degree axis the club forms. Raw φ reported (the
    * normalized variant divides by a rewired null model — a
    * Monte-Carlo object with no deterministic closed form).
    *
    * Determinism: node and edge degree histograms are exact integers
    * on the DEGREE domain; the two ">k" tail counts are (total −
    * inclusive prefix) from ONE range-partitioned two-column prefix
    * pass ([[graft.operators.StarSchema.globalPrefixSumsMulti]] — the
    * row-340 rule, never a one-task window); φ is one pinned division
    * per degree row rounded 1e-6, NULL when N_{>k} < 2.
    *
    * Scale shape: one map-side-combined degree count + two
    * AQE-decided degree-attach equi joins on the pair list (the
    * [[degreeAssortativity]] shape) + two domain-sized histograms +
    * the prefix pass + one broadcast of a one-row total. Everything
    * after the joins lives on the degree domain (data-size-bounded by
    * max degree, not row count). */
  def richClub(df: DataFrame, basketCol: String, itemCol: String,
               minPairCount: Long = 2): DataFrame =
    richClubFromPairs(minedPairs(df, basketCol, itemCol, minPairCount))

  /** [[richClub]] over a pre-mined undirected pair list (canonical
    * item_a < item_b rows) — the mine-once `*FromEdges` family
    * member. */
  def richClubFromPairs(pairs0: DataFrame): DataFrame = {
    val pairs = pairs0.select(sf.col("item_a").as("a"), sf.col("item_b").as("b"))
      .localCheckpoint(true) // degree count + the d_min join read it
    val deg = pairs.select(sf.col("a").as("node"))
      .union(pairs.select(sf.col("b").as("node")))
      .groupBy("node").agg(sf.count(sf.lit(1)).as("deg"))
      .localCheckpoint(true) // node histogram + two edge joins read it
    val nodeHist = deg.groupBy("deg").agg(sf.count(sf.lit(1)).as("__nn"))
    val edgeHist = pairs
      .join(deg.select(sf.col("node").as("a"), sf.col("deg").as("__da")), "a")
      .join(deg.select(sf.col("node").as("b"), sf.col("deg").as("__db")), "b")
      .select(sf.least(sf.col("__da"), sf.col("__db")).as("deg"))
      .groupBy("deg").agg(sf.count(sf.lit(1)).as("__ne"))
    val hist = nodeHist.join(edgeHist, Seq("deg"), "full_outer")
      .select(sf.col("deg"),
        sf.coalesce(sf.col("__nn"), sf.lit(0L)).as("__nn"),
        sf.coalesce(sf.col("__ne"), sf.lit(0L)).as("__ne"))
      .localCheckpoint(true) // totals + prefix read it
    val tot = hist.agg(sf.sum("__nn").cast("long").as("__tn"),
      sf.sum("__ne").cast("long").as("__te"))
    graft.operators.StarSchema
      .globalPrefixSumsMulti(hist, Seq("deg"),
        Seq("__nn" -> "__cn", "__ne" -> "__ce"))
      .crossJoin(sf.broadcast(tot))
      .select({
        val nk = sf.col("__tn") - sf.col("__cn")
        val ek = sf.col("__te") - sf.col("__ce")
        Seq(sf.col("deg").as("k"), nk.as("n_nodes_gt"), ek.as("n_edges_gt"),
          sf.when(nk >= 2, gf.roundAt(ek.cast("double") * 2.0 /
            (nk.cast("double") * (nk.cast("double") - 1.0)), 6)).as("phi"))
      }: _*)
      .orderBy("k")
  }

  /** Local clustering coefficient per node (Watts & Strogatz 1998):
    * cc(v) = triangles_at_v / (d_v(d_v−1)/2) — how much of each
    * node's neighborhood is itself connected. The node-level
    * decomposition of [[graphProfile]]'s global coefficient: a node
    * with high degree and near-zero cc is a pure connector (spam hub,
    * crawler artifact); cc ≈ 1 marks cliques (mirror farms,
    * boilerplate co-occurrence).
    *
    * Determinism: triangle counts ride [[triangles]]' degree-ordered
    * closure (each triangle found exactly once, then credited to all
    * three corners); cc is one pinned division of exact integers
    * rounded 1e-6; degree-1 nodes report cc = NULL (no wedge to
    * close).
    *
    * Scale shape: the O(|E|^1.5)-bounded oriented closure + one
    * corner explode + a map-side-combined per-node count + an
    * AQE-decided degree join on the NODE domain. */
  def localClustering(df: DataFrame, basketCol: String, itemCol: String,
                      minPairCount: Long = 2): DataFrame =
    localClusteringFromPairs(minedPairs(df, basketCol, itemCol, minPairCount))

  /** [[localClustering]] over a pre-mined undirected pair list
    * (canonical item_a < item_b rows — the [[trianglesFromPairs]]
    * input): pipelines mine once, persist the pairs, and run both
    * triangle readouts against the same frame. A caller-persisted
    * input is left cached (the `*FromEdges` ownership convention); an
    * unpersisted one is persisted here because the closure reads it
    * three times (degrees, orientation, closing list). */
  def localClusteringFromPairs(pairs0: DataFrame): DataFrame =
    withCached(pairs0) { pairsIn =>
      val und = pairsIn
        .select(sf.col("item_a").as("u"), sf.col("item_b").as("v"))
      // degree table feeds the final readout AND the closure's
      // orientation joins — derive it once, eagerly (node-sized)
      val deg = und.select(sf.col("u").as("item")).union(und.select(sf.col("v").as("item")))
        .groupBy("item").agg(sf.count(sf.lit(1)).as("degree"))
        .localCheckpoint(true)
      val triAt = triangleClosure(und,
          Some(deg.select(sf.col("item").as("n"), sf.col("degree").as("d"))))
        .select(sf.explode(sf.array(
          sf.col("item_a"), sf.col("item_b"), sf.col("item_c"))).as("item"))
        .groupBy("item").agg(sf.count(sf.lit(1)).as("n_triangles"))
      deg.join(triAt, Seq("item"), "left")
        .select(sf.col("item"), sf.col("degree"),
          sf.coalesce(sf.col("n_triangles"), sf.lit(0L)).as("n_triangles"),
          sf.when(sf.col("degree") >= 2, gf.roundAt(
            sf.coalesce(sf.col("n_triangles"), sf.lit(0L)).cast("double") /
              ((sf.col("degree") * (sf.col("degree") - 1)).cast("double") / 2), 6))
            .as("local_cc"))
    }.orderBy("item")

  /** HITS hubs & authorities (Kleinberg 1999, JACM 46(5)) over a
    * DIRECTED bipartite edge list — the centrality pair PageRank's
    * single score can't give: on an ownership/containment graph
    * (supplier → part, host → document, curator → list) a HUB is a
    * source whose targets are authoritative, an AUTHORITY a target
    * endorsed by strong hubs — the mutual-reinforcement readout used
    * to rank both sides of a two-mode graph at once (catalog curation:
    * "which suppliers define the core catalog, which parts ARE the
    * core"). `iters` synchronous rounds of the standard coupled
    * update, authorities first, each side max-normalized:
    *
    *   a_raw(v) = Σ_{u→v} h(u);  a(v) = (a_raw·SCALE) div max(a_raw)
    *   h_raw(u) = Σ_{u→v} a(v);  h(u) = (h_raw·SCALE) div max(h_raw)
    *
    * with h0 = SCALE on every source. EXACT integer fixed-point at
    * SCALE = 1e6: scores stay ≤ SCALE, raw sums ≤ degree·SCALE, and
    * the normalize product raw·SCALE stays inside exact Long range for
    * degrees up to ~9·10⁶ (documented bound; a two-mode graph whose
    * one-side degree exceeds that needs a coarser scale, not doubles).
    * Max-normalization (not L2/L1) keeps the recurrence
    * division-exact and bit-replayable — the [[pageRank]] convention.
    *
    * Output: one row per node, `side` ∈ ('auth', 'hub'), ordered
    * (side, score_fx desc, item) — tie-deterministic.
    *
    * Scale shape: each half-round is ONE equi join of the score frame
    * against the edge list + one map-side-combined sum — |E| shuffle
    * rows, the [[pageRank]] loop shape; the per-round max is a one-row
    * broadcast cross join (never a driver collect). Edges persist as
    * the loop invariant; `iters` is a fixed small contract (mutual
    * reinforcement saturates in O(5) rounds on real graphs). */
  def hitsBipartite(df: DataFrame, srcCol: String, dstCol: String,
                    iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters must be in [1, 20], got $iters")
    val SCALE = 1000000L // 1e6
    // (score·SCALE) div max — one-row broadcast, integer-exact; raw
    // is read twice (sum + max), so each raw sum frame is persisted
    // (the normalized score frames are read once per round)
    def maxNorm(raw: DataFrame, node: String): DataFrame = {
      val mx = raw.agg(sf.max("__s").as("__mx"))
      raw.crossJoin(sf.broadcast(mx))
        .select(sf.col(node), sf.expr(s"(__s * ${SCALE}L) div __mx").as("__v"))
    }
    loop { lp =>
      // the per-half-round join key ALTERNATES (authority sums probe
      // on src, hub sums on dst): above the broadcast cap one copy is
      // pre-partitioned per key; the gate reads the LARGER side
      lp.prepare(df.select(sf.col(srcCol).as("src"), sf.col(dstCol).as("dst"))
        .distinct(), "src", "dst")()
      val (eSrc, eDst) = (lp.edges("src"), lp.edges("dst"))
      val hub0 = eSrc.select(sf.col("src")).distinct()
        .select(sf.col("src"), sf.lit(SCALE).as("__v"))
      val Seq(hub, auth) = lp.iterateAll(iters, Seq(hub0)) { state =>
        val auth = maxNorm(lp.keep(eSrc.join(state.head, "src")
          .groupBy("dst").agg(sf.sum("__v").as("__s"))), "dst")
        val hub = maxNorm(lp.keep(eDst.join(auth, "dst")
          .groupBy("src").agg(sf.sum("__v").as("__s"))), "src")
        Seq(hub, auth)
      }
      // auth first: hub's plan reads the last auth raw-sum cache too,
      // and one plan touching an unfilled cache twice pays twice
      auth.localCheckpoint(true)
        .select(sf.lit("auth").as("side"), sf.col("dst").as("item"),
          sf.col("__v").as("score_fx"))
        .union(hub.select(sf.lit("hub").as("side"), sf.col("src").as("item"),
          sf.col("__v").as("score_fx")))
    }.orderBy(sf.col("side"), sf.col("score_fx").desc, sf.col("item"))
  }

  /** Eigenvector centrality (Bonacich 1972) over the undirected
    * co-occurrence graph: `iters` rounds of the bare power iteration
    * x' = A·x, max-normalized each round — the "endorsed by important
    * neighbors" score WITHOUT [[pageRank]]'s damping or out-degree
    * division: PageRank splits a node's vote across its edges (a hub's
    * endorsement is diluted), eigenvector centrality does not, so the
    * two disagree exactly on hub-adjacent nodes — reading both is the
    * standard centrality cross-check before curating on either.
    * EXACT integer fixed-point at SCALE = 1e6 (the [[hitsBipartite]]
    * arithmetic: scores ≤ SCALE, normalize product Long-exact to
    * degree ~9·10⁶); fixed `iters` is the bounded-round contract the
    * whole iterative family shares. Note the bare power iteration on
    * a BIPARTITE component oscillates with period 2 — with a fixed
    * round count that is a deterministic, documented readout (the
    * classical fix, a self-loop/teleport term, is what [[pageRank]]
    * already offers).
    *
    * Scale shape: per round one |E| equi join + one map-side-combined
    * destination sum + a one-row broadcast max — the [[pageRank]] loop
    * shape; edges persist as the loop invariant, only scores move. */
  def eigenvectorCentrality(df: DataFrame, basketCol: String, itemCol: String,
                            minPairCount: Long = 2, iters: Int = 3): DataFrame =
    eigenLoop(minedEdges(df, basketCol, itemCol, minPairCount), iters, symmetric = true)

  /** [[eigenvectorCentrality]] over a pre-mined directed edge list
    * (both directions per undirected pair — the mine-once
    * `*FromEdges` family member). */
  def eigenvectorCentralityFromEdges(edges0: DataFrame, iters: Int = 3): DataFrame =
    eigenLoop(edges0, iters, symmetric = false)

  private def eigenLoop(edges0: DataFrame, iters: Int, symmetric: Boolean): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters must be in [1, 20], got $iters")
    loop { lp =>
      val nodes =
        if (symmetric) { lp.prepare(edges0, "src")(); nodesOf(withDst = false)(lp.edges("src")) }
        else lp.prepareNodes(edges0, persisted = true, nodesOf(withDst = true))._2
      powerLoop(lp, nodes, iters, symmetric, floor = 0L) { sums =>
        val raw = lp.keep(sums) // read twice: sum + max
        raw.crossJoin(sf.broadcast(raw.agg(sf.max("__s").as("__mx"))))
          .select(sf.col("dst").as("item"),
            sf.expr(s"(__s * ${PowerScale}L) div __mx").as("__n"))
      }.select(sf.col("item"), sf.col("__v").as("eig_fx"))
    }.orderBy(sf.col("eig_fx").desc, sf.col("item"))
  }

  /** Fixed-point scale of the [[powerLoop]] family (1e6). */
  private val PowerScale = 1000000L

  /** The bounded power iteration behind eigenvector and Katz
    * centrality: x0 = PowerScale on every node; each round the
    * in-neighbor sums (dst, __s = Σ_{u→v} x(u)) go through `update`
    * to (item, __n), and x' = coalesce(__n, 0) + `floor`. `symmetric`
    * (mined) edge lists give every node in-edges every round, so the
    * general path's `nodes LEFT JOIN` — which pins isolated nodes of an
    * arbitrary pre-mined list to `floor` — is an identity there and is
    * dropped (PprSymmetricSpec pins the two paths equal). */
  private def powerLoop(lp: Loop, nodes: DataFrame, iters: Int, symmetric: Boolean,
                        floor: Long)(update: DataFrame => DataFrame): DataFrame = {
    val edges = lp.edges("src")
    lp.iterate(iters, nodes.select(sf.col("item"), sf.lit(PowerScale).as("__v"))) { x =>
      val next = update(edges
        .join(x.select(sf.col("item").as("src"), sf.col("__v")), "src")
        .groupBy("dst").agg(sf.sum("__v").as("__s")))
      (if (symmetric) next else nodes.join(next, Seq("item"), "left"))
        .select(sf.col("item"), (sf.coalesce(sf.col("__n"), sf.lit(0L)) + floor).as("__v"))
    }
  }

  /** Katz centrality (Katz 1953), truncated damped-path form: x =
    * Σ_{r≤iters} α^r A^r 1 via the fixed-point recurrence x_r = α·A·
    * x_{r−1} + β — counts ALL walks ending at a node, geometrically
    * damped by length. The centrality that distinguishes itself from
    * its siblings exactly where they fail: [[pageRank]] divides
    * influence by out-degree (a hub's endorsement is diluted),
    * [[eigenvectorCentralityFromEdges]] assigns ~0 to nodes only
    * reachable from low-score regions; Katz's β floor gives every
    * node baseline mass so peripheral structure still differentiates
    * — the standard choice for directed influence with near-isolated
    * nodes.
    *
    * Determinism: EXACT integer fixed point — β = 10⁶, α = 1/8
    * dyadic, each round x = (Σ_in x_prev) div 8 + β in floor integer
    * division (no doubles anywhere, the [[pageRank]] 1e12 discipline
    * at 1e6 scale); `iters` bounds the walk length explicitly (the
    * truncated Katz series — documented, not a convergence claim).
    * Long-sum bound: max x ≲ β·(d_max/8)^iters — inside int64 to
    * d_max ~ 10⁴ at the default 3 rounds; beyond that lower `iters`
    * or pre-contract hubs. ENFORCED at runtime: the actual max
    * in-degree is measured up front and the worst case priced in
    * BigInt — a (d_max, iters) pair whose in-neighbor sum could wrap
    * int64 throws immediately instead of returning wrapped garbage.
    *
    * Scale shape: per round ONE edge-keyed join + combinable
    * in-neighbor sum (shuffle = |edges|), loop invariants persisted,
    * the relaxRounds / UnpersistBatch lineage discipline. */
  def katzCentrality(df: DataFrame, basketCol: String, itemCol: String,
                     minPairCount: Long = 2, iters: Int = 3): DataFrame =
    katzLoop(minedEdges(df, basketCol, itemCol, minPairCount), iters,
      symmetric = true, "katzCentrality")

  /** [[katzCentrality]] over a pre-mined directed edge list — the
    * mine-once `*FromEdges` family member. */
  def katzCentralityFromEdges(edges0: DataFrame, iters: Int = 3): DataFrame =
    katzLoop(edges0, iters, symmetric = false, "katzCentralityFromEdges")

  private def katzLoop(edges0: DataFrame, iters: Int, symmetric: Boolean,
                       name: String): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters must be in [1, 20], got $iters")
    loop { lp =>
      // Runtime overflow guard: the int64 bound (max x ≈
      // β·(d_max/8)^iters) silently WRAPS under non-ANSI long sums at
      // realistic hub degrees well inside the [1,20] iters cap. The
      // probe job measures the actual max in-degree (its node figure is
      // the exact in-node count); the worst case is priced in BigInt
      // (every in-neighbor of the hub carrying the max score).
      val stats = lp.prepare(edges0, "src")(
        _.groupBy("dst").agg(sf.count(sf.lit(1)).as("__d"))
          .agg(sf.count(sf.lit(1)), sf.max("__d")))
      val dmax = if (stats.isNullAt(1)) 1L else math.max(1L, stats.getLong(1))
      var xmax = BigInt(PowerScale)
      var sumOk = true
      for (_ <- 1 to iters) {
        val s = xmax * dmax // the per-node in-neighbor SUM — the wrap point
        if (s > Long.MaxValue) sumOk = false
        xmax = s / 8 + PowerScale
      }
      if (!sumOk) throw new IllegalArgumentException(
        s"$name: iters=$iters with max in-degree $dmax " +
        "would overflow the exact int64 fixed point (worst-case in-neighbor " +
        "sum exceeds Long.MaxValue) — lower iters or pre-contract hubs")
      val nodes = nodesOf(withDst = !symmetric)(lp.edges("src"))
      powerLoop(lp, if (symmetric) nodes else lp.own(nodes), iters, symmetric,
          floor = PowerScale)(
        _.select(sf.col("dst").as("item"), sf.expr("__s div 8").as("__n")))
        .select(sf.col("item"), sf.col("__v").as("katz_fx"))
    }.orderBy(sf.col("katz_fx").desc, sf.col("item"))
  }

  /** Categorical attribute assortativity (Newman 2003, eq. 2): over
    * the directed edge list with each endpoint labeled, r = (Σ_i e_ii
    * − Σ_i a_i b_i)/(1 − Σ_i a_i b_i) — do edges stay WITHIN label
    * classes more than the margins predict (r → 1 perfect homophily,
    * 0 random mixing, < 0 disassortative)? The categorical sibling of
    * [[degreeAssortativity]], and the one-number "is this graph
    * label-segregated" gate in front of [[labelPropagation]] (near-0
    * mixing means community detection will find noise) and of any
    * train/test split by label over graph-linked data.
    *
    * Determinism: with integer mixing counts m_ij, M = Σm_ij, the
    * coefficient is exactly (M·Σm_ii − Σ_i row_i·col_i)/(M² −
    * Σ_i row_i·col_i) — every term DECIMAL(38,0), ONE pinned division
    * rounded 1e-6. Unlabeled endpoints drop (complete-case,
    * documented); a single-label graph (denominator 0) yields NULL.
    *
    * Scale shape: two label-attach equi joins on the edge list
    * (node-domain sized, AQE-decided) + one (label, label) cell
    * collapse + two label-domain margins + a one-row finish. */
  def attributeAssortativity(edges: DataFrame, labels: DataFrame,
                             nodeCol: String, labelCol: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val lab = labels.filter(sf.col(labelCol).isNotNull)
      .select(sf.col(nodeCol).as("__node"),
        sf.col(labelCol).cast("string").as("__lbl")).distinct()
    val cells = edges
      .join(lab.select(sf.col("__node").as("src"), sf.col("__lbl").as("__la")), "src")
      .join(lab.select(sf.col("__node").as("dst"), sf.col("__lbl").as("__lb")), "dst")
      .groupBy("__la", "__lb").agg(sf.count(sf.lit(1)).as("__m"))
      .localCheckpoint(true) // diagonal + two margins read it
    val diag = cells.agg(sf.sum("__m").cast("long").as("m_edges"),
      sf.sum(sf.when(sf.col("__la") === sf.col("__lb"), sf.col("__m"))
        .otherwise(sf.lit(0L))).cast("long").as("__mii"),
      sf.count_distinct(sf.col("__la")).as("n_labels"))
    val margins = cells.groupBy("__la").agg(sf.sum("__m").cast("long").as("__row"))
      .join(cells.groupBy("__lb").agg(sf.sum("__m").cast("long").as("__col"))
        .select(sf.col("__lb").as("__la"), sf.col("__col")), Seq("__la"), "full_outer")
      .agg(sf.sum(dec(sf.coalesce(sf.col("__row"), sf.lit(0L))) *
        dec(sf.coalesce(sf.col("__col"), sf.lit(0L)))).as("__ab"))
    diag.crossJoin(sf.broadcast(margins))
      .select({
        val m = dec(sf.col("m_edges"))
        val num = (m * dec(sf.col("__mii")) - sf.col("__ab")).cast("double")
        val den = (m * m - sf.col("__ab")).cast("double")
        Seq(sf.col("m_edges").as("n_directed_edges"), sf.col("n_labels"),
          sf.when(den =!= 0.0, gf.roundAt(num / den, 6)).as("assortativity"))
      }: _*)
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003): for every
    * NON-adjacent pair {a, b} sharing ≥ 1 neighbor, score
    * Σ_w 1/ln(d_w) over common neighbors w — rare shared neighbors
    * count more than hub co-membership. The top of this list is
    * "edges the graph is missing": substitute products, about-to-merge
    * duplicate entities, recommended follows.
    *
    * Determinism: each center's weight 1/ln(d_w) snaps to a 1e-9
    * integer grid (the q157/q168 ln-snap convention) so pair scores
    * are exact integer sums; the top-k cut orders by
    * (score desc, item_a, item_b) — fully tie-deterministic.
    *
    * Scale shape: wedge enumeration fans out at the CENTER node
    * (Σd²); centers above `maxCenterDegree` are excluded by contract —
    * a hub's per-pair contribution 1/ln(d) is the smallest in the
    * graph while its fan-out is quadratic, so the cap bounds compute
    * at a documented, negligible score cost (the standard
    * link-prediction practice). Existing edges leave via one
    * broadcast-capable anti join; the k-row finish is a TakeOrdered,
    * never a global sort materialization. */
  def adamicAdar(df: DataFrame, basketCol: String, itemCol: String,
                 minPairCount: Long = 2, topK: Int = 100,
                 maxCenterDegree: Long = 1000): DataFrame = {
    require(topK >= 1 && topK <= 100000, s"topK must be in [1, 1e5], got $topK")
    require(maxCenterDegree >= 2,
      s"maxCenterDegree must be >= 2, got $maxCenterDegree")
    val und = minedPairs(df, basketCol, itemCol, minPairCount)
      .select(sf.col("item_a").as("u"), sf.col("item_b").as("v"))
      .persist()
    val adj = und.select(sf.col("u").as("w"), sf.col("v").as("x"))
      .union(und.select(sf.col("v").as("w"), sf.col("u").as("x")))
    val deg = adj.groupBy("w").agg(sf.count(sf.lit(1)).as("d"))
    // per-center snapped weight: centers need d >= 2 to form a wedge,
    // so ln(d) > 0 by construction
    val centers = deg
      .filter(sf.col("d") >= 2 && sf.col("d") <= maxCenterDegree)
      .select(sf.col("w"),
        sf.floor(sf.lit(1.0) / sf.log(sf.col("d").cast("double")) * 1e9 + 0.5)
          .cast("long").as("__w9"))
    val wedges = adj.join(centers, "w")
      .join(adj.select(sf.col("w"), sf.col("x").as("y")), Seq("w"))
      .filter(sf.col("x") < sf.col("y"))
    val scored = wedges.groupBy(sf.col("x").as("item_a"), sf.col("y").as("item_b"))
      .agg(sf.count(sf.lit(1)).as("common_neighbors"),
        sf.sum(sf.col("__w9")).as("__s9"))
    scored
      .join(und.select(sf.col("u").as("item_a"), sf.col("v").as("item_b")),
        Seq("item_a", "item_b"), "left_anti")
      .select(sf.col("item_a"), sf.col("item_b"), sf.col("common_neighbors"),
        gf.roundAt(sf.col("__s9").cast("double") / 1e9, 6).as("aa_score"))
      .orderBy(sf.col("aa_score").desc, sf.col("item_a"), sf.col("item_b"))
      .limit(topK)
  }

  /** Link-prediction datasheet — the four classic neighborhood scores
    * side by side on [[adamicAdar]]'s exact candidate semantics
    * (non-adjacent pairs sharing >= 1 qualified center, centers
    * filtered to degree [2, maxCenterDegree]): common-neighbor count,
    * Jaccard cn/(d_a + d_b − cn) (Liben-Nowell & Kleinberg 2007),
    * resource allocation Σ_w 1/d_w (Zhou, Lü & Zhang 2009 — the
    * published top performer of the degree-penalized family; penalizes
    * hubs HARDER than AA's 1/ln d), preferential attachment d_a·d_b
    * (Barabási — the no-neighborhood baseline), plus AA itself, so one
    * scan answers "which score family separates this graph's missing
    * edges" instead of four separate wedge enumerations.
    *
    * Determinism: per-center weights snap to the 1e-9 grid (the row
    * 308 convention) so RA/AA are exact integer sums; Jaccard is one
    * pinned integer-ratio division rounded 1e-6; PA is an exact long
    * product of full degrees. Top-k orders by (aa_score desc, item_a,
    * item_b) — the row 308 cut, fully tie-deterministic.
    *
    * Scale shape: identical to [[adamicAdar]] — ONE wedge enumeration
    * bounded by the center cap (Σd² over qualified centers), one
    * broadcast-sized degree attach per side, one anti join, TakeOrdered
    * finish. Four scores for the price of row 308's one. */
  def linkPrediction(df: DataFrame, basketCol: String, itemCol: String,
                     minPairCount: Long = 2, topK: Int = 100,
                     maxCenterDegree: Long = 1000): DataFrame = {
    require(topK >= 1 && topK <= 100000, s"topK must be in [1, 1e5], got $topK")
    require(maxCenterDegree >= 2,
      s"maxCenterDegree must be >= 2, got $maxCenterDegree")
    val und = minedPairs(df, basketCol, itemCol, minPairCount)
      .select(sf.col("item_a").as("u"), sf.col("item_b").as("v"))
      .persist()
    val adj = und.select(sf.col("u").as("w"), sf.col("v").as("x"))
      .union(und.select(sf.col("v").as("w"), sf.col("u").as("x")))
    val deg = adj.groupBy("w").agg(sf.count(sf.lit(1)).as("d"))
      .localCheckpoint(true) // centers + both score-side attaches read it
    val centers = deg
      .filter(sf.col("d") >= 2 && sf.col("d") <= maxCenterDegree)
      .select(sf.col("w"),
        sf.floor(sf.lit(1.0) / sf.log(sf.col("d").cast("double")) * 1e9 + 0.5)
          .cast("long").as("__aa9"),
        sf.expr("CAST(1000000000 DIV d AS BIGINT)").as("__ra9"))
    val wedges = adj.join(centers, "w")
      .join(adj.select(sf.col("w"), sf.col("x").as("y")), Seq("w"))
      .filter(sf.col("x") < sf.col("y"))
    val scored = wedges.groupBy(sf.col("x").as("item_a"), sf.col("y").as("item_b"))
      .agg(sf.count(sf.lit(1)).as("common_neighbors"),
        sf.sum(sf.col("__aa9")).as("__a9"), sf.sum(sf.col("__ra9")).as("__r9"))
    val res = scored
      .join(und.select(sf.col("u").as("item_a"), sf.col("v").as("item_b")),
        Seq("item_a", "item_b"), "left_anti")
      .join(deg.select(sf.col("w").as("item_a"), sf.col("d").as("__da")), "item_a")
      .join(deg.select(sf.col("w").as("item_b"), sf.col("d").as("__db")), "item_b")
      .select(sf.col("item_a"), sf.col("item_b"), sf.col("common_neighbors"),
        gf.roundAt(sf.col("common_neighbors").cast("double") /
          (sf.col("__da") + sf.col("__db") - sf.col("common_neighbors"))
            .cast("double"), 6).as("jaccard"),
        gf.roundAt(sf.col("__a9").cast("double") / 1e9, 6).as("aa_score"),
        gf.roundAt(sf.col("__r9").cast("double") / 1e9, 6).as("ra_score"),
        (sf.col("__da") * sf.col("__db")).as("pa_score"))
      .orderBy(sf.col("aa_score").desc, sf.col("item_a"), sf.col("item_b"))
      .limit(topK)
    val out = res.localCheckpoint(true)
    und.unpersist()
    out
  }

  /** Bounded-horizon closeness + harmonic centrality for a DETERMINISTIC
    * seed set: per seed s, over every node within `rounds` hops,
    * closeness = reached/Σdist (Bavelas 1950, restricted to the hop
    * horizon — the only honest form at scale: exact closeness is
    * all-pairs) and harmonic = Σ 1/dist (Marchiori & Latora 2000 —
    * defined even when the horizon fragments the graph, which is why
    * modern practice prefers it). Answers "which of THESE nodes sits
    * closest to the rest of the graph" for a curated candidate set —
    * hub catalog items, suspected-influencer accounts — without an
    * all-pairs pass.
    *
    * Determinism: hop distances are exact integers (synchronous
    * per-seed BFS, min-merge); harmonic terms are exact integer
    * divisions 10⁹ div d summed as longs; closeness is ONE pinned
    * integer-ratio division rounded 1e-6.
    *
    * Scale shape: the BFS state is (seed, node, dist) — |seeds| ×
    * reachable nodes; per round ONE edge equi join + map-side-combined
    * min (shuffle ≤ |seeds|·|E| worst case, in practice frontier-
    * bounded). The SEED SET is the knob: centrality-for-everyone is an
    * all-pairs ambition, centrality for a bounded candidate list is
    * linear in it. Rounds ≤ 8 bound the state's growth; the shared
    * loop's lineage cut bounds the plan. */
  def closenessCentrality(df: DataFrame, basketCol: String, itemCol: String,
                          seedPred: Column => Column,
                          minPairCount: Long = 2, rounds: Int = 3): DataFrame =
    closenessFromEdges(minedEdges(df, basketCol, itemCol, minPairCount),
      seedPred, rounds)

  /** The per-seed tagged BFS behind [[closenessFromEdges]] and
    * [[eccentricityFromEdges]]: runs `rounds` synchronous min-merge
    * steps and hands the final (seed, item, dist) state to `finish`,
    * materializing its result before the loop frames are released. */
  private def taggedBfs(edges0: DataFrame, seedPred: Column => Column,
                        rounds: Int)(finish: DataFrame => DataFrame): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds must be in [1, 8], got $rounds")
    loop { lp =>
      lp.prepare(edges0, "src")()
      val edges = lp.edges("src")
      val state0 = lp.keep(nodesOf(withDst = true)(edges)
        .filter(seedPred(sf.col("item")))
        .select(sf.col("item").as("seed"), sf.col("item"), sf.lit(0L).as("dist")))
      finish(lp.iterate(rounds, state0) { prev =>
        val relax = edges.join(prev, sf.col("src") === sf.col("item"))
          .select(sf.col("seed"), sf.col("dst").as("item"),
            (sf.col("dist") + sf.lit(1L)).as("dist"))
        lp.keep(prev.unionByName(relax)
          .groupBy("seed", "item").agg(sf.min("dist").as("dist")))
      })
    }
  }

  /** [[closenessCentrality]] over a pre-mined directed edge list — the
    * mine-once `*FromEdges` family member. */
  def closenessFromEdges(edges0: DataFrame, seedPred: Column => Column,
                         rounds: Int = 3): DataFrame =
    taggedBfs(edges0, seedPred, rounds) { state =>
      state.filter(sf.col("item") =!= sf.col("seed"))
        .groupBy("seed")
        .agg(sf.count(sf.lit(1)).as("n_reached"),
          sf.sum("dist").cast("long").as("sum_dist"),
          sf.sum(sf.expr("CAST(1000000000 DIV dist AS BIGINT)")).as("__h9"))
        .select(sf.col("seed").as("item"), sf.col("n_reached"),
          sf.col("sum_dist"),
          gf.roundAt(sf.col("n_reached").cast("double") /
            sf.col("sum_dist").cast("double"), 6).as("closeness"),
          gf.roundAt(sf.col("__h9").cast("double") / 1e9, 6).as("harmonic"))
        .orderBy("item")
    }

  /** Bounded-horizon ECCENTRICITY per seed + the graph's diameter and
    * radius LOWER BOUNDS — the standard sampled-BFS diameter estimate
    * (exact eccentricities are all-pairs; a seed sample gives
    * max-over-seeds ≤ diameter and min-over-seeds ≥ radius… each
    * seed's eccentricity is EXACT within the `rounds` horizon): per
    * seed, ecc = max hop distance reached, with the reached count so
    * a horizon-truncated read is visible (ecc = rounds AND low
    * coverage means "still expanding", not "small world"). The
    * structure number beside row 425's closeness: closeness reads the
    * CENTER of mass, eccentricity reads the WORST CASE.
    *
    * Determinism: exact integer hop distances (the row 425 tagged
    * BFS), max/count exact. Scale shape: identical to row 425 —
    * (seed, node, dist) state, seeds are the knob. */
  def eccentricity(df: DataFrame, basketCol: String, itemCol: String,
                   seedPred: Column => Column,
                   minPairCount: Long = 2, rounds: Int = 3): DataFrame =
    eccentricityFromEdges(minedEdges(df, basketCol, itemCol, minPairCount),
      seedPred, rounds)

  /** [[eccentricity]] over a pre-mined directed edge list. */
  def eccentricityFromEdges(edges0: DataFrame, seedPred: Column => Column,
                            rounds: Int = 3): DataFrame =
    taggedBfs(edges0, seedPred, rounds) { state =>
      state.groupBy("seed")
        .agg((sf.count(sf.lit(1)) - 1).as("n_reached"),
          sf.max("dist").cast("long").as("eccentricity"))
        .select(sf.col("seed").as("item"), sf.col("n_reached"),
          sf.col("eccentricity"))
        .orderBy("item")
    }

  /** Sampled-source betweenness centrality (Brandes 2001, the
    * accumulation identity; Brandes & Pich 2007 for source sampling) —
    * the LAST classic centrality missing beside degree/PageRank/
    * eigenvector/Katz/closeness/HITS (rows 157/267/328/372/266): how
    * much SHORTEST-PATH TRAFFIC routes THROUGH a node — the broker /
    * bottleneck / bridge reading none of the prestige measures give
    * (a low-degree node connecting two communities is invisible to
    * PageRank and everything to betweenness). Exact betweenness is
    * O(V·E) (a full BFS per node) — at corpus scale the standard
    * estimator runs Brandes from `nSources` deterministically sampled
    * sources, DEPTH-BOUNDED (paths longer than `depth` contribute
    * nothing; on small-world co-occurrence graphs hop-3 captures the
    * overwhelming path mass), and reports the per-source-averaged
    * dependency — the fixed-budget estimate that scales as nSources
    * BFS sweeps regardless of |V|.
    *
    * Determinism: sources are the nSources smallest sampleHash(node)
    * (ties by node); path counts σ are EXACT integers (DECIMAL(38,0)
    * sums over the BFS DAG); the dependency recursion δ(v) = Σ_w
    * (σ_v/σ_w)(1 + δ(w)) runs in 1e-9 fixed point with every term
    * floor((σ_v·(1e9 + δ9_w)) div σ_w) — each term floored
    * independently, so the sum is order-free and the unrolled oracle
    * replays it bit-for-bit.
    *
    * Scale shape: `depth` frontier rounds (each one |E| equi join +
    * an anti join against visited + a combinable σ sum) forward,
    * `depth − 1` the same shape backward; every frame is bounded by
    * nSources × |V| rows and lineage is cut per round. */
  def betweenness(df: DataFrame, basketCol: String, itemCol: String,
                  minPairCount: Long = 3, nSources: Int = 4,
                  depth: Int = 3): DataFrame =
    betweennessFromEdges(minedEdges(df, basketCol, itemCol, minPairCount),
      nSources, depth)

  /** [[betweenness]] over a pre-mined symmetric edge list (the
    * mine-once pipeline idiom shared by the `*FromEdges` family). */
  def betweennessFromEdges(edges0: DataFrame, nSources: Int = 4,
                           depth: Int = 3): DataFrame = {
    require(nSources >= 1 && nSources <= 64,
      s"nSources must be in [1, 64], got $nSources")
    require(depth >= 1 && depth <= 8, s"depth must be in [1, 8], got $depth")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val edges = (if (callerCached(edges0)) edges0 else Par.spread(edges0))
      .select(sf.col("src"), sf.col("dst")).localCheckpoint(true)
    val nodes = edges.select(sf.col("src").as("item")).distinct()
      .localCheckpoint(true) // sources sample + final left join read it
    // numeric node ids order by the oracle-replayable sampleHash;
    // other id types fall back to xxhash64 (same determinism, no
    // SQL-twin requirement — the wired query's ids are numeric)
    val isNumeric = edges.schema("src").dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    val srcOrder =
      if (isNumeric) Similarity.sampleHash(sf.col("item"))
      else sf.pmod(sf.xxhash64(sf.col("item")), sf.lit(4294967296L))
    val sources = nodes
      .orderBy(srcOrder, sf.col("item"))
      .limit(nSources).select(sf.col("item").as("s"))
    // forward: BFS layers with exact path counts
    val l0 = sources.select(sf.col("s"), sf.col("s").as("v"),
      dec(sf.lit(1L)).as("sig"), sf.lit(0).as("d")).localCheckpoint(true)
    val layers = scala.collection.mutable.ArrayBuffer(l0)
    var visited = l0
    var frontier = l0
    for (d <- 1 to depth) {
      val nxt = frontier.join(edges, sf.col("v") === sf.col("src"))
        .groupBy(sf.col("s"), sf.col("dst"))
        .agg(sf.sum("sig").as("sig0"))
        .join(visited.select(sf.col("s").as("__s2"), sf.col("v").as("__v2")),
          sf.col("s") === sf.col("__s2") && sf.col("dst") === sf.col("__v2"),
          "left_anti")
        .select(sf.col("s"), sf.col("dst").as("v"), dec(sf.col("sig0")).as("sig"),
          sf.lit(d).as("d"))
        .localCheckpoint(true)
      layers += nxt
      visited = visited.union(nxt).localCheckpoint(true)
      frontier = nxt
    }
    // backward: dependency accumulation, leaves at `depth` carry 0
    var delta = layers(depth).select(sf.col("s"), sf.col("v"),
      sf.lit(0L).as("delta9"))
    var acc = delta
    for (d <- (depth - 1) to 1 by -1) {
      val up = layers(d + 1)
        .join(delta.select(sf.col("s").as("__s3"), sf.col("v").as("__v3"),
          sf.col("delta9")),
          sf.col("s") === sf.col("__s3") && sf.col("v") === sf.col("__v3"))
        .select(sf.col("s").as("__su"), sf.col("v").as("w"),
          sf.col("sig").as("sigw"), sf.col("delta9").as("dw"))
      val terms = layers(d).join(edges, sf.col("v") === sf.col("src"))
        .join(up, sf.col("s") === sf.col("__su") && sf.col("dst") === sf.col("w"))
        .select(sf.col("s"), sf.col("v"), sf.expr(
          "CAST((sig * (1000000000 + dw)) div sigw AS BIGINT)").as("__t"))
        .groupBy("s", "v").agg(sf.sum("__t").as("__td"))
      delta = layers(d)
        .join(terms.select(sf.col("s").as("__s4"), sf.col("v").as("__v4"),
          sf.col("__td")),
          sf.col("s") === sf.col("__s4") && sf.col("v") === sf.col("__v4"),
          "left")
        .select(sf.col("s"), sf.col("v"),
          sf.coalesce(sf.col("__td"), sf.lit(0L)).as("delta9"))
        .localCheckpoint(true)
      acc = acc.union(delta)
    }
    val bc = acc.filter(sf.col("v") =!= sf.col("s"))
      .groupBy(sf.col("v"))
      .agg(sf.sum(dec(sf.col("delta9"))).as("__bc"))
    nodes.join(bc, sf.col("item") === sf.col("v"), "left")
      .select(sf.col("item"),
        sf.coalesce(sf.col("__bc"), dec(sf.lit(0L))).cast("long").as("bc9"),
        gf.roundAt(sf.coalesce(sf.col("__bc"), dec(sf.lit(0L))).cast("double") /
          1e9 / nSources, 6).as("betweenness"))
      .orderBy(sf.col("bc9").desc, sf.col("item"))
  }
}
