package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField}
import org.apache.spark.sql.{functions => sf}
import graft.{functions => gf}

/** Deterministic recommender BASELINE evaluation over basket data —
  * the two numbers any recommendation effort must beat before a model
  * earns its keep, built on the house split/mining machinery so the
  * whole harness is hash-replayable: the train/test cut is the row 105
  * portable-hash split (a pure function of the basket key), candidates
  * come from exact counts, and every metric is an exact integer ratio.
  *
  * Reference behavior: the capstone's analytics stop at descriptive
  * rollups (etl.py:96-557); the eval harness here is the
  * training-pipeline extension the brief's LLM-data mandate asks for,
  * re-expressed over the same star-schema tables. */
object Recsys {

  /** Popularity-baseline hit rate — recommend the SAME top-N most
    * frequent items to everyone, score on held-out baskets: the
    * floor every personalized recommender must clear (on short-head
    * retail data it is notoriously hard to beat), and the sanity
    * denominator for [[coPurchaseHitRate]]. Two metrics: item hit
    * rate (share of held-out basket items that are in the top-N) and
    * basket hit rate (share of held-out baskets touching the top-N
    * at all).
    *
    * Determinism: the split is the row 105 Knuth-hash bucket of the
    * basket key (pure function of the data); `testBasisPoints` is out
    * of 10,000 buckets (default 2000 = 20% test fold); the top-N is
    * the exact integer order (count desc, item asc); metrics are
    * exact integer ratios rounded 1e-6.
    *
    * Scale shape: one combinable train item count + a TakeOrdered
    * top-N broadcast + one distinct (basket, item) collapse of the
    * test fold with a broadcast membership probe — test rows shuffle
    * once. */
  def popularityHitRate(lines: DataFrame, basketCol: String, itemCol: String,
                        topN: Int = 20, testBasisPoints: Int = 2000): DataFrame = {
    require(topN >= 1 && testBasisPoints >= 1 && testBasisPoints <= 9999,
      s"popularityHitRate: bad topN=$topN / testBasisPoints=$testBasisPoints")
    val rows = lines.filter(sf.col(basketCol).isNotNull && sf.col(itemCol).isNotNull)
      .select(sf.col(basketCol).as("b"), sf.col(itemCol).as("i"))
      .withColumn("__t", Sampling.hashBucket(sf.col("b")) < testBasisPoints)
      .localCheckpoint(true) // train counts + test probe read it
    val top = rows.filter(!sf.col("__t")).groupBy("i")
      .agg(sf.count(sf.lit(1)).as("__c"))
      .orderBy(sf.col("__c").desc, sf.col("i")).limit(topN)
      .select(sf.col("i").as("__ti"), sf.lit(1).as("__hit"))
    val nTrain = rows.filter(!sf.col("__t")).select("b").distinct().count()
    val test = rows.filter(sf.col("__t")).select("b", "i").distinct()
      .join(sf.broadcast(top), sf.col("i") === sf.col("__ti"), "left")
      .groupBy("b").agg(sf.count(sf.lit(1)).as("__n"),
        sf.sum(sf.coalesce(sf.col("__hit"), sf.lit(0))).as("__h"))
    test.agg(sf.count(sf.lit(1)).cast("long").as("n_test_baskets"),
        sf.sum("__n").cast("long").as("__items"),
        sf.sum("__h").cast("long").as("__hits"),
        sf.sum((sf.col("__h") > 0).cast("long")).cast("long").as("__bhits"))
      .select(sf.lit(nTrain).as("n_train_baskets"), sf.col("n_test_baskets"),
        sf.lit(topN).as("top_n"),
        gf.roundAt(sf.col("__hits").cast("double") /
          sf.col("__items").cast("double"), 6).as("item_hit_rate"),
        gf.roundAt(sf.col("__bhits").cast("double") /
          sf.col("n_test_baskets").cast("double"), 6).as("basket_hit_rate"))
  }

  /** Item-item cosine similarity table — top-k neighbors per item
    * under the binary-basket cosine n_ab/√(n_a·n_b) (the implicit-
    * feedback CF standard): row 156's lift prices SURPRISE
    * (association beyond chance), cosine prices STRENGTH normalized
    * by popularity, and the ranked neighbor table is the "customers
    * also bought" payload [[coPurchaseHitRate]] evaluates.
    *
    * Determinism: pair and margin counts are exact; the score
    * comparison n_ab/√(n_a·n_b) is monotone with n_ab²·1e6/(n_a·n_b),
    * so the RANKING is decided by exact integer cross-multiplication
    * (score⁶ = n_ab²·10⁶ div (n_a·n_b), ties by neighbor asc) and the
    * displayed cosine is one pinned √ division 1e-6.
    *
    * Scale shape: the row 156 bounded pair mining + one broadcast
    * margin attach + a per-item top-k window over neighbor lists. */
  def itemSimilarity(lines: DataFrame, basketCol: String, itemCol: String,
                     k: Int = 5, minPairCount: Long = 2): DataFrame = {
    require(k >= 1, s"itemSimilarity: k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val rows = lines.filter(sf.col(basketCol).isNotNull && sf.col(itemCol).isNotNull)
      .select(sf.col(basketCol).as("b"), sf.col(itemCol).as("i"))
      .localCheckpoint(true) // pairs + margins read it
    val pairs = Graph.minedPairs(rows, "b", "i", minPairCount)
    val margins = rows.distinct().groupBy(sf.col("i").as("__mi"))
      .agg(sf.count(sf.lit(1)).cast("long").as("__m"))
    val directed = pairs.select(sf.col("item_a").as("item"),
        sf.col("item_b").as("neighbor"), sf.col("c_ab"))
      .union(pairs.select(sf.col("item_b"), sf.col("item_a"), sf.col("c_ab")))
      .join(sf.broadcast(margins), sf.col("item") === sf.col("__mi"))
      .withColumnRenamed("__m", "__ma").drop("__mi")
      .join(sf.broadcast(margins), sf.col("neighbor") === sf.col("__mi"))
      .withColumnRenamed("__m", "__mb").drop("__mi")
      // integer rank key: n_ab^2 * 1e6 div (n_a * n_b)
      .withColumn("__s6", sf.expr(
        "CAST((CAST(c_ab AS DECIMAL(38,0)) * c_ab * 1000000)" +
          " DIV (CAST(__ma AS DECIMAL(38,0)) * __mb) AS BIGINT)"))
    val w = Window.partitionBy("item")
      .orderBy(sf.col("__s6").desc, sf.col("neighbor"))
    directed.withColumn("__rn", sf.row_number().over(w))
      .filter(sf.col("__rn") <= k)
      .select(sf.col("item"), sf.col("__rn").as("rank"), sf.col("neighbor"),
        sf.col("c_ab").as("n_both"),
        gf.roundAt(sf.col("c_ab").cast("double") /
          sf.sqrt(sf.col("__ma").cast("double") * sf.col("__mb").cast("double")),
          6).as("cosine"))
      .orderBy("item", "rank")
  }

  /** Co-purchase (item-item) hit rate — for every held-out (basket,
    * item) with company, does the item's top-k TRAIN co-occurrence
    * list contain ANY other item of the same basket: the
    * leave-nothing-out eval of the row 156 neighbor lists, and the
    * first number that can actually beat [[popularityHitRate]] when
    * co-purchase structure is real.
    *
    * Determinism: the same hash split (`testBasisPoints` out of
    * 10,000 buckets, default 2000 = 20%); neighbor lists are the exact
    * integer order (c_ab desc, neighbor asc) truncated at k per item
    * (both directions of each undirected pair); a hit is an exact
    * semi-join; the rate is one exact integer ratio.
    *
    * Scale shape: the row 156 bounded pair mining on the train fold +
    * one per-item top-k window over neighbor lists + an item-keyed
    * candidate join and a (basket, rec) semi-join — every shuffle
    * keyed, candidate volume ≤ test items × k. */
  def coPurchaseHitRate(lines: DataFrame, basketCol: String, itemCol: String,
                        k: Int = 5, minPairCount: Long = 2,
                        testBasisPoints: Int = 2000): DataFrame = {
    require(k >= 1 && testBasisPoints >= 1 && testBasisPoints <= 9999,
      s"coPurchaseHitRate: bad k=$k / testBasisPoints=$testBasisPoints")
    import org.apache.spark.sql.expressions.Window
    val rows = lines.filter(sf.col(basketCol).isNotNull && sf.col(itemCol).isNotNull)
      .select(sf.col(basketCol).as("b"), sf.col(itemCol).as("i"))
      .withColumn("__t", Sampling.hashBucket(sf.col("b")) < testBasisPoints)
      .localCheckpoint(true) // mining + eval read it
    val pairs = Graph.minedPairs(rows.filter(!sf.col("__t")), "b", "i",
        minPairCount)
      .localCheckpoint(true) // both directions + the count read it
    val nPairs = pairs.count()
    val directed = pairs.select(sf.col("item_a").as("i"),
        sf.col("item_b").as("rec"), sf.col("c_ab"))
      .union(pairs.select(sf.col("item_b"), sf.col("item_a"), sf.col("c_ab")))
    val w = Window.partitionBy("i").orderBy(sf.col("c_ab").desc, sf.col("rec"))
    val topk = directed.withColumn("__rn", sf.row_number().over(w))
      .filter(sf.col("__rn") <= k).select("i", "rec")
    val ti = rows.filter(sf.col("__t")).select("b", "i").distinct()
      .localCheckpoint(true) // size filter + both eval sides read it
    val sized = ti.groupBy("b").agg(sf.count(sf.lit(1)).as("__n"))
      .filter(sf.col("__n") >= 2).select("b")
    val cands = ti.join(sized, "b")
      .localCheckpoint(true) // candidates + the member probe read it
    val hits = cands.join(topk, "i")
      .join(cands.select(sf.col("b").as("__b2"), sf.col("i").as("__i2")),
        sf.col("b") === sf.col("__b2") && sf.col("rec") === sf.col("__i2"))
      .select("b", "i").distinct()
    val nc = cands.count()
    val nh = hits.count()
    val spark = lines.sparkSession
    import spark.implicits._
    Seq((nPairs, nc, nh)).toDF("n_train_pairs", "n_candidates", "n_hits")
      .select(sf.col("n_train_pairs"), sf.lit(k).as("k"), sf.col("n_candidates"),
        sf.col("n_hits"),
        sf.when(sf.col("n_candidates") > 0, gf.roundAt(
          sf.col("n_hits").cast("double") / sf.col("n_candidates").cast("double"),
          6)).as("hit_rate"))
  }

  /** Bradley–Terry paired-comparison strength fit (Bradley & Terry
    * 1952; Hunter 2004's MM algorithm) — latent "strength" scores from
    * WITHIN-CONTEST wins, the model behind chess Elo ratings, LLM
    * arena leaderboards, and A/B preference panels: P(i beats j) =
    * p_i/(p_i + p_j), fit by `iters` MM rounds p_i ← W_i / Σ_j
    * n_ij/(p_i + p_j). Win counts come from score comparisons inside
    * each contest (every entity pair that co-occurs; higher total
    * score wins, exact ties contribute nothing), so a transitive
    * strength table emerges from purely LOCAL comparisons — what the
    * global win RATE cannot give when matchups are unbalanced (a
    * .600 team in a strong division can out-rate a .700 team in a
    * weak one; BT corrects for opponent strength).
    *
    * Determinism: scores snap to a 1e-4 grid before comparison; wins
    * are exact integers; the MM recursion runs in 1e-9 fixed point
    * (every term floor(n_ij·1e18/(p9_i+p9_j)), the exact integer
    * floor division of the DECIMAL(38,0) twin — the q119 discipline)
    * with a mean-1 renormalization each round, so the `iters`-th
    * iterate is bit-replayable by the unrolled oracle at any
    * parallelism. Zero-win entities go to strength 0; a disconnected
    * comparison graph yields each component's internal scale
    * (documented MM behavior — the fixed iterate is still
    * deterministic).
    *
    * Scale shape: one corpus pass to (contest, entity) sums, one
    * contest-keyed self join bounded by max-contest-size² (the row
    * 156 mining discipline), then the |entities|²-cell duel table is
    * collected once and the MM rounds fold on the driver
    * ([[DriverFold]]); more than 2^20 cells refuse, naming
    * `entityCol` to coarsen. */
  def bradleyTerry(contests: DataFrame, contestCol: String, entityCol: String,
                   scoreCol: String, iters: Int = 8): DataFrame = {
    require(iters >= 1 && iters <= 32, s"iters must be in [1, 32], got $iters")
    val SCALE = 1000000000L
    val E18 = BigInt(10).pow(18)
    val per = contests
      .filter(sf.col(contestCol).isNotNull && sf.col(entityCol).isNotNull &&
        sf.col(scoreCol).isNotNull)
      .groupBy(sf.col(contestCol).as("__c"), sf.col(entityCol).as("__e"))
      .agg(sf.sum(sf.floor(sf.col(scoreCol).cast("double") * 1e4 + 0.5)
        .cast("long")).as("__s"))
    val duels = per.as("a").join(per.as("b"),
        sf.col("a.__c") === sf.col("b.__c") && sf.col("a.__e") < sf.col("b.__e"))
      .filter(sf.col("a.__s") =!= sf.col("b.__s"))
      .select(sf.col("a.__e").as("__i"), sf.col("b.__e").as("__j"),
        (sf.col("a.__s") > sf.col("b.__s")).cast("long").as("__wi"))
    // n_ij totals and i's wins w_ij over the bounded entity-pair domain
    val table = duels.groupBy("__i", "__j")
      .agg(sf.count(sf.lit(1)).as("__n"), sf.sum("__wi").as("__w"))
    val rows = DriverFold.collect(table, "bradleyTerry", entityCol)
    val entities = (rows.map(_.get(0)) ++ rows.map(_.get(1))).distinct
    val at = entities.zipWithIndex.toMap
    val cells = rows.map(r => (at(r.get(0)), at(r.get(1)), r.getLong(2), r.getLong(3)))
    val nEntities = entities.length
    require(nEntities >= 2, s"bradleyTerry: need >= 2 entities, got $nEntities")
    val wins, duelsOf = new Array[Long](nEntities)
    for ((i, j, n, w) <- cells) {
      wins(i) += w; wins(j) += n - w; duelsOf(i) += n; duelsOf(j) += n
    }
    var p = Array.fill(nEntities)(SCALE)
    for (_ <- 1 to iters) {
      val d18 = Array.fill(nEntities)(BigInt(0))
      for ((i, j, n, _) <- cells) {
        val t = n * E18 / (BigInt(p(i)) + p(j))
        d18(i) += t; d18(j) += t
      }
      val p0 = wins.indices.map(e =>
        if (d18(e) <= 0) BigInt(0) else wins(e) * E18 / d18(e))
      val tot = p0.sum
      p = p0.map(x => (x * nEntities * SCALE / tot).toLong).toArray
    }
    DriverFold.frame(contests,
        entities.indices.map(e => Row(entities(e), wins(e), duelsOf(e) - wins(e), p(e))),
        table.schema("__i").copy(name = entityCol), StructField("wins", LongType),
        StructField("losses", LongType), StructField("p9", LongType))
      .select(sf.col(entityCol), sf.col("wins"), sf.col("losses"), sf.col("p9"),
        gf.roundAt(sf.col("p9").cast("double") / SCALE, 6).as("strength"))
      .orderBy(sf.col("p9").desc, sf.col(entityCol))
  }
}
