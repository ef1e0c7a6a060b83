package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.Graph

/** r15 optimization pin for the scale-gated loop-edge co-partitioning
  * (the graph loop helper's gate, `Graph.Loop.prepare`): above `spark.graft.loop.broadcastNodeCap`
  * the loop-invariant edge table is persisted repartitioned+sorted on
  * the per-round join key, so no round re-shuffles or re-sorts |E|
  * rows. The r14 gate read `optimizedPlan.stats.rowCount`, which is
  * None for parquet/join-derived frames in every reachable
  * configuration — dead code. The gate now counts the materialized
  * cache, and these tests force it LOW to pin both halves of the
  * contract: (i) results are row-identical with the gate forced into
  * the big branch, (ii) the per-round sort-merge join consumes the
  * cached edge partitioning+ordering with no fresh Exchange or Sort.
  * The gate serves the loops that still persist their edges: rankLoop
  * (the PageRank family), label propagation, kCore, the power loops
  * (eigenvector, Katz) and HITS. bfsHops, sssp, closeness and
  * eccentricity build one lazy plan instead; the last test pins that
  * (no job while building, one edge exchange reused by every round). */
class CoPartitionLoopSpec extends SparkFunSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  // irregular graph: degree spread, a pendant node (PprSymmetricSpec's)
  // numeric items (labelPropagation's argmax negates the label)
  private def baskets = Seq(
    (1L, 10L), (1L, 11L), (1L, 12L),
    (2L, 10L), (2L, 11L),
    (3L, 11L), (3L, 12L),
    (4L, 12L), (4L, 13L),
    (5L, 10L), (5L, 13L),
    (6L, 10L), (6L, 11L), (6L, 13L),
    (7L, 13L), (7L, 14L)).toDF("basket", "item")

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq

  private def withConfs(pairs: (String, String)*)(f: => Unit): Unit = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; f }
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // every loop entry point, mined and over pre-mined edges
  private def loopOutputs: Seq[Seq[Seq[Any]]] = {
    val seed = (c: org.apache.spark.sql.Column) => c.isin(10L, 13L)
    val edges = Graph.minedEdges(baskets, "basket", "item", 1)
    val weighted = Graph.minedWeightedEdges(baskets, "basket", "item", 1)
    Seq(
      Graph.pageRank(baskets, "basket", "item", 1, 3),
      Graph.pageRankWeighted(baskets, "basket", "item", 1, 3),
      Graph.personalizedPageRank(baskets, "basket", "item", seed, 1, 3),
      Graph.personalizedPageRankFromEdges(edges, seed, 3),
      Graph.labelPropagation(baskets, "basket", "item", 1, 3),
      Graph.labelPropagationFromEdges(edges, 3),
      Graph.bfsHops(baskets, "basket", "item", seed, 1, 3),
      Graph.bfsHopsFromEdges(edges, seed, 3),
      Graph.sssp(baskets, "basket", "item", seed, 1, 3),
      Graph.ssspFromEdges(weighted, seed, 3),
      Graph.kCore(baskets, "basket", "item", 2, 1, 3),
      Graph.kCoreFromEdges(edges, 2, 3),
      Graph.hitsBipartite(baskets, "basket", "item", 2),
      Graph.eigenvectorCentrality(baskets, "basket", "item", 1, 3),
      Graph.eigenvectorCentralityFromEdges(edges, 3),
      Graph.katzCentrality(baskets, "basket", "item", 1, 3),
      Graph.katzCentralityFromEdges(edges, 3),
      Graph.closenessCentrality(baskets, "basket", "item", seed, 1, 3),
      Graph.closenessFromEdges(edges, seed, 3),
      Graph.eccentricity(baskets, "basket", "item", seed, 1, 3),
      Graph.eccentricityFromEdges(edges, seed, 3)).map(rows)
  }

  test("forced-low cap: loop outputs are row-identical") {
    val expected = loopOutputs
    assert(expected.forall(_.nonEmpty))
    // the forced big branch, at the session's partition count and at
    // 1 and 7 shuffle partitions
    for (parts <- Seq(None, Some("1"), Some("7")))
      withConfs(Seq("spark.graft.loop.broadcastNodeCap" -> "1") ++
          parts.map("spark.sql.shuffle.partitions" -> _): _*) {
        assert(loopOutputs == expected, s"shuffle partitions $parts")
      }
  }

  /** True when `p` reaches a cached edge scan without crossing a
    * ShuffleExchange or Sort — i.e. the side reuses the cache's
    * partitioning AND sort order as-is. */
  private def cacheReachedUnshuffled(p: SparkPlan): Boolean = p match {
    case _: ShuffleExchangeExec => false
    case _: SortExec => false
    case _: InMemoryTableScanExec => true
    case other => other.children.exists(cacheReachedUnshuffled)
  }

  test("forced-low cap: per-round SMJ consumes the cached edge " +
    "partitioning with no fresh Exchange or Sort") {
    withConfs(
      "spark.graft.loop.broadcastNodeCap" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.enabled" -> "false") { // static, inspectable plan
      // the rounds run inside the loop's final eager localCheckpoint:
      // inspect that action's plan
      val plans = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          if (f == "localCheckpoint") plans.add(qe.executedPlan)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val (labels, plan) = try {
        val out = Graph.labelPropagationFromEdges(
          Graph.minedEdges(baskets, "basket", "item", 1), rounds = 3)
        (out, plans.poll(30, java.util.concurrent.TimeUnit.SECONDS))
      } finally spark.listenerManager.unregister(listener)
      assert(plan != null, "no localCheckpoint plan captured")
      val smjs = plan.collect { case j: SortMergeJoinExec => j }
      // one per-round votes join per round
      assert(smjs.size >= 3, s"expected >=3 SMJ rounds, got ${smjs.size}:\n$plan")
      smjs.foreach { j =>
        assert(Seq(j.left, j.right).exists(cacheReachedUnshuffled),
          s"no SMJ side reuses the cached edge partitioning+ordering:\n$j")
      }
      assert(labels.count() > 0)
    }
  }

  /** True when `p` hash-partitions on the one column `src`: the edge
    * side of a round join. */
  private def keyedOnSrc(p: SparkPlan): Boolean = p.outputPartitioning match {
    case HashPartitioning(Seq(a: AttributeReference), _) => a.name == "src"
    case _ => false
  }

  test("min-relaxation loops build no job and shuffle the edge frame once") {
    val seed = (c: Column) => c.isin(10L, 13L)
    def edges = Graph.minedEdges(baskets, "basket", "item", 1)
    // (name, rounds, build): the four operators at both ends of their
    // round budgets, mined and over pre-mined edges
    val cases: Seq[(String, Int, () => DataFrame)] = Seq(
      ("sssp", 3, () => Graph.sssp(baskets, "basket", "item", seed, 1, 3)),
      ("sssp", 12, () => Graph.sssp(baskets, "basket", "item", seed, 1, 12)),
      ("closenessCentrality", 3,
        () => Graph.closenessCentrality(baskets, "basket", "item", seed, 1, 3)),
      ("closenessCentrality", 8,
        () => Graph.closenessCentrality(baskets, "basket", "item", seed, 1, 8)),
      ("bfsHopsFromEdges", 5, () => Graph.bfsHopsFromEdges(edges, seed, 5)),
      ("eccentricityFromEdges", 4, () => Graph.eccentricityFromEdges(edges, seed, 4)))
    val jobs = new Dev.JobCounter(spark)
    try withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force SMJ
      for ((name, rounds, build) <- cases) {
        val j0 = jobs.settled()
        val df = build()
        assert(jobs.settled() == j0, s"$name r$rounds started Spark jobs while being built")
        assert(df.collect().nonEmpty, s"$name r$rounds")
        val plan = df.queryExecution.executedPlan
        val fresh = collect(plan) { case e: ShuffleExchangeExec if keyedOnSrc(e) => e }
        val reused = collect(plan) { case e: ReusedExchangeExec if keyedOnSrc(e.child) => e }
        assert(fresh.size == 1 && reused.size == rounds - 1,
          s"$name r$rounds: ${fresh.size} edge exchanges, ${reused.size} reuses:\n$plan")
      }
    } finally spark.sparkContext.removeSparkListener(jobs)
  }
}
