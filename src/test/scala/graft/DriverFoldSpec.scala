package graft

import org.apache.spark.sql.{DataFrame, functions => sf}
import graft.operators._

/** The bounded-domain operators that collect their cell table and fold
  * the recurrence on the driver (`DriverFold`): the Markov chain
  * family's shared null filter, cache hygiene of the four folds, and
  * the refusal above `DriverFold.Cap`. */
class DriverFoldSpec extends SparkFunSuite {
  import spark.implicits._

  private def events(rows: (Long, java.lang.Long, String, String)*): DataFrame =
    rows.toDF("event_id", "user_id", "ts_s", "event_type")
      .select(sf.col("event_id"), sf.col("user_id"),
        sf.col("ts_s").cast("timestamp").as("ts"), sf.col("event_type"))

  private val clean = Seq[(Long, java.lang.Long, String, String)](
    (1L, 1L, "2024-01-01 10:00:00", "a"), (2L, 1L, "2024-01-01 10:01:00", "b"),
    (3L, 1L, "2024-01-01 10:02:00", "a"), (4L, 2L, "2024-01-01 11:00:00", "a"),
    (5L, 2L, "2024-01-01 11:01:00", "purchase"),
    (6L, 3L, "2024-01-01 12:00:00", "b"), (7L, 3L, "2024-01-01 12:01:00", "purchase"))

  test("chain operators drop null-key and null-ts events before sequencing") {
    // keyless events would form one b -> b -> c sequence; user 1's
    // null-ts purchase would sort first in Spark (purchase -> a)
    val dirty = clean ++ Seq[(Long, java.lang.Long, String, String)](
      (8L, null, "2024-01-01 10:00:00", "b"), (9L, null, "2024-01-01 10:05:00", "b"),
      (10L, null, "2024-01-01 10:06:00", "c"), (11L, 1L, null, "purchase"))
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "transitionMatrix" -> (EventOps.transitionMatrix(_)),
      "conditionalEntropy" -> (EventOps.conditionalEntropy(_)),
      "stationaryDistribution" -> (EventOps.stationaryDistribution(_)),
      "absorptionProbability" -> (EventOps.absorptionProbability(_)))
    val failed = ops.flatMap { case (name, op) =>
      val want = op(events(clean: _*)).collect().toSeq
      val got = op(events(dirty: _*)).collect().toSeq
      if (got == want) None else Some(s"$name: $got != $want")
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("bounded-domain folds leave no persisted RDD and no cache entry") {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val duels = Seq((1L, "a", 2.0), (1L, "b", 1.0), (2L, "b", 2.0), (2L, "c", 1.0),
      (3L, "a", 2.0), (3L, "c", 1.0), (4L, "c", 2.0), (4L, "a", 1.0))
      .toDF("contest", "entity", "score")
    val docs = (Seq.fill(10)("a") ++ Seq.fill(20)("b") ++ Seq.fill(100)("c")).toDF("source")
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "bradleyTerry" -> (() => Recsys.bradleyTerry(duels, "contest", "entity", "score")),
      "absorptionProbability" -> (() => EventOps.absorptionProbability(events(clean: _*))),
      "stationaryDistribution" -> (() => EventOps.stationaryDistribution(events(clean: _*))),
      "waterfillBudgets" -> (() =>
        Sampling.waterfillBudgets(docs, "source", sf.lit(1L), budget = 60L)))
    spark.catalog.clearCache()
    val failed = calls.flatMap { case (name, call) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      assert(call().collect().nonEmpty, name)
      val added = spark.sparkContext.getPersistentRDDs.keySet -- before
      val entries = !cache.isEmpty
      spark.catalog.clearCache()
      if (added.isEmpty && !entries) None
      else Some(s"$name: ${added.size} persisted RDDs, cache entries $entries")
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("a domain above DriverFold.Cap refuses, naming the operator and column") {
    val sources = spark.range(DriverFold.Cap + 1L).select(sf.col("id").as("shard"))
    val e = intercept[IllegalArgumentException](
      Sampling.waterfillBudgets(sources, "shard", sf.lit(1L), budget = 10L))
    assert(e.getMessage.contains("waterfillBudgets") &&
      e.getMessage.contains(s"more than ${DriverFold.Cap} rows") &&
      e.getMessage.contains("coarsen or bucket 'shard'"), e.getMessage)
  }
}
