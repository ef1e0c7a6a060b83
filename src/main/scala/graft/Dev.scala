package graft

import java.util.concurrent.Semaphore
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Dev CLI over the SparkEntry queries, on Bench's session
  * (`Session.local`, `SPARK_GRAFT_CPUS` cpus, default 32). Names follow
  * `SparkEntry.select`: none selects every query, each name selects
  * the queries it is a prefix of.
  *
  *   time <sfDir> [name...]            build and action seconds and Spark
  *                                     jobs per query (and build jobs)
  *   explain <sfDir> [name...]         formatted physical plan
  *   audit <sfDir> <outCsv> [name...]  plan-shape census, one CSV row per query
  *   scan <sfDir> [name...]            unbounded single-partition windows;
  *                                     exits 1 if any
  *
  * `time` is cold (no warmup, one pass): for comparative A/B runs under
  * forced confs (-Dspark.graft.*, -Dspark.sql.*), not for pin numbers.
  * Build seconds are the eager work a query does while its frame is
  * built (gates, checkpointed loops); action seconds are the noop write.
  * Jobs are every Spark job the query starts, build and action; the
  * build figure in parentheses is the part started while the frame
  * was being built.
  */
object Dev {
  private type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: sfDir :: names => run(names)(time(_, sfDir, _))
    case "explain" :: sfDir :: names =>
      run(names)((spark, qs) => qs.foreach { case (_, fn) =>
        fn(spark, sfDir).explain("formatted")
        spark.catalog.clearCache()
      })
    case "audit" :: sfDir :: outCsv :: names => run(names)(audit(_, sfDir, outCsv, _))
    case "scan" :: sfDir :: names =>
      if (run(names)(scan(_, sfDir, _)) > 0) sys.exit(1)
    case _ =>
      System.err.println("usage: graft.Dev time|explain <sfDir> [name...] | " +
        "audit <sfDir> <outCsv> [name...] | scan <sfDir> [name...]")
      sys.exit(2)
  }

  private def run[T](names: Seq[String])(body: (SparkSession, Seq[(String, Query)]) => T): T = {
    val selected = SparkEntry.select(names)
    val spark = Session.local(Session.envCpus(32))
    try body(spark, selected) finally spark.stop()
  }

  private def time(spark: SparkSession, sfDir: String, qs: Seq[(String, Query)]): Unit = {
    val jobs = new JobCounter(spark)
    try for ((name, fn) <- qs) {
      val j0 = jobs.settled()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      val built = jobs.settled() - j0
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      val n = jobs.settled() - j0
      println(f"[time] $name: build ${(t1 - t0) / 1e9}%.2f s, " +
        f"action ${(t3 - t2) / 1e9}%.2f s, jobs $n (build $built)")
      spark.catalog.clearCache()
      System.gc()
    } finally spark.sparkContext.removeSparkListener(jobs)
  }

  /** Counts the Spark jobs started on `spark` (an onJobStart counter).
    * Listener events arrive asynchronously, so `settled` first runs a
    * one-task marker job and waits for its start event: the bus
    * delivers events in order, so every job started before the marker
    * has been counted by then. Marker jobs are not counted. */
  private[graft] final class JobCounter(spark: SparkSession) extends SparkListener {
    private val Marker = "graft.dev.marker"
    private val started = new AtomicInteger
    private val markers = new Semaphore(0)
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty(Marker) != null) markers.release()
      else started.incrementAndGet()

    def settled(): Int = {
      val sc = spark.sparkContext
      sc.setLocalProperty(Marker, "1")
      try sc.parallelize(Seq(0), 1).foreach(_ => ())
      finally sc.setLocalProperty(Marker, null)
      markers.acquire()
      started.get
    }
  }

  /** Occurrences of `token` in `s`. */
  private def count(s: String, token: String): Int =
    s.split(java.util.regex.Pattern.quote(token), -1).length - 1

  /** The audit's plan-shape counters over the FORMATTED explain string
    * of the pre-execution physical plan. That is AQE's initial plan:
    * join strategies may still change at runtime, so read SMJ counts
    * as upper bounds — the point is finding cartesians, unexpected
    * exchange stacks and non-codegen aggregates, which AQE does not
    * remove. */
  private val AuditCols: Seq[(String, String => Int)] = Seq(
    "exchange" -> (p => count(p, ") Exchange") + count(p, "- Exchange")),
    "reused_exchange" -> (count(_, "ReusedExchange")),
    "sort" -> (p => count(p, ") Sort ") + count(p, "- Sort ")),
    "smj" -> (count(_, "SortMergeJoin")),
    "bhj" -> (count(_, "BroadcastHashJoin")),
    "shj" -> (count(_, "ShuffledHashJoin")),
    "bnlj" -> (count(_, "BroadcastNestedLoopJoin")),
    "cartesian" -> (count(_, "CartesianProduct")),
    "generate" -> (count(_, "Generate")),
    "window" -> (p => count(p, ") Window") + count(p, "- Window")),
    "objhashagg" -> (count(_, "ObjectHashAggregate")),
    "hashagg" -> (p => count(p, "HashAggregate") - count(p, "ObjectHashAggregate")),
    "sortagg" -> (count(_, "SortAggregate")),
    "scans" -> (count(_, "Scan parquet")),
    "pushed_filters" -> (count(_, "PushedFilters: [")),
    "inmem" -> (count(_, "InMemoryTableScan")))

  /** One CSV row per query: the [[AuditCols]] counters, or empty
    * counters and the exception class when the plan build throws. */
  private def audit(spark: SparkSession, sfDir: String, outCsv: String,
                    qs: Seq[(String, Query)]): Unit = {
    val header = ("query" +: AuditCols.map(_._1) :+ "error").mkString(",")
    val rows = qs.map { case (name, fn) =>
      val cells =
        try {
          val p = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
          AuditCols.map(_._2(p).toString) :+ ""
        } catch { case e: Throwable =>
          Seq.fill(AuditCols.size)("") :+ e.getClass.getSimpleName
        }
      spark.catalog.clearCache()
      (name +: cells).mkString(",")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outCsv),
      (header +: rows).map(_ + "\n").mkString)
    println(s"[plan-audit] wrote $outCsv")
  }

  /** Prints every query whose plan has an unbounded single-partition
    * window ([[PlanScan.unboundedWindows]]); returns how many windows. */
  private def scan(spark: SparkSession, sfDir: String, qs: Seq[(String, Query)]): Int = {
    val bad = qs.map { case (name, fn) =>
      try {
        val unbounded = PlanScan.unboundedWindows(spark, sfDir, fn)
        if (unbounded.nonEmpty)
          println(s"[planscan] $name: ${unbounded.size} single-partition " +
            s"window(s): ${unbounded.mkString(" | ")}")
        spark.catalog.clearCache()
        unbounded.size
      } catch {
        case e: Exception =>
          println(s"[planscan] $name: plan build failed: ${e.getMessage}")
          0
      }
    }.sum
    println(s"[planscan] done, $bad unbounded single-partition window(s)")
    bad
  }
}
