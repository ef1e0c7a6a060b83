package graft

import org.apache.spark.sql.SparkSession

/** The one way graft's mains and specs start Spark (the reference's
  * `create_spark_session`), so a dev timing, a Verify dump and a Bench
  * number all run under the same confs. `sources.Config.sessionFromIni`
  * is the config-file route for deployments.
  */
object Session {

  /** `local[cpus]` with as many shuffle partitions, UTC, no UI, and
    * the bench's window-buffer and codegen-cache sizes. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // WindowExec moves a partition-key group to a spillable buffer
      // after 4096 rows by default; the window-heavy profiles (quantile
      // ranks, sessionization, SCD2) have 10^5-row groups that fit
      // memory fine — raise the in-memory threshold so they don't pay
      // spill-format conversion under the benchmark's memory churn.
      .config("spark.sql.windowExec.buffer.in.memory.threshold", 1048576)
      // The generated-class cache defaults to 100 entries; a 105-query
      // suite compiles several codegen stages per query (and the warmup
      // pass compiles them all up front), so an undersized cache evicts
      // and queries pay Janino re-compiles mid-run.
      .config("spark.sql.codegen.cache.maxEntries", 10000)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`, or `default` when it is unset. */
  def envCpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
}
