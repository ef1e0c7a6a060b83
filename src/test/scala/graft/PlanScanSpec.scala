package graft

/** Suite-wired twin of the `runMain graft.Dev scan` sweep: every
  * `SparkEntry.queries` optimized logical plan at sf0.001 must contain
  * ZERO unbounded single-partition windows (empty or all-foldable
  * partition spec outside the bounded `__pid`/`__sb` allowlist). The
  * r10 lorenzGini bug — a literal `(all)` partition key folded away by
  * EliminateWindowPartitions into a silent one-task window — landed
  * between manual sweeps; this spec makes that class fail `sbt test`
  * the moment it's introduced. A plan that fails to BUILD is also a
  * failure here (a query the sweep can't see is a query the sweep
  * can't certify).
  */
class PlanScanSpec extends SparkFunSuite {

  test("PlanScan: zero unbounded one-task windows across all query plans") {
    val offenders = scala.collection.mutable.Buffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val hits = PlanScan.unboundedWindows(spark, sf001, fn)
        if (hits.nonEmpty)
          offenders += s"$name: ${hits.mkString(" | ")}"
      } catch {
        case e: Exception => offenders += s"$name: PLAN BUILD FAILED: ${e.getMessage}"
      }
      spark.catalog.clearCache()
    }
    assert(offenders.isEmpty,
      s"\n${offenders.size} plan(s) with unbounded single-partition windows " +
      s"or build failures:\n  ${offenders.mkString("\n  ")}")
  }
}
