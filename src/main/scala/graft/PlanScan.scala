package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}

/** Plan audit: scan a query's optimized plan for single-partition
  * windows — a `WindowExec` whose partition spec is empty (Spark's
  * "No Partition Defined" warning: ALL rows move to one task) or
  * all-foldable (EliminateWindowPartitions strips literals, leaving
  * the same one-task shape without the warning). These are the
  * scale-killers the row-340 rule bans; `globalPrefixSums` /
  * `globalDenseIds` are the sanctioned replacements. Windows on the
  * documented bounded-by-construction allowlist do not count. The
  * sweep over every query is `runMain graft.Dev scan <sfDir> [name...]`.
  */
object PlanScan {
  // Windows that are one-partition BY CONSTRUCTION over bounded frames
  // (<= numPartitions offset rows, <= scanBound prefix rows): allowed,
  // pinned here so a new unbounded one can't hide behind them. Matched
  // by EXACT attribute name (collected AttributeReferences compared
  // with ==), never substring — a future window over e.g. a
  // "__sb_total" column must NOT silently ride this allowlist.
  private val BoundedNames = Set("__pid", "__sb")

  /** One query's unbounded one-task windows, as printable renderings —
    * empty means the plan is clean. Shared by the `Dev scan` sweep and
    * PlanScanSpec (which runs it over every query in the suite, so the
    * lorenzGini class of bug fails `sbt test` instead of waiting for a
    * manual sweep). Throws whatever the plan build throws — callers
    * decide whether a build failure is a scan failure. */
  def unboundedWindows(spark: SparkSession, sfDir: String,
                       fn: (SparkSession, String) =>
                         org.apache.spark.sql.DataFrame): Seq[String] = {
    // the OPTIMIZED LOGICAL plan: post-EliminateWindowPartitions
    // (stripped foldable keys show as empty specs) and, unlike the
    // AQE-wrapped physical plan, fully traversable by collect
    val plan = fn(spark, sfDir).queryExecution.optimizedPlan
    val hits = plan.collect {
      case w: LogicalWindow
          if w.partitionSpec.isEmpty || w.partitionSpec.forall(_.foldable) =>
        w
    }
    hits.filterNot { w =>
      val names = (w.partitionSpec ++ w.orderSpec).flatMap(_.collect {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          a.name
      }).toSet
      names.exists(BoundedNames.contains)
    }.map(_.windowExpressions.mkString(";"))
  }
}
