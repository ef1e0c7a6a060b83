package graft

import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, Row}
import graft.dq.{QualityChecks => qc}

/** QualityChecks' two-sample tests on degenerate inputs. An empty or
  * all-null side must give one row with n = 0 for that side (never
  * NULL) and a NULL for every statistic and label. It must not throw:
  * with ANSI mode on, an unguarded division by an empty side's size
  * fails the query. */
class TwoSampleSpec extends SparkFunSuite {
  import spark.implicits._

  private val ops = Seq[(String, (DataFrame, DataFrame, String) => DataFrame)](
    "ksTest" -> qc.ksTest,
    "kuiperTest" -> qc.kuiperTest,
    "mannWhitneyU" -> qc.mannWhitneyU,
    "cliffsDelta" -> qc.cliffsDelta,
    "wassersteinDistance" -> qc.wassersteinDistance,
    "cramerVonMises" -> qc.cramerVonMises,
    "andersonDarling" -> qc.andersonDarling,
    "brunnerMunzel" -> qc.brunnerMunzel,
    "ansariBradley" -> qc.ansariBradley,
    "energyDistance" -> qc.energyDistance,
    "hodgesLehmann" -> qc.hodgesLehmann)

  // count columns; every other output column is a statistic or label
  private val counts = Set("n_a", "n_b", "n_values")

  test("two-sample tests: an empty or all-null side gives one row, zero counts, NULL statistics") {
    val some = Seq(1.0, 2.0, 2.0, 5.0).toDF("v")
    val empty = Seq.empty[Double].toDF("v")
    val nulls = Seq[Option[Double]](None, None).toDF("v")
    // (case, A, B, n_a, n_b)
    val cases = Seq(
      ("empty A", empty, some, 0L, 4L),
      ("empty B", some, empty, 4L, 0L),
      ("both empty", empty, empty, 0L, 0L),
      ("all-null B", some, nulls, 4L, 0L))
    // every (operator, case) is checked; the failures are reported together
    val failures = for ((name, op) <- ops; (label, a, b, na, nb) <- cases) yield {
      def count(r: Row, c: String) =
        Option(r.get(r.fieldIndex(c))).map(_.asInstanceOf[Number].longValue)
      Try(op(a, b, "v").collect()) match {
        case Failure(e) => Some(s"$name, $label: threw $e")
        case Success(rows) if rows.length != 1 => Some(s"$name, $label: ${rows.length} rows")
        case Success(rows) =>
          val r = rows.head
          val stats = r.schema.fieldNames.filterNot(counts)
          val nValues = if (na + nb == 0) 0L else 3L
          if (!count(r, "n_a").contains(na) || !count(r, "n_b").contains(nb))
            Some(s"$name, $label: counts $r")
          else if (r.schema.fieldNames.contains("n_values") &&
              !count(r, "n_values").contains(nValues))
            Some(s"$name, $label: n_values $r")
          else if (stats.isEmpty || !stats.forall(c => r.isNullAt(r.fieldIndex(c))))
            Some(s"$name, $label: statistics not all NULL: $r")
          else None
      }
    }
    if (failures.flatten.nonEmpty) fail(failures.flatten.mkString("\n", "\n", ""))
  }
}
