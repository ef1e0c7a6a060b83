package graft

/** `Session.local` carries the confs perfbench asserts from its own
  * session as parity with `graft.Bench`: a conf dropped or changed in
  * one place fails here instead of drifting silently. */
class SessionSpec extends SparkFunSuite {

  test("the shared test session carries Bench's confs") {
    val conf = spark.conf.getAll
    val want = Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "1048576",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    for ((k, v) <- want) assert(conf.get(k).contains(v), s"$k = ${conf.get(k)}")
  }
}
