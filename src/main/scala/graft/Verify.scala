package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Usage: runMain graft.Verify <sfDir> <outDir> [name,name...] */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names, SparkEntry.select's
    // rule (local use; the driver always passes two args = run everything)
    if (args.length != 2 && args.length != 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [name,name...]")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    val selected = SparkEntry.select(args.drop(2).flatMap(_.split(",")).toSeq)
    val spark = Session.local(Session.envCpus(4))
    new java.io.File(outDir).mkdirs()
    val failed = selected.flatMap { case (name, fn) =>
      val ok =
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); true }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          false
        }
      // queries are independent; don't let one query's persisted frames
      // tax the rest of the run
      spark.catalog.clearCache()
      if (ok) None else Some(name)
    }
    if (failed.nonEmpty)
      System.err.println(s"[verify] failed: ${failed.mkString(",")} " +
        s"(${failed.size} of ${selected.size})")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
