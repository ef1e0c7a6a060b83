package graftbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.{functions => sf}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkEntry
import graft.operators.{Dedup, Pipeline, Similarity}
import graft.sources.Tables
import graft.streaming.{StreamDoc, StreamingCuration}

/** A workload: an untimed warmup pass on the small warm-up inputs, timed
  * passes on the measured inputs, and untimed output checks. */
abstract class Workload(val run: Run) {
  def spark = run.spark
  def cfg = run.cfg
  def tr = run.tracer
  /** Fewest timed passes per run. */
  def minPasses: Int
  def warmup(): Unit
  def prepare(): Unit = ()
  def pass(p: Int): Unit
  def check(): Unit
  def probes(): Unit = ()

  def loadAll(dir: String, tables: Seq[String]): Unit =
    tr.span("sources", "load")(tables.foreach(Tables.load(spark, dir, _)))
}

/** graft's reference ETL: star-schema build, partitioned parquet sinks,
  * read-back and the DQ gate (Pipeline.runStarSchema). One call per
  * pass; every pass re-lists its sources. */
final class WarehouseEtl(run: Run) extends Workload(run) {
  private val inputs = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  private val written = Seq("fact_sales", "dim_customer", "dim_date", "dim_part", "dim_supplier")
  private def outDir = s"${cfg.work}/warehouse_out"
  private var lastDq: Seq[(String, Int)] = Nil

  private def etl(dir: String, out: String): Boolean = {
    Tables.invalidate(dir)
    loadAll(dir, inputs)
    val dq = tr.span("sink", "runStarSchema")(Pipeline.runStarSchema(spark, dir, out))
    val rows = tr.span("dq", "collect")(tr.span("action", "collect")(dq.collect()))
    lastDq = rows.map(r => r.getString(0) -> r.getInt(1)).toSeq
    rows.nonEmpty && rows.forall(_.getInt(1) == 1)
  }

  def warmup(): Unit = require(etl(cfg.warm, s"${cfg.work}/warm_out"), "warmup DQ failed")

  // 3 passes of 5 s or more fill a 10 s timed region on every run (a
  // pass count that depends on machine speed shifts the median pass
  // between runs); the median is over the 2 after the ramp pass 0
  def minPasses: Int = 3

  def pass(p: Int): Unit = run.call("etl", "runStarSchema")(etl(cfg.data, outDir))

  def check(): Unit = {
    run.checks("dq") = lastDq.toMap
    run.checks("written_rows") =
      written.map(t => t -> spark.read.parquet(s"$outDir/$t").count()).toMap
    val oracle = SparkEntry.oracleSql
    run.checks("expected_rows_sql") = Map(
      "fact_sales" -> s"SELECT COUNT(*) FROM (${oracle("q02_fact_etl")})",
      "dim_date" -> s"SELECT COUNT(*) FROM (${oracle("q03_dim_date")})",
      "dim_customer" -> "SELECT COUNT(*) FROM customer",
      "dim_part" -> "SELECT COUNT(*) FROM part",
      "dim_supplier" -> "SELECT COUNT(*) FROM supplier")
    val out = parquetFiles(new File(outDir))
    val in = inputs.flatMap(t => parquetFiles(new File(s"${cfg.data}/$t.parquet")))
    run.perLayer("sink.files_written") = out.size.toDouble
    run.perLayer("sink.out_bytes_per_in_byte") =
      out.map(_.length).sum.toDouble / in.map(_.length).sum
  }

  private def parquetFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(parquetFiles)
    else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
}

/** A fixed mix of interactive calls in seed-shuffled order: six
  * SparkEntry.queries (sub-second tier, Graph loop family, and the
  * curation stack's IVF top-k query), each timed as graft.Bench
  * times a query (build it, then run it into the noop sink), plus a
  * streaming replay of documents through
  * StreamingCuration.gatedNearDupPairs whose micro-batches are calls of
  * their own. Recall of the LSH and IVF operators against their exact
  * twins is checked outside the timed region. */
final class QueryMix(run: Run) extends Workload(run) {
  private val Replay = "stream_replay"
  private val StreamDocs = 100
  private val BatchDocs = 50
  private val MinTokens = 20
  private val TopK = 10
  private var streamDocs: Seq[StreamDoc] = Nil
  private var queryIds: Seq[Long] = Nil
  private val streamOut = collection.mutable.Set.empty[Long]
  private var stateRows = 0L
  private var stateBytes = 0L

  private def docs(dir: String) = Tables.load(spark, dir, "documents")
  private def emb(dir: String) = Tables.load(spark, dir, "embeddings")
  private def order(p: Int): Seq[String] =
    new Random(cfg.seed * 1009 + p).shuffle(QueryMix.Queries :+ Replay)

  private def firstDocs(dir: String, n: Int): Seq[StreamDoc] =
    docs(dir).orderBy("doc_id").limit(n).select("doc_id", "text")
      .collect().map(r => StreamDoc(r.getLong(0), r.getString(1))).toSeq

  /** Replay `ds` in micro-batches; with `asCalls` each batch is one
    * call. Returns the number of near-dup pairs emitted. */
  private def replay(ds: Seq[StreamDoc], tag: String, asCalls: Boolean): Long =
    tr.span("streaming", "replay") {
      val input = MemoryStream[StreamDoc](Encoders.product[StreamDoc], spark.sqlContext)
      val ckpt = new File(s"${cfg.work}/ckpt/$tag")
      val q = StreamingCuration.gatedNearDupPairs(spark, input.toDS(), minTokens = MinTokens)
        .writeStream.format("memory").queryName(tag)
        .option("checkpointLocation", ckpt.getPath)
        .outputMode(OutputMode.Append()).start()
      def batch(chunk: Seq[StreamDoc]): Unit = {
        input.addData(chunk)
        q.processAllAvailable()
      }
      try {
        ds.grouped(BatchDocs).foreach { chunk =>
          if (asCalls)
            run.call("streaming", "stream_batch", release = false) {
              tr.span("action", "stream_batch")(batch(chunk))
              q.exception.isEmpty
            }
          else batch(chunk)
        }
        Option(q.lastProgress).flatMap(_.stateOperators.headOption).foreach { s =>
          stateRows = s.numRowsTotal
          stateBytes = s.memoryUsedBytes
        }
        spark.table(tag).count()
      } finally {
        q.stop()
        spark.catalog.dropTempView(tag)
        deleteRecursively(ckpt)
      }
    }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  def warmup(): Unit = {
    QueryMix.Queries.foreach { n =>
      SparkEntry.queries(n)(spark, cfg.warm).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    replay(firstDocs(cfg.warm, 2 * BatchDocs), "warm_pairs", asCalls = false)
  }

  override def prepare(): Unit = {
    streamDocs = firstDocs(cfg.data, StreamDocs)
    val ids = emb(cfg.data).select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    queryIds = new Random(cfg.seed).shuffle(ids).take(50).sorted
  }

  // the median is over the passes after the ramp pass 0 (see run.py)
  def minPasses: Int = 3

  def pass(p: Int): Unit = {
    loadAll(cfg.data, Tables.names)
    order(p).foreach {
      case Replay => streamOut += replay(streamDocs, s"pairs_$p", asCalls = true)
      case n =>
        run.call(QueryMix.layer(n), n) {
          // build (the operator call, eager jobs included), then the action
          val df = tr.span("build", n)(SparkEntry.queries(n)(spark, cfg.data))
          tr.span("action", n)(df.write.format("noop").mode("overwrite").save())
          true
        }
    }
  }

  def check(): Unit = {
    // each query's output: to parquet for the DuckDB oracle compare (run.py)
    val checkErrors = collection.mutable.ArrayBuffer.empty[String]
    QueryMix.Queries.foreach { n =>
      try {
        SparkEntry.queries(n)(spark, cfg.data).coalesce(1).write.mode("overwrite")
          .parquet(s"${cfg.work}/check/$n")
      } catch { case e: Throwable =>
        checkErrors += n
        run.errors += s"$n (check): ${Option(e.getMessage).getOrElse("").take(300)}"
      }
      spark.catalog.clearCache()
    }
    run.checks("check_dir") = s"${cfg.work}/check"
    run.checks("check_errors") = checkErrors.toSeq
    run.checks("oracle_sql") = QueryMix.Queries
      .flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    run.checks("stream_pairs") = streamOut.toSeq

    // recall against the exact twins, on the replayed documents
    val subDocs = docs(cfg.data).filter(sf.col("doc_id").isin(streamDocs.map(_.doc_id): _*))
    def pairs(df: DataFrame, a: String, b: String) =
      df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.ngramJaccardPairs(subDocs, "doc_id", "text")
      .filter(sf.col("jaccard") >= 0.9), "a_id", "b_id")
    val t0 = System.nanoTime()
    val lsh = pairs(Dedup.minHashLsh(subDocs, "doc_id", "text", threshold = 0.9), "a_id", "b_id")
    val lshSeconds = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    val queries = sf.col("vec_id").isin(queryIds: _*)
    val brute = pairs(Similarity.bruteForceTopK(emb(cfg.data), "vec_id", "embedding",
      queries, TopK), "q_id", "n_id")
    val approx = pairs(Similarity.ivfTopK(emb(cfg.data), "vec_id", "embedding", queries,
      k = TopK, nCentroids = 16, nProbe = 4), "q_id", "n_id")
    def ratio(hit: Int, of: Int) = if (of == 0) 0.0 else hit.toDouble / of
    val recall = Map(
      "neardup_recall" -> ratio((lsh & exact).size, exact.size),
      "topk_recall" -> ratio((approx & brute).size, brute.size))
    run.checks ++= recall
    run.checks("neardup_true_pairs") = exact.size
    run.checks("neardup_false_pairs") = (lsh -- exact).size
    run.perLayer("recall.neardup") = recall("neardup_recall")
    run.perLayer("recall.topk") = recall("topk_recall")
    run.perLayer("dedup.call_s") = lshSeconds
    run.perLayer("dedup.pairs") = lsh.size.toDouble
    run.perLayer("streaming.state_rows") = stateRows.toDouble
    run.perLayer("streaming.state_bytes") = stateBytes.toDouble
  }

  override def probes(): Unit = KernelProbe.probe(run, streamDocs, emb(cfg.data))
}

object QueryMix {
  /** The mix, the same for every seed (a seed-drawn set spread the
    * latency percentiles by up to 50% between seeds): the middle-cost
    * query of each of 3 measured cost strata of the sub-second tier and
    * of 2 strata of the Graph loop family, and the curation stack's IVF
    * top-k query. */
  val Queries: Seq[String] = Seq("q461_boilerplate_lines", "q417_backlog", "q246_runs_test",
    "q191_ppr", "q215_sssp", "q32_embed_ivf")
  /** The iterative Graph-operator family: ~20 jobs per query at sf0.01. */
  val GraphLoop: Set[String] = Set("q119", "q164", "q185", "q191", "q192", "q215", "q222",
    "q266", "q267", "q328", "q372", "q402", "q418")

  def layer(name: String): String =
    if (GraphLoop(name.takeWhile(_ != '_'))) "graph"
    else if (name == "q32_embed_ivf") "curation"
    else "operators"
}
