package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerBusAccess
import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: `setups` session starts (each with
  * its untimed warmup pass), then closed-loop timed passes of one
  * workload for `seconds`, then the untimed output checks. Writes a
  * JSON result file that perfbench/run.py turns into the final metrics.
  *
  * Usage: graftbench.Main key=value... with keys workload, seed,
  * seconds, trace (0|1), data, warm, work, out and cores.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val cfg = Config(
      workload = a("workload"), seed = a("seed").toLong, seconds = a("seconds").toDouble,
      trace = a("trace") == "1", data = a("data"), warm = a("warm"), work = a("work"),
      cores = a("cores").toInt)
    val result = new Run(cfg).execute()
    Files.writeString(Paths.get(a("out")), Json.render(result))
  }
}

final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, warm: String, work: String, cores: Int)

/** Per-run mutable state shared by the workloads. */
final class Run(val cfg: Config) {
  /** Session set-ups per run; setup_s is their median. */
  private val Setups = 2
  var spark: SparkSession = _
  var tracer: Tracer = _
  /** (call name, seconds, ok) of every call. */
  val calls = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  val errors = mutable.ArrayBuffer.empty[String]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.LinkedHashMap.empty[String, Any]
  /** Per traced call: persisted RDDs left behind after it returned. */
  val leftovers = mutable.ArrayBuffer.empty[Int]

  private val workload: Workload = cfg.workload match {
    case "warehouse_etl" => new WarehouseEtl(this)
    case "query_mix" => new QueryMix(this)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def session(): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.windowExec.buffer.in.memory.threshold", "1048576")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // session parity with graft.Bench, asserted from the live conf
    val conf = s.conf.getAll
    val want = Map(
      "spark.sql.shuffle.partitions" -> cfg.cores.toString,
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "1048576",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    want.foreach { case (k, v) =>
      require(conf.get(k).contains(v), s"session conf $k = ${conf.get(k)}, expected $v")
    }
    require(s.sparkContext.master == s"local[${cfg.cores}]")
    s
  }

  /** One closed-loop call, timed; a failed call's time is kept out of
    * the latency samples downstream. */
  def call(layer: String, name: String, release: Boolean = true)(body: => Boolean): Unit = {
    val t0 = System.nanoTime()
    val ok = try tracer.span(layer, name)(body) catch {
      case e: Throwable =>
        errors += s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        false
    }
    val dt = (System.nanoTime() - t0) / 1e9
    calls += ((name, dt, ok))
    // untimed: persisted-RDD census (traced passes), then release the
    // call's cached frames so calls stay independent
    if (release) {
      if (tracer.detailed)
        leftovers += spark.sparkContext.getPersistentRDDs.size
      spark.catalog.clearCache()
    }
  }

  private val t0Ns = System.nanoTime()
  /** Progress line for the run log (stderr). */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench] ${(System.nanoTime() - t0Ns) / 1e9}%7.2f $msg")

  private def gcTotals(): (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }

  def execute(): Map[String, Any] = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val jit = ManagementFactory.getCompilationMXBean
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var coldCodegen = (0L, 0.0)
    var coldJitMs = 0L
    for (i <- 0 until Setups) {
      val t0 = if (i == 0) jvmStartMs else System.currentTimeMillis()
      val (classes0, compileMs0) = Codegen.totals()
      val jit0 = jit.getTotalCompilationTime
      spark = session()
      tracer = new Tracer(spark.sparkContext)
      workload.warmup()
      setupTimes += (System.currentTimeMillis() - t0) / 1000.0
      log(s"setup $i: ${setupTimes.last} s")
      if (i == 0) {
        val (classes1, compileMs1) = Codegen.totals()
        coldCodegen = (classes1 - classes0, (compileMs1 - compileMs0) / 1000.0)
        coldJitMs = jit.getTotalCompilationTime - jit0
      }
      if (i < Setups - 1) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }
    spark.sparkContext.addSparkListener(tracer.listener)
    workload.prepare()
    System.gc()

    // closed loop, one client: the next call starts when the previous returns
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val minPasses = if (cfg.trace) 5 else workload.minPasses
    var p = 0
    while (p < minPasses || elapsed < cfg.seconds) {
      tracer.pass = p
      // after an untraced pass 0 (the JIT still warms up in it), traced
      // passes in ABBA order, so a linear drift cancels out of the
      // tracing-overhead estimate
      tracer.detailed = cfg.trace && (p % 4 == 2 || p % 4 == 3)
      val (gc0, gcn0) = gcTotals()
      val t0 = System.nanoTime()
      tracer.span("pass", s"pass-$p")(workload.pass(p))
      val wall = (System.nanoTime() - t0) / 1e9
      val (gc1, gcn1) = gcTotals()
      ListenerBusAccess.drain(spark.sparkContext)
      val jobs = tracer.spans.filter(s => s.layer == "job" && s.pass == p)
      log(f"pass $p: $wall%.3f s (traced=${tracer.detailed})")
      passes += Map("pass" -> p, "wall_s" -> wall, "traced" -> tracer.detailed,
        "records_read" -> jobs.map(_.c.inputRecords).sum,
        "gc_s" -> (gc1 - gc0) / 1000.0, "gc_count" -> (gcn1 - gcn0))
      p += 1
    }
    tracer.detailed = false

    workload.check()
    log("checks done")
    if (cfg.trace) {
      ListenerBusAccess.drain(spark.sparkContext)
      Layers.report(this, passes.toSeq)
      perLayer("codegen.classes") = coldCodegen._1.toDouble
      perLayer("codegen.compile_s") = coldCodegen._2
      perLayer("jvm.jit_s") = coldJitMs / 1000.0
      workload.probes()
      writeSpans()
      log("probes done")
    }
    spark.stop()
    Map(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "cores" -> cfg.cores,
      "setup_s" -> setupTimes.toSeq,
      "passes" -> passes.toSeq,
      "calls" -> calls.toSeq.map { case (n, s, ok) => Map("name" -> n, "s" -> s, "ok" -> ok) },
      "errors" -> errors.toSeq,
      "checks" -> checks.toMap, "per_layer" -> perLayer.toMap,
      "peak_rss_mb" -> Proc.vmHwmMb())
  }

  private def writeSpans(): Unit = {
    val lines = tracer.spans.map { s =>
      Json.render(Map("id" -> s.id, "parent" -> s.parent, "pass" -> s.pass,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "jobs" -> s.c.jobs, "stages" -> s.c.stages,
        "tasks" -> s.c.tasks))
    }
    Files.writeString(Paths.get(s"${cfg.work}/spans.jsonl"), lines.mkString("", "\n", "\n"))
  }
}

object Codegen {
  /** (classes compiled, compile milliseconds) since JVM start. The
    * histogram's reservoir is bounded, so time is count x mean. */
  def totals(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
}

object Proc {
  def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
