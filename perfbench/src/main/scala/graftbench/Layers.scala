package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.{Kernels => K}
import graft.streaming.StreamDoc

/** Per-layer metrics of a traced run, computed from the spans of its
  * traced passes (each a median over those passes unless noted). */
object Layers {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def report(run: Run, passes: Seq[Map[String, Any]]): Unit = {
    val spans = run.tracer.spans
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    def ancestors(s: Span): List[Span] =
      byId.get(s.parent).map(p => p :: ancestors(p)).getOrElse(Nil)
    def under(s: Span, layer: String) = ancestors(s).exists(_.layer == layer)
    val traced = passes.filter(_("traced") == true)
    val untraced = passes.filter(p => p("traced") == false && p("pass") != 0)
    val tracedPasses = traced.map(_("pass").asInstanceOf[Int])
    val out = run.perLayer

    def perPass(f: Seq[Span] => Double): Double =
      median(tracedPasses.map(p => f(spans.filter(_.pass == p))))
    def dur(ss: Seq[Span], layer: String) = ss.filter(_.layer == layer).map(_.seconds).sum
    def jobs(ss: Seq[Span]) = ss.filter(_.layer == "job")
    def sumC(ss: Seq[Span])(f: Counters => Long): Double = jobs(ss).map(s => f(s.c)).sum.toDouble

    out("sources.load_s") = perPass(dur(_, "sources"))
    out("sources.bytes_read") = perPass(sumC(_)(_.inputBytes))
    out("sources.records_read") = perPass(sumC(_)(_.inputRecords))

    out("operators.build_s") = perPass(dur(_, "build"))
    out("operators.build_jobs") = perPass(ss => jobs(ss).count(under(_, "build")).toDouble)

    val graphCalls = spans.filter(s => s.layer == "graph" && tracedPasses.contains(s.pass))
    val graphJobs = spans.filter(s => s.layer == "job" && under(s, "graph"))
    out("graph.call_s") = median(graphCalls.map(_.seconds))
    out("graph.jobs_per_query") =
      if (graphCalls.isEmpty) 0.0 else graphJobs.size.toDouble / graphCalls.size
    out("graph.stages_per_query") =
      if (graphCalls.isEmpty) 0.0 else graphJobs.map(_.c.stages).sum.toDouble / graphCalls.size

    out("exec.action_s") = perPass(dur(_, "action"))
    out("exec.jobs") = perPass(sumC(_)(_.jobs))
    out("exec.stages") = perPass(sumC(_)(_.stages))
    out("exec.tasks") = perPass(sumC(_)(_.tasks))
    out("exec.task_busy_s") = perPass(sumC(_)(_.taskRunMs) / 1000.0)
    out("exec.task_cpu_s") = perPass(sumC(_)(_.taskCpuNs) / 1e9)
    out("exec.task_wait_s") = perPass(sumC(_)(_.taskWaitMs) / 1000.0)
    // task busy time over the pass's wall time x cores
    out("exec.core_util") = perPass(ss =>
      sumC(ss)(_.taskRunMs) / 1000.0 / (dur(ss, "pass") * run.cfg.cores))
    out("exec.shuffle_write_bytes") = perPass(sumC(_)(_.shuffleWriteBytes))
    out("exec.shuffle_read_bytes") = perPass(sumC(_)(_.shuffleReadBytes))
    out("exec.shuffle_records") = perPass(sumC(_)(_.shuffleRecords))
    out("exec.spill_bytes") = perPass(sumC(_)(_.spillBytes))
    out("exec.peak_exec_mem_mb") =
      perPass(ss => jobs(ss).map(_.c.peakExecMem).foldLeft(0L)(math.max) / 1048576.0)

    out("similarity.call_s") = median(spans.filter(s =>
      s.name == "q32_embed_ivf" && s.layer == "curation" && tracedPasses.contains(s.pass))
      .map(_.seconds))
    out("dq.check_s") = perPass(dur(_, "dq"))
    out("dq.jobs") = perPass(ss => jobs(ss).count(under(_, "dq")).toDouble)
    out("sink.write_s") = perPass(dur(_, "sink"))
    out("sink.bytes_written") = perPass(ss => jobs(ss).filter(under(_, "sink")).map(_.c.outputBytes).sum.toDouble)
    out("sink.records_written") = perPass(ss => jobs(ss).filter(under(_, "sink")).map(_.c.outputRecords).sum.toDouble)
    out("streaming.batch_s") = median(spans.filter(s =>
      s.layer == "streaming" && s.name == "stream_batch" && tracedPasses.contains(s.pass))
      .map(_.seconds))

    out("cache.leftover_rdds") = run.leftovers.foldLeft(0)(math.max).toDouble
    out("jvm.gc_s") = median(traced.map(_("gc_s").asInstanceOf[Double]))
    out("jvm.gc_count") = median(traced.map(_("gc_count").asInstanceOf[Long].toDouble))

    // self time: a span's duration minus what its child spans cover
    for (layer <- Seq("pass", "sources", "build", "action", "sink", "dq", "job"))
      out(s"self.${layer}_s") = perPass(ss =>
        ss.filter(_.layer == layer).map(s => Tracer.selfSeconds(s, children.getOrElse(s.id, Nil))).sum)

    def walls(ps: Seq[Map[String, Any]]) = ps.map(_("wall_s").asInstanceOf[Double])
    out("trace.overhead_s") = median(walls(traced)) - median(walls(untraced))
    out("trace.spans") = spans.size.toDouble
  }
}

/** Direct calls into graft.plans.Kernels on curation inputs: ns per
  * element, the median of several repetitions. */
object KernelProbe {
  private def nsPer(n: Int, reps: Int = 7)(body: => Unit): Double = {
    val xs = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0).toDouble / n
    }.sorted
    xs(xs.size / 2)
  }

  def probe(run: Run, docs: Seq[StreamDoc], emb: DataFrame): Unit = {
    val texts = docs.map(d => UTF8String.fromString(d.text)).toArray
    val shingles: Array[ArrayData] = texts.map(K.hashedWsShingles)
    val vecs: Array[ArrayData] = emb.orderBy("vec_id").select("embedding").collect()
      .map(r => new GenericArrayData(r.getSeq[Float](0).map(_.toDouble).toArray[Any]): ArrayData)
    val dim = vecs.head.numElements()
    val centroids = new GenericArrayData(vecs.take(16).flatMap(_.toDoubleArray()).toArray[Any])
    var sink = 0.0
    val out = run.perLayer
    out("plans.shingle_ns_per_doc") = nsPer(texts.length) {
      texts.foreach(t => sink += K.hashedWsShingles(t).numElements())
    }
    out("plans.minhash_ns_per_doc") = nsPer(shingles.length) {
      shingles.foreach(s => sink += K.minHashBandsFromHashes(s, 144, 6).numElements())
    }
    out("plans.jaccard_ns_per_pair") = nsPer(shingles.length - 1) {
      for (i <- 1 until shingles.length) sink += K.jaccardSortedLong(shingles(i - 1), shingles(i))
    }
    out("plans.cosine_ns_per_pair") = nsPer(vecs.length - 1) {
      for (i <- 1 until vecs.length) sink += K.cosine(vecs(i - 1), vecs(i))
    }
    out("plans.centroid_ns_per_vec") = nsPer(vecs.length) {
      vecs.foreach(v => sink += K.nearestCentroids(v, centroids, dim, 4).numElements())
    }
    if (sink.isNaN) println(sink) // keeps the probed results live
  }
}
