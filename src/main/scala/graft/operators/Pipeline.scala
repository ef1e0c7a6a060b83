package graft.operators

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => sf}
import graft.dq.QualityChecks
import graft.sources.Tables

/** The reference's end-to-end ETL orchestration (etl.py main, 598-631):
  * build every dimension and the fact, write them as partitioned
  * parquet, then run the three data-quality checks. Returns the check
  * results as a DataFrame so callers (or schedulers) can gate on them —
  * no driver-side booleans, no collects of data rows.
  */
object Pipeline {

  case class StarSchemaTables(factSales: DataFrame, dimCustomer: DataFrame,
                              dimDate: DataFrame, dimPart: DataFrame,
                              dimSupplier: DataFrame)

  def buildStarSchema(spark: SparkSession, dir: String): StarSchemaTables =
    StarSchemaTables(
      factSales = StarSchema.factSales(spark, dir),
      dimCustomer = StarSchema.dimCustomer(spark, dir),
      dimDate = DateOps.dateDimension(Seq(
        Tables.load(spark, dir, "orders") -> sf.to_date(sf.col("o_orderdate")),
        Tables.load(spark, dir, "lineitem") -> sf.to_date(sf.col("l_shipdate")))),
      dimPart = Tables.load(spark, dir, "part"),
      dimSupplier = Tables.load(spark, dir, "supplier"))

  /** Build, write, and quality-check the star schema. Returns one row
    * per check: (check_name, passed 0/1), as a lazy DataFrame.
    *
    * The five sinks (the reference partitions every sink, etl.py:251/485)
    * are independent, so they are written concurrently: fact_sales by
    * `l_returnflag`, dim_customer by `region`, dim_date, dim_part and
    * dim_supplier unpartitioned. Each write runs on its own thread of a
    * pool created for this call (so the jobs keep the caller's Spark
    * local properties: job group, description), fact first, and
    * runStarSchema returns only after every write has finished. If any
    * write fails, it still waits for all of them, then throws the first
    * failure in the order above with the others added as suppressed.
    *
    * The checks read each table back with the written frame's schema,
    * so no parquet footer-inference job runs; partition values still
    * come from the directory names. */
  def runStarSchema(spark: SparkSession, dir: String, outDir: String): DataFrame = {
    val t = buildStarSchema(spark, dir)
    val sinks = Seq(
      ("fact_sales", t.factSales, Seq("l_returnflag")),
      ("dim_customer", t.dimCustomer, Seq("region")),
      ("dim_date", t.dimDate, Nil),
      ("dim_part", t.dimPart, Nil),
      ("dim_supplier", t.dimSupplier, Nil))
    runConcurrently(sinks.map { case (n, df, cols) =>
      () => StarSchema.writePartitioned(df, s"$outDir/$n", cols)
    })
    val written = sinks.map { case (n, df, _) =>
      n -> spark.read.schema(df.schema).parquet(s"$outDir/$n")
    }

    // Check 1: every table non-empty (validate_model_row_count).
    val rowChecks = written.map { case (n, df) =>
      df.agg((sf.count(sf.lit(1)) > 0).cast("int").as("passed"))
        .select(sf.lit(s"rowcount_$n").as("check_name"), sf.col("passed"))
    }
    // Check 2: unique keys on the dims (validate_model_unique_keys).
    val keyOf = Map("dim_customer" -> "c_custkey", "dim_date" -> "d",
      "dim_part" -> "p_partkey", "dim_supplier" -> "s_suppkey")
    val keyChecks = written.collect { case (n, df) if keyOf.contains(n) =>
      df.agg((sf.count(sf.lit(1)) === sf.count_distinct(sf.col(keyOf(n))))
          .cast("int").as("passed"))
        .select(sf.lit(s"unique_$n").as("check_name"), sf.col("passed"))
    }
    // Check 3: invariant on the fact (validate_country_data analog).
    val factOk = QualityChecks.predicateViolations(
        written.toMap.apply("fact_sales"), "fact_quantity_positive",
        sf.col("quantity") > 0)
      .select(sf.col("check_name"),
        (sf.col("violations") === 0).cast("int").as("passed"))

    (rowChecks ++ keyChecks :+ factOk).reduce(_ union _).orderBy("check_name")
  }

  /** Runs every action on its own thread of a pool created for this
    * call, so the threads inherit the caller's Spark local properties.
    * Returns, or throws, only after every action has finished and the
    * pool has terminated. If actions fail, the first failure in
    * `actions` order is rethrown with the others added as suppressed.
    * An interrupt while waiting interrupts the actions, still waits for
    * them, and is re-asserted on the calling thread. */
  private[graft] def runConcurrently(actions: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(actions.size)
    val tasks = try actions.map(a => pool.submit(new Callable[Unit] { def call(): Unit = a() }))
    finally {
      pool.shutdown()
      var interrupted = false
      while (!pool.isTerminated)
        try pool.awaitTermination(1, TimeUnit.MINUTES)
        catch { case _: InterruptedException => interrupted = true; pool.shutdownNow() }
      if (interrupted) Thread.currentThread.interrupt()
    }
    val failures = tasks.flatMap { f =>
      try { f.get(); None }
      catch { case e: ExecutionException => Some(e.getCause) }
    }
    failures match {
      case first +: rest => rest.foreach(first.addSuppressed); throw first
      case _ =>
    }
  }

  /** The LLM-training-data curation stack, end to end — the library's
    * flagship composition: normalize/scrub → language & quality gates →
    * exact dedup → near-dedup survivor corpus → benchmark
    * decontamination → token-budget mixture → train/val/test split →
    * packed-sequence write, with a funnel report (docs surviving each
    * stage) returned for gating, mirroring `runStarSchema`'s contract.
    * Every stage is one of the library's verified operators; the
    * composition adds no new shuffle beyond the stages' own.
    *
    * Each stage boundary is a checkpoint: the stage output materializes
    * once and feeds both the funnel count and the next stage, keeping
    * lineage flat across eight stages (a recompute tree would re-run
    * the LSH funnel inside the decontamination pass). At production
    * scale these boundaries are where a pipeline writes durable
    * intermediates anyway — swap `localCheckpoint` for a parquet
    * write-and-reload to make stages restartable.
    *
    * @param benchmark  held-out eval set whose n-grams must not leak
    * @param budgets    per-source token budgets for the mixture
    */
  def runCuration(spark: SparkSession, docs: DataFrame, benchmark: DataFrame,
                  outDir: String, budgets: Map[String, Long],
                  defaultBudget: Long = 0L, qualityFrac: Double = 0.5,
                  nearDupThreshold: Double = 0.9): DataFrame = {
    val funnel = Seq.newBuilder[(String, Long)]
    def stage(name: String, df: DataFrame): DataFrame = {
      val out = df.localCheckpoint(true) // each stage feeds two readers
      funnel += name -> out.count()
      out
    }
    val raw = stage("00_input", docs.select(
      sf.col("doc_id").cast("long").as("doc_id"),
      sf.col("text"), sf.col("source")))
    // map-only hygiene first: downstream hashes (exact dedup, shingles,
    // decontamination grams) see canonical whitespace, so trivially-
    // reformatted copies collapse as exact duplicates
    val normalized = stage("01_normalize",
      raw.select(sf.col("doc_id"), sf.col("source"))
        .join(Cleaning.normalizeText(raw, "doc_id", "text")
          .select(sf.col("doc_id"), sf.col("clean_text").as("text")), "doc_id"))
    val scrubbed = stage("02_pii_scrub",
      Cleaning.scrubPii(normalized, "text").select("doc_id", "text", "source"))
    // quality gate: top fraction per source by the composite signal
    val scored = scrubbed.join(
      TextAnalysis.qualityScore(scrubbed, "doc_id", "text")
        .select(sf.col("doc_id"), sf.col("avg_token_len").as("__q")), "doc_id")
    val gated = stage("03_quality_gate",
      Sampling.topFractionByScore(scored, "source", "__q", qualityFrac)
        .drop("__q"))
    val exact = stage("04_exact_dedup",
      gated.join(Dedup.exact(gated, "doc_id", Seq("text"))
          .select(sf.col("rep_id").as("doc_id")), Seq("doc_id"), "left_semi"))
    val near = stage("05_near_dedup",
      Dedup.dedupCorpus(exact, "doc_id", "text", nearDupThreshold)
        .select("doc_id", "text", "source"))
    val contaminated = TextAnalysis.decontaminate(near, benchmark, "doc_id", "text")
      .select("doc_id")
    val clean = stage("06_decontaminated",
      near.join(contaminated, Seq("doc_id"), "left_anti"))
    val mixed = stage("07_mixture",
      Sampling.mixtureSample(clean, "doc_id", "source",
        graft.functions.tokenCount(sf.col("text")), budgets, defaultBudget))
    val split = stage("08_split",
      Sampling.hashSplit(mixed, "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)))
    split.write.mode("overwrite").partitionBy("split").parquet(s"$outDir/corpus")
    val report = funnel.result()
    import spark.implicits._
    report.toDF("stage", "n_docs").orderBy("stage")
  }

  /** The [[runCuration]] funnel COMPOSED as one read-through plan — no
    * per-stage counts, no parquet sink, no eager checkpoints: the
    * number a user sizing a real pipeline wants NEXT TO the per-query
    * bench costs, which deliberately price each operator standalone
    * (every query pays its own mining funnel; a composed pipeline
    * shares it). Stages (identical semantics to runCuration): normalize
    * → PII scrub → per-source quality gate (top `qualityFrac` by avg
    * token length) → exact dedup → near dedup (MinHash-LSH clusters at
    * `nearDupThreshold`) → benchmark n-gram decontamination →
    * token-budget mixture → deterministic hash split. Returns the
    * per-(split, source) doc/token rollup — the corpus datacard of the
    * survivors.
    *
    * Sharing model: frames feeding TWO consumers (the gate's
    * score-join, dedup's semi-join sides, decontamination's anti-join)
    * are `persist()`-ed LAZILY, so one action computes each stage once
    * — in contrast to runCuration's eager per-stage checkpoints (whose
    * boundaries are where a restartable pipeline writes durable
    * intermediates anyway). Caller owns release: `unpersistCuration`
    * semantics via `spark.catalog.clearCache()` or session end — the
    * bench harness does exactly that between queries.
    *
    * Scale shape: the union of the member operators' documented shapes
    * — nothing new; the composition adds zero shuffles of its own (the
    * final rollup is one combinable groupBy over the surviving rows).
    */
  def curationPlan(spark: SparkSession, docs: DataFrame, benchmark: DataFrame,
                   budgets: Map[String, Long], defaultBudget: Long = 0L,
                   qualityFrac: Double = 0.5, nearDupThreshold: Double = 0.9,
                   splits: Seq[(String, Double)] = Seq(
                     "train" -> 0.8, "val" -> 0.1, "test" -> 0.1)): DataFrame = {
    // normalize, scrub and score are all MAP-ONLY per-row functions —
    // computed inline in ONE projection chain next to the carried
    // columns. (r14 shape re-attached each operator's output with a
    // doc_id join, shuffling the full text bytes twice for per-row
    // functions — guide §2.4: remove shuffles outright.)
    val raw = docs.select(
      sf.col("doc_id").cast("long").as("doc_id"),
      sf.col("text"), sf.col("source"))
    val normalized = raw.select(sf.col("doc_id"), sf.col("source"),
      Cleaning.normalizeTextExpr(sf.col("text")).as("text"))
    // persisted: topFractionByScore reads its input twice (threshold
    // rollup + filter join-back), and the normalize+scrub regex chain
    // is the most expensive map pass in the funnel — cache it scored
    // so the chain runs once
    val scored = Cleaning.scrubPii(normalized, "text")
      .select(sf.col("doc_id"), sf.col("text"), sf.col("source"),
        graft.functions.roundAt(
          TextAnalysis.avgTokenLenExpr(sf.col("text")), 4).as("__q"))
      .persist()
    val gated = Sampling.topFractionByScore(scored, "source", "__q", qualityFrac)
      .drop("__q").persist()
    val exact = gated.join(Dedup.exact(gated, "doc_id", Seq("text"))
        .select(sf.col("rep_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .persist()
    val near = Dedup.dedupCorpus(exact, "doc_id", "text", nearDupThreshold)
      .select("doc_id", "text", "source").persist()
    // n_tokens computed ONCE here: the mixture weight and the final
    // rollup both read it. persisted: mixtureSample's totals pass and
    // its filter pass would otherwise run the decontamination gram
    // explode twice
    val clean = near.join(
      TextAnalysis.decontaminate(near, benchmark, "doc_id", "text")
        .select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("n_tokens",
        graft.functions.tokenCount(sf.col("text")).cast("long"))
      .drop("text")
      .persist()
    val mixed = Sampling.mixtureSample(clean, "doc_id", "source",
      sf.col("n_tokens"), budgets, defaultBudget)
    Sampling.hashSplit(mixed, "doc_id", splits)
      .groupBy("split", "source")
      .agg(sf.count(sf.lit(1)).as("n_docs"),
        sf.sum("n_tokens").cast("long").as("n_tokens"))
      .orderBy("split", "source")
  }
}
