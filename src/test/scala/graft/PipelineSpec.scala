package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{functions => sf}
import graft.operators.Pipeline
import graft.sources.Tables

class PipelineSpec extends SparkFunSuite {

  test("end-to-end star-schema ETL: build, write partitioned, quality-check") {
    val out = Files.createTempDirectory("graft_etl").toString
    val checks = Pipeline.runStarSchema(spark, sf001, out)
    val rows = checks.collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(rows.size == 10)
    assert(rows.values.forall(_ == 1), s"failed checks: ${rows.filter(_._2 == 0).keys}")
    // partitioned layout on disk
    val factDirs = new java.io.File(s"$out/fact_sales").listFiles()
      .map(_.getName).filter(_.startsWith("l_returnflag="))
    assert(factDirs.nonEmpty)
  }

  test("runStarSchema writes each star-schema frame to its own path") {
    val out = Files.createTempDirectory("graft_etl_paths").toString
    Pipeline.runStarSchema(spark, sf001, out)
    val t = Pipeline.buildStarSchema(spark, sf001)
    val expected = Seq(
      ("fact_sales", t.factSales, Some("l_returnflag")),
      ("dim_customer", t.dimCustomer, Some("region")),
      ("dim_date", t.dimDate, None),
      ("dim_part", t.dimPart, None),
      ("dim_supplier", t.dimSupplier, None))
    for ((name, frame, partCol) <- expected) {
      // plain read (schema inferred from the files), columns in the
      // frame's order: partition columns come back from the paths
      val raw = spark.read.parquet(s"$out/$name")
      assert(raw.columns.toSet == frame.columns.toSet, name)
      val back = raw.select(frame.columns.map(sf.col).toSeq: _*)
      assert(back.count() == frame.count(), name)
      assert(back.exceptAll(frame).isEmpty, s"$name: rows not in its frame")
      assert(frame.exceptAll(back).isEmpty, s"$name: frame rows not written")
      val dirs = new java.io.File(s"$out/$name").listFiles().filter(_.isDirectory)
        .map(_.getName)
      partCol match {
        case Some(c) => assert(dirs.nonEmpty && dirs.forall(_.startsWith(s"$c=")), s"$name: $dirs")
        case None => assert(dirs.isEmpty, s"$name: $dirs")
      }
    }
  }

  test("runStarSchema's DQ gate fails unique_dim_supplier on a duplicated supplier") {
    Files.createDirectories(Paths.get("target"))
    val dir = Files.createTempDirectory(Paths.get("target"), "graft_dup_supplier")
    for (f <- new java.io.File(sf001).listFiles() if f.getName != "supplier.parquet")
      Files.copy(f.toPath, dir.resolve(f.getName))
    val supplier = spark.read.parquet(s"$sf001/supplier.parquet")
    supplier.union(supplier.orderBy("s_suppkey").limit(1))
      .write.parquet(dir.resolve("supplier.parquet").toString)
    val out = Files.createTempDirectory("graft_etl_dup").toString
    val rows = Pipeline.runStarSchema(spark, dir.toString, out).collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    assert(rows.size == 10)
    assert(rows("unique_dim_supplier") == 0)
    assert((rows - "unique_dim_supplier").values.forall(_ == 1), s"$rows")
  }

  test("runConcurrently waits for every action, then rethrows the first failure") {
    val n = 5
    val finished = new java.util.concurrent.atomic.AtomicIntegerArray(n)
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val boom = new IllegalStateException("boom 1")
    val actions = (0 until n).map { i => () =>
      threads.add(Thread.currentThread)
      seen.add(String.valueOf(spark.sparkContext.getLocalProperty("graft.test.prop")))
      i match {
        case 1 => throw boom
        case 3 => Thread.sleep(300); throw new IllegalArgumentException("boom 3")
        case _ => Thread.sleep(100L * i); finished.set(i, 1)
      }
    }
    spark.sparkContext.setLocalProperty("graft.test.prop", "caller")
    val thrown = try intercept[IllegalStateException](Pipeline.runConcurrently(actions))
      finally spark.sparkContext.setLocalProperty("graft.test.prop", null)
    assert(thrown eq boom)
    assert(thrown.getSuppressed.map(_.getMessage).toSeq == Seq("boom 3"))
    // the slowest action (4, 400 ms) ran to the end before the throw
    assert(Seq(0, 2, 4).forall(finished.get(_) == 1))
    assert(threads.size == n && !threads.contains(Thread.currentThread))
    threads.forEach { t => t.join(5000); assert(!t.isAlive, t.getName) }
    assert(seen.size == n && seen.toArray.forall(_ == "caller"))
    // no failure: returns normally after all actions
    val done = new java.util.concurrent.atomic.AtomicInteger()
    Pipeline.runConcurrently(Seq.fill(3)(() => { Thread.sleep(50); done.incrementAndGet(); () }))
    assert(done.get == 3)
  }

  test("end-to-end curation: funnel report, stage effects, split-partitioned write") {
    import spark.implicits._
    val docs = Tables.load(spark, sf001, "documents")
    // benchmark = a slice of the corpus itself -> guaranteed contamination
    val benchmark = docs.filter(sf.col("doc_id") % 10 === 0)
      .select("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft_curation").toString
    val report = Pipeline.runCuration(spark, docs, benchmark, out,
      budgets = Map("src0" -> 1000L), defaultBudget = 2000L,
      qualityFrac = 0.5, nearDupThreshold = 0.9)
    val funnel = report.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(funnel.map(_._1) == Seq("00_input", "01_normalize", "02_pii_scrub",
      "03_quality_gate", "04_exact_dedup", "05_near_dedup", "06_decontaminated",
      "07_mixture", "08_split"), s"stages ${funnel.map(_._1)}")
    val counts = funnel.map(_._2)
    // normalize and scrub preserve rows; every later stage only removes
    assert(counts(1) == counts(0) && counts(2) == counts(1))
    assert(counts.sliding(2).forall { case Seq(a, b) => b <= a })
    // the gates actually fire on this corpus: quality cut, dedup, and
    // decontamination each drop something; everything stays non-empty
    assert(counts(3) < counts(2) && counts(5) < counts(3) && counts(6) < counts(5))
    assert(counts.last > 0)
    // the written corpus is split-partitioned and matches the final count
    val written = spark.read.parquet(s"$out/corpus")
    assert(written.count() == counts.last)
    val splitDirs = new java.io.File(s"$out/corpus").listFiles()
      .map(_.getName).filter(_.startsWith("split="))
    assert(splitDirs.nonEmpty && splitDirs.forall(
      Seq("split=train", "split=val", "split=test").contains(_)))
    // the COMPOSED one-plan variant is stage-for-stage equivalent: same
    // params -> its per-(split, source) rollup totals the same docs the
    // eager runCuration funnel kept at 08_split
    val composed = Pipeline.curationPlan(spark, docs, benchmark,
      budgets = Map("src0" -> 1000L), defaultBudget = 2000L,
      qualityFrac = 0.5, nearDupThreshold = 0.9,
      splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    val rollup = composed.collect()
    assert(rollup.map(_.getAs[Long]("n_docs")).sum == counts.last,
      s"composed total != runCuration 08_split: ${rollup.mkString("; ")}")
    // and it carries real token mass per cell
    assert(rollup.forall(r => r.getAs[Long]("n_tokens") > 0))
    spark.catalog.clearCache() // release curationPlan's lazy persists
  }
}
