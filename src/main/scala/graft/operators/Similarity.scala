package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.{functions => sf}
import graft.{functions => gf}
import graft.functions.dec

/** Similarity search over embedding columns (array<float>).
  *
  * Scale notes: the query side is tiny and explicitly `broadcast()` —
  * scoring is a map-only broadcast nested loop over the corpus, no
  * shuffle of corpus vectors. Top-k reduction uses a typed Aggregator
  * whose partial buffers are k-bounded, so the only shuffle is
  * (#partitions × #queries × k) score rows — independent of corpus
  * size. The window-rank variant exists as the SQL-oracle-shaped
  * reference path.
  */
object Similarity {

  /** Exact near-duplicate vector pairs: cosine >= threshold among ids
    * < idMax. All-pairs by construction — this is the ORACLE BASELINE
    * for the bucketed scale paths (`cosineNearDupBucketed`,
    * `ivfNearDupPairs`), so idMax is REQUIRED: the pair space is
    * quadratic and must be explicitly bounded, exactly like the
    * `ngramJaccardPairs`/`editDistancePairs` baselines. */
  def cosineNearDup(emb: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, idMax: Long): DataFrame = {
    val base = Par.spread(emb.filter(sf.col(idCol) < idMax)
      .select(sf.col(idCol).cast("long").as("id"),
        sf.col(vecCol).cast("array<double>").as("v")))
    val a = base.select(sf.col("id").as("a_id"), sf.col("v").as("va"))
    val b = base.select(sf.col("id").as("b_id"), sf.col("v").as("vb"))
    a.join(b, sf.col("a_id") < sf.col("b_id"))
      .withColumn("cosine", gf.roundAt(gf.cosineSim(sf.col("va"), sf.col("vb")), 4))
      .filter(sf.col("cosine") >= threshold)
      .select("a_id", "b_id", "cosine")
      .orderBy("a_id", "b_id")
  }

  /** Per-label centroid of an embedding column, one output row per
    * (label, dimension). posexplode -> groupBy(label, dim) keeps every
    * partial sum map-side combinable: the shuffle carries one row per
    * (label, dim) per map task — independent of corpus size — and no
    * executor ever materializes a whole label's vectors (the pitfall of
    * collect_list-style centroid builds at 100 TB). */
  def labelCentroids(emb: DataFrame, labelCol: String, vecCol: String): DataFrame =
    emb.select(sf.col(labelCol).as("label"),
        sf.posexplode(sf.col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(gf.roundAt(sf.avg("x"), 4).as("centroid"),
        sf.count(sf.lit(1)).as("n_vectors"))
      .orderBy("label", "dim")

  /** Pairwise cosine similarity between label centroids — the class
    * confusion/adjacency map in embedding space: labels whose
    * centroids sit close are candidates for merging, relabeling
    * audits, or hard-negative mining between exactly those pairs.
    *
    * Determinism: centroids enter at their published 1e-4 snap
    * ([[labelCentroids]]), become exact 1e4-scaled integers, and dot
    * products / squared norms accumulate as DECIMAL(38,0) — the
    * cosine is one pinned double assembly per pair. Zero-norm
    * centroids yield NULL.
    *
    * Scale shape: everything downstream of the centroid aggregation
    * is |labels| x dim sized — the dim-keyed pair join and the
    * norm join are bounded-domain operations, no corpus data moves. */
  def centroidSimilarity(emb: DataFrame, labelCol: String = "label",
                         vecCol: String = "embedding"): DataFrame = {
    val cent = labelCentroids(emb, labelCol, vecCol)
      .select(sf.col("label"), sf.col("dim"),
        sf.floor(sf.col("centroid") * 1e4 + 0.5).cast("long").as("__c4"))
    val norms = cent.groupBy("label")
      .agg(sf.sum(dec(sf.col("__c4")) * dec(sf.col("__c4"))).as("__n2"))
    val dots = cent.select(sf.col("label").as("label_a"), sf.col("dim"), sf.col("__c4").as("__ca"))
      .join(cent.select(sf.col("label").as("label_b"), sf.col("dim"), sf.col("__c4").as("__cb")), "dim")
      .filter(sf.col("label_a") < sf.col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sf.sum(dec(sf.col("__ca")) * dec(sf.col("__cb"))).as("__dot"))
    dots
      .join(norms.select(sf.col("label").as("label_a"), sf.col("__n2").as("__na")), "label_a")
      .join(norms.select(sf.col("label").as("label_b"), sf.col("__n2").as("__nb")), "label_b")
      .select(sf.col("label_a"), sf.col("label_b"),
        sf.when(sf.col("__na").cast("double") > 0 && sf.col("__nb").cast("double") > 0,
          gf.roundAt(sf.col("__dot").cast("double") /
            sf.sqrt(sf.col("__na").cast("double") * sf.col("__nb").cast("double")), 4))
          .as("cosine"))
      .orderBy("label_a", "label_b")
  }

  /** Per-vector L2 distance to its own label's centroid, with an
    * outlier flag — the embedding-space curation signal: vectors far
    * from their class centroid are mislabeled, noisy, or genuinely
    * hard examples, and a training pipeline routes them to audit or
    * downweighting.
    *
    * Scale shape: centroids come from the same posexplode →
    * groupBy(label, dim) combinable aggregation as [[labelCentroids]]
    * (shuffle rows ≤ labels × dim per map task), then fold to one
    * array row per label — |labels| × dim doubles, explicitly
    * `broadcast()`. The corpus side never explodes and never shuffles:
    * one broadcast-hash join on label plus a map-only zip_with/
    * aggregate distance kernel per row. The outlier test compares the
    * ROUNDED distance so row membership is reproducible across
    * engines. */
  def centroidDistances(emb: DataFrame, idCol: String, vecCol: String,
                        labelCol: String, outlierThreshold: Double): DataFrame = {
    val vecs = Par.spread(emb.select(sf.col(idCol).cast("long").as("vec_id"),
      sf.col(labelCol).as("label"),
      sf.col(vecCol).cast("array<double>").as("v")))
    val centroids = vecs
      .select(sf.col("label"), sf.posexplode(sf.col("v")).as(Seq("dim", "x")))
      .groupBy("label", "dim").agg(sf.avg("x").as("c"))
      .groupBy("label")
      .agg(sf.array_sort(sf.collect_list(sf.struct(sf.col("dim"), sf.col("c"))))
        .as("dc"))
      .select(sf.col("label"), sf.expr("transform(dc, e -> e.c)").as("cv"))
    val dist = sf.sqrt(sf.aggregate(
      sf.zip_with(sf.col("v"), sf.col("cv"), (a, b) => (a - b) * (a - b)),
      sf.lit(0.0), (acc, e) => acc + e))
    vecs.join(sf.broadcast(centroids), "label")
      .select(sf.col("vec_id"), sf.col("label"),
        gf.roundAt(dist, 4).as("centroid_dist"))
      .withColumn("is_outlier",
        (sf.col("centroid_dist") > outlierThreshold).cast("int"))
      .orderBy("vec_id")
  }

  /** Brute-force top-k: every query vector against the whole corpus,
    * rank by (cosine desc, neighbor id asc). Window-rank shape — the
    * shape a SQL oracle can replicate exactly. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val corpus = Par.spread(emb.select(sf.col(idCol).cast("long").as("n_id"),
      sf.col(vecCol).cast("array<double>").as("nv")))
    val queries = sf.broadcast(
      emb.filter(queryPred).select(sf.col(idCol).cast("long").as("q_id"),
        sf.col(vecCol).cast("array<double>").as("qv")))
    val scored = queries.join(corpus, sf.col("q_id") =!= sf.col("n_id"))
      .select(sf.col("q_id"), sf.col("n_id"),
        gf.cosineSim(sf.col("qv"), sf.col("nv")).as("cosine"))
    val w = Window.partitionBy("q_id").orderBy(sf.col("cosine").desc, sf.col("n_id").asc)
    scored.withColumn("rank", sf.row_number().over(w))
      .filter(sf.col("rank") <= k)
      .select(sf.col("q_id"), sf.col("rank"), sf.col("n_id"),
        gf.roundAt(sf.col("cosine"), 4).as("cosine"))
      .orderBy("q_id", "rank")
  }

  /** ANN recall@k — the INDEX-QUALITY gate in front of every
    * [[ivfTopK]] deployment: per query, what fraction of the
    * [[bruteForceTopK]] ground-truth top-k the IVF path actually
    * returns. Recall is THE number that prices the nProbe/nCentroids
    * trade (more probes = more recall = more compute), and the drift
    * alarm after re-training a codebook on new data: composition of
    * the two existing paths (same query set, same k), never a third
    * scoring implementation.
    *
    * Determinism: both rank tables are tie-deterministic ((cosine
    * desc, id asc)); recall is one pinned division of exact integer
    * counts per query, rounded 1e-6. n_truth < k happens only when
    * the corpus itself has < k other rows — reported, not hidden.
    *
    * Scale shape: ground truth scans the corpus per query (the
    * documented brute-force eval cost — run on a hash-sampled query
    * set, the [[knnLabelEval]] convention); the IVF side probes
    * cells; the join is on the (query × k)-bounded rank tables. */
  def annRecall(emb: DataFrame, idCol: String, vecCol: String,
                queryPred: org.apache.spark.sql.Column, k: Int = 5,
                nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val truth = bruteForceTopK(emb, idCol, vecCol, queryPred, k)
      .select(sf.col("q_id"), sf.col("n_id"))
    val approx = ivfTopK(emb, idCol, vecCol, queryPred, k, nCentroids, nProbe)
      .select(sf.col("q_id"), sf.col("n_id"))
    val tc = truth.groupBy("q_id").agg(sf.count(sf.lit(1)).as("n_truth"))
    val hits = truth.join(approx, Seq("q_id", "n_id"))
      .groupBy("q_id").agg(sf.count(sf.lit(1)).as("__h"))
    tc.join(hits, Seq("q_id"), "left")
      .select(sf.col("q_id"), sf.col("n_truth"),
        sf.coalesce(sf.col("__h"), sf.lit(0L)).as("n_hits"),
        gf.roundAt(sf.coalesce(sf.col("__h"), sf.lit(0L)).cast("double") /
          sf.col("n_truth").cast("double"), 6).as("recall"))
      .orderBy("q_id")
  }

  /** Matryoshka truncation-dimension ablation (Kusupati et al. 2022,
    * arXiv:2205.13147) — the storage/recall trade curve for
    * MRL-style embeddings: per candidate prefix dimension d, the
    * recall@k of cosine top-k computed on the FIRST d components
    * against the full-dimension ground truth. The table that decides
    * how many dims an index actually needs before [[ivfTopK]] /
    * [[lshTopK]] ever run — truncation is the cheapest ANN there is
    * (same vectors, shorter reads), and this prices it per dim.
    * Composition of [[bruteForceTopK]] on sliced vectors — never a
    * third scoring implementation.
    *
    * Determinism: both rank tables tie-deterministic ((cosine desc,
    * id asc) on raw doubles — prefix sums accumulate in the same
    * order in both engines); recall@k is ONE pinned division of
    * exact hit counts per dim, 1e-6.
    *
    * Scale shape: one brute-force pass per dim over the broadcast
    * query set (the documented eval cost, run on hash-sampled
    * queries); the hit join is on (queries × k)-bounded rank
    * tables; dims is a bounded literal list. */
  def matryoshkaRecall(emb: DataFrame, idCol: String, vecCol: String,
                       queryPred: org.apache.spark.sql.Column, k: Int,
                       dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1) &&
      dims.distinct.size == dims.size && dims.size <= 16,
      s"matryoshkaRecall: dims must be 1..16 distinct positives, got $dims")
    val full = bruteForceTopK(emb, idCol, vecCol, queryPred, k)
      .select(sf.col("q_id"), sf.col("n_id"))
      .localCheckpoint(true) // every dim's hit join + the scalar read it
    val scal = sf.broadcast(full.agg(
      sf.countDistinct(sf.col("q_id")).as("nq")))
    val perDim = dims.map { dd =>
      val trunc = emb.select(sf.col(idCol),
        sf.slice(sf.col(vecCol), 1, dd).as(vecCol))
      bruteForceTopK(trunc, idCol, vecCol, queryPred, k)
        .select(sf.col("q_id"), sf.col("n_id"))
        .join(full, Seq("q_id", "n_id"))
        .agg(sf.count(sf.lit(1)).as("__hits"))
        .select(sf.lit(dd).as("dim"), sf.col("__hits"))
    }.reduce(_ unionAll _)
    perDim.crossJoin(scal)
      .select(sf.col("dim").cast("int").as("dim"),
        sf.col("nq").cast("long").as("n_queries"),
        gf.roundAt(sf.col("__hits").cast("double") /
          (sf.col("nq") * k).cast("double"), 6).as("recall_at_k"))
      .orderBy("dim")
  }

  /** Scored-pair record for the typed top-k path. */
  case class Scored(qId: Long, nId: Long, cosine: Double)

  /** k-bounded typed Aggregator: partial buffers never exceed k entries,
    * giving map-side top-k reduction before the shuffle.
    *
    * The buffer is kept SORTED best-first, so the per-corpus-row
    * `reduce` — the designated 100 TB inner loop — is one comparison
    * against the current k-th entry (the overwhelmingly common case:
    * reject, buffer unchanged, zero allocation) and otherwise a
    * single-pass sorted insertion; the earlier `(b :+ x).sortBy.take(k)`
    * paid an O(k log k) sort + allocation on EVERY row. `merge` is a
    * linear merge of two sorted buffers. */
  class TopKAgg(k: Int) extends Aggregator[Scored, Seq[(Double, Long)], Seq[(Double, Long)]] {
    // reduce's early-reject reads b.last once the buffer is "full";
    // k <= 0 would make the empty buffer count as full and crash an
    // executor task with NoSuchElementException — fail at construction
    require(k >= 1, s"k must be >= 1, got $k")
    // (cosine desc, id asc) — true iff x outranks y
    private def beats(x: (Double, Long), y: (Double, Long)): Boolean =
      x._1 > y._1 || (x._1 == y._1 && x._2 < y._2)
    def zero: Seq[(Double, Long)] = Nil
    def reduce(b: Seq[(Double, Long)], a: Scored): Seq[(Double, Long)] = {
      val x = (a.cosine, a.nId)
      if (b.length >= k && !beats(x, b.last)) b // early reject below the k-th
      else {
        val out = Vector.newBuilder[(Double, Long)]
        var inserted = false
        var kept = 0
        val it = b.iterator
        while (it.hasNext && kept < k) {
          val e = it.next()
          if (!inserted && beats(x, e)) { out += x; kept += 1; inserted = true }
          if (kept < k) { out += e; kept += 1 }
        }
        if (!inserted && kept < k) out += x
        out.result()
      }
    }
    def merge(x: Seq[(Double, Long)], y: Seq[(Double, Long)]): Seq[(Double, Long)] = {
      val out = Vector.newBuilder[(Double, Long)]
      val ix = x.iterator.buffered
      val iy = y.iterator.buffered
      var n = 0
      while (n < k && (ix.hasNext || iy.hasNext)) {
        out += (if (!iy.hasNext) ix.next()
                else if (!ix.hasNext) iy.next()
                else if (beats(iy.head, ix.head)) iy.next()
                else ix.next())
        n += 1
      }
      out.result()
    }
    def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r
    def bufferEncoder: Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
    def outputEncoder: Encoder[Seq[(Double, Long)]] = bufferEncoder
  }

  /** Same contract as bruteForceTopK but reduced with the k-bounded
    * Aggregator: shuffle volume is O(partitions × queries × k), not
    * O(corpus × queries). This is the 100 TB path. */
  def aggTopK(spark: SparkSession, emb: DataFrame, idCol: String, vecCol: String,
              queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    import spark.implicits._
    val corpus = Par.spread(emb.select(sf.col(idCol).cast("long").as("n_id"),
      sf.col(vecCol).cast("array<double>").as("nv")))
    val queries = sf.broadcast(
      emb.filter(queryPred).select(sf.col(idCol).cast("long").as("q_id"),
        sf.col(vecCol).cast("array<double>").as("qv")))
    val scored = queries.join(corpus, sf.col("q_id") =!= sf.col("n_id"))
      .select(sf.col("q_id").as("qId"), sf.col("n_id").as("nId"),
        gf.cosineSim(sf.col("qv"), sf.col("nv")).as("cosine"))
      .as[Scored]
    val agg = new TopKAgg(k).toColumn
    scored.groupByKey(_.qId).agg(agg.name("topk"))
      .toDF("q_id", "topk")
      .select(sf.col("q_id"), sf.posexplode(sf.col("topk")).as(Seq("i", "sn")))
      .select(sf.col("q_id"), (sf.col("i") + 1).as("rank"),
        sf.col("sn._2").as("n_id"), gf.roundAt(sf.col("sn._1"), 4).as("cosine"))
      .orderBy("q_id", "rank")
  }

  /** Maximum-inner-product top-k (MIPS) — the retrieval scoring the
    * cosine family deliberately ignores: un-normalized embeddings
    * carry MAGNITUDE as signal (recommender item popularity, learned
    * relevance scales, ColBERT-style scores), and ranking by cosine
    * silently strips it. Same k-bounded [[TopKAgg]] reduction as
    * [[aggTopK]] (shuffle O(partitions × queries × k) — the 100 TB
    * path); at index scale MIPS reduces to cosine ANN via the
    * norm-augmentation transform û = [v/M, √(1−‖v‖²/M²)] over the
    * existing SRP/IVF machinery — this operator is the exact
    * oracle-of-record for that path.
    *
    * Determinism: the dot folds LEFT over the array on both engines
    * (builtin zip_with/aggregate — whole-stage codegen, no UDF);
    * ranking ties break by (dot desc, id asc); the reported score
    * rounds 1e-4. */
  def mipsTopK(spark: SparkSession, emb: DataFrame, idCol: String,
               vecCol: String, queryPred: org.apache.spark.sql.Column,
               k: Int): DataFrame = {
    import spark.implicits._
    val corpus = Par.spread(emb.select(sf.col(idCol).cast("long").as("n_id"),
      sf.col(vecCol).cast("array<double>").as("nv")))
    val queries = sf.broadcast(
      emb.filter(queryPred).select(sf.col(idCol).cast("long").as("q_id"),
        sf.col(vecCol).cast("array<double>").as("qv")))
    val dot = sf.aggregate(
      sf.zip_with(sf.col("qv"), sf.col("nv"), (a, b) => a * b),
      sf.lit(0.0), (acc, e) => acc + e)
    val scored = queries.join(corpus, sf.col("q_id") =!= sf.col("n_id"))
      .select(sf.col("q_id").as("qId"), sf.col("n_id").as("nId"),
        dot.as("cosine"))
      .as[Scored]
    val agg = new TopKAgg(k).toColumn
    scored.groupByKey(_.qId).agg(agg.name("topk"))
      .toDF("q_id", "topk")
      .select(sf.col("q_id"), sf.posexplode(sf.col("topk")).as(Seq("i", "sn")))
      .select(sf.col("q_id"), (sf.col("i") + 1).as("rank"),
        sf.col("sn._2").as("n_id"), gf.roundAt(sf.col("sn._1"), 4).as("dot"))
      .orderBy("q_id", "rank")
  }

  /** Hard-negative mining for embedding/retrieval training: for each
    * query vector, the top-k most similar corpus vectors with a
    * DIFFERENT label — close enough to confuse the model, labeled
    * differently, exactly the negatives contrastive training wants
    * (the in-batch-negatives upgrade every dense-retriever recipe
    * ships). Same scale shape as aggTopK: queries broadcast, the
    * corpus never shuffles, the label filter rides the broadcast join
    * condition (corpus rows drop before scoring), and the k-bounded
    * TopKAgg keeps partial buffers at k entries. */
  def hardNegatives(spark: SparkSession, emb: DataFrame, idCol: String,
                    vecCol: String, labelCol: String,
                    queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    import spark.implicits._
    val corpus = Par.spread(emb.select(sf.col(idCol).cast("long").as("n_id"),
      sf.col(vecCol).cast("array<double>").as("nv"),
      sf.col(labelCol).cast("long").as("n_label")))
    val queries = sf.broadcast(
      emb.filter(queryPred).select(sf.col(idCol).cast("long").as("q_id"),
        sf.col(vecCol).cast("array<double>").as("qv"),
        sf.col(labelCol).cast("long").as("q_label")))
    val scored = queries.join(corpus,
        sf.col("q_id") =!= sf.col("n_id") && sf.col("q_label") =!= sf.col("n_label"))
      .select(sf.col("q_id").as("qId"), sf.col("n_id").as("nId"),
        gf.cosineSim(sf.col("qv"), sf.col("nv")).as("cosine"))
      .as[Scored]
    scored.groupByKey(_.qId).agg(new TopKAgg(k).toColumn.name("topk"))
      .toDF("q_id", "topk")
      .select(sf.col("q_id"), sf.posexplode(sf.col("topk")).as(Seq("i", "sn")))
      .select(sf.col("q_id"), (sf.col("i") + 1).as("rank"),
        sf.col("sn._2").as("n_id"), gf.roundAt(sf.col("sn._1"), 4).as("cosine"))
      .orderBy("q_id", "rank")
  }

  /** Leave-one-out kNN label evaluation on a deterministic hash sample:
    * each sampled vector is classified by the majority label of its k
    * nearest OTHER vectors (cosine), reported against its own label —
    * the embedding-quality eval ("do neighborhoods respect labels")
    * behind encoder comparisons and label-noise audits. Vote ties
    * break by (count desc, label asc); neighbor ties at the k boundary
    * by (cosine desc, id asc) — both total orders.
    *
    * Scale shape: the eval set is a bounded deterministic hash sample
    * (1/sampleMod of vectors) and BROADCASTS; the corpus never
    * shuffles during scoring (map-only cosine against the broadcast
    * queries, k-bounded TopKAgg). Only the eval×k neighbor rows join
    * back for labels, and the vote rollups are eval-sized. */
  def knnLabelEval(spark: SparkSession, emb: DataFrame, idCol: String,
                   vecCol: String, labelCol: String,
                   k: Int = 5, sampleMod: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    import spark.implicits._
    val corpus = Par.spread(emb.select(sf.col(idCol).cast("long").as("n_id"),
      sf.col(vecCol).cast("array<double>").as("nv"),
      sf.col(labelCol).cast("long").as("n_label")))
    val queries = sf.broadcast(
      emb.filter(sampleHash(sf.col(idCol)) % sampleMod === 0)
        .select(sf.col(idCol).cast("long").as("q_id"),
          sf.col(vecCol).cast("array<double>").as("qv"),
          sf.col(labelCol).cast("long").as("q_label")))
    val scored = queries.join(corpus, sf.col("q_id") =!= sf.col("n_id"))
      .select(sf.col("q_id").as("qId"), sf.col("n_id").as("nId"),
        gf.cosineSim(sf.col("qv"), sf.col("nv")).as("cosine"))
      .as[Scored]
    val neighbors = scored.groupByKey(_.qId)
      .agg(new TopKAgg(k).toColumn.name("topk"))
      .toDF("q_id", "topk")
      .select(sf.col("q_id"), sf.explode(sf.col("topk")).as("sn"))
      .select(sf.col("q_id"), sf.col("sn._2").as("n_id"))
    val votes = neighbors
      .join(corpus.select(sf.col("n_id"), sf.col("n_label")), "n_id")
      .groupBy("q_id", "n_label").agg(sf.count(sf.lit(1)).as("c"))
    val predicted = votes.groupBy("q_id")
      .agg(sf.min(sf.struct(sf.negate(sf.col("c")).as("nc"),
        sf.col("n_label").as("l"))).as("w"))
      .select(sf.col("q_id"), sf.col("w.l").as("predicted"))
    predicted
      .join(queries.select(sf.col("q_id"), sf.col("q_label")), "q_id")
      .select(sf.col("q_id").as("vec_id"), sf.col("q_label").as("label"),
        sf.col("predicted"),
        (sf.col("q_label") === sf.col("predicted")).cast("int").as("is_correct"))
      .orderBy("vec_id")
  }

  /** Retrieval ranking metrics against label-relevance ground truth:
    * for each query vector, run exact cosine top-k over the corpus and
    * score the ranked list with the standard IR triple — recall@k
    * (relevant retrieved / relevant existing), MRR (1/rank of the
    * first relevant hit), and binary-gain nDCG@k (DCG with 1/log2(r+1)
    * gains against the ideal prefix) — the eval harness behind every
    * embedding-model comparison; a row with nDCG implausibly low flags
    * a label-noise or encoder regression before training consumes the
    * data. Relevance = same label, the standard proxy when true qrels
    * don't exist.
    *
    * Determinism: ranks are (cosine desc, id asc) — the [[aggTopK]]
    * total order; each 1/log2(r+1) gain snaps to a 1e-9 integer grid
    * (margin to the rounding boundary is ~0.07 at the nearest rank vs
    * ~1e-8 cross-engine libm drift) so DCG and IDCG are exact integer
    * sums; final ratios are IEEE divisions rounded once at 1e-4.
    *
    * Scale shape: queries broadcast (bounded query set), the corpus
    * never shuffles — map-only cosine + k-bounded TopKAgg partials;
    * per-label corpus totals are one map-side-combinable label-domain
    * aggregation; everything after the top-k is eval-sized. */
  def retrievalMetrics(spark: SparkSession, emb: DataFrame, idCol: String,
                       vecCol: String, labelCol: String,
                       queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import spark.implicits._
    val corpus = Par.spread(emb.select(sf.col(idCol).cast("long").as("n_id"),
      sf.col(vecCol).cast("array<double>").as("nv"),
      sf.col(labelCol).cast("long").as("n_label")))
    val queries = sf.broadcast(
      emb.filter(queryPred).select(sf.col(idCol).cast("long").as("q_id"),
        sf.col(vecCol).cast("array<double>").as("qv"),
        sf.col(labelCol).cast("long").as("q_label")))
    val scored = queries.join(corpus, sf.col("q_id") =!= sf.col("n_id"))
      .select(sf.col("q_id").as("qId"), sf.col("n_id").as("nId"),
        gf.cosineSim(sf.col("qv"), sf.col("nv")).as("cosine"))
      .as[Scored]
    val ranked = scored.groupByKey(_.qId)
      .agg(new TopKAgg(k).toColumn.name("topk"))
      .toDF("q_id", "topk")
      .select(sf.col("q_id"), sf.posexplode(sf.col("topk")).as(Seq("i", "sn")))
      .select(sf.col("q_id"), (sf.col("i") + 1).as("rank"), sf.col("sn._2").as("n_id"))
    val rel = sf.col("n_label") === sf.col("q_label")
    val gain9 = sf.floor(sf.lit(1e9) / sf.log2(sf.col("rank") + 1) + 0.5).cast("long")
    val perQuery = ranked
      .join(corpus.select(sf.col("n_id"), sf.col("n_label")), "n_id")
      .join(queries.select(sf.col("q_id"), sf.col("q_label")), "q_id")
      .groupBy("q_id", "q_label")
      .agg(sf.sum(rel.cast("long")).as("hits"),
        sf.sum(sf.when(rel, gain9).otherwise(0L)).as("dcg9"),
        sf.min(sf.when(rel, sf.col("rank"))).as("minr"))
    val labelTotals = corpus.groupBy(sf.col("n_label").as("q_label"))
      .agg(sf.count(sf.lit(1)).as("cl"))
    val idcg9 = sf.expr(
      s"""aggregate(sequence(1, int(greatest(least(bigint($k), rel_total), 1L))),
         |0L, (acc, i) -> acc + bigint(floor(1e9 / log2(i + 1) + 0.5)))""".stripMargin)
    perQuery
      .join(sf.broadcast(labelTotals), "q_label")
      .withColumn("rel_total", sf.col("cl") - 1)
      .select(sf.col("q_id"), sf.col("q_label").as("label"),
        sf.col("rel_total"), sf.col("hits"),
        sf.when(sf.col("minr").isNull, 0.0)
          .otherwise(gf.roundAt(sf.lit(1.0) / sf.col("minr"), 4)).as("mrr"),
        sf.when(sf.col("rel_total") > 0,
          gf.roundAt(sf.col("hits").cast("double") /
            sf.col("rel_total").cast("double"), 4)).as("recall_k"),
        sf.when(sf.col("rel_total") > 0,
          gf.roundAt(sf.col("dcg9").cast("double") / idcg9.cast("double"), 4))
          .as("ndcg_k"))
      .orderBy("q_id")
  }

  /** Matryoshka truncation-fidelity audit: for each candidate prefix
    * length d, how much of full-dimension retrieval survives serving
    * vectors truncated to their first d dims — per query, the overlap
    * between the cosine top-k under the d-prefix and under the full
    * vector (the MRL deployment question: "can I store/serve 8 of 64
    * dims and keep my neighbors"). Truncated cosine renormalizes over
    * the prefix (both sides sliced), exactly what a truncated index
    * would serve.
    *
    * Determinism: both rankings use the (cosine desc, id asc) total
    * order; overlap is a set-intersection count — integers end to end,
    * one IEEE division rounded 1e-4.
    *
    * Scale shape: one broadcast-query top-k pass per dim (corpus never
    * shuffles, k-bounded TopKAgg partials, the [[aggTopK]] shape);
    * everything after is query-set-sized. dims is a bounded audit
    * list by contract. */
  def truncationFidelity(spark: SparkSession, emb: DataFrame, idCol: String,
                         vecCol: String, queryPred: org.apache.spark.sql.Column,
                         k: Int, dims: Seq[Int]): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(dims.nonEmpty && dims.size <= 16, s"dims must be 1..16 entries, got ${dims.size}")
    import spark.implicits._
    def topkIds(prefix: Option[Int]): DataFrame = {
      def pv(c: org.apache.spark.sql.Column) =
        prefix.map(d => sf.slice(c, 1, d)).getOrElse(c)
      val corpus = Par.spread(emb.select(sf.col(idCol).cast("long").as("n_id"),
        pv(sf.col(vecCol).cast("array<double>")).as("nv")))
      val queries = sf.broadcast(
        emb.filter(queryPred).select(sf.col(idCol).cast("long").as("q_id"),
          pv(sf.col(vecCol).cast("array<double>")).as("qv")))
      queries.join(corpus, sf.col("q_id") =!= sf.col("n_id"))
        .select(sf.col("q_id").as("qId"), sf.col("n_id").as("nId"),
          gf.cosineSim(sf.col("qv"), sf.col("nv")).as("cosine"))
        .as[Scored]
        .groupByKey(_.qId).agg(new TopKAgg(k).toColumn.name("topk"))
        .toDF("q_id", "topk")
        .select(sf.col("q_id"),
          sf.transform(sf.col("topk"), sn => sn.getField("_2")).as("ids"))
    }
    val full = topkIds(None).withColumnRenamed("ids", "full_ids")
    dims.map { d =>
      topkIds(Some(d)).join(full, "q_id")
        .select(sf.col("q_id"), sf.lit(d).as("d"),
          sf.size(sf.array_intersect(sf.col("ids"), sf.col("full_ids")))
            .cast("long").as("n_overlap"))
        .select(sf.col("q_id"), sf.col("d"), sf.col("n_overlap"),
          gf.roundAt(sf.col("n_overlap").cast("double") / k, 4).as("recall_d"))
    }.reduce(_.unionByName(_)).orderBy("q_id", "d")
  }

  /** Deterministic codebook-sample ordering: Knuth multiplicative hash
    * of the id, pure 64-bit integer arithmetic — reproducible verbatim
    * in any SQL engine (used by the q32 oracle), unlike engine-specific
    * murmur3 variants. The id folds to 31 bits before the multiply so
    * the product never overflows a signed long at any id range (same
    * overflow-safe form as `Sampling.hashBucket`). */
  def sampleHash(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (sf.pmod(id.cast("long"), sf.lit(2147483648L)) * sf.lit(2654435761L)) %
      sf.lit(4294967296L)

  /** Literal-codebook ceiling: up to this many centroids the codebook
    * is collected and embedded as a plan literal (nCentroids x dim
    * doubles, broadcast with the plan — at the default, 4096 x 128 is
    * ~4 MB). Above it the codebook stays a DATAFRAME end to end
    * (sample, Lloyd refinement, assignment all distributed; see
    * sampleCodebookDF/assignCellsDF), so a sqrt(n)-sized codebook —
    * ~10^6 centroids at n = 10^12 — never materializes on the driver.
    * The broadcast-join assignment holds to roughly broadcast-sized
    * codebooks (~hundreds of MB); past that the next rung is a
    * two-level quantizer (assign to sqrt(nCentroids) super-cells
    * first), which composes from the same pieces. */
  val MaxLiteralCentroids: Int = 4096

  /** The codebook sample as a DataFrame — (cluster, cv), identical
    * rows, order, and indices to the literal path's collect (the
    * nCentroids corpus vectors of smallest sampleHash(id)) but never
    * on the driver. The row_number window sorts the already-LIMITed
    * nCentroids rows on one task — bounded by the codebook, not the
    * corpus. */
  private def sampleCodebookDF(base: DataFrame, idc: String, vc: String,
                               nCentroids: Int): DataFrame = {
    // Constant partition key: the input is the LIMITed codebook (<=
    // nCentroids rows), so one partition is the design, not an
    // accident — avoids WindowExec's unbounded-global-window warning.
    // pmod(id, 1) = 0 for every row but is non-foldable, so
    // EliminateWindowPartitions keeps the explicit spec.
    val w = Window.partitionBy(sf.pmod(sf.col(idc).cast("long"), sf.lit(1L)))
      .orderBy(sampleHash(sf.col(idc)), sf.col(idc))
    base.orderBy(sampleHash(sf.col(idc)), sf.col(idc)).limit(nCentroids)
      .select((sf.row_number().over(w) - 1).as("cluster"), sf.col(vc).as("cv"))
  }

  /** nProbe nearest centroids per vector with the codebook as a
    * broadcast DataFrame: every (vector, centroid) pair is scored in a
    * broadcast cross join and reduced with the k-bounded TopKAgg —
    * the same (cosine desc, index asc) ranking as
    * Kernels.nearestCentroids, so both paths assign identically.
    * Output: (idc, cells array<int>, nearest first). Shuffle volume is
    * O(partitions x vectors x nProbe), never the scored cross. */
  private def assignCellsDF(spark: SparkSession, base: DataFrame, idc: String,
                            vc: String, cb: DataFrame, nProbe: Int): DataFrame = {
    import spark.implicits._
    val scored = base.crossJoin(sf.broadcast(cb))
      .select(sf.col(idc).cast("long").as("qId"),
        sf.col("cluster").cast("long").as("nId"),
        gf.cosineSim(sf.col(vc), sf.col("cv")).as("cosine"))
      .as[Scored]
    scored.groupByKey(_.qId).agg(new TopKAgg(nProbe).toColumn.name("topk"))
      .toDF(idc, "topk")
      .select(sf.col(idc), sf.expr("transform(topk, x -> cast(x._2 AS int))").as("cells"))
  }

  /** Lloyd refinement with the codebook kept as a DataFrame: the same
    * fixed-point update rule as refineCodebook (sums of
    * floor(x*1e6+0.5) longs, empty clusters keep their centroid), with
    * the per-(cluster, dim) mean table joined back into the codebook
    * instead of collected. Each round checkpoints the nCentroids-row
    * codebook so lineage stays flat across iterations. */
  private def refineCodebookDF(spark: SparkSession, base: DataFrame, idc: String,
                               vc: String, cb0: DataFrame, iters: Int): DataFrame = {
    var cb = cb0.localCheckpoint(true)
    var it = 0
    while (it < iters) {
      val clusters = assignCellsDF(spark, base, idc, vc, cb, 1)
        .select(sf.col(idc), sf.col("cells").getItem(0).as("cluster"))
      val means = base.join(clusters, idc)
        .select(sf.col("cluster"), sf.posexplode(sf.col(vc)).as(Seq("dim", "x")))
        .groupBy("cluster", "dim")
        .agg(sf.sum(sf.floor(sf.col("x") * 1e6 + 0.5).cast("long")).as("s"),
          sf.count(sf.lit(1)).as("cnt"))
        .select(sf.col("cluster"), sf.col("dim"),
          (sf.col("s").cast("double") / (sf.lit(1e6) * sf.col("cnt"))).as("m"))
      val newCv = means.groupBy("cluster")
        .agg(sf.transform(
          sf.array_sort(sf.collect_list(sf.struct(sf.col("dim"), sf.col("m")))),
          x => x.getField("m")).as("cv_new"))
      cb = cb.join(newCv, Seq("cluster"), "left")
        .select(sf.col("cluster"), sf.coalesce(sf.col("cv_new"), sf.col("cv")).as("cv"))
        .localCheckpoint(true)
      it += 1
    }
    cb
  }

  /** Lloyd (k-means) refinement of a coarse-quantizer codebook: `iters`
    * rounds of assign (nearest centroid by cosine, ties to the lower
    * index) + update (per-cluster mean). Each round is ONE corpus pass:
    * a map-side-combinable groupBy(cluster, dim) whose shuffle carries
    * <= nCentroids x dim rows per map task, and only the nCentroids x
    * dim sum table is ever collected — never vectors.
    *
    * The update sums FIXED-POINT values — floor(x*1e6 + 0.5) as a
    * long — so the new centroid (intSum / (1e6 * count)) is a
    * deterministic function of the SET of assigned vectors,
    * independent of accumulation order. Floating-point sums would
    * differ in final ulps between engines (and between runs, with
    * Spark's partition-order-dependent reduction), and a centroid
    * perturbed by one ulp can flip an assignment argmax — this is what
    * lets a SQL oracle replay the identical iteration. Components are
    * |x| <= ~1 and clusters <= ~2^31 rows, so the scaled sums sit far
    * inside both long and exact-double range. Empty clusters keep
    * their previous centroid. */
  private def refineCodebook(base: DataFrame, dim: Int, nCentroids: Int,
                             iters: Int, init: Array[Double]): Array[Double] = {
    var codebook = init
    var it = 0
    while (it < iters) {
      val cbCol = sf.lit(codebook)
      val sums = base.select(
          gf.nearestCentroids(sf.col("nv"), cbCol, sf.lit(dim), sf.lit(1))
            .getItem(0).as("cluster"),
          sf.posexplode(sf.col("nv")).as(Seq("dim", "x")))
        .groupBy("cluster", "dim")
        .agg(sf.sum(sf.floor(sf.col("x") * 1e6 + 0.5).cast("long")).as("s"),
          sf.count(sf.lit(1)).as("cnt"))
        .collect()
      val next = codebook.clone()
      sums.foreach { r =>
        next(r.getInt(0) * dim + r.getInt(1)) =
          r.getLong(2).toDouble / (1e6 * r.getLong(3))
      }
      codebook = next
      it += 1
    }
    codebook
  }

  /** IVF (inverted-file) approximate top-k. Coarse quantizer: the
    * nCentroids corpus vectors with the smallest sampleHash(id) — a
    * deterministic pseudo-random codebook sample — optionally refined
    * by `lloydIters` k-means rounds (see refineCodebook; sampling-only
    * is the zero-extra-pass variant, each Lloyd round costs one corpus
    * pass and buys recall at fixed nProbe on clustered corpora).
    * Corpus vectors are assigned to their nearest centroid's list;
    * each query probes only its nProbe nearest lists. With
    * nProbe == nCentroids this degenerates to exact brute force (the
    * property the spec pins). The codebook is a driver-side literal:
    * nCentroids*dim doubles, broadcast with the plan — the corpus is
    * never collected. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryPred: org.apache.spark.sql.Column, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              lloydIters: Int = 0,
              maxLiteralCentroids: Int = MaxLiteralCentroids): DataFrame = {
    val base0 = Par.spread(emb.select(sf.col(idCol).cast("long").as("n_id"),
      sf.col(vecCol).cast("array<double>").as("nv")))
    val distributedCb = nCentroids > maxLiteralCentroids
    val base = if (lloydIters > 0 || distributedCb) base0.persist() else base0
    val (assigned, queries) = if (!distributedCb) {
      val dim = emb.select(sf.size(sf.col(vecCol))).head().getInt(0)
      val sampled: Array[Double] = base
        .orderBy(sampleHash(sf.col("n_id")), sf.col("n_id"))
        .limit(nCentroids)
        .select("nv").collect()
        .flatMap(_.getSeq[Double](0))
      val codebook =
        if (lloydIters > 0) refineCodebook(base, dim, nCentroids, lloydIters, sampled)
        else sampled
      val codebookCol = sf.lit(codebook)
      (base.withColumn("cluster",
        gf.nearestCentroids(sf.col("nv"), codebookCol, sf.lit(dim), sf.lit(1)).getItem(0)),
       sf.broadcast(base.filter(queryPred)
        .select(sf.col("n_id").as("q_id"), sf.col("nv").as("qv"),
          sf.explode(gf.nearestCentroids(sf.col("nv"), codebookCol, sf.lit(dim),
            sf.lit(nProbe))).as("probe"))))
    } else {
      // codebook past the literal ceiling: DataFrame end to end —
      // nothing codebook-sized ever touches the driver
      val spark = emb.sparkSession
      val cb0 = sampleCodebookDF(base, "n_id", "nv", nCentroids)
      val cb = if (lloydIters > 0) refineCodebookDF(spark, base, "n_id", "nv", cb0, lloydIters)
               else cb0
      val corpusCells = assignCellsDF(spark, base, "n_id", "nv", cb, 1)
        .select(sf.col("n_id"), sf.col("cells").getItem(0).as("cluster"))
      val qbase = base.filter(queryPred)
      (base.join(corpusCells, "n_id"),
       sf.broadcast(qbase.join(assignCellsDF(spark, qbase, "n_id", "nv", cb, nProbe), "n_id")
        .select(sf.col("n_id").as("q_id"), sf.col("nv").as("qv"),
          sf.explode(sf.col("cells")).as("probe"))))
    }
    val scored = queries.join(assigned,
        sf.col("probe") === sf.col("cluster") && sf.col("q_id") =!= sf.col("n_id"))
      .select(sf.col("q_id"), sf.col("n_id"),
        gf.cosineSim(sf.col("qv"), sf.col("nv")).as("cosine"))
    val w = Window.partitionBy("q_id").orderBy(sf.col("cosine").desc, sf.col("n_id").asc)
    scored.withColumn("rank", sf.row_number().over(w))
      .filter(sf.col("rank") <= k)
      .select(sf.col("q_id"), sf.col("rank"), sf.col("n_id"),
        gf.roundAt(sf.col("cosine"), 4).as("cosine"))
      .orderBy("q_id", "rank")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embeddings, then within each
    * cluster flag every vector that has a LOWER-ID cluster-mate with
    * cosine >= tau (keep-lowest-id, the same first-witness convention as
    * the text near-dup family). Exact near-dups, paraphrases, and
    * templated spam land in the same cell, so the quadratic comparison
    * is confined to one cluster at a time.
    *
    * Output: (vec_id, cluster, is_dup) for every vector — survivors are
    * `is_dup = 0`.
    *
    * Scale shape: the codebook is the ivfTopK machinery (literal up to
    * `maxLiteralCentroids`, DataFrame + broadcast join past it; Lloyd
    * rounds are one corpus pass each, fixed-point so oracles replay
    * them). The pair scan is a cluster-keyed equi self-join — never a
    * cartesian — and each pair occurs in exactly ONE cell (nProbe = 1
    * assignment), so no pair-dedup pass exists to shuffle. At the
    * SemDeDup paper's sizing (nCentroids ≈ n/expected-cluster-size,
    * e.g. 100k cells for 100M docs) cluster sizes stay in the
    * thousands and the per-cell quadratic term is bounded; the cosine
    * is compared on the shared 4-decimal rounding so engines agree at
    * the threshold boundary.
    *
    * `maxCellSize` additionally bounds the quadratic term against
    * DEGENERATE clusterings (a near-uniform corpus can land one cell):
    * cells above the cap are salt-split deterministically by id hash,
    * so no sub-cell exceeds ~the cap. Pairs across sub-cells are lost —
    * the same documented recall-for-boundedness trade as the LSH
    * bucket cap — and every emitted flag remains an exact witness. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    nCentroids: Int = 16, lloydIters: Int = 1,
                    tau: Double = 0.35,
                    maxLiteralCentroids: Int = MaxLiteralCentroids,
                    maxCellSize: Int = Int.MaxValue): DataFrame = {
    require(maxCellSize >= 2, s"maxCellSize must be >= 2, got $maxCellSize")
    val base = Par.spread(emb.select(sf.col(idCol).cast("long").as("n_id"),
      sf.col(vecCol).cast("array<double>").as("nv"))).persist()
    val assigned = (if (nCentroids <= maxLiteralCentroids) {
      val dim = emb.select(sf.size(sf.col(vecCol))).head().getInt(0)
      val sampled: Array[Double] = base
        .orderBy(sampleHash(sf.col("n_id")), sf.col("n_id"))
        .limit(nCentroids)
        .select("nv").collect()
        .flatMap(_.getSeq[Double](0))
      val codebook =
        if (lloydIters > 0) refineCodebook(base, dim, nCentroids, lloydIters, sampled)
        else sampled
      base.withColumn("cluster",
        gf.nearestCentroids(sf.col("nv"), sf.lit(codebook), sf.lit(dim), sf.lit(1))
          .getItem(0))
    } else {
      val spark = emb.sparkSession
      val cb0 = sampleCodebookDF(base, "n_id", "nv", nCentroids)
      val cb = if (lloydIters > 0) refineCodebookDF(spark, base, "n_id", "nv", cb0, lloydIters)
               else cb0
      base.join(assignCellsDF(spark, base, "n_id", "nv", cb, 1)
        .select(sf.col("n_id"), sf.col("cells").getItem(0).as("cluster")), "n_id")
    }).persist()
    // degenerate-cell guard: salt-split any cell above maxCellSize so
    // the per-(cell, sub) quadratic term stays bounded
    val capped = if (maxCellSize == Int.MaxValue)
      assigned.withColumn("__sub", sf.lit(0L))
    else {
      val sizes = assigned.groupBy(sf.col("cluster").as("__c"))
        .agg(sf.count(sf.lit(1)).as("__cs"))
      assigned.join(sizes, sf.col("cluster") === sf.col("__c"))
        .withColumn("__sub", sf.pmod(sampleHash(sf.col("n_id")),
          sf.ceil(sf.col("__cs").cast("double") / maxCellSize).cast("long")))
        .drop("__c", "__cs")
    }
    val lower = capped.select(sf.col("cluster").as("b_cluster"),
      sf.col("__sub").as("b_sub"), sf.col("n_id").as("b_id"), sf.col("nv").as("bv"))
    val dups = capped.join(lower,
        sf.col("cluster") === sf.col("b_cluster") &&
          sf.col("__sub") === sf.col("b_sub") &&
          sf.col("b_id") < sf.col("n_id") &&
          gf.roundAt(gf.cosineSim(sf.col("nv"), sf.col("bv")), 4) >= tau,
        "left_semi")
      .select(sf.col("n_id"), sf.lit(1).as("__d"))
    assigned.join(dups, Seq("n_id"), "left")
      .select(sf.col("n_id").as("vec_id"), sf.col("cluster"),
        sf.coalesce(sf.col("__d"), sf.lit(0)).as("is_dup"))
      .orderBy("vec_id")
  }

  /** Product-quantization (PQ) approximate top-k (Jégou et al. 2011,
    * "Product quantization for nearest neighbor search"): the vector is
    * split into `nSubspaces` contiguous sub-vectors, each quantized to
    * its nearest sub-codebook centroid, so a corpus row is represented
    * by nSubspaces SMALL CODES — 4 ints instead of 64 doubles here, and
    * 16–64× less state at production dims. Queries score candidates by
    * asymmetric distance (ADC): the exact query vector against the
    * candidate's RECONSTRUCTION (concatenated sub-centroids), computed
    * on the fly from the plan-literal codebooks inside codegen.
    *
    * Scale shape: the corpus is ENCODED ONCE (map-only pass against
    * literal codebooks) and thereafter only codes move — the bucketed /
    * persisted / shuffled form of the corpus is nSubspaces ints per
    * row, which is what makes billion-scale ANN state fit executor
    * memory. Queries broadcast; scoring is one dot per (query,
    * candidate) with no corpus-side vector column; top-k reduces with
    * the k-bounded TopKAgg. Sub-codebooks sample the same
    * deterministic sampleHash prefix as the IVF path, so a SQL oracle
    * replays the exact codes and reconstructions.
    *
    * Recall/compression trade: with no coarse quantizer this scans all
    * codes (like IVF with nProbe = nCentroids); compose with ivfTopK
    * cells for the scan-pruned variant. */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
             queryPred: org.apache.spark.sql.Column, k: Int,
             nSubspaces: Int = 4, centroidsPerSub: Int = 16): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = Par.spread(emb.select(sf.col(idCol).cast("long").as("n_id"),
      sf.col(vecCol).cast("array<double>").as("nv")))
    val dim = emb.select(sf.size(sf.col(vecCol))).head().getInt(0)
    require(dim % nSubspaces == 0,
      s"dim $dim must divide evenly into $nSubspaces subspaces")
    val subDim = dim / nSubspaces
    // the sub-codebooks: per subspace, the matching slice of the SAME
    // centroidsPerSub sampleHash-prefix vectors (one collect of
    // centroidsPerSub × dim doubles — codebook-sized, never corpus-sized)
    val sampled: Array[Array[Double]] = base
      .orderBy(sampleHash(sf.col("n_id")), sf.col("n_id"))
      .limit(centroidsPerSub)
      .select("nv").collect()
      .map(_.getSeq[Double](0).toArray)
    val subCodebooks: Array[Array[Array[Double]]] =       // (m)(c)(i)
      Array.tabulate(nSubspaces, centroidsPerSub)((m, c) =>
        sampled(c).slice(m * subDim, (m + 1) * subDim))
    // encode: nSubspaces argmin-L2 kernels over plan-literal flat
    // codebooks (L2, not cosine: near-zero noise sub-vectors must map
    // to near-zero centroids, which a scale-invariant angle cannot)
    val codeCols = (0 until nSubspaces).map { m =>
      gf.nearestCentroidsL2(sf.slice(sf.col("nv"), m * subDim + 1, subDim),
        sf.lit(subCodebooks(m).flatten), sf.lit(subDim), sf.lit(1))
        .getItem(0).as(s"code_$m")
    }
    val codes = base.select(sf.col("n_id") +: codeCols: _*)
    // reconstruction from codes: element_at into array-of-array literals
    val recon = sf.concat((0 until nSubspaces).map { m =>
      val cbArr = sf.array(subCodebooks(m).map(sf.lit(_)): _*)
      sf.element_at(cbArr, sf.col(s"code_$m") + 1)
    }: _*)
    val queries = sf.broadcast(
      emb.filter(queryPred).select(sf.col(idCol).cast("long").as("q_id"),
        sf.col(vecCol).cast("array<double>").as("qv")))
    val scored = queries.join(codes, sf.col("q_id") =!= sf.col("n_id"))
      .select(sf.col("q_id").as("qId"), sf.col("n_id").as("nId"),
        gf.dot(sf.col("qv"), recon).as("cosine"))
      .as[Scored]
    scored.groupByKey(_.qId).agg(new TopKAgg(k).toColumn.name("topk"))
      .toDF("q_id", "topk")
      .select(sf.col("q_id"), sf.posexplode(sf.col("topk")).as(Seq("i", "sn")))
      .select(sf.col("q_id"), (sf.col("i") + 1).as("rank"),
        sf.col("sn._2").as("n_id"), gf.roundAt(sf.col("sn._1"), 4).as("adc"))
      .orderBy("q_id", "rank")
  }

  /** IVF-PQ (IVFADC, Jégou et al. 2011 §IV) approximate top-k — the
    * composition of [[ivfTopK]]'s cell pruning with [[pqTopK]]'s code
    * compression, which is THE standard memory-bounded layout for
    * billion-scale vector stores: the corpus persists as (cell id +
    * nSubspaces residual codes) — a handful of ints per vector — so
    * the index fits executor memory at sizes where float vectors
    * cannot; queries probe nProbe cells, score candidates by
    * asymmetric distance against the RECONSTRUCTION (cell centroid +
    * concatenated residual sub-centroids), and only the `rerank`
    * ADC-best candidates per query ever touch a real vector again
    * (one id-keyed equi join) for the exact-cosine re-rank that
    * reorders quantization noise out of the final top-k.
    *
    * PQ here codes the RESIDUAL x − c(x) (the paper's IVFADC variant,
    * not plain PQ): residual energy is what remains after the coarse
    * quantizer, so the same sub-codebook budget buys materially lower
    * distortion than coding raw vectors.
    *
    * Determinism: the coarse codebook is the first nCentroids corpus
    * vectors in (sampleHash, id) order and the PQ training sample is
    * the NEXT centroidsPerSub (disjoint — a coarse centroid's own
    * residual is 0 and would train degenerate sub-codebooks); sample
    * residuals are computed by the SAME plan kernels that encode the
    * corpus, so both engines replay identical codes; assignments
    * break ties to the lower index, ADC ties to the lower id, and the
    * final order is (exact cosine desc, id asc) — every comparison on
    * raw per-pair sequential-fold doubles, identical in DuckDB's
    * list_* kernels (the q32/q70 pairing, both hash-green).
    *
    * Scale shape: encode is one map-only pass against plan-literal
    * codebooks; the candidate join moves only codes; the ADC top-k
    * reduces with the rerank-bounded combinable aggregator (shuffle
    * O(partitions x queries x rerank)); the re-rank joins a
    * (queries x rerank)-bounded broadcast shortlist against the
    * corpus by id. Nothing corpus-sized is collected, broadcast, or
    * carried as floats past the encode. */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
                queryPred: org.apache.spark.sql.Column, k: Int,
                nCentroids: Int = 16, nProbe: Int = 4,
                nSubspaces: Int = 4, centroidsPerSub: Int = 16,
                rerank: Int = 20): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val spark = emb.sparkSession
    import spark.implicits._
    val base = Par.spread(emb.select(sf.col(idCol).cast("long").as("n_id"),
      sf.col(vecCol).cast("array<double>").as("nv")))
      .localCheckpoint(true) // sample collects + encode + queries + re-rank read it
    val dim = emb.select(sf.size(sf.col(vecCol))).head().getInt(0)
    require(dim % nSubspaces == 0,
      s"dim $dim must divide evenly into $nSubspaces subspaces")
    val subDim = dim / nSubspaces
    // coarse codebook: sampleHash-prefix vectors (the ivfTopK sample)
    val coarse: Array[Array[Double]] = base
      .orderBy(sampleHash(sf.col("n_id")), sf.col("n_id"))
      .limit(nCentroids)
      .select("nv").collect().map(_.getSeq[Double](0).toArray)
    val cbFlat = sf.lit(coarse.flatten)
    val centArr = sf.array(coarse.map(sf.lit(_)): _*)
    def cellOf(v: org.apache.spark.sql.Column) =
      gf.nearestCentroids(v, cbFlat, sf.lit(dim), sf.lit(1)).getItem(0)
    def residual(v: org.apache.spark.sql.Column, cell: org.apache.spark.sql.Column) =
      sf.zip_with(v, sf.element_at(centArr, cell + 1), (a, b) => a - b)
    // PQ sub-codebooks: residuals of the NEXT centroidsPerSub sample
    // vectors, computed with the same kernels the corpus encode uses
    // (collect is centroidsPerSub x dim doubles — codebook-sized)
    val pqResiduals: Array[Array[Double]] = base
      .orderBy(sampleHash(sf.col("n_id")), sf.col("n_id"))
      .offset(nCentroids).limit(centroidsPerSub)
      .select(residual(sf.col("nv"), cellOf(sf.col("nv"))).as("rv"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(pqResiduals.length == centroidsPerSub,
      s"corpus too small: ${pqResiduals.length} PQ sample rows, need $centroidsPerSub")
    val subCodebooks: Array[Array[Array[Double]]] = // (m)(c)(i)
      Array.tabulate(nSubspaces, centroidsPerSub)((m, c) =>
        pqResiduals(c).slice(m * subDim, (m + 1) * subDim))
    // encode: cell + nSubspaces argmin-L2 residual codes — after this
    // select the corpus side is 2 + nSubspaces ints wide, no vectors
    val codeCols = (0 until nSubspaces).map { m =>
      gf.nearestCentroidsL2(sf.slice(sf.col("rv"), m * subDim + 1, subDim),
        sf.lit(subCodebooks(m).flatten), sf.lit(subDim), sf.lit(1))
        .getItem(0).as(s"code_$m")
    }
    val codes = base
      .withColumn("cluster", cellOf(sf.col("nv")))
      .withColumn("rv", residual(sf.col("nv"), sf.col("cluster")))
      .select(sf.col("n_id") +: sf.col("cluster") +: codeCols: _*)
    // reconstruction = cell centroid + concatenated residual sub-centroids
    val reconR = sf.concat((0 until nSubspaces).map { m =>
      val cbArr = sf.array(subCodebooks(m).map(sf.lit(_)): _*)
      sf.element_at(cbArr, sf.col(s"code_$m") + 1)
    }: _*)
    val reconFull = sf.zip_with(sf.element_at(centArr, sf.col("cluster") + 1),
      reconR, (a, b) => a + b)
    val queries = sf.broadcast(emb.filter(queryPred)
      .select(sf.col(idCol).cast("long").as("q_id"),
        sf.col(vecCol).cast("array<double>").as("qv"))
      .withColumn("probe", sf.explode(gf.nearestCentroids(sf.col("qv"),
        cbFlat, sf.lit(dim), sf.lit(nProbe)))))
    val adcScored = queries.join(codes,
        sf.col("probe") === sf.col("cluster") && sf.col("q_id") =!= sf.col("n_id"))
      .select(sf.col("q_id").as("qId"), sf.col("n_id").as("nId"),
        gf.dot(sf.col("qv"), reconFull).as("cosine"))
      .as[Scored]
    val shortlist = adcScored.groupByKey(_.qId)
      .agg(new TopKAgg(rerank).toColumn.name("topk"))
      .toDF("q_id", "topk")
      .select(sf.col("q_id"), sf.explode(sf.col("topk")).as("sn"))
      .select(sf.col("q_id"), sf.col("sn._2").as("n_id"), sf.col("sn._1").as("adc"))
    // exact re-rank: only the shortlist re-reads real vectors
    val qvs = sf.broadcast(emb.filter(queryPred)
      .select(sf.col(idCol).cast("long").as("__q"),
        sf.col(vecCol).cast("array<double>").as("qv")))
    val exact = base.select(sf.col("n_id"), sf.col("nv"))
      .join(sf.broadcast(shortlist), "n_id")
      .join(qvs, sf.col("q_id") === sf.col("__q"))
      .select(sf.col("q_id"), sf.col("n_id"), sf.col("adc"),
        gf.cosineSim(sf.col("qv"), sf.col("nv")).as("cosine"))
    val w = Window.partitionBy("q_id").orderBy(sf.col("cosine").desc, sf.col("n_id").asc)
    exact.withColumn("rank", sf.row_number().over(w))
      .filter(sf.col("rank") <= k)
      .select(sf.col("q_id"), sf.col("rank"), sf.col("n_id"),
        gf.roundAt(sf.col("cosine"), 4).as("cosine"),
        gf.roundAt(sf.col("adc"), 4).as("adc"))
      .orderBy("q_id", "rank")
  }

  /** Embedding dimension profile: per-dimension n/mean/std/min/max —
    * the DQ pass that catches dead dimensions (std ≈ 0), scale drift
    * between embedding-model versions, and NaN/Inf pollution before a
    * corpus is indexed.
    *
    * Determinism at scale: float sums are partition-order-dependent, so
    * mean/std would differ run to run (and engine to engine). Values
    * are fixed-pointed first — floor(x·1e6 + 0.5) as a long — and the
    * moments accumulate as DECIMAL(38,0) integer sums, which are EXACT
    * under any accumulation order; only the final mean/std division
    * happens in doubles, identically on both engines. The squared
    * fixed-point term is ≤ ~4.4e12 per element, so the decimal
    * accumulator holds ~10^25 elements — no overflow at any real corpus
    * size (the all-long variant dies at ~2e6 rows). One explode, one
    * map-side-combined groupBy(dim): the shuffle carries dim ×
    * partitions rows. */
  def dimensionProfile(emb: DataFrame, vecCol: String): DataFrame = {
    // non-finite values are COUNTED, never aggregated: ANSI mode throws
    // on cast(NaN as long), and one Inf would poison every moment —
    // the profile must survive exactly the pollution it exists to find
    val finite = !sf.isnan(sf.col("x")) &&
      sf.abs(sf.col("x")) <= sf.lit(Double.MaxValue)
    val xf = sf.when(finite, sf.col("x"))
    val fx = sf.floor(xf * 1e6 + 0.5).cast("long")
    val n = sf.col("n").cast("double")
    val s1 = sf.col("s1").cast("double") / 1e6
    val s2 = sf.col("s2").cast("double") / 1e12
    val variance = (s2 - s1 * s1 / n) / (n - 1)
    Par.spread(emb.select(sf.col(vecCol).cast("array<double>").as("v")))
      .select(sf.posexplode(sf.col("v")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(sf.count(xf).as("n"),
        (sf.count(sf.lit(1)) - sf.count(xf)).as("n_nonfinite"),
        sf.sum(fx.cast("decimal(38,0)")).as("s1"),
        sf.sum((fx * fx).cast("decimal(38,0)")).as("s2"),
        sf.min(xf).as("mn"), sf.max(xf).as("mx"))
      .select(sf.col("dim"), sf.col("n"), sf.col("n_nonfinite"),
        gf.roundAt(s1 / n, 4).as("mean"),
        gf.roundAt(sf.sqrt(sf.greatest(variance, sf.lit(0.0))), 4).as("std"),
        gf.roundAt(sf.col("mn"), 4).as("v_min"),
        gf.roundAt(sf.col("mx"), 4).as("v_max"))
      .orderBy("dim")
  }

  /** Mean pairwise inner-product matrix, computed PAIR-FREE — for
    * every label pair, the exact mean dot product between their
    * vectors (self-pairs excluded on the diagonal): the separation
    * table that normally costs n² pair enumeration collapses to SUM
    * VECTORS by linearity, mean_{i∈A,j∈B}⟨x_i,x_j⟩ = ⟨S_A,S_B⟩/(n_A
    * n_B) and within-class (⟨S_A,S_A⟩ − Σᵢ‖x_i‖²)/(n_A(n_A−1)) — the
    * EXACT companion to row 177's normalized-centroid cosine (which
    * drops magnitude) and the sanity check behind contrastive-margin
    * claims: within ≫ between or the labels aren't doing anything.
    *
    * Determinism: components snap to the 1e-6 grid, so sum vectors,
    * dot products and squared norms are EXACT DECIMAL(38,0) integer
    * arithmetic end-to-end; the two mean divisions are pinned 1e-6
    * (value scale 1e-12 divided back once). Degenerate diagonals
    * (n < 2) report NULL.
    *
    * Scale shape: one map-only component explode + a (label, dim)
    * sum-vector rollup + a label-pair join PER DIM on the bounded
    * label domain (k² × dims rows, never n²) + one squared-norm
    * rollup. */
  def meanDotMatrix(emb: DataFrame, labelCol: String,
                    vecCol: String): DataFrame = {
    val comps = Par.spread(emb
      .filter(sf.col(labelCol).isNotNull && sf.col(vecCol).isNotNull)
      .select(sf.col(labelCol).cast("string").as("cls"),
        sf.col(vecCol).cast("array<double>").as("v")))
      .select(sf.col("cls"), sf.posexplode(sf.col("v")).as(Seq("dim", "x")))
      // non-finite components contribute 0 (the row 102 pollution rule)
      .filter(!sf.isnan(sf.col("x")) &&
        sf.abs(sf.col("x")) <= sf.lit(Double.MaxValue))
      .select(sf.col("cls"), sf.col("dim"),
        sf.floor(sf.col("x") * 1e6 + 0.5).cast("long").as("__x6"))
      .localCheckpoint(true) // sum vectors + norms read it
    val sums = comps.groupBy("cls", "dim")
      .agg(sf.sum(dec(sf.col("__x6"))).as("s"))
      .localCheckpoint(true) // both sides of the pair join read it
    val norms = comps.groupBy("cls")
      .agg(sf.sum(dec(sf.col("__x6")) * dec(sf.col("__x6"))).as("q"))
    val counts = emb.filter(sf.col(labelCol).isNotNull && sf.col(vecCol).isNotNull)
      .groupBy(sf.col(labelCol).cast("string").as("cls"))
      .agg(sf.count(sf.lit(1)).cast("long").as("n"))
    val dots = sums.select(sf.col("cls").as("label_a"), sf.col("dim"),
        sf.col("s").as("__sa"))
      .join(sums.select(sf.col("cls").as("label_b"), sf.col("dim"),
        sf.col("s").as("__sb")), "dim")
      .filter(sf.col("label_a") <= sf.col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sf.sum(sf.col("__sa") * sf.col("__sb")).as("__dot"))
    dots
      .join(sf.broadcast(counts.select(sf.col("cls").as("label_a"),
        sf.col("n").as("n_a"))), "label_a")
      .join(sf.broadcast(counts.select(sf.col("cls").as("label_b"),
        sf.col("n").as("n_b"))), "label_b")
      .join(sf.broadcast(norms.select(sf.col("cls").as("label_a"),
        sf.col("q").as("__qa"))), Seq("label_a"), "left")
      .select(sf.col("label_a"), sf.col("label_b"), sf.col("n_a"), sf.col("n_b"),
        sf.when(sf.col("label_a") =!= sf.col("label_b"), gf.roundAt(
            sf.col("__dot").cast("double") /
              (sf.col("n_a").cast("double") * sf.col("n_b").cast("double")) /
              1e12, 6))
          .otherwise(sf.when(sf.col("n_a") >= 2, gf.roundAt(
            (sf.col("__dot") - sf.col("__qa")).cast("double") /
              (sf.col("n_a").cast("double") *
                (sf.col("n_a").cast("double") - 1.0)) / 1e12, 6)))
          .as("mean_dot"))
      .orderBy("label_a", "label_b")
  }

  /** Per-dimension Fisher discriminant ratio — a one-way ANOVA F
    * across the label groups for EVERY embedding component: which
    * dimensions actually separate the classes (F ≫ 1) and which are
    * label-blind noise — the feature-selection / probe readout that
    * [[dimensionProfile]] (label-free moments) and the row-177
    * centroid matrix (whole-vector geometry) sit on either side of,
    * and the standard screen before training linear probes or
    * choosing Matryoshka truncation cut points per task.
    *
    * Determinism: the row 175 ANOVA discipline VERBATIM, grouped by
    * (dim, label) — components snap to the 1e-4 grid, per-group
    * between/within terms snap to 1e-6 longs BEFORE the unordered
    * cross-group sums, F is one pinned assembly rounded 1e-4.
    * Non-finite components drop (complete-case per dim, the
    * dimensionProfile pollution rule); degenerate dims (k < 2,
    * n ≤ k, zero within variance) report NULL.
    *
    * Scale shape: one map-only component explode + a combinable
    * (dim, label) rollup; everything after runs on the dims × labels
    * domain. */
  def fisherRatio(emb: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    val finite = !sf.isnan(sf.col("x")) &&
      sf.abs(sf.col("x")) <= sf.lit(Double.MaxValue)
    val comps = Par.spread(emb
      .filter(sf.col(labelCol).isNotNull && sf.col(vecCol).isNotNull)
      .select(sf.col(labelCol).cast("string").as("cls"),
        sf.col(vecCol).cast("array<double>").as("v")))
      .select(sf.col("cls"), sf.posexplode(sf.col("v")).as(Seq("dim", "x")))
      .filter(finite)
      .select(sf.col("cls"), sf.col("dim"),
        sf.floor(sf.col("x") * 1e4 + 0.5).cast("long").as("__x4"))
    val g = comps.groupBy("dim", "cls")
      .agg(sf.count(sf.lit(1)).as("__n"), sf.sum(dec(sf.col("__x4"))).as("__s"),
        sf.sum(dec(sf.col("__x4")) * dec(sf.col("__x4"))).as("__ss"))
    val sg = sf.col("__s").cast("double") / 1e4
    val ng = sf.col("__n").cast("double")
    val bTerm = sf.floor(sg * sg / ng * 1e6 + 0.5).cast("long")
    val wTerm = sf.floor((sf.col("__ss").cast("double") / 1e8 - sg * sg / ng)
      * 1e6 + 0.5).cast("long")
    g.select(sf.col("dim"), sf.col("__n"), sf.col("__s"),
        bTerm.as("__bt"), wTerm.as("__wt"))
      .groupBy("dim")
      .agg(sf.count(sf.lit(1)).as("k_classes"), sf.sum("__n").cast("long").as("n"),
        sf.sum(dec(sf.col("__s"))).as("__st"),
        sf.sum(dec(sf.col("__bt"))).as("__b"),
        sf.sum(dec(sf.col("__wt"))).as("__w"))
      .select({
        val n = sf.col("n").cast("double")
        val k = sf.col("k_classes").cast("double")
        val grand = sf.col("__st").cast("double") / 1e4
        val ssb = sf.col("__b").cast("double") / 1e6 - grand * grand / n
        val ssw = sf.col("__w").cast("double") / 1e6
        val f = (ssb / (k - 1)) / (ssw / (n - k))
        Seq(sf.col("dim"), sf.col("k_classes"), sf.col("n"),
          sf.when(sf.col("k_classes") > 1 && sf.col("n") > sf.col("k_classes")
            && ssw > 0, gf.roundAt(f, 4)).as("f_ratio"))
      }: _*)
      .orderBy("dim")
  }

  /** Per-dimension z-score standardization of an embedding table — the
    * whitening step before distance-based ops when dimensions carry
    * wildly different scales (raw activations, concatenated feature
    * blocks). Uses [[dimensionProfile]]'s exact fixed-point moments;
    * emits one (vec_id, dim, z) row per component so the result is a
    * plain scalar frame (callers re-assemble arrays with a
    * collect_list/array_sort when needed). Constant dimensions
    * (std = 0) yield NULL z rather than a division blow-up.
    *
    * Determinism: components snap to the 1e6 grid before any moment
    * sum (DECIMAL-exact, order-free); mean/std/z assemble in one
    * pinned double expression per row, rounded at 1e-4.
    *
    * Scale shape: one combinable moment aggregation to the dim domain
    * (<= a few thousand rows), broadcast back over the exploded
    * component stream — map-only standardization, one shuffle total. */
  def standardizeEmbeddings(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val fx = sf.floor(sf.col("x") * 1e6 + 0.5).cast("long")
    val comps = Par.spread(emb.select(sf.col(idCol).cast("long").as("vec_id"),
        sf.col(vecCol).cast("array<double>").as("v")))
      .select(sf.col("vec_id"), sf.posexplode(sf.col("v")).as(Seq("dim", "x")))
      .select(sf.col("vec_id"), sf.col("dim"), fx.as("x6"))
      .localCheckpoint(true) // stats + standardization both read it
    val n = sf.col("n").cast("double")
    val s1 = sf.col("s1").cast("double") / 1e6
    val s2 = sf.col("s2").cast("double") / 1e12
    val stats = comps.groupBy(sf.col("dim").as("__d"))
      .agg(sf.count(sf.lit(1)).as("n"),
        sf.sum(sf.col("x6").cast("decimal(38,0)")).as("s1"),
        sf.sum((sf.col("x6") * sf.col("x6")).cast("decimal(38,0)")).as("s2"))
      .select(sf.col("__d"), sf.col("n"),
        (s1 / n).as("__mean"),
        sf.sqrt(sf.greatest((s2 - s1 * s1 / n) / (n - 1), sf.lit(0.0))).as("__std"))
    comps.join(sf.broadcast(stats), sf.col("dim") === sf.col("__d"))
      .select(sf.col("vec_id"), sf.col("dim").cast("long").as("dim"),
        sf.when(sf.col("__std") > 0,
          gf.roundAt((sf.col("x6").cast("double") / 1e6 - sf.col("__mean")) / sf.col("__std"), 4))
          .as("z"))
      .orderBy("vec_id", "dim")
  }

  /** Deterministic pseudo-random hyperplanes for sign-random-projection
    * LSH: component (j, i) from splitmix64(seed, j, i), quantized to
    * multiples of 2^-10 in [-1, 1). Dyadic values print as short exact
    * decimals, so the same planes can be embedded verbatim as literals
    * in an oracle SQL text and parse back bit-identical. One source of
    * truth with the fused banding kernels: delegates to
    * [[graft.plans.Kernels.srpPlanes]] (memoized per (dim, bits,
    * seed)). */
  def lshPlanes(dim: Int, bits: Int, seed: Int): Array[Array[Double]] =
    graft.plans.Kernels.srpPlanes(dim, bits, seed)

  /** Sign-random-projection bucket id: bit j set iff dot(v, plane_j) > 0. */
  def lshBucket(v: org.apache.spark.sql.Column,
                planes: Array[Array[Double]]): org.apache.spark.sql.Column =
    planes.zipWithIndex.map { case (p, j) =>
      sf.when(gf.dot(v, sf.lit(p)) > 0, 1L << j).otherwise(0L)
    }.reduce(_ + _)

  /** Banded sign-random-projection near-duplicate PAIR enumeration —
    * the unbounded-corpus scale path replacing the all-pairs cross join
    * of `cosineNearDup`. Each vector gets `bands` bucket values (one
    * per band of `bitsPerBand` hyperplane signs); candidate pairs are
    * those agreeing on at least one band, enumerated by a bucket-keyed
    * equi self-join — never a cartesian product — and exact-verified
    * by cosine within the bucket. The MinHash LSH pipeline
    * (Dedup.lshCore) is the template: first-witness single emission
    * (no pair-dedup shuffle), vectors joined back only for surviving
    * candidates (the band explode carries ids + band arrays, never the
    * vectors).
    *
    * Recall/selectivity contract (mirrored verbatim into the SQL
    * oracle as plane literals, like `lshTopK`/q26): a pair at cosine c
    * agrees on one bit with probability p = 1 - arccos(c)/pi, on a
    * band with p^bitsPerBand, and is a candidate with
    * 1-(1-p^bitsPerBand)^bands. The defaults (16 bands of 8 bits)
    * target the near-duplicate regime (threshold >= ~0.8: recall
    * >= 0.94 at c = 0.8, ~1 - 1e-4 at c = 0.95) with random-pair
    * selectivity bands/2^bits = 1/16. For moderate thresholds use
    * wider bands (fewer bits) or the IVF-cell variant below.
    *
    * Scale notes: shuffles are (band, bucket)-keyed; skewed buckets are
    * bounded by the band hash width; the only quadratic term is WITHIN
    * a bucket, controlled by bitsPerBand. Planes are plan literals —
    * nothing is collected. */
  def cosineNearDupBucketed(emb: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, bands: Int = 16, bitsPerBand: Int = 8,
                            seed: Int = 42): DataFrame = {
    val toFree = scala.collection.mutable.Buffer.empty[DataFrame]
    val out = cosineNearDupBucketedPlan(emb, idCol, vecCol, threshold,
        bands, bitsPerBand, seed, toFree)
      .localCheckpoint(true) // the range sort below samples its child
    toFree.foreach(_.unpersist()) // banded-corpus invariant, now spent
    out.orderBy("a_id", "b_id")
  }

  /** `cosineNearDupBucketed` before the determinism checkpoint + sort —
    * the plan the PlanSpec audits (the eager checkpoint collapses the
    * executed plan to an RDD scan) and the shape consumers that
    * aggregate pairs anyway should reuse. Frames persisted here are
    * appended to `toFree` for the caller to release once the result is
    * materialized (the r10 end-of-loop discipline). */
  private[graft] def cosineNearDupBucketedPlan(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      bands: Int, bitsPerBand: Int, seed: Int,
      toFree: scala.collection.mutable.Buffer[DataFrame] =
        scala.collection.mutable.Buffer.empty): DataFrame = {
    require(bitsPerBand >= 1 && bitsPerBand <= 31, "bitsPerBand must fit an int")
    val dim = emb.select(sf.size(sf.col(vecCol))).head().getInt(0)
    val planes = lshPlanes(dim, bands * bitsPerBand, seed)
    val base = Par.spread(emb.select(sf.col(idCol).cast("long").as("id"),
        sf.col(vecCol).cast("array<double>").as("v")))
      .withColumn("bv", sf.array((0 until bands).map { b =>
        lshBucket(sf.col("v"),
          planes.slice(b * bitsPerBand, (b + 1) * bitsPerBand)).cast("int")
      }: _*))
      .persist() // read by both explode sides and the vector join-back
      // (the cache is also the materialization barrier that keeps the
      // band array from re-evaluating per exploded row)
    toFree += base
    val buckets = base.select(sf.col("id"), sf.col("bv"),
      sf.posexplode(sf.col("bv")).as(Seq("band", "bh")))
    val l = buckets.select(sf.col("band"), sf.col("bh"),
      sf.col("id").as("a_id"), sf.col("bv").as("bv_a"))
    val r = buckets.select(sf.col("band").as("band_b"), sf.col("bh").as("bh_b"),
      sf.col("id").as("b_id"), sf.col("bv").as("bv_b"))
    // shuffle_hash: bucket keys are massively duplicated by design;
    // sorting both sides buys nothing (see Dedup.lshCore).
    val candidates = l.join(r.hint("shuffle_hash"),
        sf.col("band") === sf.col("band_b") && sf.col("bh") === sf.col("bh_b") &&
          sf.col("a_id") < sf.col("b_id"))
      .filter(gf.prefixAllDiffer(sf.col("bv_a"), sf.col("bv_b"), sf.col("band")))
      .select("a_id", "b_id")
    val va = base.select(sf.col("id").as("a_id"), sf.col("v").as("va"))
    val vb = base.select(sf.col("id").as("b_id"), sf.col("v").as("vb"))
    candidates.join(va, "a_id").join(vb, "b_id")
      .withColumn("cosine", gf.roundAt(gf.cosineSim(sf.col("va"), sf.col("vb")), 4))
      .filter(sf.col("cosine") >= threshold)
      .select("a_id", "b_id", "cosine")
  }

  /** Cross-corpus SEMANTIC decontamination: corpus rows whose embedding
    * is within `threshold` cosine of any held-out/eval vector — the
    * embedding-space twin of `TextAnalysis.decontaminate` (which
    * catches verbatim n-gram overlap; this catches paraphrases that
    * share no 8-gram). Same SRP banding as [[cosineNearDupBucketed]]:
    * a pair is a candidate iff it agrees on at least one band, emitted
    * once at the smallest agreeing band (first-witness, no pair-dedup
    * shuffle), then exact-verified by cosine.
    *
    * Scale shape: the eval set is small by definition, so its exploded
    * (band, bucket) table — vectors and band arrays riding along —
    * BROADCASTS, and the whole operator is map-only over the corpus:
    * the corpus explodes its bands, probes the broadcast buckets, and
    * verifies inline. The corpus never shuffles, nothing is collected,
    * and the scan prunes to (id, vector). */
  def crossCorpusEmbedNearDup(corpus: DataFrame, evalSet: DataFrame,
                              idCol: String, vecCol: String, threshold: Double,
                              bands: Int = 16, bitsPerBand: Int = 8,
                              seed: Int = 42): DataFrame = {
    require(bitsPerBand >= 1 && bitsPerBand <= 31, "bitsPerBand must fit an int")
    // Corpus side: the FUSED band-explode payload — the whole banding
    // is ONE kernel call per corpus row, and nothing computed is
    // carried past the Generate. (Carrying a computed band array
    // through posexplode re-evaluates it per EXPLODED row — bands× the
    // dot products, measured 2.7× on this operator's whole runtime —
    // and a materialization barrier would checkpoint the corpus.)
    // Each payload row carries its first-witness prefix (the earlier
    // bands' buckets), so the smallest-agreeing-band test needs no
    // full band array downstream.
    val co = Par.spread(
      corpus.select(sf.col(idCol).cast("long").as("corpus_id"),
        sf.col(vecCol).cast("array<double>").as("v")))
      .select(sf.col("corpus_id"), sf.col("v"),
        sf.explode(gf.srpBandPayload(sf.col("v"), bands, bitsPerBand, seed))
          .as("e"))
      .select(sf.col("corpus_id"), sf.col("v"),
        sf.col("e.band").as("band"), sf.col("e.bh").as("bh"),
        sf.col("e.pfx").as("pfx"))
    // Eval side: small by definition — the full band array rides the
    // broadcast (same kernel planes, bit-identical buckets).
    val ev = Par.spread(
      evalSet.select(sf.col(idCol).cast("long").as("eval_id"),
        sf.col(vecCol).cast("array<double>").as("ev")))
      .withColumn("bv_e", gf.srpBands(sf.col("ev"), bands, bitsPerBand, seed))
      .select(sf.col("eval_id"), sf.col("ev"), sf.col("bv_e"),
        sf.posexplode(sf.col("bv_e")).as(Seq("band_e", "bh_e")))
    co.join(sf.broadcast(ev),
        sf.col("band") === sf.col("band_e") && sf.col("bh") === sf.col("bh_e"))
      .filter(gf.prefixAllDiffer(sf.col("pfx"), sf.col("bv_e"), sf.col("band")))
      .withColumn("cosine", gf.roundAt(gf.cosineSim(sf.col("v"), sf.col("ev")), 4))
      .filter(sf.col("cosine") >= threshold)
      .select("corpus_id", "eval_id", "cosine")
      .orderBy("corpus_id", "eval_id")
  }

  /** IVF-cell near-duplicate pair enumeration: the moderate-threshold
    * scale path. Every vector probes its `nProbe` nearest cells of a
    * deterministic codebook (same coarse quantizer as `ivfTopK`);
    * candidate pairs are those sharing a probed cell — a cell-keyed
    * equi self-join, never a cartesian — then exact cosine verification.
    * A pair sharing several cells is emitted once, at the shared cell
    * with the smallest id (array_intersect over two nProbe-length int
    * arrays — no pair-dedup shuffle).
    *
    * Scale notes: candidate volume is sum over cells of C(cell_size *
    * nProbe-fraction, 2) — size nCentroids with the corpus so cells
    * stay ~constant (FAISS practice: nCentroids ~ sqrt(n)); the
    * codebook collect is nCentroids x dim doubles, never the corpus. */
  def ivfNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, nCentroids: Int = 16,
                      nProbe: Int = 4,
                      maxLiteralCentroids: Int = MaxLiteralCentroids): DataFrame =
    ivfNearDupPairsPlan(emb, idCol, vecCol, threshold, nCentroids, nProbe,
        maxLiteralCentroids)
      .localCheckpoint(true)
      .orderBy("a_id", "b_id")

  /** `ivfNearDupPairs` before the determinism checkpoint + sort. */
  private[graft] def ivfNearDupPairsPlan(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nCentroids: Int, nProbe: Int,
      maxLiteralCentroids: Int = MaxLiteralCentroids): DataFrame = {
    val base = Par.spread(emb.select(sf.col(idCol).cast("long").as("id"),
      sf.col(vecCol).cast("array<double>").as("v"))).persist()
    val probed = if (nCentroids <= maxLiteralCentroids) {
      val dim = emb.select(sf.size(sf.col(vecCol))).head().getInt(0)
      val codebook: Array[Double] = base
        .orderBy(sampleHash(sf.col("id")), sf.col("id"))
        .limit(nCentroids)
        .select("v").collect()
        .flatMap(_.getSeq[Double](0))
      val codebookCol = sf.lit(codebook)
      base.select(sf.col("id"),
        gf.nearestCentroids(sf.col("v"), codebookCol, sf.lit(dim), sf.lit(nProbe)).as("cells"))
    } else {
      // codebook past the literal ceiling: sampled, (optionally)
      // refined, and assigned as a DataFrame — never driver-collected
      assignCellsDF(emb.sparkSession, base, "id", "v",
        sampleCodebookDF(base, "id", "v", nCentroids), nProbe)
    }
    val buckets = probed.select(sf.col("id"), sf.col("cells"),
      sf.explode(sf.col("cells")).as("cell"))
    val l = buckets.select(sf.col("cell"), sf.col("id").as("a_id"), sf.col("cells").as("cells_a"))
    val r = buckets.select(sf.col("cell").as("cell_b"), sf.col("id").as("b_id"), sf.col("cells").as("cells_b"))
    val candidates = l.join(r.hint("shuffle_hash"),
        sf.col("cell") === sf.col("cell_b") && sf.col("a_id") < sf.col("b_id"))
      // single emission: only the smallest shared cell emits the pair
      .filter(sf.array_min(sf.array_intersect(sf.col("cells_a"), sf.col("cells_b"))) ===
        sf.col("cell"))
      .select("a_id", "b_id")
    val va = base.select(sf.col("id").as("a_id"), sf.col("v").as("va"))
    val vb = base.select(sf.col("id").as("b_id"), sf.col("v").as("vb"))
    candidates.join(va, "a_id").join(vb, "b_id")
      .withColumn("cosine", gf.roundAt(gf.cosineSim(sf.col("va"), sf.col("vb")), 4))
      .filter(sf.col("cosine") >= threshold)
      .select("a_id", "b_id", "cosine")
  }

  /** LSH-bucketed approximate top-k: sign-random-projection bucketing
    * (deterministic hash-derived hyperplanes), candidates restricted to
    * the query's bucket. Trades recall for a corpus-partition-local
    * candidate set ~n/2^bits the size. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryPred: org.apache.spark.sql.Column, k: Int,
              bits: Int = 8, seed: Int = 42): DataFrame = {
    val dim = emb.select(sf.size(sf.col(vecCol))).head().getInt(0)
    val planes = lshPlanes(dim, bits, seed)
    def bucket(v: org.apache.spark.sql.Column) = lshBucket(v, planes)
    val base = Par.spread(emb.select(sf.col(idCol).cast("long").as("n_id"),
      sf.col(vecCol).cast("array<double>").as("nv")))
      .withColumn("bucket", bucket(sf.col("nv")))
    val queries = sf.broadcast(base.filter(queryPred)
      .select(sf.col("n_id").as("q_id"), sf.col("nv").as("qv"), sf.col("bucket").as("qb")))
    val scored = queries.join(base,
        sf.col("bucket") === sf.col("qb") && sf.col("q_id") =!= sf.col("n_id"))
      .select(sf.col("q_id"), sf.col("n_id"),
        gf.cosineSim(sf.col("qv"), sf.col("nv")).as("cosine"))
    val w = Window.partitionBy("q_id").orderBy(sf.col("cosine").desc, sf.col("n_id").asc)
    scored.withColumn("rank", sf.row_number().over(w))
      .filter(sf.col("rank") <= k)
      .select(sf.col("q_id"), sf.col("rank"), sf.col("n_id"),
        gf.roundAt(sf.col("cosine"), 4).as("cosine"))
      .orderBy("q_id", "rank")
  }
  /** Dominant-component extraction: the top singular direction of the
    * (uncentered) embedding matrix by power iteration, plus every
    * vector's projection onto it. The "all-but-the-top" embedding
    * post-processing step: frequent-token corpora share one dominant
    * direction that swamps cosine similarity; measuring (and removing)
    * it is what makes semantic dedup/ANN discriminative.
    *
    * EXACT integer arithmetic end-to-end, the refineCodebook contract
    * taken further: vectors snap to 1e4 fixed-point once; each
    * iteration computes t_i = <x_i, v> (integer dot), accumulates
    * u_d = sum_i x_i[d] * t_i as DECIMAL(38,0) (overflow-free at any
    * corpus size), and renormalizes v' = trunc(u * 1e6 / max|u|) in
    * driver-side BigInt — so the direction, every projection, and the
    * flag set replay bit-identically in any engine (the oracle unrolls
    * the same recurrence with sign-adjusted floor division).
    *
    * Scale shape: each iteration is one corpus pass — a map-side
    * combinable groupBy(dim) whose shuffle is `dim` rows per map task —
    * and only the dim-length sum table is ever collected (the
    * refineCodebook bound: driver state is O(dim), never O(n)). The
    * final scoring pass is map-only against the literal direction.
    */
  def dominantComponent(emb: DataFrame, idCol: String, vecCol: String,
                        iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 8, s"iters must be in [1, 8], got $iters")
    val base = emb.select(sf.col(idCol).cast("long").as("id"),
      sf.transform(sf.col(vecCol).cast("array<double>"),
        e => sf.floor(e * 1e4 + 0.5).cast("long")).as("x4"))
      .persist()
    val dim = base.select(sf.size(sf.col("x4"))).first().getInt(0)
    def dot(v: Array[Long]) = sf.aggregate(
      sf.zip_with(sf.col("x4"), sf.lit(v), (a, b) => a * b),
      sf.lit(0L), (acc, y) => acc + y)
    var v = Array.fill(dim)(1000000L)
    for (_ <- 1 to iters) {
      val u = base.select(dot(v).as("t"), sf.posexplode(sf.col("x4")).as(Seq("d", "xv")))
        .groupBy("d")
        .agg(sf.sum(sf.col("xv").cast("decimal(38,0)") * sf.col("t").cast("decimal(38,0)"))
          .as("u"))
        .collect().map(r => r.getInt(0) -> BigInt(r.getDecimal(1).toBigInteger)).toMap
      val maxAbs = (0 until dim).map(d => u.getOrElse(d, BigInt(0)).abs).max
      require(maxAbs > 0, "dominantComponent: degenerate (all-zero) corpus")
      // BigInt / truncates toward zero — the oracle's sign-adjusted //
      v = Array.tabulate(dim)(d => ((u.getOrElse(d, BigInt(0)) * 1000000) / maxAbs).toLong)
    }
    // |v|^2 as an exact long (v_d <= 1e6 so the sum is < 2^53): the
    // sqrt argument is bit-identical to the oracle's integer sum
    val vNorm = math.sqrt(v.map(x => x * x).sum.toDouble)
    val xNorm = sf.sqrt(sf.aggregate(
      sf.transform(sf.col("x4"), a => a * a), sf.lit(0L), (acc, y) => acc + y)
      .cast("double"))
    base.select(sf.col("id").as(idCol),
      dot(v).as("proj_fx"),
      gf.roundAt(dot(v).cast("double") / (xNorm * sf.lit(vNorm)), 4).as("cos_dom"))
      .orderBy(idCol)
  }

  /** Symmetric per-vector int8 quantization audit: quantize each
    * embedding with its own scale (max|x| / 127, the standard
    * symmetric scheme), reconstruct, and profile the squared
    * reconstruction error per label — the "can we afford int8?"
    * measurement run before shrinking an embedding store 4x.
    *
    * Codes are round-half-up (`floor(x/scale + 0.5)`, exact in both
    * engines); x/scale ∈ [-127, 127] by construction so no clamp is
    * needed. The per-vector squared error folds left over the array
    * (deterministic element order) and snaps once to a 1e10 grid; the
    * per-label average is then an exact integer sum with one final
    * division. All-zero vectors (scale 0) count as error 0.
    *
    * Scale shape: map-only per vector, then one label-keyed agg with
    * map-side partials — no shuffle carries an embedding. */
  def quantizationError(emb: DataFrame, vecCol: String = "embedding",
                        labelCol: String = "label"): DataFrame = {
    val e = sf.col("__v")
    val maxAbs = sf.array_max(sf.transform(e, x => sf.abs(x)))
    val scale = maxAbs / 127.0
    def sqErr(s: Column) = sf.aggregate(e, sf.lit(0.0), (acc, x) => {
      val d = x - sf.floor(x / s + 0.5) * s
      acc + d * d
    })
    val errFx = sf.when(maxAbs === 0.0, sf.lit(0L))
      .otherwise(sf.floor(sqErr(scale) * 1e10 + 0.5).cast("long"))
    // spread BEFORE the per-vector fold so the CPU-bound error math
    // runs at full parallelism even off a one-split local file
    Par.spread(emb.select(sf.col(labelCol).as("label"),
        sf.col(vecCol).cast("array<double>").as("__v")))
      .select(sf.col("label"), errFx.as("__e"))
      .groupBy("label")
      .agg(sf.count(sf.lit(1)).as("n_vecs"),
        sf.sum(sf.col("__e").cast("decimal(38,0)")).as("__s"),
        sf.max(sf.col("__e")).as("__mx"))
      .select(sf.col("label"), sf.col("n_vecs"),
        gf.roundAt(sf.col("__s").cast("double") / 1e10 /
          sf.col("n_vecs").cast("double"), 8).as("avg_sq_err"),
        gf.roundAt(sf.col("__mx").cast("double") / 1e10, 8).as("max_sq_err"))
      .orderBy("label")
  }

  /** Centroid-approximation silhouette per label — the clustering /
    * labeling quality score: for each point, a = distance to its OWN
    * label centroid, b = distance to the NEAREST other centroid,
    * s = (b − a)/max(a, b) ∈ [−1, 1]. Mean s per label says how
    * separated that label is in embedding space; neg_frac (share of
    * points closer to a foreign centroid) is the relabeling-audit
    * number. Classic silhouette is O(n²); the centroid approximation
    * is the standard corpus-scale substitute.
    *
    * Determinism: centroids enter at [[labelCentroids]]' published
    * 1e-4 snap; each per-dimension squared difference snaps to 1e-12
    * fixed point so the dim-sum is an exact integer (order-free —
    * engines can't drift); the two sqrt's and the ratio are one
    * pinned double assembly per point, snapped 1e-9 into exact
    * per-label sums.
    *
    * Scale shape: the centroid matrix is |labels|×dim — BOUNDED — and
    * re-enters the scoring pass as plan literals, so scoring is ONE
    * map-only pass (distance to ≤ 32 literal centroids fused into a
    * when-chain + least()); the only shuffle is the |labels|-domain
    * final aggregation. */
  def centroidSilhouette(emb: DataFrame, labelCol: String = "label",
                         vecCol: String = "embedding"): DataFrame = {
    val centRows = labelCentroids(emb, labelCol, vecCol)
      .select(sf.col("label").cast("long"), sf.col("dim"), sf.col("centroid"))
      .collect()
    val byLabel: Seq[(Long, Array[Double])] = centRows
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map { case (l, rs) =>
        (l, rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray)
      }
    require(byLabel.size >= 2 && byLabel.size <= 32,
      s"centroidSilhouette needs 2..32 labels, got ${byLabel.size}")
    val base = Par.spread(emb.select(sf.col(labelCol).cast("long").as("lab"),
        sf.col(vecCol).cast("array<double>").as("v")))
      .filter(sf.col("lab").isNotNull && sf.col("v").isNotNull)
    // exact integer squared distance (1e-12 grid) to each centroid
    val dInt: Seq[Column] = byLabel.map { case (_, c) =>
      sf.aggregate(
        sf.zip_with(sf.col("v"), sf.array(c.map(sf.lit): _*),
          (x, y) => sf.floor((x - y) * (x - y) * 1e12 + 0.5).cast("long")),
        sf.lit(0L), (acc, t) => acc + t)
    }
    val a = byLabel.zip(dInt).foldLeft(sf.lit(null).cast("long")) {
      case (acc, ((l, _), d)) => sf.when(sf.col("lab") === l, d).otherwise(acc)
    }
    val b = byLabel.zipWithIndex.foldLeft(sf.lit(null).cast("long")) {
      case (acc, ((l, _), i)) =>
        val others = dInt.indices.filter(_ != i).map(dInt)
        sf.when(sf.col("lab") === l,
          others.reduce(sf.least(_, _))).otherwise(acc)
    }
    val aD = sf.sqrt(sf.col("__a").cast("double") / 1e12)
    val bD = sf.sqrt(sf.col("__b").cast("double") / 1e12)
    val sil = sf.when(sf.greatest(aD, bD) > 0, (bD - aD) / sf.greatest(aD, bD))
      .otherwise(0.0)
    base.select(sf.col("lab"), a.as("__a"), b.as("__b"))
      .select(sf.col("lab"),
        sf.floor(sil * 1e9 + 0.5).cast("long").as("__s9"),
        sf.when(sil < 0, 1L).otherwise(0L).as("__neg"))
      .groupBy("lab")
      .agg(sf.count(sf.lit(1)).as("n_points"),
        sf.sum(sf.col("__s9").cast("decimal(38,0)")).as("__ss"),
        sf.sum("__neg").as("__nn"))
      .select(sf.col("lab").as("label"), sf.col("n_points"),
        gf.roundAt(sf.col("__ss").cast("double") / 1e9 /
          sf.col("n_points").cast("double"), 4).as("mean_sil"),
        gf.roundAt(sf.col("__nn").cast("double") /
          sf.col("n_points").cast("double"), 4).as("neg_frac"))
      .orderBy("label")
  }

  /** Greedy k-center (farthest-point) coreset selection (Gonzalez
    * 1985, the 2-approximation to the k-center objective): seed with
    * the smallest id, then k−1 times pick the point FARTHEST from the
    * already-selected set — the classic diversity-maximizing subset
    * for data selection / annotation budgeting (each new point is the
    * corpus's worst-covered example; the emitted radius sequence is
    * the coverage guarantee curve, non-increasing by construction).
    *
    * Determinism: distances are squared L2 in left-fold order over
    * float→double-exact elements (engine-portable, the q26 dot
    * convention); argmax ties break to the smaller id; selected
    * vectors re-enter the plan as binary-exact double literals.
    *
    * Scale shape: each round is ONE map-only pass — distance to ≤ k
    * literal centers (broadcast-free: they're plan constants) fused
    * into least(), then a combinable TakeOrdered(1) — so the corpus
    * never shuffles and the driver holds k vectors, never the corpus.
    * k sequential Spark jobs by contract (require k ≤ 64): this is
    * the Lloyd-rounds pattern, fine for coreset-scale k; huge-k
    * selection belongs to IVF sampling, not greedy k-center. */
  def kCenterSelect(df: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1 && k <= 64,
      s"k must be in [1, 64] (k sequential driver rounds), got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val base = Par.spread(df.select(sf.col(idCol).cast("long").as("id"),
        sf.transform(sf.col(vecCol), x => x.cast("double")).as("v")))
      .filter(sf.col("v").isNotNull && sf.size(sf.col("v")) > 0)
      .localCheckpoint(true) // read once per selection round
    val first = base.orderBy("id").limit(1).collect()(0)
    var centers = Vector[(Long, Seq[Double], Option[Double])](
      (first.getLong(0), first.getSeq[Double](1), None))
    while (centers.size < k) {
      val dists = centers.map { case (_, c, _) =>
        sf.aggregate(
          sf.zip_with(sf.col("v"), sf.array(c.map(sf.lit): _*),
            (x, y) => (x - y) * (x - y)),
          sf.lit(0.0), (a, x) => a + x)
      }
      val minD = dists.reduce(sf.least(_, _))
      val picked = base.select(sf.col("id"), sf.col("v"), minD.as("d"))
        .orderBy(sf.col("d").desc, sf.col("id")).limit(1).collect()(0)
      centers = centers :+ ((picked.getLong(0), picked.getSeq[Double](1),
        Some(picked.getDouble(2))))
    }
    centers.zipWithIndex.map { case ((id, _, d), r) =>
      (r, id, d.map(x => math.floor(x * 1e6 + 0.5) / 1e6))
    }.toDF("round", "vec_id", "radius_sq")
      .select(sf.col("round"), sf.col("vec_id"),
        sf.col("radius_sq").cast("double").as("radius_sq"))
      .orderBy("round")
  }

  /** Top principal component of an embedding corpus by power iteration
    * on the EXACT integer covariance matrix — the embedding-collapse
    * diagnostic (a dominant direction explaining most variance means
    * the embedder has degenerated) and the first step of PCA whitening.
    *
    * Protocol (fixed-point, engine-replayable end to end):
    * components snap to 1e6 ints; the scaled covariance
    * M_ij = n·S_ij − S_i·S_j is an EXACT integer (n·Σxy − Σx·Σy — the
    * q87 moment identity, so M shares the eigenvectors of the sample
    * covariance); M quantizes to ≤ ~1e6 magnitudes by one exact
    * integer division (scaleDiv = max|M| div 1e6, truncating — both
    * engines truncate); `iters` rounds of v ← M·v with infinity-norm
    * normalization snapped to a 1e9 integer grid after each round
    * (matvecs are exact long arithmetic — products ≤ 1e15, sums
    * ≤ 6.4e16); the Rayleigh quotient and explained-variance share are
    * LEFT FOLDS over the dim axis in index order (the list_reduce
    * convention), so even the final doubles replay bit-for-bit.
    *
    * Scale shape: ONE map-only kernel pass emits each row's moment
    * terms ([[graft.functions.gramUpperE6]]); the only shuffle is a
    * map-side-combined groupBy onto the d + d(d+1)/2 moment domain.
    * The iteration runs on the collected d×d matrix — bounded by the
    * MODEL's dimension (the codebook-literal convention), never by
    * corpus size. Non-finite rows are excluded, counted, reported.
    *
    * Output: one row per dimension with the 1e-6-rounded loading,
    * plus the explained-variance share, covariance-units eigenvalue,
    * and row counts repeated on every row (datacard style).
    *
    * Convergence contract: fixed `iters` rounds (the q119 PageRank
    * convention — bounded work, exact replay), geometric in λ2/λ1.
    * On a COLLAPSED embedding table (the diagnostic's target: one
    * direction dominating) a handful of rounds recover the direction
    * to 1e-6; on a healthy near-isotropic table the iterate mixes the
    * top subspace — where every member has share ≈ λ1/trace, which is
    * exactly the low number the diagnostic exists to report. An
    * all-ones start exactly orthogonal to the top eigenvector stalls
    * only until the 1e9 snap breaks the symmetry. */
  private final case class PcaState(v: Array[Long], m: Array[Array[Long]],
    scaleDiv: BigInt, n: Long, nAll: Long)

  /** Shared corpus pass + fixed-round power iteration for the PCA
    * family ([[pcaTopComponent]], [[removeTopComponent]]): exact
    * integer covariance, truncating quantization, 1e9-snapped
    * infinity-norm rounds — see pcaTopComponent's protocol doc.
    * None = no valid rows. */
  private def pcaIterate(emb: DataFrame, vecCol: String, dims: Int,
                         iters: Int): Option[PcaState] = {
    require(dims >= 1 && dims <= 512, s"dims must be in [1, 512], got $dims")
    require(iters >= 1 && iters <= 16, s"iters must be in [1, 16], got $iters")
    val terms = Par.spread(emb
      .filter(sf.col(vecCol).isNotNull && sf.size(sf.col(vecCol)) === dims))
      .select(gf.gramUpperE6(sf.col(vecCol)).as("__g"))
      .localCheckpoint(true) // moment agg + row counts share the pass
    val nAll = terms.count()
    val sums = terms.filter(sf.size(sf.col("__g")) > 0)
      .select(sf.posexplode(sf.col("__g")).as(Seq("__p", "__x")))
      .groupBy("__p")
      .agg(sf.sum(sf.col("__x").cast("decimal(38,0)")).as("__s"),
        sf.count(sf.lit(1)).as("__n"))
      .collect()
    if (sums.isEmpty) return None
    val n = sums.head.getLong(2) // rows contributing (same for every pos)
    val s = new Array[BigInt](dims + dims * (dims + 1) / 2)
    sums.foreach(r => s(r.getInt(0)) = BigInt(r.getDecimal(1).toBigInteger))
    def sij(i: Int, j: Int): BigInt = { // upper-triangle index, 0-based
      val (a, b) = if (i <= j) (i, j) else (j, i)
      s(dims + a * dims - a * (a - 1) / 2 + (b - a))
    }
    val nB = BigInt(n)
    val m0 = Array.tabulate(dims, dims)((i, j) => nB * sij(i, j) - s(i) * s(j))
    val maxAbs = m0.flatten.map(_.abs).max
    val scaleDiv = (maxAbs / 1000000L).max(BigInt(1))
    // BigInt / truncates toward zero, matching DuckDB's HUGEINT //
    val m = m0.map(_.map(v => (v / scaleDiv).toLong))
    var v = Array.fill(dims)(1000000000L)
    for (_ <- 1 to iters) {
      val u = Array.tabulate(dims)(j =>
        (0 until dims).foldLeft(0L)((acc, i) => acc + m(i)(j) * v(i)))
      val mx = u.map(x => math.abs(x.toDouble)).max
      v = if (mx == 0) Array.fill(dims)(0L)
      else u.map(x => math.floor(x.toDouble / mx * 1e9 + 0.5).toLong)
    }
    Some(PcaState(v, m, scaleDiv, n, nAll))
  }

  def pcaTopComponent(emb: DataFrame, vecCol: String, dims: Int,
                      iters: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val st = pcaIterate(emb, vecCol, dims, iters) match {
      case None => return Seq.empty[(Long, Double, Double, Double, Long, Long)]
        .toDF("dim", "loading", "explained_share", "eigenvalue", "n_rows", "n_excluded")
      case Some(x) => x
    }
    val v = st.v
    val m = st.m
    val n = st.n
    val nAll = st.nAll
    val scaleDiv = st.scaleDiv
    val uFin = Array.tabulate(dims)(j =>
      (0 until dims).foldLeft(0L)((acc, i) => acc + m(i)(j) * v(i)))
    // left folds in index order — the list_reduce oracle convention
    val num = (0 until dims).foldLeft(0.0)((a, j) => a + v(j).toDouble * uFin(j).toDouble)
    val den = (0 until dims).foldLeft(0.0)((a, j) => a + v(j).toDouble * v(j).toDouble)
    val trace = (0 until dims).foldLeft(0.0)((a, i) => a + m(i)(i).toDouble)
    def snap6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val lam = if (den > 0) num / den else 0.0
    val share = if (trace > 0 && den > 0) snap6(lam / trace) else 0.0
    val eig = if (den > 0)
      snap6(lam * scaleDiv.toDouble / (n.toDouble * n.toDouble) / 1e12)
    else 0.0
    (0 until dims).map { j =>
      (j + 1L, math.floor(v(j).toDouble / 1e9 * 1e6 + 0.5) / 1e6, share, eig,
        n, nAll - n)
    }.toDF("dim", "loading", "explained_share", "eigenvalue", "n_rows", "n_excluded")
      .orderBy("dim")
  }

  /** Label-margin audit over a bounded anchor set — per anchor, the
    * best SAME-label and best OTHER-label cosine in the corpus, their
    * margin, and the VIOLATED flag (the nearest neighbor wears the
    * wrong label): the pointwise readout behind row 200's aggregate
    * kNN accuracy — a violation list is actionable (inspect THESE
    * anchors: mislabeled, boundary, or duplicate-across-labels) where
    * an accuracy number is not. The triplet-loss quality check run as
    * a query.
    *
    * Determinism: per-pair cosines snap to 1e-6 (the row 31
    * convention) BEFORE the per-side max, so margins are exact
    * differences of snapped values and the flag compares the printed
    * numbers. Anchors with no same-label or no other-label candidate
    * report NULL on that side and no verdict.
    *
    * Scale shape: the row-32 broadcast-anchor shape — anchors are a
    * bounded set (the knob), the corpus never shuffles vectors; one
    * combinable per-anchor max rollup. */
  def labelMargin(emb: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, anchorPred: Column): DataFrame = {
    val base = emb.filter(sf.col(vecCol).isNotNull)
      .select(sf.col(idCol).as("__id"), sf.col(vecCol).as("__v"),
        sf.col(labelCol).cast("string").as("__l"))
    val anchors = base.filter(anchorPred)
      .select(sf.col("__id").as("a_id"), sf.col("__v").as("__av"),
        sf.col("__l").as("__al"))
    val pairs = base.join(sf.broadcast(anchors), sf.col("__id") =!= sf.col("a_id"))
      .select(sf.col("a_id"), sf.col("__al"),
        (sf.col("__l") === sf.col("__al")).as("__same"),
        gf.roundAt(gf.cosineSim(sf.col("__av"), sf.col("__v")), 6).as("__cos"))
    pairs.groupBy("a_id")
      .agg(sf.max("__al").as("label"),
        sf.max(sf.when(sf.col("__same"), sf.col("__cos"))).as("best_same"),
        sf.max(sf.when(!sf.col("__same"), sf.col("__cos"))).as("best_other"))
      .select(sf.col("a_id").as(idCol), sf.col("label"),
        sf.col("best_same"), sf.col("best_other"),
        gf.roundAt(sf.col("best_same") - sf.col("best_other"), 6).as("margin"),
        (sf.col("best_other") > sf.col("best_same")).as("violated"))
      .orderBy(idCol)
  }

  /** Linear CKA between the FULL embedding and its truncation to each
    * prefix length (Kornblith et al. 2019, "Similarity of Neural
    * Network Representations Revisited") — the representation-
    * similarity number behind row 232's rank-overlap audit: CKA =
    * ‖Xᶜᵀ Yᶜ‖²_F / (‖XᶜᵀXᶜ‖_F · ‖YᶜᵀYᶜ‖_F) reads "how much of the
    * full space's structure survives in the first p dimensions" on a
    * 0–1 scale that is invariant to isotropic scaling and rotation —
    * THE Matryoshka-truncation readout (high CKA at p=16 → serve the
    * cheap prefix; row 232 checks top-k lists, CKA checks the whole
    * geometry).
    *
    * Because the truncation is a coordinate subset, every Gram block
    * is a sub-block of the ONE exact n²-scaled covariance matrix the
    * PCA pass (row 259) already computes: A_p = Σ M²_ij over (i ≤ d,
    * j ≤ p), B = over d×d, C_p = over p×p, CKA_p = A_p/(√B·√C_p).
    * Determinism: M rides the row-259 exact DECIMAL chain and the
    * same documented max/1e6 quantization (floor division, mirrored
    * in the oracle); the block sums are exact integer Σm² (≤ 4·10¹⁵
    * at d = 64 — inside int64); CKA is ONE pinned double assembly
    * rounded 1e-6 (√ IEEE-exact).
    *
    * Scale shape: ONE distributed moment pass (the row 259 kernel
    * scan); everything after is d²-bounded driver arithmetic — the
    * codebook convention. */
  def linearCka(emb: DataFrame, vecCol: String, dims: Int,
                prefixes: Seq[Int] = Seq(16, 32)): DataFrame = {
    require(prefixes.nonEmpty && prefixes.forall(p => p >= 1 && p < dims),
      s"prefixes must be in [1, dims), got $prefixes")
    val spark = emb.sparkSession
    import spark.implicits._
    val st = pcaIterate(emb, vecCol, dims, iters = 1) match {
      case None => return Seq.empty[(Long, Long, Long, Double)]
        .toDF("prefix_dims", "n_rows", "n_excluded", "cka")
      case Some(x) => x
    }
    val m = st.m
    def blockSum(rows: Int, cols: Int): Double = {
      var acc = 0L
      var i = 0
      while (i < rows) {
        var j = 0
        while (j < cols) { acc += m(i)(j) * m(i)(j); j += 1 }
        i += 1
      }
      acc.toDouble
    }
    val b = blockSum(dims, dims)
    def snap6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    prefixes.sorted.map { p =>
      val a = blockSum(dims, p)
      val c = blockSum(p, p)
      val cka = if (b > 0 && c > 0) snap6(a / (math.sqrt(b) * math.sqrt(c)))
                else 0.0
      (p.toLong, st.n, st.nAll - st.n, cka)
    }.toDF("prefix_dims", "n_rows", "n_excluded", "cka")
      .orderBy("prefix_dims")
  }

  /** Remove the top principal component from every embedding (the
    * all-but-the-top post-processing of Arora et al. 2017 / Mu &
    * Viswanath 2018: the dominant direction of an embedding table is
    * mostly frequency/anisotropy signal, and projecting it out
    * measurably improves similarity quality) — the ACTION on
    * [[pcaTopComponent]]'s diagnosis. Reports per-vector squared norms
    * before/after and the removed energy fraction; a collapsed table
    * shows high `removed_frac` everywhere, a healthy one shows ~1/d.
    *
    * Determinism: the component comes from the same fixed-round
    * iteration (identical 1e9-grid loadings); the projection is one
    * kernel pass per row with index-order folds (the list_reduce
    * convention), outputs snapped 1e-6. Non-finite rows are excluded
    * (the gramUpperE6 contract).
    *
    * Scale shape: the component is a dims-bounded plan literal (the
    * codebook convention); the transform is map-only — one kernel call
    * per row, zero shuffles beyond the output order. */
  def removeTopComponent(emb: DataFrame, idCol: String, vecCol: String,
                         dims: Int, iters: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val st = pcaIterate(emb, vecCol, dims, iters) match {
      case None => return Seq.empty[(Long, Double, Double, Double)]
        .toDF("vec_id", "n2_before", "n2_after", "removed_frac")
      case Some(x) => x
    }
    val l = sf.array(st.v.map(x => sf.lit(x.toDouble / 1e9)): _*)
    val b = sf.element_at(sf.col("__st"), 1)
    val a = sf.element_at(sf.col("__st"), 2)
    Par.spread(emb.filter(sf.col(vecCol).isNotNull &&
        sf.size(sf.col(vecCol)) === dims))
      .select(sf.col(idCol).cast("long").as("vec_id"),
        gf.removeComponentStats(sf.col(vecCol), l).as("__st"))
      .filter(sf.size(sf.col("__st")) > 0)
      .select(sf.col("vec_id"),
        gf.roundAt(b, 6).as("n2_before"),
        gf.roundAt(a, 6).as("n2_after"),
        sf.when(b > 0, gf.roundAt(sf.lit(1.0) - a / b, 6)).as("removed_frac"))
      .orderBy("vec_id")
  }

  /** Davies-Bouldin index of the IVF clustering (Davies & Bouldin
    * 1979) — the second opinion next to q181's silhouette, and the
    * cheap one: silhouette needs pairwise member distances, DB only
    * per-cluster scatter s_i (mean member→centroid L2) and centroid
    * separations d_ij: DB = (1/k)Σ_i max_{j≠i}(s_i+s_j)/d_ij. Lower is
    * better; a high r_i names exactly WHICH cluster pair overlaps —
    * the readout that says whether the q32/q54/q65 cell structure is
    * real before trusting cell-local similarity decisions.
    *
    * Clusters are the q32 convention verbatim: sampleHash codebook,
    * nearest-centroid-by-cosine assignment, ties to the lower index;
    * scatter uses L2 via the pinned |x|²−2x·c+|c|² expansion
    * (index-order kernel dots), per-vector distances snapped 1e-6
    * BEFORE the exact per-cluster sums, ratios from those snapped
    * components, r_i snapped before the final mean. sqrt is
    * IEEE-exact-rounded — portable.
    *
    * Scale shape: assignment is the broadcast-codebook TopKAgg pass
    * (corpus never shuffles vectors beyond k-bounded rows); scatter is
    * one map-side-combined groupBy(cluster); the pairwise stage lives
    * entirely on the nCentroids² domain. Empty clusters drop out. */
  def daviesBouldin(emb: DataFrame, idCol: String, vecCol: String, dims: Int,
                    nCentroids: Int = 16): DataFrame = {
    require(nCentroids >= 2 && nCentroids <= MaxLiteralCentroids,
      s"nCentroids must be in [2, $MaxLiteralCentroids], got $nCentroids")
    val spark = emb.sparkSession
    val base = emb.filter(sf.col(vecCol).isNotNull &&
      sf.size(sf.col(vecCol)) === dims)
    val cb = sampleCodebookDF(base, idCol, vecCol, nCentroids).localCheckpoint(true)
    val assign = assignCellsDF(spark, base, idCol, vecCol, cb, 1)
      .select(sf.col(idCol), sf.col("cells").getItem(0).as("cluster"))
    def l2(x: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
      sf.sqrt(gf.dot(x, x) - sf.lit(2.0) * gf.dot(x, c) + gf.dot(c, c))
    def fx6(c: org.apache.spark.sql.Column) =
      sf.floor(c * 1e6 + 0.5).cast("long")
    val pc = base.join(assign, idCol).join(sf.broadcast(cb), "cluster")
      .select(sf.col("cluster"),
        fx6(l2(sf.col(vecCol), sf.col("cv"))).as("sfx"))
      .groupBy("cluster")
      .agg(sf.count(sf.lit(1)).as("n"), sf.sum("sfx").cast("long").as("ssum"))
      .localCheckpoint(true)
    def sMean(n: String, s: String) =
      sf.col(s).cast("double") / 1e6 / sf.col(n).cast("double")
    val pd = cb.select(sf.col("cluster").as("i"), sf.col("cv").as("cvi"))
      .join(cb.select(sf.col("cluster").as("j"), sf.col("cv").as("cvj")),
        sf.col("i") =!= sf.col("j"))
      .select(sf.col("i"), sf.col("j"),
        fx6(l2(sf.col("cvi"), sf.col("cvj"))).as("dfx"))
    val rt = pd
      .join(pc.select(sf.col("cluster").as("i"), sf.col("n").as("ni"),
        sf.col("ssum").as("si")), "i")
      .join(pc.select(sf.col("cluster").as("j"), sf.col("n").as("nj"),
        sf.col("ssum").as("sj")), "j")
      .filter(sf.col("dfx") > 0)
      .groupBy(sf.col("i").as("cluster"))
      .agg(sf.max((sMean("ni", "si") + sMean("nj", "sj")) /
        (sf.col("dfx").cast("double") / 1e6)).as("r"))
      .select(sf.col("cluster"), fx6(sf.col("r")).as("rfx"))
    val dbv = rt.agg(sf.sum("rfx").cast("long").as("sr"),
      sf.count(sf.lit(1)).as("k"))
    pc.join(rt, "cluster").crossJoin(sf.broadcast(dbv))
      .select(sf.col("cluster"), sf.col("n").as("n_members"),
        gf.roundAt(sMean("n", "ssum"), 6).as("s_mean"),
        gf.roundAt(sf.col("rfx").cast("double") / 1e6, 6).as("r"),
        gf.roundAt(sf.col("sr").cast("double") / sf.col("k").cast("double") / 1e6, 6)
          .as("db_index"))
      .orderBy("cluster")
  }

  /** Hopkins clusterability statistic (Hopkins & Skellam 1954; the
    * "is there any cluster structure AT ALL?" pre-test Banerjee & Davé
    * 2004 recommend before trusting k-means/IVF/SemDeDup outputs —
    * every clustering algorithm happily partitions pure noise): H =
    * Σu/(Σu+Σw), where u are nearest-neighbor distances of m SYNTHETIC
    * points drawn uniformly in the data's per-dim bounding box and w
    * are NN distances of m sampled REAL points to the rest. H ≈ 0.5 ⇒
    * the data looks uniform (cells are arbitrary); H → 1 ⇒ real
    * cluster structure.
    *
    * Determinism: the real sample is the q32 sampleHash convention;
    * synthetic probes are a PURE FUNCTION of the per-dim min/max and
    * the portable Knuth hash on (probe, dim) — no RNG; Spark computes
    * them driver-side from the collected 2·d bounds (codebook-sized)
    * and the oracle recomputes the SAME doubles in SQL (pinned
    * mn + u·(mx−mn)); distances are index-order kernel sums, NN
    * minima are selections (exact), per-point sqrt snaps 1e-6 before
    * the exact sums, final ratio pinned.
    *
    * Scale shape: bounds are one posexplode agg (d rows); the corpus
    * pass is ONE kernel call per row against the 2m plan-literal
    * reference vectors (never an m-way join), minima map-side combine
    * to m rows each. Corpus never shuffles vectors. */
  def hopkinsStatistic(emb: DataFrame, idCol: String, vecCol: String,
                       dims: Int, m: Int = 50): DataFrame = {
    require(dims >= 1 && dims <= 512, s"dims must be in [1, 512], got $dims")
    require(m >= 2 && m <= MaxLiteralCentroids,
      s"m must be in [2, $MaxLiteralCentroids], got $m")
    val spark = emb.sparkSession
    import spark.implicits._
    val finite = sf.expr(
      s"NOT exists(CAST($vecCol AS ARRAY<DOUBLE>), x -> isnan(x) OR abs(x) = double('Infinity'))")
    val b = Par.spread(emb.filter(sf.col(vecCol).isNotNull &&
        sf.size(sf.col(vecCol)) === dims && finite))
      .select(sf.col(idCol).cast("long").as("id"),
        sf.col(vecCol).cast("array<double>").as("v"))
      .localCheckpoint(true)
    val mmRows = b.select(sf.posexplode(sf.col("v")).as(Seq("d", "x")))
      .groupBy("d").agg(sf.min("x").as("mn"), sf.max("x").as("mx"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    require(mmRows.size == dims, s"expected $dims dims, got ${mmRows.size}")
    val sample = b.orderBy(sampleHash(sf.col("id")), sf.col("id")).limit(m)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(sample.length == m, s"corpus smaller than m=$m")
    // synthetic probes: pure function of bounds + the portable hash
    val probes = Array.tabulate(m, dims) { (p, i) =>
      val h = (p.toLong * dims + i) % 2147483648L * 2654435761L % 4294967296L
      val u = (h + 1).toDouble / 4294967296.0
      val (mn, mx) = mmRows(i)
      mn + u * (mx - mn)
    }
    val probesFlat = sf.lit(probes.flatten)
    val sampleFlat = sf.lit(sample.flatMap(_._2))
    val sampleIds = sf.lit(sample.map(_._1))
    val dists = b.select(sf.col("id"),
      gf.dist2ToSet(sf.col("v"), probesFlat, sf.lit(m)).as("du"),
      gf.dist2ToSet(sf.col("v"), sampleFlat, sf.lit(m)).as("dw"))
    def fx6(c: org.apache.spark.sql.Column) =
      sf.floor(sf.sqrt(c) * 1e6 + 0.5).cast("long")
    val su = dists.select(sf.posexplode(sf.col("du")).as(Seq("p", "d2")))
      .groupBy("p").agg(sf.min("d2").as("d2"))
      .agg(sf.sum(fx6(sf.col("d2"))).as("su"))
    val sw = dists.select(sf.col("id"), sf.posexplode(sf.col("dw")).as(Seq("p", "d2")))
      .filter(sf.col("id") =!= sf.element_at(sampleIds, sf.col("p") + 1))
      .groupBy("p").agg(sf.min("d2").as("d2"))
      .agg(sf.sum(fx6(sf.col("d2"))).as("sw"))
    su.crossJoin(sf.broadcast(sw))
      .select(sf.lit(m.toLong).as("n_sample"),
        gf.roundAt(sf.col("su").cast("double") / 1e6, 6).as("sum_u"),
        gf.roundAt(sf.col("sw").cast("double") / 1e6, 6).as("sum_w"),
        sf.when(sf.col("su") + sf.col("sw") > 0, gf.roundAt(
          sf.col("su").cast("double") /
            (sf.col("su") + sf.col("sw")).cast("double"), 6)).as("hopkins"))
  }

  /** Johnson-Lindenstrauss random-projection distortion audit: project
    * every embedding onto `k` deterministic [[lshPlanes]] directions
    * (uniform ±, variance 1/3 per component, so 3/k·Σ_j dot(x,p_j)² is
    * the unbiased |x|² estimate) and report the realized norm-ratio
    * per vector. The JL lemma says k = O(ln n/ε²) preserves norms and
    * pairwise distances within 1±ε — this audit measures the ACTUAL ε
    * realized on this corpus at this k, the number that decides
    * whether the cheap k-dim representation is safe for the ANN /
    * dedup / clustering passes (q26/q53/q65) or k must grow.
    * Distortion far from 1 on many vectors = lossy compression in the
    * similarity pipeline's foundation.
    *
    * Determinism: the projection matrix is a seeded plan literal (k·d
    * doubles — bounded, the codebook convention), folds are
    * index-order inside ONE fused kernel pass per row
    * ([[graft.plans.Kernels.jlStats]]), outputs snapped 1e-6; the
    * identical plane literals are mirrored verbatim into the SQL
    * oracle (the q26 protocol). Non-finite rows are excluded.
    *
    * Scale shape: map-only — one kernel call per row, zero shuffles
    * beyond the output order; at 100 TB this runs at scan speed. */
  def jlDistortion(emb: DataFrame, idCol: String, vecCol: String,
                   dims: Int, k: Int, seed: Int = 42): DataFrame = {
    require(dims >= 1 && dims <= 4096, s"dims must be in [1, 4096], got $dims")
    require(k >= 1 && k <= dims, s"k must be in [1, dims], got $k")
    val planes = lshPlanes(dims, k, seed)
    val flat = sf.lit(planes.flatten)
    val scale = 3.0 / k
    val st = sf.col("__st")
    val n2x = sf.element_at(st, 1)
    val n2y = sf.element_at(st, 2)
    Par.spread(emb.filter(sf.col(vecCol).isNotNull &&
        sf.size(sf.col(vecCol)) === dims))
      .select(sf.col(idCol).cast("long").as("vec_id"),
        gf.jlStats(sf.col(vecCol), flat, sf.lit(k)).as("__st"))
      .filter(sf.size(st) > 0)
      .select(sf.col("vec_id"),
        gf.roundAt(n2x, 6).as("n2_x"),
        gf.roundAt(n2y * sf.lit(scale), 6).as("n2_proj"),
        sf.when(n2x > 0, gf.roundAt(n2y * sf.lit(scale) / n2x, 6))
          .as("distortion"))
      .orderBy("vec_id")
  }

  /** Linear-time MMD² (Gretton et al. 2012, JMLR 13 §6) between two
    * groups' embedding distributions under an RBF kernel — "did source
    * B's embedding distribution drift from source A's", the EMBEDDING
    * twin of the token-distribution distances (KL/JSD/TV): token stats
    * miss a paraphrase-level shift that embeddings expose, and MMD is
    * the standard two-sample test on them. The LINEAR estimator pairs
    * consecutive samples within each group and averages
    * h = k(x₁,x₂) + k(y₁,y₂) − k(x₁,y₂) − k(x₂,y₁) over pair rows —
    * O(n) with O(1) state, the only MMD form that survives 100 TB
    * (the quadratic U-statistic touches every pair; the linear one
    * streams). Pairing is by id order within each group — a
    * DETERMINISTIC stand-in for the estimator's "any fixed pairing is
    * valid" freedom (Gretton §6: samples are assumed exchangeable;
    * for adversarially id-ordered data, pre-shuffle by a hash id).
    *
    * Determinism: distances assemble from sequential-fold [[gf.dot]]
    * products over double-cast arrays (oracle-parity accumulation
    * order); each kernel value exp(−γ·d²) snaps to the 1e-6 integer
    * grid (absorbing libm exp ulps — the q120 sigmoid convention), so
    * h and its sum are EXACT integers; MMD² is ONE pinned division
    * rounded 1e-6 (the unbiased estimate may legitimately be < 0).
    *
    * Scale shape: per-group indices ride
    * [[StarSchema.globalDenseIds]]' range-partitioned numbering (never
    * a one-task global window); pairs assemble with one (group, j)
    * aggregation; the A×B alignment is ONE equi join on the pair index
    * j (the inner join IS the min(m_A, m_B) truncation); the finish is
    * a single combinable sum. No corpus-sized shuffle beyond the
    * index pass. */
  def mmdLinear(df: DataFrame, idCol: String, vecCol: String,
                groupCol: String, groupA: String, groupB: String,
                gamma: Double = 1.0): DataFrame = {
    require(gamma > 0, s"gamma must be > 0, got $gamma")
    require(groupA != groupB, "mmdLinear needs two distinct groups")
    def pairsOf(g: String): DataFrame = {
      val part = df
        .filter(sf.col(groupCol).cast("string") === g && sf.col(vecCol).isNotNull)
        .select(sf.col(idCol).as("__id"),
          sf.col(vecCol).cast("array<double>").as("__v"))
      StarSchema.globalDenseIds(part, Seq("__id"), keyName = "__sk")
        .select(sf.expr("(__sk + 1) div 2").as("j"),
          (sf.col("__sk") % 2).as("__slot"), sf.col("__v"))
        .groupBy("j")
        .agg(sf.first(sf.when(sf.col("__slot") === 1, sf.col("__v")), true).as("v1"),
          sf.first(sf.when(sf.col("__slot") === 0, sf.col("__v")), true).as("v2"),
          sf.count(sf.lit(1)).as("__c"))
        .filter(sf.col("__c") === 2) // a trailing odd sample drops
        .drop("__c")
    }
    // k(u, v) snapped to the 1e-6 grid; d² from three sequential-fold
    // dots (u·u − 2u·v + v·v) so any double-precision engine replays it
    def k6(u: Column, v: Column): Column =
      sf.floor(sf.exp(-sf.lit(gamma) *
        (gf.dot(u, u) - sf.lit(2.0) * gf.dot(u, v) + gf.dot(v, v))) * 1e6 + 0.5)
        .cast("long")
    val a = pairsOf(groupA).select(sf.col("j"),
      sf.col("v1").as("x1"), sf.col("v2").as("x2"))
    val b = pairsOf(groupB).select(sf.col("j"),
      sf.col("v1").as("y1"), sf.col("v2").as("y2"))
    val nA = df.filter(sf.col(groupCol).cast("string") === groupA &&
      sf.col(vecCol).isNotNull).count()
    val nB = df.filter(sf.col(groupCol).cast("string") === groupB &&
      sf.col(vecCol).isNotNull).count()
    a.join(b, "j")
      .select((k6(sf.col("x1"), sf.col("x2")) + k6(sf.col("y1"), sf.col("y2")) -
        k6(sf.col("x1"), sf.col("y2")) - k6(sf.col("x2"), sf.col("y1"))).as("__h6"))
      .agg(sf.count(sf.lit(1)).as("n_pairs"), sf.sum("__h6").as("__s6"))
      .select(sf.lit(nA).as("n_a"), sf.lit(nB).as("n_b"), sf.col("n_pairs"),
        sf.when(sf.col("n_pairs") > 0, gf.roundAt(
          sf.col("__s6").cast("double") /
            (sf.col("n_pairs").cast("double") * 1e6), 6)).as("mmd2_linear"))
  }

  /** Embedding-space anisotropy per label + a pooled `(all)` row —
    * the EXACT mean pairwise cosine over all distinct vector pairs via
    * the mean-vector identity: with unit-normalized u_i,
    * Σ_{i≠j} cos(u_i, u_j) = ‖Σu‖² − Σ‖u‖², so the average needs ONE
    * linear pass, not a pair join or a sample. Anisotropy (Ethayarajh
    * 2019) is THE embedding-table pathology [[dimProfile]] /
    * [[truncationFidelity]] can't see: mean-cos near 1 means all
    * vectors share a dominant direction, cosine similarity loses its
    * dynamic range, and every downstream threshold (dedup, decontam,
    * ANN) silently degrades — the number that tells you to run
    * [[principalComponentRemoval]] ("all-but-the-top") first. The
    * per-label rows localize which label's cone collapsed.
    *
    * Determinism: each vector normalizes in IEEE doubles (left-fold
    * Σx² — the [[lshTopK]] dot-fold convention) and the normalized
    * components SNAP to the 1e-9 grid, after which every sum
    * (per-dim component sums, per-vector norm parts) is an exact
    * DECIMAL(38,0); mean-cos is ONE pinned assembly rounded 1e-6;
    * zero-norm vectors drop (documented), labels with n < 2 yield
    * NULL. The `(all)` row re-aggregates the per-(label, dim) sums —
    * domain-only work, the corpus is read once.
    *
    * Scale shape: one map-only normalize + posexplode, ONE
    * map-side-combined (label, dim) aggregation (shuffle ≤ labels ×
    * dim per map task), a labels-domain rollup, and a dim-domain
    * re-agg for the pooled row. No joins on data rows, no pair
    * enumeration anywhere. */
  def anisotropy(emb: DataFrame, labelCol: String = "label",
                 vecCol: String = "embedding"): DataFrame = {
    val base = Par.spread(emb
        .filter(sf.col(vecCol).isNotNull && sf.col(labelCol).isNotNull)
        .select(sf.col(labelCol).cast("string").as("lbl"),
          sf.col(vecCol).cast("array<double>").as("v")))
    val nrm = sf.sqrt(sf.aggregate(
      sf.transform(sf.col("v"), x => x * x), sf.lit(0.0), (a, e) => a + e))
    val withU = base.withColumn("__nrm", nrm)
      .filter(sf.col("__nrm") > 0.0)
      .select(sf.col("lbl"),
        sf.floor(sf.col("__nrm") * 1e4 + 0.5).cast("long").as("__n4"),
        sf.transform(sf.col("v"),
          x => sf.floor(x / sf.col("__nrm") * 1e9 + 0.5).cast("long")).as("u"))
      .localCheckpoint(true) // label counts + the dim explode read it
    val perLbl = withU.groupBy("lbl")
      .agg(sf.count(sf.lit(1)).as("n_vectors"), sf.sum("__n4").as("__sn4"))
    val perDim = withU
      .select(sf.col("lbl"), sf.posexplode(sf.col("u")).as(Seq("dim", "ufx")))
      .groupBy("lbl", "dim")
      .agg(sf.sum(dec(sf.col("ufx"))).as("__sd"),
        sf.sum(dec(sf.col("ufx")) * dec(sf.col("ufx"))).as("__snd"))
      .localCheckpoint(true) // per-label rollup + (all) re-agg read it
    def finish(grouped: DataFrame, counts: DataFrame) = grouped
      .join(counts, "lbl")
      .select({
        val n = sf.col("n_vectors").cast("double")
        val meanCos = (sf.col("__ssq") - sf.col("__sn")).cast("double") / 1e18 /
          (n * (n - 1.0))
        Seq(sf.col("lbl").as("label"), sf.col("n_vectors"),
          gf.roundAt(sf.col("__sn4").cast("double") / 1e4 / n, 4).as("mean_norm"),
          sf.when(sf.col("n_vectors") >= 2,
            gf.roundAt(meanCos, 6)).as("mean_cos"))
      }: _*)
    val byLabel = finish(
      perDim.groupBy("lbl").agg(
        sf.sum(sf.col("__sd") * sf.col("__sd")).as("__ssq"),
        sf.sum("__snd").as("__sn")),
      perLbl)
    val pooled = finish(
      perDim.groupBy("dim").agg(sf.sum("__sd").as("__d"),
          sf.sum("__snd").as("__nd"))
        .agg(sf.sum(sf.col("__d") * sf.col("__d")).as("__ssq"),
          sf.sum("__nd").as("__sn"))
        .withColumn("lbl", sf.lit("(all)")),
      perLbl.agg(sf.sum("n_vectors").cast("long").as("n_vectors"),
          sf.sum("__sn4").as("__sn4"))
        .withColumn("lbl", sf.lit("(all)")))
    byLabel.union(pooled).orderBy("label")
  }
}
