package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => sf}

import graft.operators._
import graft.dq.QualityChecks
import graft.sources.Tables
import graft.{functions => gf}

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB oracle in `oracleSql` where the
  * semantics are ANSI-SQL-expressible (rows-only check otherwise).
  * Column names/aliases are matched pairwise with the SQL.
  */
object SparkEntry {

  /** Flagship query on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    StarSchema.revenueByRegion(spark, "/root/testdata/sf0.001")

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  /** Deterministic URL synthesis over the documents table (testdata has
    * no URL column — the q242/q243 oracles rebuild the identical
    * strings in SQL): mixed schemes, an upper-case www variant (host
    * case-normalization), a co.uk eTLD+1 case, an explicit port that
    * is default (:443) only off the http rows, shared /doc/N paths for
    * dedup collisions, and a malformed residue every 97th doc. */
  private def synthUrls(s: SparkSession, dir: String) =
    docs(s, dir).select(sf.col("doc_id"), sf.expr(
      """CASE WHEN doc_id % 97 = 0 THEN 'not a url' ELSE concat(
        |  CASE WHEN doc_id % 5 = 0 THEN 'http' ELSE 'https' END, '://',
        |  CASE WHEN doc_id % 7 = 0 THEN 'WWW.' ELSE '' END,
        |  source,
        |  CASE WHEN doc_id % 3 = 0 THEN '.com'
        |       WHEN doc_id % 3 = 1 THEN '.co.uk'
        |       ELSE '.org' END,
        |  CASE WHEN doc_id % 11 = 0 THEN ':443' ELSE '' END,
        |  '/doc/', CAST(doc_id % 40 AS STRING),
        |  CASE WHEN doc_id % 2 = 0
        |       THEN concat('?v=', CAST(doc_id % 4 AS STRING)) ELSE '' END)
        |END""".stripMargin).as("url"))

  /** The queries a name list selects, sorted by name — Bench's args,
    * Verify's filter and the Dev CLI all use this rule: no names
    * selects every query, otherwise each name selects the queries it
    * is a prefix of. Names that select nothing throw, all listed. */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries.toSeq.sortBy(_._1)
    val bad = names.filterNot(n => all.exists(_._1.startsWith(n)))
    require(bad.isEmpty, s"no query matches: ${bad.mkString(", ")}")
    if (names.isEmpty) all else all.filter { case (q, _) => names.exists(q.startsWith) }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_star_revenue" -> ((s, dir) => StarSchema.revenueByRegion(s, dir)),

    "q02_fact_etl" -> ((s, dir) => StarSchema.factSales(s, dir)
      // Checkpoint: the range sort below would otherwise recompute the
      // whole join once more for the partitioner's sampling pass.
      .localCheckpoint(true)
      // (orderkey, linenumber) is NOT unique in this corpus — order by
      // every output column so any residual ties are full-row dups
      // (order-insensitive by construction)
      .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "o_custkey",
        "quantity", "ship_delay", "revenue")),

    "q03_dim_date" -> ((s, dir) => DateOps.dateDimension(Seq(
      Tables.load(s, dir, "orders") -> sf.to_date(sf.col("o_orderdate")),
      Tables.load(s, dir, "lineitem") -> sf.to_date(sf.col("l_shipdate"))))
      .orderBy("d")),

    "q04_pivot" -> ((s, dir) => {
      val joined = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "customer"),
          sf.col("o_custkey") === sf.col("c_custkey"))
        .select(sf.col("c_mktsegment"),
          sf.col("o_orderstatus"),
          sf.col("o_totalprice").cast("decimal(18,2)").as("price"))
      PivotOps.pivotSum(joined, Seq("c_mktsegment"), "o_orderstatus",
          Seq("F", "O", "P"), "price", fill = None)
        .select(sf.col("c_mktsegment"),
          sf.col("o_orderstatus_f").cast("double").as("o_orderstatus_f"),
          sf.col("o_orderstatus_o").cast("double").as("o_orderstatus_o"),
          sf.col("o_orderstatus_p").cast("double").as("o_orderstatus_p"))
        .orderBy("c_mktsegment")
    }),

    "q05_surrogate" -> ((s, dir) =>
      StarSchema.withSurrogateKey(Tables.load(s, dir, "customer"),
          Seq("c_nationkey"), Seq("c_custkey"))
        .select("c_custkey", "c_nationkey", "sk")
        .orderBy("c_custkey")),

    "q06_dim_customer" -> ((s, dir) =>
      StarSchema.dimCustomer(s, dir).orderBy("c_custkey")),

    "q07_agg_stats" -> ((s, dir) => StarSchema.aggStats(s, dir)),

    "q08_inmem_dim" -> ((s, dir) => {
      val prio = sf.broadcast(Tables.fromPairs(s,
        Seq(1 -> "URGENT", 2 -> "HIGH", 3 -> "MEDIUM", 4 -> "NOT SPECIFIED", 5 -> "LOW"),
        "id", "priority_name"))
      Tables.load(s, dir, "orders")
        .withColumn("prio_id",
          sf.split(sf.col("o_orderpriority"), "-").getItem(0).cast("int"))
        .join(prio, sf.col("prio_id") === sf.col("id"))
        .groupBy("priority_name")
        .agg(sf.count(sf.lit(1)).as("n_orders"))
        .orderBy("priority_name")
    }),

    "q09_dq_rowcount" -> ((s, dir) => QualityChecks.rowCounts(s, dir)),

    "q10_dq_unique" -> ((s, dir) => QualityChecks.uniqueKey(s, dir, Seq(
      "customer" -> Seq("c_custkey"), "orders" -> Seq("o_orderkey"),
      "part" -> Seq("p_partkey"), "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id")))),

    "q11_sasdate" -> ((s, dir) => {
      val d = sf.to_date(sf.col("o_orderdate"))
      Tables.load(s, dir, "orders").select(
        sf.col("o_orderkey"),
        functions.dateToSasDays(d).as("sas_days"),
        functions.sasDaysToDate(functions.dateToSasDays(d)).as("roundtrip_date"))
        .orderBy("o_orderkey")
    }),

    "q12_filter_clean" -> ((s, dir) =>
      Cleaning.dedupRows(
        Cleaning.excludePatterns(
          Cleaning.dropNullsAny(docs(s, dir), "text", "lang"),
          "text", Seq("slow")),
        Seq("doc_id"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")),

    "q13_port_parse" -> ((s, dir) => Tables.load(s, dir, "part").select(
      sf.col("p_partkey"),
      sf.split(sf.col("p_brand"), "#").getItem(1).cast("int").as("brand_num"),
      sf.upper(sf.col("p_type")).as("type_upper"),
      sf.trim(sf.split(sf.col("p_name"), " ").getItem(0)).as("name_first"))
      .orderBy("p_partkey")),

    "q14_token_stats" -> ((s, dir) =>
      TextAnalysis.tokenStats(docs(s, dir), "doc_id", "text")),

    "q15_text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(docs(s, dir), "doc_id", "text")),

    "q16_langid" -> ((s, dir) =>
      TextAnalysis.langId(docs(s, dir), "doc_id", "text", Some("lang"))),

    "q17_fingerprint" -> ((s, dir) => docs(s, dir).select(
      sf.col("doc_id"), functions.fingerprint(sf.col("text")).as("fp_md5"))
      .orderBy("doc_id")),

    "q18_rolling_fp" -> ((s, dir) =>
      TextAnalysis.fingerprints(docs(s, dir), "doc_id", "text")),

    "q19_events_window" -> ((s, dir) =>
      EventOps.windowedAgg(Tables.load(s, dir, "events"))),

    "q20_dedup_exact" -> ((s, dir) =>
      Dedup.exact(docs(s, dir), "doc_id", Seq("text"))),

    "q21_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(
        docs(s, dir).filter(sf.col("doc_id") < 40), "doc_id", "text")),

    "q22_minhash_lsh" -> ((s, dir) =>
      Dedup.minHashLsh(docs(s, dir), "doc_id", "text", threshold = 0.9)),

    "q23_simhash" -> ((s, dir) =>
      Dedup.simHashSignatures(docs(s, dir), "doc_id", "text")),

    // Bounded exact baseline (idMax required — all-pairs by design,
    // like q21/q29/q50); q53/q54 are the unbounded bucketed scale paths.
    "q24_embed_neardup" -> ((s, dir) =>
      Similarity.cosineNearDup(emb(s, dir), "vec_id", "embedding", 0.3, idMax = 150)),

    "q25_embed_topk" -> ((s, dir) =>
      Similarity.aggTopK(s, emb(s, dir), "vec_id", "embedding",
        sf.col("vec_id") < 10, k = 5)),

    "q26_embed_lsh" -> ((s, dir) =>
      Similarity.lshTopK(emb(s, dir), "vec_id", "embedding",
        sf.col("vec_id") < 10, k = 5)),

    "q27_multimodal" -> ((s, dir) =>
      Multimodal.decodeMeta(
        Multimodal.asBinary(docs(s, dir), "doc_id", "text"), "doc_id")),

    "q28_dq_predicate" -> ((s, dir) =>
      QualityChecks.predicateViolations(docs(s, dir), "n_chars_matches_len",
        sf.col("n_chars") === sf.length(sf.col("text")))),

    "q29_char_ngram" -> ((s, dir) =>
      Dedup.charNgramJaccardPairs(
        docs(s, dir).filter(sf.col("doc_id") < 30), "doc_id", "text", n = 3)),

    "q30_dq_profile" -> ((s, dir) =>
      QualityChecks.profile(Tables.load(s, dir, "customer"),
        Seq("c_acctbal", "c_mktsegment", "c_name", "c_nationkey"))),

    "q35_dq_quantiles" -> ((s, dir) =>
      QualityChecks.quantileProfile(Tables.load(s, dir, "lineitem"),
        "l_returnflag", "l_extendedprice")),

    "q34_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(docs(s, dir), "doc_id", "text")),

    "q33_dedup_clusters" -> ((s, dir) =>
      Dedup.nearDupClusters(docs(s, dir), "doc_id", "text", threshold = 0.9)),

    "q32_embed_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(emb(s, dir), "vec_id", "embedding",
        sf.col("vec_id") < 10, k = 5, nCentroids = 16, nProbe = 4)),

    // Hot-key-only salting: orders with > 4 lineitems (a real slice of
    // this corpus) are salted 8 ways, the rest take the plain join — at
    // production scale the threshold is "millions" and the explode is
    // bounded by |hot| x saltFactor, never |small| x saltFactor.
    "q31_salted_join" -> ((s, dir) =>
      Skew.saltedJoinHotKeys(Tables.load(s, dir, "lineitem"), Tables.load(s, dir, "orders"),
          "l_orderkey", "o_orderkey", saltFactor = 8, hotKeyThreshold = 4L,
          // spread on the 2-column row identity — hashing all 16 fact
          // columns per row buys no extra uniformity, just CPU
          spreadCol = Some(sf.pmod(
            sf.xxhash64(sf.col("l_orderkey"), sf.col("l_linenumber")), sf.lit(8))))
        .groupBy(sf.col("o_orderstatus"))
        .agg(sf.count(sf.lit(1)).as("n_lines"),
          sf.sum(sf.col("l_quantity").cast("long")).as("total_qty"))
        .orderBy("o_orderstatus")),

    "q36_asof" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.filter(sf.col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(sf.col("event_type") === "view")
        .select(sf.col("event_id").as("view_event_id"), sf.col("user_id"),
          sf.col("ts"), sf.col("value").as("view_value"))
      EventOps.asOfJoin(clicks, views, "user_id", "ts",
          Seq("view_event_id", "view_value"), tieBreak = Some("view_event_id"))
        .select(sf.col("event_id"), sf.col("user_id"),
          sf.date_format(sf.col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          sf.col("view_event_id"), sf.col("view_value"))
        .orderBy("event_id")
    }),

    "q37_sessions" -> ((s, dir) =>
      EventOps.sessionize(Tables.load(s, dir, "events"))),

    "q38_tfidf" -> ((s, dir) =>
      TextAnalysis.tfIdfTopTerms(docs(s, dir), "doc_id", "text", k = 5)),

    "q39_json_props" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .select(sf.col("event_id"),
          sf.from_json(sf.col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("prop_k"))
        .groupBy("prop_k")
        .agg(sf.count(sf.lit(1)).as("n_events"),
          sf.min(sf.col("event_id")).as("first_event"))
        .orderBy(sf.col("prop_k").asc_nulls_first)),

    "q40_hash_sample" -> ((s, dir) =>
      Sampling.hashSample(docs(s, dir), "doc_id", 0.05)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")),

    "q41_dq_orphans" -> ((s, dir) =>
      QualityChecks.fkOrphans(s, dir, Seq(
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey")))),

    "q42_line_dedup" -> ((s, dir) =>
      Dedup.lineDedupKeepFirst(docs(s, dir), "doc_id", "text")),

    "q43_pii_scrub" -> ((s, dir) =>
      Cleaning.scrubPii(docs(s, dir), "text")
        .select(sf.col("doc_id"), sf.md5(sf.col("text")).as("scrubbed_md5"),
          sf.col("n_email"), sf.col("n_phone"), sf.col("n_ip"))
        .orderBy("doc_id")),

    "q44_stopword_ratio" -> ((s, dir) =>
      TextAnalysis.stopwordRatio(docs(s, dir), "doc_id", "text", "lang")),

    "q45_dedup_corpus" -> ((s, dir) =>
      Dedup.dedupCorpus(docs(s, dir), "doc_id", "text", threshold = 0.9)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")),

    "q46_label_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(emb(s, dir), "label", "embedding")),

    "q47_scd2" -> ((s, dir) =>
      EventOps.scdType2(Tables.load(s, dir, "events"))),

    "q48_rollup" -> ((s, dir) => StarSchema.revenueRollup(s, dir)),

    "q49_running" -> ((s, dir) => StarSchema.customerRunningSpend(s, dir)),

    "q50_edit_distance" -> ((s, dir) =>
      TextAnalysis.editDistancePairs(docs(s, dir), "doc_id", "text", idMax = 20)),

    "q51_full_outer" -> ((s, dir) => {
      // Full outer join of two aggregates with disjoint key coverage:
      // per-nation customer counts vs per-nation supplier counts — the
      // outer flavors (left/right/full) all exercise the same
      // null-materializing path Spark uses at any scale.
      val custByNation = Tables.load(s, dir, "customer")
        .groupBy(sf.col("c_nationkey").cast("int").as("ck"))
        .agg(sf.count(sf.lit(1)).as("n_customers"))
      val suppByNation = Tables.load(s, dir, "supplier")
        .filter(sf.col("s_nationkey") < 20)
        .groupBy(sf.col("s_nationkey").cast("int").as("sk"))
        .agg(sf.count(sf.lit(1)).as("n_suppliers"))
      custByNation.join(suppByNation,
          sf.col("ck") === sf.col("sk"), "full_outer")
        .select(
          sf.coalesce(sf.col("ck"), sf.col("sk")).as("nationkey"),
          sf.coalesce(sf.col("n_customers"), sf.lit(0L)).as("n_customers"),
          sf.coalesce(sf.col("n_suppliers"), sf.lit(0L)).as("n_suppliers"))
        .orderBy("nationkey")
    }),

    "q52_simhash_neardup" -> ((s, dir) =>
      Dedup.simHashNearDup(docs(s, dir), "doc_id", "text", maxHamming = 3)),

    // Unbounded-corpus near-dup pair enumeration, banded SRP buckets.
    // 24 bands x 5 bits: the corpus's pair-cosine ceiling is ~0.51, so
    // the demo threshold is 0.4 and banding is widened for recall there
    // (~0.92 at c=0.4); the near-dup-regime defaults are 16x8.
    "q53_embed_neardup_lsh" -> ((s, dir) =>
      Similarity.cosineNearDupBucketed(emb(s, dir), "vec_id", "embedding",
        threshold = 0.4, bands = 24, bitsPerBand = 5)),

    // Unbounded-corpus near-dup pairs via IVF cell co-membership — the
    // moderate-threshold scale path. nCentroids tracks FAISS practice
    // (~sqrt(n)): candidate volume is ~n²·nProbe²/nCentroids, so the
    // coarser 16-cell codebook cost 4x the verification work.
    "q54_embed_neardup_ivf" -> ((s, dir) =>
      Similarity.ivfNearDupPairs(emb(s, dir), "vec_id", "embedding",
        threshold = 0.35, nCentroids = 64, nProbe = 4)),

    // IVF with a Lloyd-refined (2-round k-means) codebook: the trained-
    // quantizer variant of q32. Fixed-point centroid updates make the
    // refined codebook bit-reproducible in the SQL oracle.
    "q55_embed_ivf_kmeans" -> ((s, dir) =>
      Similarity.ivfTopK(emb(s, dir), "vec_id", "embedding",
        sf.col("vec_id") < 10, k = 5, nCentroids = 16, nProbe = 4,
        lloydIters = 2)),

    // Benchmark decontamination: docs sharing an 8-gram with the
    // held-out set (doc_id % 10 == 0 plays the benchmark).
    "q56_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.decontaminate(
        d.filter(sf.col("doc_id") % 10 =!= 0),
        d.filter(sf.col("doc_id") % 10 === 0), "doc_id", "text", n = 8)
    }),

    // Cross-corpus near-dup scan: odd-id docs (the "training corpus")
    // within J >= 0.9 of any even-id doc (the "held-out corpus").
    "q57_cross_corpus" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.crossCorpusNearDup(
        d.filter(sf.col("doc_id") % 2 === 1),
        d.filter(sf.col("doc_id") % 2 === 0), "doc_id", "text",
        threshold = 0.9)
    }),

    // Training-sequence packing: concatenate-and-chunk at 512 tokens
    // via the multi-level distributed prefix scan (auto bucket sizing:
    // bucketSize = ceil(sqrt(maxId+1)) balances both scan levels).
    "q58_pack_sequences" -> ((s, dir) =>
      Packing.packSequences(docs(s, dir), "doc_id", "text",
        capacity = 512)),

    // Group-limit at scale: top-2 orders by total price per customer,
    // reduced with the k-bounded combinable aggregator (no per-group
    // sort shuffle); the oracle is the window-rank twin.
    "q59_topk_per_key" -> ((s, dir) =>
      TopK.perKey(s, Tables.load(s, dir, "orders"),
          "o_custkey", "o_orderkey", "o_totalprice", k = 2)
        .toDF("o_custkey", "rank", "o_orderkey", "score")),

    // Token-budget mixture sampling: src0 downsampled to ~400 tokens,
    // src1 kept whole (budget >> total), src2 dropped (zero budget),
    // every other source capped at ~600 tokens via the default.
    "q60_mixture" -> ((s, dir) => {
      val d = docs(s, dir)
      Sampling.mixtureSample(d, "doc_id", "source",
          functions.tokenCount(sf.col("text")),
          budgets = Map("src0" -> 400L, "src1" -> 10000000L, "src2" -> 0L),
          defaultBudget = 600L)
        .select(sf.col("doc_id"), sf.col("source"),
          functions.tokenCount(sf.col("text")).cast("int").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // Corpus heavy-hitter terms (boilerplate detection): Misra-Gries
    // sketch nominates <= 2/phi candidates, a broadcast semi-join
    // recounts them exactly — the long tail of singleton terms never
    // shuffles.
    "q61_heavy_hitters" -> ((s, dir) =>
      CorpusStats.heavyHitterTerms(docs(s, dir), "text", phi = 0.002)),

    // Unigram-LM document quality: mean token NLL under the corpus's
    // own add-one-smoothed unigram model (CCNet-style signal).
    "q62_lm_quality" -> ((s, dir) =>
      CorpusStats.unigramLmScore(docs(s, dir), "doc_id", "text")),

    // Per-source KL divergence from the corpus token distribution —
    // the mixture-monitoring signal.
    "q63_source_kl" -> ((s, dir) =>
      CorpusStats.sourceKlDivergence(docs(s, dir), "source", "text")),

    // Embedding-space outliers: distance to own-label centroid with a
    // flag at the empirical p90 (~1.01 on this corpus).
    "q64_centroid_outliers" -> ((s, dir) =>
      Similarity.centroidDistances(emb(s, dir), "vec_id", "embedding",
        "label", outlierThreshold = 1.01)),

    // SemDeDup: k-means cells (1 Lloyd round, fixed-point) + within-cell
    // keep-lowest-id cosine dedup. tau tuned to this corpus's cosine
    // range (max pairwise ~0.47).
    "q65_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(emb(s, dir), "vec_id", "embedding",
        nCentroids = 16, lloydIters = 1, tau = 0.35)),

    // Bloom-prefiltered exact semi join: lineitem rows whose order is
    // URGENT — negatives drop at scan speed, the join sees survivors.
    "q66_bloom_semijoin" -> ((s, dir) => {
      val urgent = Tables.load(s, dir, "orders")
        .filter(sf.col("o_orderpriority") === "1-URGENT")
        .select(sf.col("o_orderkey"))
      Bloom.semiJoin(Tables.load(s, dir, "lineitem"), urgent,
          "l_orderkey", "o_orderkey", numBits = 1 << 17)
        .groupBy("l_returnflag")
        .agg(sf.count(sf.lit(1)).as("n_rows"),
          sf.sum("l_quantity").as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // Per-source quantile cut: the top quarter of each source by a
    // quality signal (rank-defined threshold, boundary ties kept — the
    // 4-decimal avg-token-length signal is fine-grained enough that the
    // tie slop stays small; the coarse 5-bucket q15 composite would
    // keep ~90% through its boundary tie).
    "q67_quantile_filter" -> ((s, dir) => {
      val d = docs(s, dir)
      val scored = d.join(
        TextAnalysis.qualityScore(d, "doc_id", "text")
          .select(sf.col("doc_id"), sf.col("avg_token_len").as("score")), "doc_id")
      Sampling.topFractionByScore(scored, "source", "score", frac = 0.25)
        .select("doc_id", "source", "score")
        .orderBy("doc_id")
    }),

    // Duplicated-8-gram fraction per document (RefinedWeb-style
    // boilerplate signal).
    "q68_dup_ngram_frac" -> ((s, dir) =>
      TextAnalysis.dupNgramFraction(docs(s, dir), "doc_id", "text", n = 8)),

    // ExactSubstr span removal: tokens covered by any corpus-repeated
    // word 8-gram are cut; output is the surviving text per document.
    "q110_dedup_spans" -> ((s, dir) =>
      Dedup.removeDupSpans(docs(s, dir), "doc_id", "text", n = 8)),

    // Entropy band signals: token- and char-distribution Shannon
    // entropy per document (map-only kernels).
    "q111_entropy" -> ((s, dir) =>
      TextAnalysis.entropyStats(docs(s, dir), "doc_id", "text")),

    // BPE merge statistic: top-50 adjacent char pairs within tokens.
    "q112_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(docs(s, dir), "text", k = 50)),

    // Bigram LM: conditional add-one NLL per doc (the q62 upgrade).
    "q114_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramLmScore(docs(s, dir), "doc_id", "text")),

    // OOV rate vs the corpus's own top-10 frequency vocabulary (the
    // synthetic corpus has 31 distinct terms; V=10 exercises the cut).
    "q115_oov_rate" -> ((s, dir) =>
      TextAnalysis.oovRate(docs(s, dir), "doc_id", "text", vocabSize = 10)),

    // BM25 batch scoring of the corpus against a fixed 3-term query.
    "q116_bm25" -> ((s, dir) =>
      CorpusStats.bm25Score(docs(s, dir), "doc_id", "text",
        queryTerms = Seq("hash", "join", "vector"))),

    // Importance sampling: keep probability proportional to token
    // count, expected kept rows = 150; division-free integer keep test.
    "q113_weighted_sample" -> ((s, dir) => {
      val d = docs(s, dir)
      Sampling.weightedHashSample(d, "doc_id",
          functions.tokenCount(sf.col("text")), budget = 150L)
        .select(sf.col("doc_id"), sf.col("source"),
          functions.tokenCount(sf.col("text")).cast("int").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // Linear multi-touch attribution: purchases split value equally
    // across same-user click/view touches in the trailing 3 days;
    // integer credit at 1e6 sub-cent scale, (user, day-bin) equi join.
    "q117_attribution" -> ((s, dir) =>
      EventOps.attributionLinear(Tables.load(s, dir, "events"))),

    // Basket co-occurrence lift over order line items (pair explode
    // bounded by basket size, never cross-basket).
    "q118_cooccur_lift" -> ((s, dir) =>
      Graph.cooccurrenceLift(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 3)),

    // PageRank over the part co-occurrence graph: 3 damped rounds in
    // exact 1e12 fixed-point integers (bit-replayable, nothing rounds).
    "q119_pagerank" -> ((s, dir) =>
      Graph.pageRank(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 3, iters = 3)),

    // Calibration/ECE of the q73 quality classifier: sigmoid of the
    // rounded score vs the lang=='en' outcome, 10 reliability bins.
    "q120_calibration" -> ((s, dir) => {
      val scored = TextAnalysis.classifierScore(docs(s, dir), "doc_id", "text",
        weights = Similarity.lshPlanes(256, 1, seed = 7)(0), bias = -0.05)
      val conf = sf.lit(1.0) / (sf.lit(1.0) + sf.exp(-sf.col("score")))
      QualityChecks.calibration(
        scored.join(docs(s, dir).select(sf.col("doc_id"), sf.col("lang")), "doc_id")
          .select(conf.as("conf"), (sf.col("lang") === "en").cast("int").as("y")),
        "conf", "y", nBins = 10)
    }),

    // Seasonal-baseline anomalies: per-(type, hour) mean/std profile
    // (fixed-point moments), events beyond 2.5 sigma.
    "q121_seasonal_anomaly" -> ((s, dir) =>
      EventOps.seasonalAnomalies(Tables.load(s, dir, "events"), zThresh = 2.5)),

    // Soft dedup: exact-dup groups down-weight to 1/|group| at 1e6
    // scale; per-source raw vs duplication-corrected token mass.
    "q122_soft_dedup" -> ((s, dir) =>
      Dedup.softDedupWeights(docs(s, dir), "doc_id", "text")
        .select(sf.col("source"),
          functions.tokenCount(sf.col("text")).as("__tok"),
          sf.col("weight_fx"))
        .groupBy("source")
        .agg(sf.count(sf.lit(1)).as("n_docs"),
          sf.sum(sf.col("__tok")).as("n_tokens"),
          functions.roundAt(
            sf.sum(sf.col("__tok") * sf.col("weight_fx")).cast("double") / 1e6, 2)
            .as("effective_tokens"))
        .orderBy("source")),

    // Dominant embedding component (power iteration, 2 rounds, exact
    // 1e4/1e6 fixed-point) + per-vector projection and cosine.
    "q123_dominant_component" -> ((s, dir) =>
      Similarity.dominantComponent(emb(s, dir), "vec_id", "embedding", iters = 2)),

    // Native session windows (the streaming-capable definition —
    // session end = last event + gap; same groupBy runs under
    // Structured Streaming in EventStream.sessionWindowCounts).
    "q124_session_window" -> ((s, dir) =>
      EventOps.sessionWindowAgg(Tables.load(s, dir, "events"))),

    // Tokenizer fertility per source: BPE-ish tokens per word / bytes
    // per token — the training-cost budgeting numbers.
    "q125_fertility" -> ((s, dir) =>
      TextAnalysis.tokenizerFertility(docs(s, dir), "source", "text")),

    // Blocklist tagging: occurrence + distinct-term counts for a
    // curation blocklist over the token stream.
    "q69_blocklist" -> ((s, dir) =>
      TextAnalysis.blocklistTag(docs(s, dir), "doc_id", "text",
        terms = Seq("spam", "click", "buy", "free", "winner"))),

    // Product-quantization ANN: 4 subspaces x 16 centroids; corpus rows
    // become 4 codes, scored by asymmetric dot against reconstructions.
    "q70_pq_topk" -> ((s, dir) =>
      Similarity.pqTopK(emb(s, dir), "vec_id", "embedding",
        sf.col("vec_id") < 10, k = 5, nSubspaces = 4, centroidsPerSub = 16)),

    // Winsorized per-group stats: nearest-rank p05/p95 clamp on
    // quantity, outlier-resistant mean.
    "q71_winsorize" -> ((s, dir) =>
      QualityChecks.winsorizedStats(Tables.load(s, dir, "lineitem"),
        "l_returnflag", "l_quantity", pLo = 0.05, pHi = 0.95)),

    // CDC latest-snapshot compaction: one current row per user from the
    // event log (combinable max(struct), no per-key sort).
    "q72_latest_snapshot" -> ((s, dir) =>
      EventOps.latestSnapshot(Tables.load(s, dir, "events"))
        .select(sf.col("user_id"),
          sf.date_format(sf.col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          sf.col("event_id"), sf.col("event_type"), sf.col("value"))
        .orderBy("user_id")),

    // Hashing-trick linear classifier scoring (fastText-style quality
    // filter inference); deterministic dyadic demo weights stand in
    // for offline-trained ones.
    "q73_classifier_score" -> ((s, dir) =>
      TextAnalysis.classifierScore(docs(s, dir), "doc_id", "text",
        weights = Similarity.lshPlanes(256, 1, seed = 7)(0), bias = -0.05)),

    // PMI collocations over adjacent token pairs (support floor 5).
    "q74_pmi" -> ((s, dir) =>
      CorpusStats.pmiCollocations(docs(s, dir), "text", minCount = 5)),

    // Embedding dimension profile: order-exact moments via fixed-point
    // decimal sums.
    "q75_dim_profile" -> ((s, dir) =>
      Similarity.dimensionProfile(emb(s, dir), "embedding")),

    // k-anonymity audit over customer quasi-identifiers.
    "q76_k_anonymity" -> ((s, dir) =>
      QualityChecks.kAnonymity(Tables.load(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), k = 10)),

    // l-diversity over the same quasi identifiers: distinct acctbal
    // bands per group — the homogeneity-attack gap q76 leaves open.
    "q223_l_diversity" -> ((s, dir) =>
      QualityChecks.lDiversity(Tables.load(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"),
        sf.floor(sf.col("c_acctbal").cast("double") / 2000.0), l = 5)),

    // Join-key skew profile (the saltedJoin sizing input).
    "q77_skew_profile" -> ((s, dir) =>
      QualityChecks.skewProfile(Tables.load(s, dir, "events"), "user_id")),

    // Deterministic 80/10/10 split: per-(split, source) counts.
    "q78_hash_split" -> ((s, dir) =>
      Sampling.hashSplit(docs(s, dir), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split", "source")
        .agg(sf.count(sf.lit(1)).as("n_docs"))
        .orderBy("split", "source")),

    // Corpus snapshot diff: v2 derives deterministically from the same
    // table (drop %13, edit %7, add shifted ids %17) so both engines
    // diff identical snapshots.
    "q79_corpus_diff" -> ((s, dir) => {
      val d = docs(s, dir)
      val v2 = d.filter(sf.col("doc_id") % 13 =!= 0)
        .withColumn("text", sf.when(sf.col("doc_id") % 7 === 0,
          sf.concat(sf.col("text"), sf.lit(" v2"))).otherwise(sf.col("text")))
        .unionByName(d.filter(sf.col("doc_id") % 17 === 0)
          .withColumn("doc_id", sf.col("doc_id") + 100000))
      Cleaning.corpusDiffSummary(d, v2, "doc_id", "text")
    }),

    // Hard-negative mining: nearest different-label neighbors.
    "q80_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(s, emb(s, dir), "vec_id", "embedding",
        "label", sf.col("vec_id") < 10, k = 5)),

    // Token-window chunking (32-token windows, 8-token overlap).
    "q81_chunk" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(docs(s, dir), "doc_id", "text",
        chunkSize = 32, overlap = 8)),

    // Within-document repeated-line collapse (map-only boilerplate
    // removal; first occurrence of each distinct line wins).
    "q82_doc_line_dedup" -> ((s, dir) =>
      Cleaning.dedupDocLines(docs(s, dir), "doc_id", "text")),

    // Inter-source 3-gram overlap matrix (mixture redundancy map).
    "q83_source_overlap" -> ((s, dir) =>
      CorpusStats.sourceOverlap(docs(s, dir), "source", "text", n = 3)),

    // Ordered conversion funnel over the event log: view -> click ->
    // purchase, each step strictly after the user's previous step.
    "q84_funnel" -> ((s, dir) =>
      EventOps.funnel(Tables.load(s, dir, "events"),
        Seq("view", "click", "purchase"))),

    // Weekly cohort retention matrix (first-activity week x offset).
    "q85_retention" -> ((s, dir) =>
      EventOps.retentionCohorts(Tables.load(s, dir, "events"))),

    // Fixed-width price histogram (20 bins, clamped range).
    "q86_histogram" -> ((s, dir) =>
      QualityChecks.histogram(Tables.load(s, dir, "lineitem"),
        "l_extendedprice", nBins = 20, lo = 0.0, hi = 120000.0)),

    // Exact Pearson correlations across lineitem numerics in one scan
    // (order-exact fixed-point moment sums).
    "q87_correlation" -> ((s, dir) =>
      QualityChecks.correlationMatrix(Tables.load(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // Map-only text normalization (control chars, space runs, blank-line
    // runs, trim).
    "q88_normalize" -> ((s, dir) =>
      Cleaning.normalizeText(docs(s, dir), "doc_id", "text")),

    // PSI distribution drift between two deterministic halves of the
    // order-price distribution (drift monitoring between snapshots).
    "q89_psi_drift" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      QualityChecks.psiDrift(
        o.filter(sf.col("o_orderkey") % 2 === 0),
        o.filter(sf.col("o_orderkey") % 2 =!= 0),
        "o_totalprice", nBins = 10, lo = 0.0, hi = 500000.0)
    }),

    // Deterministic per-source document cap (hash order, cap-bounded
    // combinable aggregator — no per-key sort).
    "q90_cap_per_key" -> ((s, dir) =>
      Sampling.capPerKey(s, docs(s, dir), "source", "doc_id", cap = 25)),

    // Semantic decontamination: corpus vectors (vec_id % 10 != 0)
    // within cosine 0.4 of any eval vector (vec_id % 10 == 0) — the
    // paraphrase-catching twin of q56's n-gram decontaminate. Same SRP
    // banding as q53; the eval side broadcasts, corpus stays map-only.
    "q91_semantic_decontam" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.crossCorpusEmbedNearDup(
        e.filter(sf.col("vec_id") % 10 =!= 0),
        e.filter(sf.col("vec_id") % 10 === 0),
        "vec_id", "embedding", threshold = 0.4, bands = 24, bitsPerBand = 5)
    }),

    // Canonical selection policy: simhash-identical docs form clusters;
    // keep the longest member (ties to the larger id) — combinable
    // max(struct), no per-cluster sort.
    "q92_canonical" -> ((s, dir) => {
      val sigs = Dedup.simHashSignatures(docs(s, dir), "doc_id", "text")
      val withLen = sigs.join(
        docs(s, dir).select(sf.col("doc_id").as("id"), sf.col("n_chars")), "id")
      Dedup.selectCanonical(withLen, "simhash", "id", "n_chars")
    }),

    // Inverted index, df >= 5, postings capped at 20 ids (id-ascending,
    // cap-bounded aggregator — no per-term sort, no unbounded list).
    "q93_inverted_index" -> ((s, dir) =>
      CorpusStats.invertedIndex(s, docs(s, dir), "doc_id", "text",
        minDf = 5, maxPostings = 20)),

    // Binned interval join: every distinct ship date against the
    // synthetic order validity windows [o_orderdate, o_orderdate +
    // o_orderkey%30 days] — "orders open on that date". The naive
    // BETWEEN-only join is a BroadcastNestedLoopJoin; the bin-key
    // rewrite makes it an equi join (spec asserts no BNLJ).
    "q94_interval_join" -> ((s, dir) => {
      val epoch = sf.lit("1970-01-01").cast("date")
      // spread the tiny distinct-dates side: AQE coalesces a 2500-row
      // probe side to ONE partition, which would serialize the 9M-pair
      // join expansion onto a single task
      val pts = Par.spread(Tables.load(s, dir, "lineitem")
        .select(sf.to_date(sf.col("l_shipdate")).as("ship_date")).distinct())
        .withColumn("__p", sf.datediff(sf.col("ship_date"), epoch).cast("long"))
      val iv = Tables.load(s, dir, "orders")
        .select(sf.col("o_orderkey"), sf.col("o_totalprice"),
          sf.datediff(sf.to_date(sf.col("o_orderdate")), epoch)
            .cast("long").as("__lo"))
        .withColumn("__hi",
          sf.col("__lo") + sf.pmod(sf.col("o_orderkey"), sf.lit(30L)))
      EventOps.intervalJoin(pts, iv, "__p", "__lo", "__hi", binWidth = 32)
        .groupBy("ship_date")
        .agg(sf.count(sf.lit(1)).as("n_open_orders"),
          sf.sum(sf.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("sum_open_price"))
        .select(
          sf.date_format(sf.col("ship_date"), "yyyy-MM-dd").as("point_date"),
          sf.col("n_open_orders"), sf.col("sum_open_price"))
        .orderBy("point_date")
    }),

    "q95_trailing_window" -> ((s, dir) =>
      EventOps.trailingWindow(Tables.load(s, dir, "events"))),

    "q96_mad_outliers" -> ((s, dir) =>
      QualityChecks.robustOutliers(
        Tables.load(s, dir, "events"), "event_id", "value", k = 3.0)),

    // EXACT threshold Jaccard self-join (prefix filtering) — the
    // zero-miss twin of q22's LSH path; the oracle is the full
    // quadratic join, so any recall gap in the prefix filter fails
    // the gate.
    "q97_prefix_jaccard" -> ((s, dir) =>
      Dedup.prefixJaccardPairs(docs(s, dir), "doc_id", "text",
        threshold = 0.9)),

    "q98_active_users" -> ((s, dir) =>
      EventOps.activeUsers(Tables.load(s, dir, "events"), windowDays = 7)),

    "q99_ab_lift" -> ((s, dir) =>
      EventOps.abLift(Tables.load(s, dir, "events"))),

    "q100_cube" -> ((s, dir) => StarSchema.revenueCube(s, dir)),

    "q101_price_ranks" -> ((s, dir) => StarSchema.priceRanks(s, dir)),

    "q102_event_deltas" -> ((s, dir) =>
      EventOps.eventDeltas(Tables.load(s, dir, "events"))),

    // Scale-safe global dense ids: rank in the total order
    // (c_acctbal, c_custkey) assigned with parallel per-partition
    // numbering + broadcast offsets — never a single-task window.
    "q104_dense_ids" -> ((s, dir) =>
      StarSchema.globalDenseIds(
          Tables.load(s, dir, "customer")
            .select("c_custkey", "c_acctbal"),
          Seq("c_acctbal", "c_custkey"), keyName = "sk")
        .select(sf.col("c_custkey"), sf.col("c_acctbal"),
          sf.col("sk").cast("long").as("sk"))
        .orderBy("sk")),

    "q105_corpus_card" -> ((s, dir) =>
      CorpusStats.corpusCard(docs(s, dir), "doc_id", "text", "lang", "source")),

    "q107_chi_squared" -> ((s, dir) =>
      QualityChecks.chiSquared(docs(s, dir), "lang", "source")),

    "q108_transitions" -> ((s, dir) =>
      EventOps.transitionMatrix(Tables.load(s, dir, "events"))),

    // Rank-based A/B twin of q99: click vs view values compared
    // distribution-free (outlier-robust), midranked ties, exact
    // integer 2x rank sums.
    "q109_mann_whitney" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      QualityChecks.mannWhitneyU(
        ev.filter(sf.col("event_type") === "click"),
        ev.filter(sf.col("event_type") === "view"), "value")
    }),

    // Exact two-sample KS: do click values and view values come from
    // the same distribution? Integer-exact CDF gap, unbinned.
    "q106_ks_test" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      QualityChecks.ksTest(
        ev.filter(sf.col("event_type") === "click"),
        ev.filter(sf.col("event_type") === "view"), "value")
    }),

    // Unicode NFC differential: decompose ASCII 'a' into 'a'+U+0301 in
    // BOTH engines, then normalize — NFC must recompose to precomposed
    // U+00E1, so the char counts shrink and the md5s agree iff the
    // normalizer is Unicode-conformant.
    "q103_unicode_nfc" -> ((s, dir) => {
      val dec = sf.replace(sf.col("text"), sf.lit("a"), sf.lit("a\u0301"))
      val nfc = functions.unicodeNormalize(dec, "NFC")
      docs(s, dir).select(sf.col("doc_id"),
          sf.length(dec).as("n_decomposed"),
          sf.length(nfc).as("n_nfc"),
          sf.md5(sf.encode(nfc, "UTF-8")).as("nfc_md5"))
        .orderBy("doc_id")
    }),

    // Triangle enumeration over the part co-occurrence graph
    // (degree-ordered orientation: each triangle found exactly once).
    "q126_triangles" -> ((s, dir) =>
      Graph.triangles(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 2)),

    // Directed containment (subset) pairs at t=1.0: documents whose
    // word set is fully contained in another's — the quote/excerpt
    // detector Jaccard misses.
    "q127_containment" -> ((s, dir) =>
      Dedup.containmentPairs(docs(s, dir), "doc_id", "text", threshold = 1.0)),

    // Exponential time-decay engagement score per user (half-life 24h,
    // snapped-pow weights, exact fixed-point sum).
    "q128_decayed_score" -> ((s, dir) =>
      EventOps.decayedScore(Tables.load(s, dir, "events"), halfLifeHours = 24.0)),

    // Per-label int8 symmetric-quantization reconstruction error.
    "q129_quantize_error" -> ((s, dir) =>
      Similarity.quantizationError(emb(s, dir))),

    // Gap-filled hourly series per event type: every bin between the
    // corpus min and max is present, zero rows materialized.
    "q130_dense_series" -> ((s, dir) =>
      EventOps.denseSeries(Tables.load(s, dir, "events"))),

    // Distinctive terms per source: Monroe et al. weighted log-odds
    // with an informative Dirichlet prior, z-scored.
    "q131_distinctive_terms" -> ((s, dir) =>
      CorpusStats.distinctiveTerms(docs(s, dir), "source", "text",
        a0 = 100.0, minCount = 5)),

    // Session path mining: frequency table of within-session
    // event-type journeys (30-min gap sessions).
    "q132_session_paths" -> ((s, dir) =>
      EventOps.sessionPaths(Tables.load(s, dir, "events"), minCount = 3)),

    // Zipf-law OLS fit over the term frequency distribution (snapped
    // lns, exact moment sums, closed-form assembly).
    "q133_zipf_slope" -> ((s, dir) =>
      CorpusStats.zipfSlope(docs(s, dir), "text")),

    // Graph datasheet: structural summary of the co-occurrence graph
    // (degree stats, density, wedges, triangles, clustering coeff).
    "q134_graph_profile" -> ((s, dir) =>
      Graph.graphProfile(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 2)),

    // N-gram coverage curve: fraction of held-out distinct n-grams
    // (n=1..3) covered by the training split — the q56 split.
    "q135_ngram_coverage" -> ((s, dir) => {
      val d = docs(s, dir)
      CorpusStats.ngramCoverage(
        d.filter(sf.col("doc_id") % 10 =!= 0),
        d.filter(sf.col("doc_id") % 10 === 0), "text", maxN = 3)
    }),

    // Hybrid retrieval: BM25 (q116 terms) + dense cosine against a
    // fixed query vector, reciprocal-rank fused at k=60. Both input
    // scores are 1e-4-snapped before ranking.
    "q136_rrf_fusion" -> ((s, dir) => {
      val text = CorpusStats.bm25Score(docs(s, dir), "doc_id", "text",
          queryTerms = Seq("hash", "join", "vector"))
        .select(sf.col("doc_id").as("id"), sf.col("bm25").as("score"))
      val qv = Similarity.lshPlanes(64, 1, seed = 11)(0)
      val vec = emb(s, dir).select(sf.col("vec_id").as("id"),
        functions.roundAt(functions.cosineSim(
          sf.col("embedding").cast("array<double>"), sf.lit(qv)), 4).as("score"))
      CorpusStats.rrfFuse(Seq(text, vec), "id", k = 60)
    }),

    // Burst detection on the gap-filled series: hourly bins beating
    // 3x their trailing-24h average, integer-exact decision.
    "q137_bursts" -> ((s, dir) =>
      EventOps.bursts(Tables.load(s, dir, "events"),
        binSec = 3600, window = 24, factor = 3.0)),

    // Iterative BPE merge learning: 10 greedy merges over the word
    // frequency table, the ordered tokenizer merge list.
    "q138_bpe_train" -> ((s, dir) =>
      TextAnalysis.bpeTrain(docs(s, dir), "text", nMerges = 10)),

    // One-way ANOVA: does event value differ across event types
    // (k-group generalization of the q99 A/B readout).
    "q139_anova" -> ((s, dir) =>
      QualityChecks.anovaF(Tables.load(s, dir, "events"), "event_type", "value")),

    // Spearman rank correlation (exact midranks) between quantity and
    // extended price.
    "q140_spearman" -> ((s, dir) =>
      QualityChecks.spearman(Tables.load(s, dir, "lineitem"),
        "l_quantity", "l_extendedprice")),

    // Label-centroid cosine matrix: the class confusion/adjacency map
    // in embedding space (exact fixed-point from snapped centroids).
    "q141_centroid_sim" -> ((s, dir) =>
      Similarity.centroidSimilarity(emb(s, dir))),

    // Source-concentration datasheet: Gini, HHI, top source share of
    // the corpus token mass.
    "q142_concentration" -> ((s, dir) =>
      CorpusStats.sourceConcentration(docs(s, dir), "source", "text")),

    // Exact-k weighted sample (Efraimidis-Spirakis A-ES): top 100 docs
    // by u^(1/tokens), snapped keys, fully replayable.
    "q143_weighted_topk" -> ((s, dir) =>
      Sampling.weightedTopK(docs(s, dir), "doc_id",
        functions.tokenCount(sf.col("text")), k = 100)),

    // Per-type value trend: OLS slope over re-based hourly bins.
    "q144_trend_slopes" -> ((s, dir) =>
      EventOps.trendSlopes(Tables.load(s, dir, "events"))),

    // Markov stationary occupancy: 3 exact fixed-point power rounds of
    // the q108 transition chain from the uniform start.
    "q145_stationary" -> ((s, dir) =>
      EventOps.stationaryDistribution(Tables.load(s, dir, "events"), iters = 3)),

    // Leakage-safe split: near-dup clusters (q33's labeling) assign to
    // ONE split; no cluster straddles train/test by construction.
    "q146_cluster_split" -> ((s, dir) =>
      Sampling.clusterAwareSplit(docs(s, dir), "doc_id",
          Dedup.nearDupClusters(docs(s, dir), "doc_id", "text", threshold = 0.9),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(sf.col("doc_id"), sf.col("split_key"), sf.col("split"))
        .orderBy("doc_id")),

    // Stupid Backoff trigram LM: train on the 90% hash split, score
    // the held-out 10% — the web-scale count-only quality filter.
    "q148_backoff_lm" -> ((s, dir) =>
      TextAnalysis.backoffLmScore(docs(s, dir), "doc_id", "text")),

    // Edit-distance similarity join via FastSS deletion neighborhoods:
    // typo-cluster pairs on the 16-char doc prefix — equi-join blocked,
    // exact-verified, never a cross product (q70 is the quadratic twin).
    "q149_edit_join" -> ((s, dir) =>
      Dedup.editDistanceJoin(docs(s, dir), "doc_id",
        sf.substring(sf.lower(sf.trim(sf.col("text"))), 1, 16), maxDist = 1)),

    // Quantile normalization: per-source doc lengths mapped onto the
    // global length distribution — the cross-source score calibrator
    // (exact integer ranks, partitioned + range-partitioned CDFs).
    "q151_quantile_norm" -> ((s, dir) =>
      Sampling.quantileNormalize(docs(s, dir), "source", "n_chars")),

    // Stratified A-ES: every source keeps its own exact-k weighted
    // lottery (k-bounded combinable aggregator, never a window sort).
    "q152_weighted_per_group" -> ((s, dir) =>
      Sampling.weightedTopKPerGroup(s, docs(s, dir), "source", "doc_id",
        sf.size(graft.functions.wsTokens(sf.lower(sf.col("text")))), k = 10)),

    // Character-class mix per source: exact alpha/digit/space/other
    // fractions — the script datasheet row (map-only + one agg).
    "q153_char_classes" -> ((s, dir) =>
      TextAnalysis.charClassProfile(docs(s, dir), "source", "text")),

    // Join-size forecast: exact per-key pair counts for the events
    // user-activity self-join — the two-sided skew audit (top 20).
    "q154_join_size" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      QualityChecks.joinSizeProfile(ev, "user_id", ev, "user_id", topK = 20)
    }),

    // First-view-to-first-purchase latency per user: two conditional
    // min cells in one combinable agg — no window, no self-join.
    "q155_conversion_latency" -> ((s, dir) =>
      EventOps.conversionLatency(Tables.load(s, dir, "events"))),

    // Frequent event trigrams across per-user sequences — sequence
    // mining lite (support-counted contiguous n-grams).
    "q156_seq_ngrams" -> ((s, dir) =>
      EventOps.sequenceNgrams(Tables.load(s, dir, "events"))),

    // Windowed skip-gram PMI: directional pairs within a 4-token span
    // — the word2vec-context generalization of q74's adjacency PMI.
    "q157_windowed_pmi" -> ((s, dir) =>
      CorpusStats.windowedPmi(docs(s, dir), "text", window = 4, minCount = 5)),

    // Per-dimension z-score standardization (whitening): fixed-point
    // moments broadcast over the component stream, map-only.
    "q158_standardize" -> ((s, dir) =>
      Similarity.standardizeEmbeddings(emb(s, dir), "vec_id", "embedding")),

    // Leave-one-out 5-NN label eval on the 1/10 hash sample — the
    // "do neighborhoods respect labels" embedding-quality readout.
    "q159_knn_eval" -> ((s, dir) =>
      Similarity.knnLabelEval(s, emb(s, dir), "vec_id", "embedding", "label")),

    // FD audit: does an order determine its ship mode? violating
    // orderkeys with distinct-dep and minority-row counts.
    "q160_fd_check" -> ((s, dir) =>
      QualityChecks.fdViolations(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_returnflag")),

    // Benford first-digit audit of extended price: exact cents-string
    // digits vs log10(1 + 1/d).
    "q161_benford" -> ((s, dir) =>
      QualityChecks.benfordAudit(Tables.load(s, dir, "lineitem"), "l_extendedprice")),

    // Exact ROC AUC of the q73/q120 hashing-trick classifier against
    // the lang=='en' outcome — rank-sum identity, no threshold sweep.
    // The score is the 1e4-snapped margin (q120's convention), so the
    // rank domain is integer and midranks replay exactly.
    "q162_roc_auc" -> ((s, dir) => {
      val scored = TextAnalysis.classifierScore(docs(s, dir), "doc_id", "text",
        weights = Similarity.lshPlanes(256, 1, seed = 7)(0), bias = -0.05)
      QualityChecks.rocAuc(
        scored.join(docs(s, dir).select(sf.col("doc_id"), sf.col("lang")), "doc_id")
          .select(sf.floor(sf.col("score") * 10000.0 + 0.5).cast("long").as("s4"),
            (sf.col("lang") === "en").cast("int").as("y")),
        "s4", "y")
    }),

    // Mutual information source↔lang: nats of shared information plus
    // marginal entropies and NMI — the metadata-redundancy audit.
    "q163_mutual_info" -> ((s, dir) =>
      QualityChecks.mutualInformation(docs(s, dir), "source", "lang")),

    // LPA communities over the part co-occurrence graph: 3 synchronous
    // majority-vote rounds, ties to the smallest label — splits the
    // connected graph q119 ranks into densely-linked regions.
    "q164_label_prop" -> ((s, dir) =>
      Graph.labelPropagation(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 3, rounds = 3)),

    // Mergeable minhash source sketches -> pairwise Jaccard estimates:
    // the constant-work-per-pair twin of q83's exact overlap matrix.
    "q165_source_minhash" -> ((s, dir) =>
      CorpusStats.minhashSourceSimilarity(docs(s, dir), "source", "text", k = 16)),

    // Schema contract over orders: 5 row rules + a unique key in ONE
    // scan; range_price is deliberately tight so the report shows a
    // failing rule alongside passing ones.
    "q166_contract" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      QualityChecks.contractValidate(o,
        rowRules = Seq(
          "custkey_not_null" -> sf.col("o_custkey").isNotNull,
          "status_enum" -> sf.col("o_orderstatus").isin("O", "F", "P"),
          "priority_regex" -> sf.col("o_orderpriority").rlike("^[1-5]-"),
          "price_range" -> (sf.col("o_totalprice") > 0.0 &&
            sf.col("o_totalprice") <= 400000.0),
          "date_bounds" -> (sf.col("o_orderdate") >= sf.lit("1992-01-01").cast("timestamp") &&
            sf.col("o_orderdate") < sf.lit("2002-01-01").cast("timestamp"))),
        uniqueRules = Seq("orderkey_unique" -> Seq("o_orderkey")))
    }),

    // Poisson-bootstrap CI of the mean event value per type: 40
    // hash-derived resamples as agg cells in one scan — the
    // uncertainty a metrics readout should carry at any scale.
    "q167_bootstrap_ci" -> ((s, dir) =>
      QualityChecks.bootstrapMeanCI(Tables.load(s, dir, "events"),
        "event_type", "event_id", "value", b = 40)),

    // Per-source heavy hitters: per-group Misra-Gries nomination +
    // exact recount — which terms dominate each source.
    "q168_heavy_per_source" -> ((s, dir) =>
      CorpusStats.heavyHittersPerGroup(docs(s, dir), "source", "text", phi = 0.01)),

    // Heaps-law vocabulary growth: beta near 1 = id/hash soup, near 0
    // = templated sources — the growth twin of q133's Zipf fit.
    "q169_heaps_fit" -> ((s, dir) =>
      CorpusStats.heapsLawFit(docs(s, dir), "source", "text")),

    // Isotonic calibration of the q120 classifier: the monotone
    // (PAV-minimax) accuracy fit over the same 10 reliability bins.
    "q170_isotonic" -> ((s, dir) => {
      val scored = TextAnalysis.classifierScore(docs(s, dir), "doc_id", "text",
        weights = Similarity.lshPlanes(256, 1, seed = 7)(0), bias = -0.05)
      val conf = sf.lit(1.0) / (sf.lit(1.0) + sf.exp(-sf.col("score")))
      QualityChecks.isotonicCalibration(
        scored.join(docs(s, dir).select(sf.col("doc_id"), sf.col("lang")), "doc_id")
          .select(conf.as("conf"), (sf.col("lang") === "en").cast("int").as("y")),
        "conf", "y", nBins = 10)
    }),

    // Weighted median doc length per source: the n_chars value at
    // which half the TOKEN mass of the source sits below — exact
    // integer threshold test, domain-compressed partitioned window.
    "q150_weighted_median" -> ((s, dir) =>
      QualityChecks.weightedQuantile(
        docs(s, dir).withColumn("__w",
          sf.size(graft.functions.wsTokens(sf.lower(sf.col("text")))).cast("long")),
        "source", "n_chars", "__w")),

    // BPE encode: apply q138's learned merge table to tokenize the
    // corpus — true tokenizer token streams/counts (map-only chain of
    // literal replaces; the merge table is a bounded plan literal).
    "q147_bpe_apply" -> ((s, dir) => {
      val m = TextAnalysis.bpeTrain(docs(s, dir), "text", nMerges = 10)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.applyBpe(docs(s, dir), "doc_id", "text", m)
        .select(sf.col("doc_id"),
          sf.size(sf.col("bpe_tokens")).cast("long").as("n_tokens"),
          sf.array_join(sf.col("bpe_tokens"), "|").as("toks_str"))
        .orderBy("doc_id")
    }),

    // Winnowing (MOSS) span-level near-dup pairs: window minima of
    // md5-60 4-gram hashes, df-capped posting lists, shared-count join.
    "q171_winnowing" -> ((s, dir) =>
      Dedup.winnowingPairs(docs(s, dir), "doc_id", "text",
        k = 4, w = 4, minShared = 2, maxDf = 50)),

    // PR curve of the q120 classifier: confusion counts + P/R/F1 at
    // every distinct score threshold — the operating-point sweep the
    // AUC integrates away (prefix sums, never a one-task window).
    "q172_pr_curve" -> ((s, dir) => {
      val scored = TextAnalysis.classifierScore(docs(s, dir), "doc_id", "text",
        weights = Similarity.lshPlanes(256, 1, seed = 7)(0), bias = -0.05)
      QualityChecks.prCurve(
        scored.join(docs(s, dir).select(sf.col("doc_id"), sf.col("lang")), "doc_id")
          .select(sf.col("score"), (sf.col("lang") === "en").cast("int").as("y")),
        "score", "y")
    }),

    // Kaplan-Meier time-to-purchase curve: users who never purchase
    // are right-censored at last activity — the honest retention
    // estimator when observation windows differ per user.
    "q173_kaplan_meier" -> ((s, dir) =>
      QualityChecks.kaplanMeier(
        EventOps.timeToEvent(Tables.load(s, dir, "events")),
        "duration_s", "observed")),

    // DSIR importance weights: hashed-unigram log p_en(x) - log p_rest(x)
    // per doc — the importance-resampling score for target-like data
    // selection (feed to weightedTopK for the exact-k draw).
    "q174_dsir" -> ((s, dir) =>
      CorpusStats.dsirWeights(docs(s, dir), "doc_id", "text",
        isTarget = sf.col("lang") === "en", nBuckets = 256, alpha = 1.0)),

    // Pairwise Jensen-Shannon divergence between source token
    // distributions: bounded symmetric divergence, finite under
    // partial vocabulary overlap (where KL is infinite).
    "q175_jsd_pairs" -> ((s, dir) =>
      CorpusStats.jsdSourcePairs(docs(s, dir), "source", "text")),

    // Blocked Jaro-Winkler record linkage: customers fuzzy-matched
    // within nation blocks — the classic entity-resolution shape
    // (structured attribute bounds the pair space, JW scores names).
    "q176_jw_linkage" -> ((s, dir) =>
      Dedup.jaroWinklerJoin(Tables.load(s, dir, "customer"), "c_custkey",
        nameExpr = sf.lower(sf.trim(sf.col("c_name"))),
        blockExpr = sf.col("c_nationkey"), threshold = 0.96)),

    // Greedy k-center coreset: 8 maximally-diverse embeddings + the
    // coverage-radius curve — diversity-first data selection.
    "q177_kcenter" -> ((s, dir) =>
      Similarity.kCenterSelect(emb(s, dir), "vec_id", "embedding", k = 8)),

    // Gopher quality gate: the published rule set as one wide map-only
    // pass — signals, per-rule booleans, and the conjunction.
    "q178_gopher_gate" -> ((s, dir) =>
      TextAnalysis.gopherGate(docs(s, dir), "doc_id", "text")),

    // Content-defined chunking: position-independent duplicate byte
    // ranges across the corpus (the storage-dedup / rsync primitive).
    "q179_cdc_chunks" -> ((s, dir) =>
      Dedup.cdcDuplicateChunks(docs(s, dir), "doc_id", "text",
        window = 8, avgChunk = 64, minOcc = 2)),

    // Length-bucketing efficiency: pad/truncation waste per bucket —
    // the dynamic-batching datasheet (multiple=32 so the word-soup
    // corpus spreads across several buckets).
    "q180_length_buckets" -> ((s, dir) =>
      Packing.lengthBucketing(docs(s, dir), "doc_id", "text",
        multiple = 32, maxLen = 128)),

    // Centroid silhouette: per-label separation score + misfit share —
    // the labeling-quality audit over the embedding table.
    "q181_silhouette" -> ((s, dir) =>
      Similarity.centroidSilhouette(emb(s, dir), "label", "embedding")),

    // Cohen's kappa between declared and detected language: the
    // chance-corrected agreement a labeling pipeline gates on.
    "q182_kappa" -> ((s, dir) =>
      QualityChecks.cohensKappa(
        TextAnalysis.langId(docs(s, dir), "doc_id", "text", Some("lang")),
        "predicted_lang", "label_lang")),

    // Novelty-saturation curve: per id-range bucket, the share of
    // 3-grams never seen in earlier buckets — "is more of this source
    // still worth ingesting".
    "q183_novelty_curve" -> ((s, dir) =>
      CorpusStats.noveltyCurve(docs(s, dir), "doc_id", "text",
        n = 3, bucketSize = 100)),

    // MERGE-INTO semantics: week-1 snapshot + week-2 changeset where
    // 'error' events are deletes; latest (ts, id) wins, deletes drop
    // the key unless a later upsert resurrects it.
    "q184_merge_apply" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val split = sf.lit("2024-01-08 00:00:00").cast("timestamp")
      val base = EventOps.latestSnapshot(ev.filter(sf.col("ts") < split))
      val changes = ev.filter(sf.col("ts") >= split)
        .select(sf.col("user_id"), sf.col("ts"), sf.col("event_id"),
          sf.when(sf.col("event_type") === "error", "delete")
            .otherwise("upsert").as("op"),
          sf.col("event_type"), sf.col("value"))
      EventOps.applyChangeset(base, changes)
        .select(sf.col("user_id"),
          sf.date_format(sf.col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          sf.col("event_id"), sf.col("event_type"), sf.col("value"))
        .orderBy("user_id")
    }),

    // Bounded 3-round 2-core peel of the co-purchase graph: strips the
    // low-degree fringe, keeps the dense kernel + residual degrees.
    "q185_kcore" -> ((s, dir) =>
      Graph.kCore(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", k = 2, minPairCount = 2, rounds = 3)),

    // Retrieval eval: recall@10 / MRR / nDCG@10 of exact cosine top-10
    // under same-label relevance, per query vector.
    "q186_retrieval_eval" -> ((s, dir) =>
      Similarity.retrievalMetrics(s, emb(s, dir), "vec_id", "embedding",
        "label", sf.col("vec_id") < 20, k = 10)),

    // Flesch-Kincaid grade + Reading Ease per doc (vowel-group syllable
    // heuristic, sentence = [.!?]+ run; exact counts, pinned assembly).
    "q187_readability" -> ((s, dir) =>
      TextAnalysis.readability(docs(s, dir), "doc_id", "text")),

    // Incremental agg maintenance: week-1 state merged with the week-2
    // delta's state must equal the full-history recompute (the oracle).
    "q188_agg_state_merge" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val split = sf.lit("2024-01-08 00:00:00").cast("timestamp")
      EventOps.readAggState(EventOps.mergeAggStates(Seq(
        EventOps.aggState(ev.filter(sf.col("ts") < split)),
        EventOps.aggState(ev.filter(sf.col("ts") >= split)))))
    }),

    // Matryoshka audit: top-5 overlap between d-prefix and full-dim
    // cosine retrieval, d in {8, 16, 32} of 64.
    "q189_truncation_fidelity" -> ((s, dir) =>
      Similarity.truncationFidelity(s, emb(s, dir), "vec_id", "embedding",
        sf.col("vec_id") < 10, k = 5, dims = Seq(8, 16, 32))),

    // Class-rebalancing weights per label: inverse frequency and the
    // Cui 2019 effective-number weight (beta = 0.99), sum-to-K normed.
    "q190_class_weights" -> ((s, dir) =>
      Sampling.classWeights(emb(s, dir), "label", beta = 0.99)),

    // Personalized PageRank from the seed set {part % 5 == 0}: restart
    // mass on seeds only; zero rows = unreachable in the damped walk.
    "q191_ppr" -> ((s, dir) =>
      Graph.personalizedPageRank(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", item => item % 5 === 0,
        minPairCount = 2, iters = 3)),

    // Multi-source BFS: hop distance from the {part % 5 == 0} seed set,
    // exact within 3 rounds, NULL = farther than 3 hops.
    "q192_bfs_hops" -> ((s, dir) =>
      Graph.bfsHops(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", item => item % 5 === 0,
        minPairCount = 2, rounds = 3)),

    // CUSUM change point per event type over the gap-filled hourly
    // series: where did the rate shift, with segment means.
    "q193_change_point" -> ((s, dir) =>
      EventOps.changePoint(Tables.load(s, dir, "events"))),

    // Bot-cadence audit: inter-event gap CV per user; metronomic
    // cadence (cv < 0.1 over >= 5 gaps) flags scripted traffic.
    "q194_bot_score" -> ((s, dir) =>
      EventOps.botScore(Tables.load(s, dir, "events"))),

    // U-shaped (40/20/40 position-based) attribution: first and last
    // touch carry discovery + closing credit, middles share 20%.
    "q195_ushape_attribution" -> ((s, dir) =>
      EventOps.attributionUShape(Tables.load(s, dir, "events"))),

    // Duplication spectrum of the (part, supplier) pairing across
    // orders: multiplicity histogram + share + dedup savings.
    "q196_dup_spectrum" -> ((s, dir) =>
      QualityChecks.duplicationSpectrum(Tables.load(s, dir, "lineitem"),
        sf.concat_ws("|", sf.col("l_partkey"), sf.col("l_suppkey")))),

    // Embedding pre-flight health: nulls / wrong dims / non-finite /
    // zero norms + the norm spread, one map-only pass.
    "q197_embedding_health" -> ((s, dir) =>
      QualityChecks.embeddingHealth(emb(s, dir), "embedding", expectedDim = 64)),

    // F1-optimal threshold for the q172 classifier sweep: the one-row
    // operating point (ties -> higher threshold).
    "q198_best_threshold" -> ((s, dir) => {
      val scored = TextAnalysis.classifierScore(docs(s, dir), "doc_id", "text",
        weights = Similarity.lshPlanes(256, 1, seed = 7)(0), bias = -0.05)
      QualityChecks.bestF1Threshold(QualityChecks.prCurve(
        scored.join(docs(s, dir).select(sf.col("doc_id"), sf.col("lang")), "doc_id")
          .select(sf.col("score"), (sf.col("lang") === "en").cast("int").as("y")),
        "score", "y"))
    }),

    // Blocking-quality report for q176's nation-blocked linkage:
    // candidate pairs, reduction ratio, hot-block share, singletons.
    "q199_blocking_quality" -> ((s, dir) =>
      Dedup.blockingQuality(Tables.load(s, dir, "customer"),
        sf.col("c_nationkey"))),

    // Waterfill a 26k-token budget across sources: equal shares, caps
    // bind, freed budget re-flows — max-min fair mixture budgets.
    "q200_waterfill" -> ((s, dir) =>
      Sampling.waterfillBudgets(docs(s, dir), "source",
        graft.functions.tokenCount(sf.col("text")), budget = 26000L, rounds = 4)),

    // Code-switching detector: langId per 16-token chunk, languages
    // spanned + dominant share per doc.
    "q201_lang_mixture" -> ((s, dir) =>
      TextAnalysis.langMixture(docs(s, dir), "doc_id", "text",
        chunkTokens = 16)),

    // Split-conformal recall-guaranteed threshold for the q172
    // classifier: flag >= 90% of real positives, distribution-free.
    "q202_conformal" -> ((s, dir) => {
      val scored = TextAnalysis.classifierScore(docs(s, dir), "doc_id", "text",
        weights = Similarity.lshPlanes(256, 1, seed = 7)(0), bias = -0.05)
      QualityChecks.conformalThreshold(
        scored.join(docs(s, dir).select(sf.col("doc_id"), sf.col("lang")), "doc_id")
          .select(sf.col("doc_id"), sf.col("score"),
            (sf.col("lang") === "en").cast("int").as("y")),
        "score", "y", "doc_id", alpha = 0.1)
    }),

    // Theil-Sen robust daily trend per type: median pairwise slope
    // over the gap-filled series (29% breakdown vs OLS's 0%).
    "q203_theil_sen" -> ((s, dir) =>
      EventOps.theilSenTrend(Tables.load(s, dir, "events"))),

    // Dataloader-facing packing manifest: per 512-token sequence, the
    // ordered doc spans (attention-reset boundaries), fill, pad tail.
    // The library API returns real ARRAY columns; the QUERY stringifies
    // them (csv) because the driver's checker can't hash list cells.
    "q204_pack_manifest" -> ((s, dir) =>
      Packing.packManifest(docs(s, dir), "doc_id", "text", capacity = 512)
        .select(sf.col("seq_id"), sf.col("n_spans"), sf.col("fill_tokens"),
          sf.col("pad_tokens"),
          sf.array_join(sf.expr("transform(boundaries, x -> cast(x as string))"), ",")
            .as("boundaries"),
          sf.array_join(sf.expr("transform(doc_ids, x -> cast(x as string))"), ",")
            .as("doc_ids"))
        .orderBy("seq_id")),

    // Randomization-health audit: per-covariate SMD between the q99
    // hash arms; |SMD| > 0.1 = broken assignment.
    "q205_ab_balance" -> ((s, dir) =>
      EventOps.abBalance(Tables.load(s, dir, "events"))),

    // Wald SPRT error-rate monitor: when did the stream first conclude
    // p=0.05 vs p=0.15 at alpha=0.05 / beta=0.2.
    "q206_sprt" -> ((s, dir) =>
      EventOps.sprtReadout(Tables.load(s, dir, "events"))),

    // Transition-model backtest: train next-event argmax on hash-train
    // users, top-1 accuracy on the held-out half.
    "q207_markov_backtest" -> ((s, dir) =>
      EventOps.markovBacktest(Tables.load(s, dir, "events"))),

    // C4 cleaning gate: the published line + page heuristics, with the
    // cleaned-page md5 so the transform itself is oracle-checked.
    "q208_c4_gate" -> ((s, dir) =>
      TextAnalysis.c4Gate(Tables.load(s, dir, "documents"), "doc_id", "text")),

    // Encoding-damage audit: replacement/control/mojibake/nbsp counts
    // per document — the broken-bytes DQ gate before any hashing.
    "q209_mojibake" -> ((s, dir) =>
      Cleaning.encodingAudit(Tables.load(s, dir, "documents"), "doc_id", "text")),

    // Interval union per user: every event spans [ts, ts+300s];
    // overlapping-or-touching spans coalesce into islands.
    "q210_interval_merge" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .filter(sf.col("user_id").isNotNull && sf.col("ts").isNotNull)
        .select(sf.col("user_id"),
          sf.unix_timestamp(sf.col("ts")).as("s"),
          (sf.unix_timestamp(sf.col("ts")) + 300L).as("e"))
      EventOps.mergeIntervals(ev, "user_id", "s", "e")
    }),

    // Per-type two-proportion z tests + Benjamini-Hochberg step-up:
    // the multiple-testing-honest metric sweep.
    "q211_fdr" -> ((s, dir) =>
      QualityChecks.fdrProportionTests(Tables.load(s, dir, "events"))),

    // Two-predictor OLS: price explained by quantity + discount,
    // closed-form normal equations over exact moment sums.
    "q212_ols" -> ((s, dir) =>
      QualityChecks.ols2(Tables.load(s, dir, "lineitem"),
        "l_extendedprice", "l_quantity", "l_discount")),

    // Temperature mixture: source quotas proportional to n^0.3 over a
    // 1M-token budget, capacity-capped.
    "q213_temperature_mix" -> ((s, dir) =>
      Sampling.temperatureMix(docs(s, dir), "source",
        gf.tokenCount(sf.col("text")), budget = 1000000L)),

    // PCA top component: power iteration on the exact integer
    // covariance; loadings + explained-variance share.
    "q214_pca" -> ((s, dir) =>
      Similarity.pcaTopComponent(emb(s, dir), "embedding", dims = 64)),

    // All-but-the-top: project out q214's component, report per-vector
    // energy before/after (map-only transform, dims-bounded literal).
    "q220_pc_removal" -> ((s, dir) =>
      Similarity.removeTopComponent(emb(s, dir), "vec_id", "embedding", dims = 64)),

    // Weighted shortest paths (Bellman-Ford, 3 rounds) from the
    // {part % 5 == 0} seed set; cost = 1e6 div co-occurrence count.
    "q215_sssp" -> ((s, dir) =>
      Graph.sssp(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", item => item % 5 === 0,
        minPairCount = 2, rounds = 3)),

    // Fellegi-Sunter linkage: three-field m/u evidence over
    // (nation, segment) blocks; positive-evidence pairs only.
    // Autocorrelation of the hourly per-type count series, lags 1..6:
    // exact integer mean-centered products over the gap-filled grid.
    "q218_acf" -> ((s, dir) =>
      EventOps.acf(Tables.load(s, dir, "events"))),

    // Token-label MI: top-50 tokens most informative of lang=en, from
    // exact presence/label 2x2 counts at df >= 5.
    "q219_token_mi" -> ((s, dir) =>
      CorpusStats.tokenLabelMI(docs(s, dir), "doc_id", "text",
        sf.col("lang") === "en")),

    // Interpolated Kneser-Ney bigram LM: train on the 90% hash split,
    // score the held-out 10% — continuation-probability smoothing.
    "q221_kn_lm" -> ((s, dir) =>
      TextAnalysis.knLmScore(docs(s, dir), "doc_id", "text")),

    // Community quality of the q164 LPA labeling: Newman modularity +
    // degree assortativity from exact integer sums, mined once.
    "q222_community_quality" -> ((s, dir) =>
      Graph.communityQuality(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 3, rounds = 3)),

    // JL random-projection distortion: realized 64->16 norm ratios per
    // vector — is the cheap representation safe for the ANN passes?
    "q224_jl_distortion" -> ((s, dir) =>
      Similarity.jlDistortion(emb(s, dir), "vec_id", "embedding",
        dims = 64, k = 16)),

    // Naive Bayes lang-from-text: train 90%, confusion matrix on the
    // held-out 10% — is the metadata label learnable from the text?
    "q225_naive_bayes" -> ((s, dir) =>
      CorpusStats.naiveBayesEval(docs(s, dir), "doc_id", "text", "lang")),

    // TextRank keywords: per-doc adjacency graphs ranked by 3 damped
    // integer PageRank rounds, every doc in parallel; top-3 tokens.
    "q226_textrank" -> ((s, dir) =>
      TextAnalysis.textRankKeywords(docs(s, dir), "doc_id", "text")),

    // Good-Turing frequency-of-frequencies: S(r), adjusted counts r*,
    // per-count GT mass, and the r=0 missing mass S(1)/N.
    "q227_good_turing" -> ((s, dir) =>
      CorpusStats.goodTuring(docs(s, dir), "doc_id", "text")),

    // CMH test: q99's A/B split vs value>=50 conversion, stratified by
    // event type — the Simpson's-paradox-proof pooled readout.
    "q228_cmh" -> ((s, dir) =>
      QualityChecks.cmhTest(Tables.load(s, dir, "events"), "event_type",
        Sampling.hashBucket(sf.col("user_id")) < 5000,
        sf.col("value") >= 50.0)),

    // JSON key/type profile of event props: the schema the schemaless
    // column actually has, with int->string drift visible per key.
    "q230_json_profile" -> ((s, dir) =>
      QualityChecks.jsonKeyProfile(Tables.load(s, dir, "events"), "props")),

    // CUPED: pre-period covariate adjustment of the q99 A/B lift —
    // adjusted lift + the rho^2 variance-reduction the covariate buys.
    "q231_cuped" -> ((s, dir) =>
      EventOps.cupedLift(Tables.load(s, dir, "events"),
        cutoff = "2024-01-16 00:00:00")),

    // Markov removal-effect attribution: counterfactual channel credit
    // from the journey chain — what q117/q195's heuristics approximate.
    "q232_markov_attribution" -> ((s, dir) =>
      EventOps.markovAttribution(Tables.load(s, dir, "events"))),

    // In-engine word embeddings: PPMI rows (the matrix SGNS implicitly
    // factorizes) compressed by md5-bit signed random projection.
    "q233_item_embeddings" -> ((s, dir) =>
      CorpusStats.itemEmbeddings(docs(s, dir), "text")),

    // Per-source entropy/perplexity/TTR: the q111 signals lifted to
    // where the mixture decision happens.
    "q235_source_entropy" -> ((s, dir) =>
      CorpusStats.sourceEntropy(docs(s, dir), "source", "text")),

    // Davies-Bouldin over the q32 IVF cells: which cluster pairs
    // overlap — is the cell structure real? (silhouette's cheap twin)
    "q236_davies_bouldin" -> ((s, dir) =>
      Similarity.daviesBouldin(emb(s, dir), "vec_id", "embedding", dims = 64)),

    // word2vec frequent-token subsampling: deterministic keep rule,
    // per-doc before/after token budget.
    "q237_subsample" -> ((s, dir) =>
      TextAnalysis.subsampleFrequent(docs(s, dir), "doc_id", "text")),

    // Hopkins clusterability: is there structure AT ALL before
    // trusting the IVF/SemDeDup cells? (uniform probes vs real sample)
    "q238_hopkins" -> ((s, dir) =>
      Similarity.hopkinsStatistic(emb(s, dir), "vec_id", "embedding",
        dims = 64, m = 50)),

    // EWMA over the gap-filled hourly series: exact 1e9/2^l integer
    // weights, availability-normalized at the window start.
    "q239_ewma" -> ((s, dir) =>
      EventOps.ewmaSeries(Tables.load(s, dir, "events"))),

    // Hill tail index of term frequencies: the MLE read of the heavy
    // tail beside q133's whole-vocabulary OLS fit.
    "q241_hill_tail" -> ((s, dir) =>
      CorpusStats.hillTailIndex(docs(s, dir), "text")),

    // Cliff's delta + AUC on q109's click-vs-view values: at scale
    // everything is "significant" — is the difference BIG?
    "q240_cliffs_delta" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      QualityChecks.cliffsDelta(
        ev.filter(sf.col("event_type") === "click"),
        ev.filter(sf.col("event_type") === "view"), "value")
    }),

    // V-measure: do the q164 communities recover part brands? The
    // external-label complement of q222's structure-only modularity.
    "q234_v_measure" -> ((s, dir) => {
      val labels = Graph.labelPropagation(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 3, rounds = 3)
      val classes = Tables.load(s, dir, "part")
        .select(sf.col("p_partkey").as("item"), sf.col("p_brand").as("cls"))
      Graph.clusterLabelAgreement(labels, classes)
    }),

    // Brier decomposition of the q120 classifier: miscalibrated or
    // just non-discriminating? (reliability vs resolution vs base rate)
    "q229_brier" -> ((s, dir) => {
      val scored = TextAnalysis.classifierScore(docs(s, dir), "doc_id", "text",
        weights = Similarity.lshPlanes(256, 1, seed = 7)(0), bias = -0.05)
      val conf = sf.lit(1.0) / (sf.lit(1.0) + sf.exp(-sf.col("score")))
      QualityChecks.brierDecomposition(
        scored.join(docs(s, dir).select(sf.col("doc_id"), sf.col("lang")), "doc_id")
          .select(conf.as("conf"), (sf.col("lang") === "en").cast("int").as("y")),
        "conf", "y", nBins = 10)
    }),

    // Contrastive negative sampling: 4 deterministic uniform draws per
    // anchor over the dense index space, same-label flagged.
    "q217_negative_samples" -> ((s, dir) =>
      Sampling.negativeSamples(emb(s, dir), "vec_id", "label", k = 4)),

    "q216_fellegi_sunter" -> ((s, dir) =>
      Dedup.fellegiSunter(Tables.load(s, dir, "customer"), "c_custkey",
        Seq("c_nationkey", "c_mktsegment"), Seq(
          Dedup.LinkField("name_sfx", "c_name",
            (a, b) => sf.substring(a, -3, 3) === sf.substring(b, -3, 3),
            m = 0.9, u = 0.01),
          Dedup.LinkField("acctbal", "c_acctbal",
            (a, b) => sf.abs(
              sf.floor(a.cast("double") * 100 + 0.5) -
                sf.floor(b.cast("double") * 100 + 0.5)) <= 10000,
            m = 0.9, u = 0.15),
          Dedup.LinkField("cent", "c_acctbal",
            (a, b) => sf.pmod(sf.floor(a.cast("double") * 100 + 0.5), sf.lit(10)) ===
              sf.pmod(sf.floor(b.cast("double") * 100 + 0.5), sf.lit(10)),
            m = 0.95, u = 0.1)))),

    // Host-level curation datasheet over synthesized URLs: eTLD+1
    // rollup with host counts + https share; malformed bucket = NULL
    // domain (renamed for cross-engine null-order parity).
    "q242_url_profile" -> ((s, dir) =>
      Cleaning.hostProfile(synthUrls(s, dir), "url")
        .select(sf.coalesce(sf.col("registered_domain"), sf.lit("__invalid__"))
          .as("registered_domain"),
          sf.col("n_urls"), sf.col("n_hosts"), sf.col("https_frac"))
        .orderBy(sf.col("n_urls").desc, sf.col("registered_domain"))),

    // URL-level exact dedup: normalization (case, default port, empty
    // path, fragment) collapses equivalent URLs, min doc survives.
    "q243_url_dedup" -> ((s, dir) =>
      Cleaning.urlDedup(synthUrls(s, dir), "doc_id", "url")),

    // McNemar paired test: did the seed-11 classifier actually beat
    // the q120 seed-7 one on the SAME docs? Only discordant pairs
    // carry evidence.
    "q244_mcnemar" -> ((s, dir) => {
      val d = docs(s, dir)
      val y = d.select(sf.col("doc_id"), (sf.col("lang") === "en").as("__y"))
      def correct(seed: Int, as: String) =
        TextAnalysis.classifierScore(d, "doc_id", "text",
          weights = Similarity.lshPlanes(256, 1, seed = seed)(0), bias = -0.05)
          .join(y, "doc_id")
          .select(sf.col("doc_id"),
            ((sf.col("score") > 0) === sf.col("__y")).as(as))
      QualityChecks.mcnemarTest(
        correct(7, "a_right").join(correct(11, "b_right"), "doc_id"),
        "a_right", "b_right")
    }),

    // Brown-Forsythe: do event types differ in VALUE SPREAD (not just
    // mean)? The variance-homogeneity check q139's ANOVA assumes.
    "q245_brown_forsythe" -> ((s, dir) =>
      QualityChecks.brownForsythe(Tables.load(s, dir, "events"),
        "event_type", "value")),

    // Wald-Wolfowitz runs test on the daily series: do above-/below-
    // median days clump (regime persistence) or alternate?
    "q246_runs_test" -> ((s, dir) =>
      EventOps.runsTest(Tables.load(s, dir, "events"))),

    // Chao1 richness + Good's coverage: how many vocabulary TYPES are
    // still unseen (beside Heaps' growth curve and GT's missing mass).
    "q247_chao1" -> ((s, dir) =>
      CorpusStats.chao1(docs(s, dir), "text")),

    // Burrows' Delta: style distance between sources over the top-50
    // corpus terms — same-generator detection that survives paraphrase.
    "q248_burrows_delta" -> ((s, dir) =>
      CorpusStats.burrowsDelta(docs(s, dir), "source", "text")),

    // Mann-Kendall: the monotone-trend TEST beside q203's Theil-Sen
    // slope estimate, tie-corrected z on the daily grid.
    "q249_mann_kendall" -> ((s, dir) =>
      EventOps.mannKendall(Tables.load(s, dir, "events"))),

    // Wasserstein-1 between click and view value distributions: drift
    // in value units — the area between CDFs (KS saturates, PSI bins).
    "q250_wasserstein" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      QualityChecks.wassersteinDistance(
        ev.filter(sf.col("event_type") === "click"),
        ev.filter(sf.col("event_type") === "view"), "value")
    }),

    // Cumulative gains / decile lift of the q120 classifier: how many
    // of the positives does the top-scored decile capture?
    "q251_gains" -> ((s, dir) => {
      val scored = TextAnalysis.classifierScore(docs(s, dir), "doc_id", "text",
        weights = Similarity.lshPlanes(256, 1, seed = 7)(0), bias = -0.05)
      QualityChecks.gainsChart(
        scored.join(docs(s, dir).select(sf.col("doc_id"), sf.col("lang")), "doc_id")
          .select(sf.col("score"), (sf.col("lang") === "en").cast("int").as("y")),
        "score", "y", nBuckets = 10)
    }),

    // Welch t + Cohen's d / Hedges' g between click and view values:
    // the mean-scale companion of q250's whole-distribution distance.
    "q252_welch_t" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      QualityChecks.welchTTest(
        ev.filter(sf.col("event_type") === "click"),
        ev.filter(sf.col("event_type") === "view"), "value")
    }),

    // Kruskal-Wallis: does value's distribution differ across ALL event
    // types at once — the k-group rank ANOVA beside q109's two-sample U.
    "q253_kruskal_wallis" -> ((s, dir) =>
      QualityChecks.kruskalWallis(Tables.load(s, dir, "events"),
        "event_type", "value")),

    // Jarque-Bera per event type: is value even roughly Gaussian —
    // the gate in front of every mean±SD readout and z threshold.
    "q254_jarque_bera" -> ((s, dir) =>
      QualityChecks.jarqueBera(Tables.load(s, dir, "events"),
        "event_type", "value")),

    // Cramér's V / phi / C / T over lang × source: the effect-size
    // readout of q107's chi-squared — how STRONG is the association.
    "q255_cramers_v" -> ((s, dir) =>
      QualityChecks.cramersV(docs(s, dir), "lang", "source")),

    // Degree assortativity of the part co-occurrence graph: do hubs
    // attach to hubs (r > 0) or to leaves (r < 0)?
    "q256_assortativity" -> ((s, dir) =>
      Graph.degreeAssortativity(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 2)),

    // Local clustering coefficient per node: the node-level
    // decomposition of q134's global coefficient.
    "q257_local_clustering" -> ((s, dir) =>
      Graph.localClustering(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 2)),

    // Adamic-Adar link prediction: the non-edges the graph is most
    // "missing", scored by rarity-weighted common neighbors.
    "q258_adamic_adar" -> ((s, dir) =>
      Graph.adamicAdar(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 2, topK = 100)),

    // Lexical richness per source: Yule's K / Simpson's D / Herdan's C
    // / TTR / hapax share — the size-robust diversity datasheet.
    "q259_lexical_richness" -> ((s, dir) =>
      TextAnalysis.lexicalRichness(docs(s, dir), "source", "text")),

    // Coleman-Liau + ARI per doc: character-based readability beside
    // q187's syllable-proxy Flesch-Kincaid; disagreement routes code.
    "q260_coleman_liau" -> ((s, dir) =>
      TextAnalysis.colemanLiau(docs(s, dir), "doc_id", "text")),

    // TV / Hellinger / Bhattacharyya between source token
    // distributions: the metric companions of q175's JSD.
    "q261_dist_distances" -> ((s, dir) =>
      CorpusStats.distributionDistances(docs(s, dir), "source", "text")),

    // Wilson 95% interval on the high-value share per event type: the
    // honest small-n / extreme-rate version of every DQ rate row.
    "q262_wilson" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      QualityChecks.wilsonInterval(
        ev.withColumn("success", sf.col("value") > 50),
        "event_type", "success")
    }),

    // Candidate-period periodogram (2..14 days) per event type: is
    // there a weekly cycle, and how much of the band energy owns it?
    "q263_periodogram" -> ((s, dir) =>
      EventOps.periodogram(Tables.load(s, dir, "events"))),

    // ANN recall@5 of the q32 IVF index vs the q25 brute-force ground
    // truth on the same queries: the index-quality gate.
    "q264_ann_recall" -> ((s, dir) =>
      Similarity.annRecall(Tables.load(s, dir, "embeddings"), "vec_id",
        "embedding", sf.col("vec_id") < 10, k = 5)),

    // Fleiss' kappa across three weak language raters (declared label,
    // detector on the full text, detector on the 100-char prefix):
    // trust-the-majority gate for multi-annotator labeling.
    "q265_fleiss_kappa" -> ((s, dir) => {
      val rated = docs(s, dir).select(sf.col("doc_id"),
        sf.col("lang").as("r1"),
        gf.langId(sf.col("text")).as("r2"),
        gf.langId(sf.substring(sf.col("text"), 1, 100)).as("r3"))
      QualityChecks.fleissKappa(rated, "doc_id", Seq("r1", "r2", "r3"))
    }),

    // HITS over the directed supplier -> part ownership graph: which
    // suppliers define the core catalog (hubs), which parts ARE the
    // core (authorities) — 2 coupled max-normalized fixed-point rounds.
    "q266_hits" -> ((s, dir) =>
      Graph.hitsBipartite(Tables.load(s, dir, "lineitem"),
        "l_suppkey", "l_partkey", iters = 2)),

    // Eigenvector centrality on the part co-occurrence graph: 3 bare
    // power-iteration rounds, max-normalized integer fixed point —
    // the undamped companion of q119's PageRank.
    "q267_eigencentrality" -> ((s, dir) =>
      Graph.eigenvectorCentrality(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 3, iters = 3)),

    // Ljung-Box portmanteau on the hourly per-type count series: is
    // the ACF (q218) collectively white noise? Composition, not a
    // second autocorrelation implementation.
    "q268_ljung_box" -> ((s, dir) =>
      EventOps.ljungBox(Tables.load(s, dir, "events"))),

    // Durbin-Watson lag-1 residual autocorrelation of the hourly
    // mean-value trend fit per event type.
    "q269_durbin_watson" -> ((s, dir) =>
      EventOps.durbinWatson(Tables.load(s, dir, "events"))),

    // Kendall tau-b between quantity and the 10k-USD price bucket on
    // lineitem — domain-compressed exact concordance counting.
    "q270_kendall_tau" -> ((s, dir) =>
      QualityChecks.kendallTau(
        Tables.load(s, dir, "lineitem")
          .select(sf.col("l_quantity").cast("long").as("qty"),
            sf.expr("CAST(floor(CAST(l_extendedprice AS DOUBLE) / 10000.0) AS BIGINT)")
              .as("price_bkt")),
        "qty", "price_bkt")),

    // Cochran's Q across three binary doc gates (has-@, has-http,
    // long-doc): are the k related detectors exchangeable?
    "q271_cochran_q" -> ((s, dir) =>
      QualityChecks.cochranQ(
        docs(s, dir).select(
          sf.col("text").contains("@").as("f_at"),
          sf.col("text").contains("http").as("f_http"),
          (sf.length(sf.col("text")) > 200).as("f_long")),
        Seq("f_at", "f_http", "f_long"))),

    // Friedman rank test: does order priority shift mean order value,
    // blocking on order month? Complete blocks, within-block avg ranks.
    "q272_friedman" -> ((s, dir) =>
      QualityChecks.friedman(
        Tables.load(s, dir, "orders")
          .withColumn("o_month", sf.date_format(sf.col("o_orderdate"), "yyyy-MM")),
        "o_month", "o_orderpriority", "o_totalprice")),

    // Linear-time MMD^2 between label-0 and label-1 embedding
    // distributions (RBF, gamma=1): embedding-level two-sample drift.
    "q273_mmd" -> ((s, dir) =>
      Similarity.mmdLinear(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", "label", "0", "1", gamma = 1.0)),

    // Seasonal-naive (lag-24) forecast backtest per event type:
    // MASE vs the in-sample naive walk + sMAPE on the hourly grid.
    "q274_forecast_backtest" -> ((s, dir) =>
      EventOps.forecastBacktest(Tables.load(s, dir, "events"))),

    // Strength of seasonality: 1 - Var(remainder)/Var(detrended) after
    // linear trend + period-24 seasonal means — is q121's baseline real?
    "q275_seasonal_strength" -> ((s, dir) =>
      EventOps.seasonalStrength(Tables.load(s, dir, "events"))),

    // Per-source zlib compressibility profile (Gopher-style gate):
    // mean deflate ratio + templated/noise tail shares. No SQL zlib
    // twin -> rows-only at the gate; the property spec pins behavior.
    "q276_compressibility" -> ((s, dir) =>
      TextAnalysis.compressibility(docs(s, dir), "text", "source")),

    // Capture-recapture corpus-size estimate from two overlapping
    // hash-defined "crawls" of the document population.
    "q277_capture_recapture" -> ((s, dir) => {
      val d = docs(s, dir)
      CorpusStats.captureRecapture(
        d.filter(sf.pmod(sf.col("doc_id"), sf.lit(10)) < 6),
        d.filter(sf.pmod(sf.col("doc_id"), sf.lit(10)) >= 4),
        "doc_id")
    }),

    // t-closeness over (lang, length-bucket) quasi classes with source
    // as the sensitive attribute: does any class's source distribution
    // drift more than TV 0.2 from the global one?
    "q278_t_closeness" -> ((s, dir) =>
      QualityChecks.tCloseness(
        docs(s, dir).withColumn("len_bkt",
          sf.expr("CAST(n_chars DIV 500 AS BIGINT)")),
        Seq("lang", "len_bkt"), sf.col("source"), t = 0.2)),

    // Phrase blocklist via one Aho-Corasick pass: multi-word phrases,
    // all (overlapping) match positions counted.
    "q279_phrase_blocklist" -> ((s, dir) =>
      TextAnalysis.blocklistPhrases(docs(s, dir), "doc_id", "text",
        phrases = Seq("a a", "fast key", "slow fast", "spark",
          "table table", "window data"))),

    // Log-rank test: do even- and odd-id user cohorts reach purchase
    // at the same hazard? Censoring-correct survival inference (the
    // q173 KM curves' significance companion).
    "q280_log_rank" -> ((s, dir) =>
      QualityChecks.logRank(
        EventOps.timeToEvent(Tables.load(s, dir, "events"))
          .withColumn("cohort", sf.pmod(sf.col("user_id"), sf.lit(2)).cast("string")),
        "duration_s", "observed", "cohort", "0", "1")),

    // Difference-in-differences: odd-id users "treated" at the q231
    // cutoff — the non-randomized lift estimator with unpooled SE.
    "q281_diff_in_diff" -> ((s, dir) =>
      EventOps.diffInDiff(Tables.load(s, dir, "events"),
        cutoff = "2024-01-16 00:00:00", treatPred = _ % 2 === 1)),

    // Count dispersion (Fano) + zero-inflation vs Poisson per event
    // type over the gap-filled hourly grid.
    "q282_dispersion" -> ((s, dir) =>
      EventOps.dispersionProfile(Tables.load(s, dir, "events"))),

    // Dunning G^2 collocations: evidence-weighted bigram association
    // (the sparse-count replacement for q74's raw PMI ranking).
    "q283_collocations" -> ((s, dir) =>
      CorpusStats.dunningCollocations(docs(s, dir), "text", minCount = 5)),

    // Nelson-Aalen cumulative hazard (+ Fleming-Harrington survival)
    // over the q173 time-to-purchase durations.
    "q284_nelson_aalen" -> ((s, dir) =>
      QualityChecks.nelsonAalen(
        EventOps.timeToEvent(Tables.load(s, dir, "events")),
        "duration_s", "observed")),

    // All-pairs Welch contrasts between order-priority mean values:
    // the "which groups differ" follow-up to the q139 omnibus.
    "q285_pairwise_contrasts" -> ((s, dir) =>
      QualityChecks.pairwiseContrasts(Tables.load(s, dir, "orders"),
        "o_orderpriority", "o_totalprice")),

    // Aalen-Johansen cumulative incidence: purchase vs error as
    // competing first outcomes per user (ties break to 'error',
    // alphabetical — deterministic).
    "q286_competing_risks" -> ((s, dir) => {
      val uts = sf.unix_timestamp(sf.col("ts"))
      val per = Tables.load(s, dir, "events")
        .filter(sf.col("user_id").isNotNull && sf.col("ts").isNotNull)
        .groupBy("user_id")
        .agg(sf.min(uts).as("t0"),
          sf.min(sf.when(sf.col("event_type") === "purchase", uts)).as("tp"),
          sf.min(sf.when(sf.col("event_type") === "error", uts)).as("te"),
          sf.max(uts).as("tl"))
        .select(
          (sf.coalesce(sf.least(sf.col("tp"), sf.col("te")), sf.col("tl")) -
            sf.col("t0")).as("duration"),
          sf.when(sf.least(sf.col("tp"), sf.col("te")).isNull,
              sf.lit(null).cast("string"))
            .when(sf.col("te").isNotNull &&
              (sf.col("tp").isNull || sf.col("te") <= sf.col("tp")), "error")
            .otherwise("purchase").as("cause"))
      QualityChecks.aalenJohansen(per, "duration", "cause",
        Seq("error", "purchase"))
    }),

    // Restricted mean survival time to 7 days: the area under q173's
    // KM curve — expected retained-seconds within the first week.
    "q287_rmst" -> ((s, dir) =>
      QualityChecks.rmst(
        EventOps.timeToEvent(Tables.load(s, dir, "events")),
        "duration_s", "observed", tau = 604800L)),

    // Cross-correlation: does the error rate lead or trail the
    // purchase rate, and by how many hours? Lags -6..6.
    "q288_ccf" -> ((s, dir) =>
      EventOps.ccf(Tables.load(s, dir, "events"), "error", "purchase")),

    // Hodges-Lehmann shift: how many characters longer are src1's
    // documents than src2's, typically? The SIZE beside q109's test.
    "q289_hodges_lehmann" -> ((s, dir) => {
      val d = docs(s, dir)
      QualityChecks.hodgesLehmann(
        d.filter(sf.col("source") === "src1"),
        d.filter(sf.col("source") === "src2"), "n_chars")
    }),

    // Spectral entropy of the q263 candidate band per type: one number
    // for rhythm concentration, with the dominant period.
    "q290_spectral_entropy" -> ((s, dir) =>
      EventOps.spectralEntropy(Tables.load(s, dir, "events"))),

    // Church-Gale term burstiness: which terms clump per document
    // (topic anchors / template artifacts) vs spread evenly?
    "q291_term_burstiness" -> ((s, dir) =>
      CorpusStats.termBurstiness(docs(s, dir), "doc_id", "text",
        minCount = 50)),

    // Theil decomposition of token mass: is concentration between
    // sources (mixture lever) or within them (length-cap lever)?
    "q292_theil" -> ((s, dir) =>
      CorpusStats.theilDecomposition(docs(s, dir), "text", "source")),

    // dim_Airport worked example (reference data source #4, the one
    // artifact with no graft twin until r10): an airport-codes
    // CSV-shaped frame staged deterministically from nation x region,
    // then the notebook's split/cast transform, an airfield-type
    // filter, and a scale-safe dense surrogate key.
    "q293_dim_airport" -> ((s, dir) => {
      val nat = Tables.load(s, dir, "nation")
      val reg = Tables.load(s, dir, "region")
      val key = sf.col("n_nationkey")
      val staged = nat.join(sf.broadcast(reg),
          sf.col("n_regionkey") === sf.col("r_regionkey"))
        .select(
          sf.concat(sf.lit("AP"),
            sf.lpad(key.cast("string"), 3, "0")).as("ident"),
          sf.when(key % 4 === 0, "heliport")
            .when(key % 4 === 1, "small_airport")
            .when(key % 4 === 2, "medium_airport")
            .otherwise("large_airport").as("type"),
          sf.concat(sf.col("n_name"), sf.lit(" INTL")).as("name"),
          (key * 37 % 900).cast("string").as("elevation_ft"),
          sf.col("r_name").as("continent"),
          sf.substring(sf.col("n_name"), 1, 2).as("iso_country"),
          sf.concat(sf.substring(sf.col("n_name"), 1, 2), sf.lit("-"),
            sf.lpad(sf.col("n_regionkey").cast("string"), 2, "0"))
            .as("iso_region"),
          sf.col("n_name").as("municipality"),
          sf.concat(sf.lit("G"), key.cast("string")).as("gps_code"),
          sf.lit(null).cast("string").as("iata_code"),
          sf.concat(sf.lit("L"), key.cast("string")).as("local_code"),
          sf.concat(key.cast("string"), sf.lit(".5, -"),
            sf.col("n_regionkey").cast("string"), sf.lit(".25"))
            .as("coordinates"))
      StarSchema.dimAirport(staged,
        keepTypes = Seq("small_airport", "medium_airport", "large_airport"))
    }),

    // Per-source Gini of per-doc token mass + a corpus '(all)' row:
    // how skewed each source's own length distribution is — the
    // within-source companion of q292's Theil decomposition.
    "q294_lorenz_gini" -> ((s, dir) =>
      CorpusStats.lorenzGini(docs(s, dir), "text", "source")),

    // Spiegelhalter's Z on the q120 classifier confidences: a
    // binning-free calibration verdict beside the descriptive ECE.
    "q295_spiegelhalter" -> ((s, dir) => {
      val scored = TextAnalysis.classifierScore(docs(s, dir), "doc_id", "text",
        weights = Similarity.lshPlanes(256, 1, seed = 7)(0), bias = -0.05)
      val conf = sf.lit(1.0) / (sf.lit(1.0) + sf.exp(-sf.col("score")))
      QualityChecks.spiegelhalterZ(
        scored.join(docs(s, dir).select(sf.col("doc_id"), sf.col("lang")), "doc_id")
          .select(conf.as("conf"), (sf.col("lang") === "en").cast("int").as("y")),
        "conf", "y")
    }),

    // Geo radius self-join over the q293 airport dim: all airfield
    // pairs within 6 planar degrees via grid-cell bucketing (pure IEEE
    // arithmetic — engine-exact; haversine is the spec-pinned library
    // expression for metric distances).
    "q296_airport_near" -> ((s, dir) =>
      Geo.withinRadiusPairs(
        queries("q293_dim_airport")(s, dir),
        "airport_key", "latitude", "longitude", radiusDeg = 6.0)),

    // ABC / Pareto classification of parts by lineitem revenue: exact
    // cent fixed-point, descending rank via globalPrefixSums, integer
    // class boundaries at 80/95%.
    "q297_abc_pareto" -> ((s, dir) =>
      StarSchema.abcClassification(Tables.load(s, dir, "lineitem"),
        "l_partkey", "l_extendedprice")),

    // Hill diversity profile per source: richness, exp(Shannon),
    // inverse Simpson — effective token-type counts on one scale.
    "q298_hill_diversity" -> ((s, dir) =>
      CorpusStats.hillDiversity(docs(s, dir), "text", "source")),

    // Time-bounded funnel: view -> click -> purchase within 24h of the
    // user's first view (anchored-greedy, deterministic contract).
    "q299_window_funnel" -> ((s, dir) =>
      EventOps.windowFunnel(Tables.load(s, dir, "events"),
        Seq("view", "click", "purchase"), windowS = 86400L)),

    // Directed association rules over order baskets: confidence /
    // lift / leverage / conviction per direction, top-100 by lift.
    "q300_association_rules" -> ((s, dir) =>
      Graph.associationRules(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 3, topK = 100)),

    // Rank-biased overlap of the top-100 revenue parts before vs
    // after mid-1998: top-weighted ranking agreement, p = 0.9.
    "q301_rbo" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      def ranked(pred: org.apache.spark.sql.Column) = {
        val fx = sf.floor(sf.col("l_extendedprice").cast("double") * 100 + 0.5)
          .cast("long")
        val per = li.filter(pred && sf.col("l_extendedprice").isNotNull &&
            sf.col("l_partkey").isNotNull)
          .groupBy(sf.col("l_partkey")).agg(sf.sum(fx).as("__rev"))
          .withColumn("__neg", -sf.col("__rev"))
        StarSchema.globalDenseIds(per, Seq("__neg", "l_partkey"), "rank")
      }
      CorpusStats.rankBiasedOverlap(
        ranked(sf.col("l_shipdate") < "1998-06-01"),
        ranked(sf.col("l_shipdate") >= "1998-06-01"),
        "l_partkey", "rank", k = 100, p = 0.9)
    }),

    // Jonckheere-Terpstra: does order value trend monotonically across
    // the ordered priority tiers 1-URGENT .. 5-LOW? Domain-compressed
    // exact pair counting on (tier, 1k-price-bucket) cells.
    "q302_jonckheere" -> ((s, dir) =>
      QualityChecks.jonckheereTerpstra(
        Tables.load(s, dir, "orders").select(
          sf.substring(sf.col("o_orderpriority"), 1, 1).cast("int").as("prio"),
          sf.floor(sf.col("o_totalprice").cast("double") / 1000).cast("long")
            .as("price_bkt")),
        "prio", "price_bkt")),

    // Lag-1 Granger: do errors Granger-cause purchases at the hourly
    // grain? Restricted vs unrestricted OLS from exact moment sums.
    "q303_granger" -> ((s, dir) =>
      EventOps.grangerLag1(Tables.load(s, dir, "events"),
        causeType = "error", effectType = "purchase")),

    // Self-BLEU bigram novelty per source: leave-one-out clipped
    // bigram precision — the mode-collapse watchdog for synthetic
    // corpora.
    "q304_self_bleu" -> ((s, dir) =>
      CorpusStats.selfBleuNovelty(docs(s, dir), "doc_id", "text", "source")),

    // Mood's median test: do market segments share one account-balance
    // median? Above/below the pooled exact median + G x 2 chi2.
    "q305_moods_median" -> ((s, dir) =>
      QualityChecks.moodsMedian(
        Tables.load(s, dir, "customer").select(sf.col("c_mktsegment"),
          sf.floor(sf.col("c_acctbal").cast("double")).cast("long").as("bal")),
        "c_mktsegment", "bal")),

    // Turning-point randomness screen per event type over the hourly
    // count grid: strict local extrema vs the 2(n-2)/3 i.i.d. mean.
    "q306_turning_points" -> ((s, dir) =>
      EventOps.turningPoints(Tables.load(s, dir, "events"))),

    // Conditional entropy of the event chain: how many nats the
    // current event type buys about the next one.
    "q307_conditional_entropy" -> ((s, dir) =>
      EventOps.conditionalEntropy(Tables.load(s, dir, "events"))),

    // Typed-PII audit over deterministically staged contact text
    // (emails / IPv4 / phone runs / Luhn-checked card numbers):
    // structural detectors, no regex dialects.
    "q308_pii_audit" -> ((s, dir) => {
      val k = sf.col("c_custkey")
      val staged = Tables.load(s, dir, "customer").select(
        sf.col("c_mktsegment").as("source"),
        sf.concat(
          sf.lit("reach "), sf.col("c_name"),
          sf.lit(" at user"), k.cast("string"),
          sf.lit("@mail.example.com on 10."),
          (k % 256).cast("string"), sf.lit("."),
          (k * 7 % 256).cast("string"), sf.lit("."),
          (k * 13 % 256).cast("string"),
          sf.lit(" phone "),
          sf.lpad((k * 7919 % 10000000000L).cast("string"), 10, "0"),
          sf.lit(" card "),
          sf.lpad((k * 1000003 % 10000000000000000L).cast("string"), 16, "0"))
          .as("text"))
      TextAnalysis.piiAudit(staged, "text", "source")
    }),

    // Ansari-Bradley: are click values more dispersed than view values
    // around a common center? The scale companion of q109's MWU.
    "q309_ansari_bradley" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      QualityChecks.ansariBradley(
        ev.filter(sf.col("event_type") === "click"),
        ev.filter(sf.col("event_type") === "view"), "value")
    }),

    // Hosmer-Lemeshow over the q120 reliability bins: the classical
    // goodness-of-fit verdict beside ECE (descriptive) and q295 (grid-
    // free).
    "q310_hosmer_lemeshow" -> ((s, dir) => {
      val scored = TextAnalysis.classifierScore(docs(s, dir), "doc_id", "text",
        weights = Similarity.lshPlanes(256, 1, seed = 7)(0), bias = -0.05)
      val conf = sf.lit(1.0) / (sf.lit(1.0) + sf.exp(-sf.col("score")))
      QualityChecks.hosmerLemeshow(
        scored.join(docs(s, dir).select(sf.col("doc_id"), sf.col("lang")), "doc_id")
          .select(conf.as("conf"), (sf.col("lang") === "en").cast("int").as("y")),
        "conf", "y", nBins = 10)
    }),

    // Language-ID confusion matrix vs the labeled lang column: where
    // is the q16 classifier wrong, per language, plus global accuracy.
    "q311_langid_confusion" -> ((s, dir) =>
      TextAnalysis.langIdConfusion(docs(s, dir), "doc_id", "text", "lang")),

    // Cramer-von Mises: the integral companion of q106's KS on the
    // same click-vs-view values — every ECDF gap accumulates.
    "q312_cvm" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      QualityChecks.cramerVonMises(
        ev.filter(sf.col("event_type") === "click"),
        ev.filter(sf.col("event_type") === "view"), "value")
    }),

    // Brunner-Munzel: the heteroscedastic-safe relative-effect test on
    // the q109 pair - P(click < view) with a Welch-Satterthwaite df.
    "q313_brunner_munzel" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      QualityChecks.brunnerMunzel(
        ev.filter(sf.col("event_type") === "click"),
        ev.filter(sf.col("event_type") === "view"), "value")
    }),

    // Ordinal-association datasheet on the q270 pair: gamma / Somers' D
    // both ways / tau-c beside tau-b — tie-inflation and asymmetry
    // readouts from the same concordance cells.
    "q314_ordinal_assoc" -> ((s, dir) =>
      QualityChecks.ordinalAssociation(
        Tables.load(s, dir, "lineitem")
          .select(sf.col("l_quantity").cast("long").as("qty"),
            sf.expr("CAST(floor(CAST(l_extendedprice AS DOUBLE) / 10000.0) AS BIGINT)")
              .as("price_bkt")),
        "qty", "price_bkt")),

    // D'Agostino-Pearson K2 per event type: the finite-sample normality
    // verdict beside q254's asymptotic JB, on the same moment sums.
    "q315_dagostino_k2" -> ((s, dir) =>
      QualityChecks.dagostinoK2(Tables.load(s, dir, "events"),
        "event_type", "value")),

    // Anderson-Darling A2akN on the q312 pair: the tail-weighted member
    // of the KS / CvM ECDF-distance family.
    "q316_anderson_darling" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      QualityChecks.andersonDarling(
        ev.filter(sf.col("event_type") === "click"),
        ev.filter(sf.col("event_type") === "view"), "value")
    }),

    // Krippendorff's alpha over the q265 rater trio WITH missingness:
    // the prefix rater abstains on short docs, which Fleiss would drop
    // entirely and alpha pairs correctly.
    "q317_krippendorff" -> ((s, dir) => {
      val rated = docs(s, dir).select(sf.col("doc_id"),
        sf.col("lang").as("r1"),
        gf.langId(sf.col("text")).as("r2"),
        sf.when(sf.length(sf.col("text")) >= 100,
          gf.langId(sf.substring(sf.col("text"), 1, 100))).as("r3"))
      QualityChecks.krippendorffAlpha(rated, "doc_id", Seq("r1", "r2", "r3"))
    }),

    // Two-proportion effect datasheet: do click events clear the value-
    // 50 bar more often than views — pooled z + RR (Katz CI) + OR
    // (Woolf CI) in one epidemiology-style row.
    "q318_two_proportion" -> ((s, dir) =>
      QualityChecks.twoProportionEffects(
        Tables.load(s, dir, "events")
          .filter(sf.col("event_type").isin("click", "view"))
          .select(sf.col("event_type").as("arm"),
            (sf.col("value").cast("double") > 50.0).as("success")),
        "arm", "success")),

    // Rich-club curve of the part co-occurrence graph: does the high-
    // degree core become a near-clique, and at which degree cut.
    "q319_rich_club" -> ((s, dir) =>
      Graph.richClub(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 2)),

    // Goh-Barabasi burstiness B and memory M per event type over exact
    // micro gaps: the (B, M) bot-vs-human fingerprint plane.
    "q320_burstiness" -> ((s, dir) =>
      EventOps.interEventBurstiness(Tables.load(s, dir, "events"))),

    // PACF lags 1-3 per event type via Durbin-Levinson over q218's
    // rounded ACF: which small AR order explains the count series.
    "q321_pacf" -> ((s, dir) =>
      EventOps.pacf(Tables.load(s, dir, "events"))),

    // ICC(1) of order totals clustered by customer: how much of the
    // price variance lives between customers (cluster-SE decision).
    "q322_icc" -> ((s, dir) =>
      QualityChecks.icc(Tables.load(s, dir, "orders"),
        "o_custkey", "o_totalprice")),

    // Lin's concordance between quantity and the 10k-price scale on
    // the same line items: agreement through the 45-degree line, with
    // the bias factor isolating the calibration gap Pearson ignores.
    "q323_lins_ccc" -> ((s, dir) =>
      QualityChecks.linsCcc(
        Tables.load(s, dir, "lineitem")
          .select(sf.col("l_quantity").cast("double").as("qty"),
            (sf.col("l_extendedprice").cast("double") / 10000.0).as("price10k")),
        "qty", "price10k")),

    // Quadratic-weighted kappa between the quantity grade and the
    // price grade: ordinal agreement where near-misses count less.
    "q324_weighted_kappa" -> ((s, dir) =>
      QualityChecks.weightedKappa(
        Tables.load(s, dir, "lineitem").select(
          sf.expr("least(CAST(l_quantity AS BIGINT) div 10, 4)").as("grade_a"),
          sf.expr("least(CAST(floor(CAST(l_extendedprice AS DOUBLE) / 15000.0) AS BIGINT), 4)")
            .as("grade_b")),
        "grade_a", "grade_b")),

    // Boilerplate-prefix detection: 2-token document prefixes covering
    // >= 5% of a source — the template fingerprint feeding a
    // prefix-strip / blocklist pass.
    "q325_boilerplate" -> ((s, dir) =>
      TextAnalysis.boilerplatePrefixes(docs(s, dir), "source", "text",
        nTokens = 2, phi = 0.05)),

    // Embedding anisotropy per label + pooled: EXACT mean pairwise
    // cosine via the mean-vector identity — one linear pass, no pair
    // join, the "run all-but-the-top first?" gate.
    "q326_anisotropy" -> ((s, dir) =>
      Similarity.anisotropy(emb(s, dir))),

    // RFM segmentation over purchase events: exact-rank quintile codes
    // via globalDenseIds (never a one-task NTILE), "555"-style segment.
    "q327_rfm" -> ((s, dir) =>
      EventOps.rfmSegments(Tables.load(s, dir, "events"))),

    // Katz centrality: truncated damped-path counting in exact integer
    // fixed point (beta 1e6, alpha = 1/8 dyadic) — the hub-dilution-
    // free, floor-massed sibling of q119/q267.
    "q328_katz" -> ((s, dir) =>
      Graph.katzCentrality(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 3, iters = 3)),

    // Categorical mixing: do co-occurrence edges stay within part
    // brands more than the margins predict (Newman's attribute
    // assortativity on the q256 graph, labeled from the part dim).
    "q329_brand_mixing" -> ((s, dir) =>
      Graph.attributeAssortativity(
        Graph.minedEdges(Tables.load(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minPairCount = 2),
        Tables.load(s, dir, "part"), "p_partkey", "p_brand")),

    // Bland-Altman limits on the q323 pair: the absolute-units
    // agreement readout beside Lin's concordance.
    "q330_bland_altman" -> ((s, dir) =>
      QualityChecks.blandAltman(
        Tables.load(s, dir, "lineitem")
          .select(sf.col("l_quantity").cast("double").as("qty"),
            (sf.col("l_extendedprice").cast("double") / 10000.0).as("price10k")),
        "qty", "price10k")),

    // Gwet's AC1 on the q182 rater pair: the prevalence-robust
    // agreement beside kappa — kappa << AC1 flags the kappa paradox.
    "q331_gwet_ac1" -> ((s, dir) =>
      QualityChecks.gwetAC1(
        TextAnalysis.langId(docs(s, dir), "doc_id", "text", Some("lang")),
        "predicted_lang", "label_lang")),

    // Breslow-Day on the q228 strata: is the pooled MH odds ratio even
    // a coherent object, or does the effect differ by stratum.
    "q332_breslow_day" -> ((s, dir) =>
      QualityChecks.breslowDay(Tables.load(s, dir, "events"), "event_type",
        Sampling.hashBucket(sf.col("user_id")) < 5000,
        sf.col("value") >= 50.0)),

    // Welch's heteroscedastic ANOVA on the q139 layout: the k-group
    // mean test that survives unequal variances.
    "q333_welch_anova" -> ((s, dir) =>
      QualityChecks.welchAnova(Tables.load(s, dir, "events"),
        "event_type", "value")),

    // Cronbach's alpha over three document size signals: is the
    // composite "document size" construct internally consistent.
    "q334_cronbach" -> ((s, dir) =>
      QualityChecks.cronbachAlpha(
        docs(s, dir).select(
          sf.length(sf.col("text")).cast("double").as("i_chars"),
          (gf.tokenCount(sf.col("text")) * 6).cast("double").as("i_tokens6"),
          sf.length(sf.regexp_replace(sf.col("text"), "\\s", ""))
            .cast("double").as("i_nonws")),
        Seq("i_chars", "i_tokens6", "i_nonws"))),

    // GPD tail fit per event type: PWM shape/scale over the p95
    // exceedances — HOW heavy is the value tail (xi >= 1 = no mean).
    "q335_gpd_tail" -> ((s, dir) =>
      QualityChecks.gpdTail(Tables.load(s, dir, "events"),
        "event_type", "value", tailQ = 0.95)),

    // Yuen trimmed-mean t on the q109 pair: the robust location test
    // in the column's units — outliers can't manufacture the shift.
    "q336_yuen_t" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      QualityChecks.yuenTTest(
        ev.filter(sf.col("event_type") === "click"),
        ev.filter(sf.col("event_type") === "view"), "value", trim = 0.2)
    }),

    // 3-truss of the part co-occurrence graph, 2 peel rounds: the
    // triangle-mesh skeleton behind the association-rule readouts.
    "q337_ktruss" -> ((s, dir) =>
      Graph.kTruss(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", k = 3, minPairCount = 2, rounds = 2)),

    // Exact two-sample energy distance on the q312 pair: the all-pairs
    // E-statistic collapsed to one prefix pass — never a pair join.
    "q338_energy_distance" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      QualityChecks.energyDistance(
        ev.filter(sf.col("event_type") === "click"),
        ev.filter(sf.col("event_type") === "view"), "value")
    }),

    // Component-size spectrum of the tighter (minPairCount=3) part
    // graph: hairball-or-families fragmentation datasheet.
    "q339_component_sizes" -> ((s, dir) =>
      Graph.componentSizes(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 3)),

    // Qini uplift-by-decile: does targeting by pre-treatment engagement
    // buy INCREMENTAL purchases, decile by decile.
    "q340_qini" -> ((s, dir) =>
      EventOps.qiniDeciles(Tables.load(s, dir, "events"))),

    // Kish ESS/deff under soft-dedup weights: how many independent
    // docs the weighted corpus is actually worth, per source.
    "q349_ess" -> ((s, dir) =>
      Dedup.effectiveSampleSize(docs(s, dir), "doc_id", "text", "source")),

    // The WHOLE curation funnel composed as one plan (normalize → PII
    // scrub → quality gate → exact + near dedup → decontaminate vs the
    // doc_id%10=0 held-out benchmark → q60's budgets → q78's split):
    // the number a user sizing a real pipeline wants next to the
    // standalone per-operator costs, which each pay their own funnel.
    "q350_curation_e2e" -> ((s, dir) => {
      val d = docs(s, dir)
      Pipeline.curationPlan(s,
        d.filter(sf.col("doc_id") % 10 =!= 0),
        d.filter(sf.col("doc_id") % 10 === 0),
        budgets = Map("src0" -> 400L, "src1" -> 10000000L, "src2" -> 0L),
        defaultBudget = 600L)
    }),

    // Classical additive decomposition: the per-bin trend/seasonal/
    // remainder panel behind q275's one-number strength.
    "q351_seasonal_decompose" -> ((s, dir) =>
      EventOps.seasonalDecompose(Tables.load(s, dir, "events"))),

    // Page's L: does event value CREEP across the day quarters,
    // blocking on user bucket — the ordered sibling of q272.
    "q352_page_trend" -> ((s, dir) =>
      QualityChecks.pageTrend(
        Tables.load(s, dir, "events")
          .withColumn("u_block", sf.col("user_id") % 20)
          .withColumn("quarter", sf.expr("hour(ts) div 6")),
        "u_block", "quarter", "value")),

    // Siegel repeated median: q203's trend with a 50% breakdown point
    // (inner median per grid point, outer median across points).
    "q353_siegel_trend" -> ((s, dir) =>
      EventOps.siegelTrend(Tables.load(s, dir, "events"))),

    // Boilerplate STRIP: q325's detected per-source template prefixes
    // removed from the flagged docs, everything else verbatim.
    "q354_strip_boilerplate" -> ((s, dir) =>
      TextAnalysis.stripBoilerplatePrefixes(docs(s, dir),
        "doc_id", "source", "text")),

    // Apriori itemsets <= 3 over order baskets: which parts ship
    // together in bundles, beyond q300's pair rules.
    "q355_frequent_itemsets" -> ((s, dir) =>
      Graph.frequentItemsets(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minSupport = 3)),

    // ARI: the pair-counting twin of q234's entropy view, same LPA
    // communities vs part brands.
    "q357_adjusted_rand" -> ((s, dir) => {
      val labels = Graph.labelPropagation(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 3, rounds = 3)
      val classes = Tables.load(s, dir, "part")
        .select(sf.col("p_partkey").as("item"), sf.col("p_brand").as("cls"))
      Graph.adjustedRandIndex(labels, classes)
    }),

    // Homoglyph-skeleton dedup: q343's staged spoof corpus, spoofed
    // copies collapse into their clean originals' groups.
    "q356_homoglyph_dedup" -> ((s, dir) => {
      val k = sf.col("c_custkey")
      val clean = sf.when(k % 3 === 0, "login to paypal portal")
        .when(k % 3 === 1, "microsoft account login")
        .otherwise("visa card support")
      val spoof = sf.when(k % 3 === 0, "login to pаypal portal")
        .when(k % 3 === 1, "microѕoft account login")
        .otherwise("vіsa card support")
      TextAnalysis.homoglyphSkeletonDedup(
        Tables.load(s, dir, "customer").select(k.as("doc_id"),
          sf.when(k % 7 === 0, spoof).otherwise(clean).as("text")),
        "doc_id", "text")
    }),

    // Cochran-Armitage: does the high-value share TREND across the
    // day quarters — 1 df on the ordered alternative.
    "q347_ca_trend" -> ((s, dir) =>
      QualityChecks.cochranArmitage(
        Tables.load(s, dir, "events")
          .select(sf.expr("hour(ts) div 6").as("quarter"),
            (sf.col("value") >= 50.0).as("hi")),
        "quarter", "hi")),

    // Conditional Poisson rates: does the hash-A arm throw 'error'
    // events at a different per-event intensity than arm B.
    "q348_rate_test" -> ((s, dir) =>
      QualityChecks.poissonRateTest(Tables.load(s, dir, "events"),
        Sampling.hashBucket(sf.col("user_id")) < 5000,
        sf.col("event_type") === "error")),

    // Disparity-filter backbone of the weighted part graph: keep each
    // node's locally-significant spokes, not just global hub edges.
    "q345_backbone" -> ((s, dir) =>
      Graph.disparityBackbone(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", alpha = 0.3, minPairCount = 2)),

    // Dedup savings per source: the token-mass budget readout of the
    // q33 cluster chain before anything is dropped.
    "q346_dedup_savings" -> ((s, dir) =>
      Dedup.dedupSavings(docs(s, dir), "doc_id", "text", "source",
        threshold = 0.9)),

    // Quade on the q272 layout: range-weighted blocked ranks — the
    // small-k power upgrade over Friedman.
    "q344_quade" -> ((s, dir) =>
      QualityChecks.quadeTest(
        Tables.load(s, dir, "orders")
          .withColumn("o_month", sf.date_format(sf.col("o_orderdate"), "yyyy-MM")),
        "o_month", "o_orderpriority", "o_totalprice")),

    // Script-mixing audit on deterministically poisoned contact text:
    // intra-word Latin/Cyrillic and Latin/Greek homoglyph detection.
    "q343_script_mixing" -> ((s, dir) => {
      val staged = Tables.load(s, dir, "customer").select(
        sf.concat(sf.lit("src"), (sf.col("c_custkey") % 4).cast("string"))
          .as("source"),
        sf.concat(sf.lit("login to "),
          sf.when(sf.col("c_custkey") % 7 === 0,
            sf.lit("pаypal portal")).otherwise(sf.lit("paypal portal")),
          sf.lit(" account "), sf.col("c_name"),
          sf.when(sf.col("c_custkey") % 11 === 0, sf.lit(" αlpha"))
            .otherwise(sf.lit(" alpha"))).as("text"))
      TextAnalysis.scriptMixing(staged, "source", "text")
    }),

    // MIPS top-k: inner-product retrieval where magnitude IS signal —
    // the exact oracle-of-record for the norm-augmented ANN path.
    "q342_mips" -> ((s, dir) =>
      Similarity.mipsTopK(s, emb(s, dir), "vec_id", "embedding",
        sf.col("vec_id") < 10, k = 5)),

    // Platt scaling trained IN-ENGINE: 4 domain-compressed Newton
    // steps calibrate the q73 classifier's raw scores; the NLL
    // before/after pair is the calibration gain.
    "q341_platt" -> ((s, dir) => {
      val scored = TextAnalysis.classifierScore(docs(s, dir), "doc_id", "text",
        weights = Similarity.lshPlanes(256, 1, seed = 7)(0), bias = -0.05)
      QualityChecks.plattScaling(
        scored.join(docs(s, dir).select(sf.col("doc_id"), sf.col("lang")), "doc_id")
          .select(sf.col("score"),
            (sf.col("lang") === "en").cast("int").as("y")),
        "score", "y", iters = 4)
    }),

    // Wilcoxon signed-rank: did THE SAME user's click value exceed
    // their view value — the paired rank test q109 can't run.
    "q358_signed_rank" -> ((s, dir) =>
      QualityChecks.wilcoxonSignedRank(Tables.load(s, dir, "events"),
        "user_id", "event_type", "value", "click", "view")),

    // Bartlett: do event-type value VARIANCES agree — the scale-axis
    // sibling of q139's location F.
    "q359_bartlett" -> ((s, dir) =>
      QualityChecks.bartlettTest(Tables.load(s, dir, "events"),
        "event_type", "value")),

    // Kuiper: purchase vs signup values, D+ + D- so opposite-signed
    // regional deviations add instead of cancel.
    "q360_kuiper" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      QualityChecks.kuiperTest(
        ev.filter(sf.col("event_type") === "purchase"),
        ev.filter(sf.col("event_type") === "signup"), "value")
    }),

    // Tukey HSD: WHICH event types differ after q139 says "some do"
    // — the full pairwise studentized-range panel on one shared MSE.
    "q361_tukey_hsd" -> ((s, dir) =>
      QualityChecks.tukeyHsd(Tables.load(s, dir, "events"),
        "event_type", "value")),

    // Grubbs: is each priority tier's single worst order price too
    // extreme for a normal sample of that size.
    "q362_grubbs" -> ((s, dir) =>
      QualityChecks.grubbsTest(Tables.load(s, dir, "orders"),
        "o_orderpriority", "o_totalprice")),

    // Hurst R/S: is hourly event traffic long-memory (H > 0.5 means
    // bursts cluster — capacity planning can't assume Poisson).
    "q363_hurst" -> ((s, dir) =>
      EventOps.hurstExponent(Tables.load(s, dir, "events"))),

    // Theil's U: how predictable is a document's language from its
    // source — the directional, normalized cousin of q107's chi2.
    "q364_uncertainty" -> ((s, dir) =>
      QualityChecks.uncertaintyCoefficient(docs(s, dir), "lang", "source")),

    // Markup strip: deterministically staged tags/entities removed at
    // scan speed — the first transform a web corpus passes through.
    "q367_strip_markup" -> ((s, dir) => {
      val d = docs(s, dir)
      val staged = d.select(sf.col("doc_id"), sf.concat(
        sf.when(sf.col("doc_id") % 3 === 0, sf.lit("<div class=\"a\">"))
          .otherwise(sf.lit("")),
        sf.lit("<p>"), sf.col("text"), sf.lit("</p>"),
        sf.when(sf.col("doc_id") % 5 === 0,
          sf.lit(" R&amp;D &lt;tag&gt;&nbsp;ok")).otherwise(sf.lit("")))
        .as("text"))
      TextAnalysis.stripMarkup(staged, "doc_id", "text")
    }),

    // CUSUM control chart: sequential drift detector with reset —
    // catches the small persistent rate shift q121/q130 can't.
    "q368_cusum_chart" -> ((s, dir) =>
      EventOps.cusumChart(Tables.load(s, dir, "events"))),

    // Holt linear smoothing: level AND trend states, one-step
    // forecast — the drifting-stream baseline EWMA lags forever on.
    "q369_holt" -> ((s, dir) =>
      EventOps.holtSmoothing(Tables.load(s, dir, "events"))),

    // Hoeffding's D: quantity vs price-bucket dependence of ANY shape
    // — the screening statistic rho/tau read 0 on when non-monotone.
    "q366_hoeffding" -> ((s, dir) =>
      QualityChecks.hoeffdingsD(
        Tables.load(s, dir, "lineitem")
          .withColumn("price_kb",
            sf.floor(sf.col("l_extendedprice") / 1000).cast("long")),
        "l_quantity", "price_kb")),

    // Two-regressor OLS: order price on item count AND total quantity
    // — the partialled-out answer q144's simple slopes can't give.
    "q365_ols2" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem").groupBy("l_orderkey")
        .agg(sf.count(sf.lit(1)).as("n_items"),
          sf.sum("l_quantity").as("sum_qty"))
      QualityChecks.linearRegression2(
        Tables.load(s, dir, "orders")
          .join(li, sf.col("o_orderkey") === sf.col("l_orderkey")),
        "o_totalprice", "n_items", "sum_qty")
    }),

    // Hard-word readability ladder: fog/SMOG count difficulty where
    // it concentrates; LIX/RIX need no syllable model at all.
    "q370_readability2" -> ((s, dir) =>
      TextAnalysis.readability2(docs(s, dir), "doc_id", "text")),

    // Link-prediction datasheet: CN/Jaccard/AA/RA/PA side by side on
    // the row-308 candidate semantics — one wedge pass, four scores.
    "q371_link_prediction" -> ((s, dir) =>
      Graph.linkPrediction(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 2, topK = 100,
        maxCenterDegree = 1000)),

    // Bounded-horizon closeness/harmonic centrality for a seed set:
    // which candidate sits closest to the rest of the graph.
    "q372_closeness" -> ((s, dir) =>
      Graph.closenessCentrality(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", item => item % 100 === 0,
        minPairCount = 2, rounds = 3)),

    // Permutation entropy: ordinal-pattern complexity — monotone-
    // invariant; separates regular series from unforecastable noise.
    "q373_perm_entropy" -> ((s, dir) =>
      EventOps.permutationEntropy(Tables.load(s, dir, "events"))),

    // Hjorth activity/mobility/complexity: the three-number
    // time-domain datasheet before any spectral sweep.
    "q374_hjorth" -> ((s, dir) =>
      EventOps.hjorthParameters(Tables.load(s, dir, "events"))),

    // AR(2) by Yule-Walker: the smallest honest autoregression +
    // the innovation-variance forecastability readout.
    "q375_ar2" -> ((s, dir) =>
      EventOps.ar2YuleWalker(Tables.load(s, dir, "events"))),

    // Lo-MacKinlay variance ratios at q=2/4/8: does hourly variance
    // aggregate like independent increments, or do shocks persist?
    "q376_variance_ratio" -> ((s, dir) =>
      EventOps.varianceRatio(Tables.load(s, dir, "events"))),

    // Fisher's exact test on the q318 2x2: the small-sample gate
    // where chi-squared/G asymptotics are invalid.
    "q377_fisher_exact" -> ((s, dir) =>
      QualityChecks.fisherExact(
        Tables.load(s, dir, "events")
          .filter(sf.col("event_type").isin("click", "view"))
          .select(sf.col("event_type").as("arm"),
            (sf.col("value").cast("double") > 50.0).as("success")),
        "arm", "success")),

    // G-test: the additive log-likelihood-ratio independence twin of
    // chi-squared — exactly 2n ln(2) x the q163 mutual information.
    "q378_g_test" -> ((s, dir) =>
      QualityChecks.gTest(docs(s, dir), "lang", "source")),

    // Goodman-Kruskal lambda: association in ERROR-REDUCTION units —
    // what a modal-class router actually gains from knowing x.
    "q379_gk_lambda" -> ((s, dir) =>
      QualityChecks.gkLambda(docs(s, dir), "lang", "source")),

    // Deterministic mode per part: the categorical "typical value"
    // with a pinned smallest-value tiebreak — the imputation default.
    "q381_mode_per_group" -> ((s, dir) =>
      StarSchema.modePerGroup(Tables.load(s, dir, "lineitem"),
        "l_partkey", "l_returnflag")),

    // Top-5 brands + "(other)": the bounded dashboard cut that always
    // sums to 100% regardless of dimension cardinality.
    "q382_topn_other" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val pt = Tables.load(s, dir, "part")
        .select(sf.col("p_partkey"), sf.col("p_brand"))
      StarSchema.topNPlusOther(
        li.join(pt, sf.col("l_partkey") === sf.col("p_partkey")),
        "p_brand", "l_extendedprice", n = 5)
    }),

    // Monthly revenue with MoM and YoY deltas: gap months report NULL
    // comparisons, never silent zeros.
    "q383_period_over_period" -> ((s, dir) =>
      StarSchema.periodOverPeriod(Tables.load(s, dir, "orders"),
        "o_orderdate", "o_totalprice")),

    // Time-decay attribution: recency-priced credit (halving per day
    // bin) between last-touch and linear — exact 2^-d integer weights.
    "q384_time_decay_attribution" -> ((s, dir) =>
      EventOps.attributionTimeDecay(Tables.load(s, dir, "events"))),

    // Damerau-Levenshtein join: adjacent-swap typos ("teh"/"the") are
    // distance 1 here, 2 under q149's plain Levenshtein.
    "q385_dl_join" -> ((s, dir) =>
      Dedup.dlDistanceJoin(docs(s, dir), "doc_id",
        sf.substring(sf.lower(sf.trim(sf.col("text"))), 1, 16), maxDist = 1)),

    // Semi-additive month-end balances: last value per account carried
    // through silent months, summed across accounts per month.
    "q386_monthly_balance" -> ((s, dir) =>
      EventOps.monthlyBalances(Tables.load(s, dir, "events"))),

    // Candidate-key mining on orders: every column and pair scored by
    // exact distinct-vs-rows uniqueness.
    "q387_candidate_keys" -> ((s, dir) =>
      QualityChecks.candidateKeys(Tables.load(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))),

    // Generalized ESD: remove-and-retest outlier rounds where a
    // single Grubbs pass is masked by its own second outlier.
    "q388_gesd" -> ((s, dir) =>
      QualityChecks.gesdOutliers(Tables.load(s, dir, "orders"),
        "o_orderpriority", "o_totalprice", rounds = 3)),

    // Inter-arrival exponential fit + exact one-sample KS: how
    // Poisson is each event stream, and where the model breaks.
    "q389_interarrival_fit" -> ((s, dir) =>
      EventOps.interarrivalExpFit(Tables.load(s, dir, "events"))),

    // Linear CKA of the full 64-dim embedding vs its 16/32-dim
    // prefixes: the whole-geometry Matryoshka truncation readout.
    "q390_cka" -> ((s, dir) =>
      Similarity.linearCka(emb(s, dir), "embedding", dims = 64,
        prefixes = Seq(16, 32))),

    // Moran's I on airport elevation over the q296 neighbor graph:
    // is elevation spatially clustered, in one exact number.
    "q391_morans_i" -> ((s, dir) =>
      Geo.moransI(queries("q293_dim_airport")(s, dir),
        "airport_key", "latitude", "longitude", "elevation_ft",
        radiusDeg = 6.0)),

    // Bowker symmetry on week1-vs-week2 user value tiers: do tiers
    // migrate in a DIRECTION, not just disagree.
    "q392_bowker" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .filter(sf.col("value").isNotNull && sf.col("user_id").isNotNull &&
          sf.col("ts").isNotNull)
      val split = sf.lit("2024-01-08 00:00:00").cast("timestamp")
      def tier(df: DataFrame, as: String) = df
        .groupBy("user_id")
        .agg(sf.floor(
          sf.sum(sf.floor(sf.col("value").cast("double") * 1e4 + 0.5)
            .cast("long")).cast("double") /
            sf.count(sf.lit(1)).cast("double") + 0.5).cast("long").as("__m4"))
        .select(sf.col("user_id"),
          sf.least(sf.lit(3L), sf.expr("__m4 div 250000")).as(as))
      QualityChecks.bowkerSymmetry(
        tier(ev.filter(sf.col("ts") < split), "tier_w1")
          .join(tier(ev.filter(sf.col("ts") >= split), "tier_w2"), "user_id"),
        "tier_w1", "tier_w2")
    }),

    // Kendall's W: do the months agree on the priority ranking —
    // the consensus number beside q272's "not identical".
    "q393_kendall_w" -> ((s, dir) =>
      QualityChecks.kendallW(
        Tables.load(s, dir, "orders")
          .withColumn("o_month", sf.date_format(sf.col("o_orderdate"), "yyyy-MM")),
        "o_month", "o_orderpriority", "o_totalprice")),

    // Unicode hygiene per source on a staged corpus: Zalgo combining
    // marks, zero-width channels, raw controls, bytes/char.
    "q394_unicode_audit" -> ((s, dir) => {
      val d = docs(s, dir)
      val staged = d.select(sf.col("source"),
        sf.when(sf.col("doc_id") % 7 === 0,
            sf.concat(sf.col("text"), sf.lit("a\u0301\u200Bb")))
          .when(sf.col("doc_id") % 13 === 0,
            sf.concat(sf.col("text"), sf.lit("\u0001x")))
          .otherwise(sf.col("text")).as("text"))
      TextAnalysis.unicodeAudit(staged, "source", "text")
    }),

    // Markdown/code structure router on a staged corpus: which
    // documents should skip the prose-tuned quality gates.
    "q395_markdown_profile" -> ((s, dir) => {
      val d = docs(s, dir)
      val md = "# Title\n- item one\n```\ncode {x;}\n```\n[l](u)\n"
      val staged = d.select(sf.col("doc_id"),
        sf.when(sf.col("doc_id") % 5 === 0,
            sf.concat(sf.lit(md), sf.col("text")))
          .otherwise(sf.col("text")).as("text"))
      TextAnalysis.markdownProfile(staged, "doc_id", "text")
    }),

    // Runs up-and-down: monotone-structure randomness check the
    // above/below-mean runs test (q246) is blind to.
    "q396_runs_updown" -> ((s, dir) =>
      EventOps.runsUpDown(Tables.load(s, dir, "events"))),

    // Neyman allocation: how an eval/labeling budget should split
    // across sources — variance-optimal vs proportional, side by side.
    "q398_neyman" -> ((s, dir) =>
      Sampling.neymanAllocation(docs(s, dir), "source", "n_chars",
        budget = 1000L)),

    // Log-log elasticity: a 1% price move shifts quantity by epsilon%
    // per return flag — unit-free where linear slopes aren't.
    "q399_elasticity" -> ((s, dir) =>
      QualityChecks.logLogElasticity(Tables.load(s, dir, "lineitem"),
        "l_returnflag", "l_quantity", "l_extendedprice")),

    // Gumbel block maxima: the hourly peak a week/month will reach
    // once — the EVT return level an SLO is actually set from.
    "q400_gumbel" -> ((s, dir) =>
      EventOps.gumbelBlockMaxima(Tables.load(s, dir, "events"))),

    // Session engagement rollup: bounce rate, events/session,
    // duration, sessions/user — the first page of product analytics.
    "q401_session_stats" -> ((s, dir) =>
      EventOps.sessionStats(Tables.load(s, dir, "events"))),

    // Sampled-seed eccentricity: worst-case hop distance per seed +
    // the diameter lower bound, exact within the horizon.
    "q402_eccentricity" -> ((s, dir) =>
      Graph.eccentricity(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", item => item % 100 === 0,
        minPairCount = 2, rounds = 3)),

    // Cook's distance per bin: which observations the trend slope
    // actually rests on — outage spikes get priced, not trusted.
    "q403_regression_influence" -> ((s, dir) =>
      EventOps.regressionInfluence(Tables.load(s, dir, "events"))),

    // Breusch-Pagan: does residual variance drift with time —
    // the constant-sigma assumption behind every band, tested.
    "q404_breusch_pagan" -> ((s, dir) =>
      EventOps.breuschPagan(Tables.load(s, dir, "events"))),

    // Seasonal Mann-Kendall: secular trend with the diurnal cycle
    // removed by comparing only within hour-of-day strata.
    "q405_seasonal_mk" -> ((s, dir) =>
      EventOps.seasonalMannKendall(Tables.load(s, dir, "events"))),

    // Laspeyres/Paasche/Fisher: did PRICES move holding the basket
    // fixed — the number revenue deltas can't isolate.
    "q406_price_indices" -> ((s, dir) =>
      StarSchema.priceIndices(Tables.load(s, dir, "lineitem"),
        "l_partkey", "l_shipdate", "l_quantity", "l_extendedprice")),

    // Negative-binomial fit + zero-inflation cross-check: the model
    // step after q282's overdispersion verdict.
    "q407_negbin" -> ((s, dir) =>
      EventOps.negativeBinomialFit(Tables.load(s, dir, "events"))),

    // CvM uniformity audit of the library's own hash splitter over
    // the real key population — the standing proof q78/q99 rest on.
    "q408_hash_uniformity" -> ((s, dir) =>
      QualityChecks.hashUniformityCvm(Tables.load(s, dir, "events"),
        "user_id")),

    // Simpson's paradox census over the q228 strata: does pooling
    // reverse the per-stratum association direction.
    "q409_simpsons" -> ((s, dir) =>
      QualityChecks.simpsonsParadox(Tables.load(s, dir, "events"),
        "event_type", Sampling.hashBucket(sf.col("user_id")) < 5000,
        sf.col("value") >= 50.0)),

    // Fixed-threshold classification panel incl. MCC — the report
    // for the ONE threshold production actually runs at.
    "q410_classification_panel" -> ((s, dir) => {
      val scored = TextAnalysis.classifierScore(docs(s, dir), "doc_id", "text",
        weights = Similarity.lshPlanes(256, 1, seed = 7)(0), bias = -0.05)
      QualityChecks.classificationPanel(
        scored.join(docs(s, dir).select(sf.col("doc_id"), sf.col("lang")), "doc_id")
          .select(sf.col("score"), (sf.col("lang") === "en").cast("int").as("y")),
        "score", "y", threshold = 0.0)
    }),

    // ANOVA effect sizes: how MUCH variance the q139 F explains —
    // eta^2, bias-corrected omega^2, Cohen's f^2.
    "q411_anova_effects" -> ((s, dir) =>
      QualityChecks.anovaEffects(Tables.load(s, dir, "events"),
        "event_type", "value")),

    // Five-number-plus summary: exact quartiles, IQR, trimean,
    // midhinge per priority — the box plot as a table.
    "q412_five_number" -> ((s, dir) =>
      QualityChecks.fiveNumber(Tables.load(s, dir, "orders"),
        "o_orderpriority", "o_totalprice")),

    // Load concentration: peak-to-average, busiest-decile share, and
    // hourly Gini — provision for mean x PAR, not the mean.
    "q413_load_concentration" -> ((s, dir) =>
      EventOps.loadConcentration(Tables.load(s, dir, "events"))),

    // Weekly (dow, hour) heatmap table: the 168 cells every on-call
    // rotation and maintenance window is drawn from.
    "q414_weekly_heat" -> ((s, dir) =>
      EventOps.weeklyHeatProfile(Tables.load(s, dir, "events"))),

    // Churn + resurrection rollup at a 7-day gap: the lifecycle
    // numbers a retention review opens with.
    "q415_churn_stats" -> ((s, dir) =>
      EventOps.churnStats(Tables.load(s, dir, "events"))),

    // Shouting audit on a staged corpus: ALL-CAPS share, punctuation
    // bursts, ellipsis density — the engagement-bait register.
    "q416_shouting" -> ((s, dir) => {
      val d = docs(s, dir)
      val staged = d.select(sf.col("source"),
        sf.when(sf.col("doc_id") % 4 === 0,
            sf.concat(sf.col("text"), sf.lit(" BREAKING NEWS!!! really... wow")))
          .otherwise(sf.col("text")).as("text"))
      TextAnalysis.shoutingAudit(staged, "source", "text")
    }),

    // Daily order backlog: open-minus-closed level series — the
    // work-in-progress integral per-day counts can't give.
    "q417_backlog" -> ((s, dir) =>
      StarSchema.dailyBacklog(Tables.load(s, dir, "orders"),
        Tables.load(s, dir, "lineitem"))),

    // Weighted PageRank: endorsement split by co-occurrence strength
    // — a freak one-basket pairing no longer equals a core bundle.
    "q418_weighted_pagerank" -> ((s, dir) =>
      Graph.pageRankWeighted(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 3, iters = 3)),

    // Label-margin audit: which anchors' nearest neighbors wear the
    // wrong label — the actionable list behind q159's accuracy.
    "q419_label_margin" -> ((s, dir) =>
      Similarity.labelMargin(emb(s, dir), "vec_id", "embedding", "label",
        sf.col("vec_id") < 30)),

    // Sample-size calculator from the observed baseline: how many
    // users per arm a 10% relative lift needs at 0.05/0.8.
    "q420_sample_size" -> ((s, dir) =>
      EventOps.sampleSizeCalculator(Tables.load(s, dir, "events"), "user_id",
        sf.col("event_type") === "purchase" && sf.col("value") >= 90.0)),

    // Duplicate-transaction audit: same customer, same cents, same
    // day — the double-payment screen whole-row dedup misses.
    "q421_dup_transactions" -> ((s, dir) =>
      QualityChecks.duplicateTransactions(Tables.load(s, dir, "orders"),
        "o_custkey", "o_orderdate", "o_totalprice", "o_orderkey")),

    // Paired t + Cohen's d_z on per-user click-vs-view means: the
    // parametric twin of q358's signed rank.
    "q422_paired_t" -> ((s, dir) =>
      QualityChecks.pairedTTest(Tables.load(s, dir, "events"),
        "user_id", "event_type", "value", "click", "view")),

    // Weekly growth accounting: actives = new + retained +
    // resurrected, with churned and the quick ratio — the ledger a
    // bare WAU curve hides.
    "q424_growth_accounting" -> ((s, dir) =>
      EventOps.growthAccounting(Tables.load(s, dir, "events"))),

    // Token case collisions on a staged corpus: fold or keep? The
    // casing-policy table before BPE training commits.
    "q425_case_collisions" -> ((s, dir) => {
      val d = docs(s, dir)
      val staged = d.select(
        sf.when(sf.col("doc_id") % 3 === 0,
            sf.concat(sf.lit("Apple APPLE apple Banana banana "), sf.col("text")))
          .otherwise(sf.col("text")).as("text"))
      TextAnalysis.caseCollisions(staged, "text", topK = 100)
    }),

    // Price assortativity of the co-occurrence graph: do expensive
    // parts co-occur with expensive parts.
    "q426_price_assortativity" -> ((s, dir) =>
      Graph.numericAssortativity(
        Graph.minedEdges(Tables.load(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minPairCount = 3),
        Tables.load(s, dir, "part"), "p_partkey", "p_retailprice")),

    // Supplier concentration per part: HHI, top share, single-source
    // flag — the procurement risk screen.
    "q427_supplier_hhi" -> ((s, dir) =>
      StarSchema.supplierConcentration(Tables.load(s, dir, "lineitem"))),

    // Audience overlap between event types: Jaccard + both
    // conditional reaches — the cross-promotion set algebra.
    "q428_audience_overlap" -> ((s, dir) =>
      EventOps.audienceOverlap(Tables.load(s, dir, "events"))),

    // Cohort LTV curve: cumulative purchase revenue per cohort member
    // by week age — the payback readout beside the q85 retention.
    "q429_cohort_ltv" -> ((s, dir) =>
      EventOps.cohortLtv(Tables.load(s, dir, "events"))),

    // Price-volume bridge per brand: the FP&A revenue-change
    // waterfall — price, volume, cross effects in currency.
    "q430_price_volume" -> ((s, dir) =>
      StarSchema.priceVolumeBridge(
        Tables.load(s, dir, "lineitem")
          .join(Tables.load(s, dir, "part"),
            sf.col("l_partkey") === sf.col("p_partkey")),
        "p_brand", "l_shipdate", "l_quantity", "l_extendedprice")),

    // Shewhart I-MR chart + Western Electric rules per event type:
    // exact integer zone tests over the daily gap-filled grid.
    "q431_shewhart" -> ((s, dir) =>
      EventOps.shewhartChart(Tables.load(s, dir, "events"))),

    // Exact sign test on the q422 pairing: the distribution-free
    // floor of the paired ladder, exact binomial tails.
    "q432_sign_test" -> ((s, dir) =>
      QualityChecks.signTestExact(Tables.load(s, dir, "events"),
        "user_id", "event_type", "value", "click", "view")),

    // Sample entropy per event type: amplitude-aware regularity
    // beside q426's ordinal permutation entropy.
    "q433_sampen" -> ((s, dir) =>
      EventOps.sampleEntropy(Tables.load(s, dir, "events"))),

    // HBOS multivariate outlier screen on orders (price x order day):
    // deterministic histogram-density scores, exact integer top-k.
    "q434_hbos" -> ((s, dir) =>
      QualityChecks.hbosOutliers(
        Tables.load(s, dir, "orders")
          .filter(sf.col("o_orderdate").isNotNull)
          .withColumn("o_day",
            sf.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
              " div 86400000000").cast("double")),
        "o_orderkey", Seq("o_totalprice", "o_day"))),

    // GBDT-histogram best-split scan: which lineitem column explains
    // price, and where the threshold sits — exact integer arg-max.
    "q435_best_split" -> ((s, dir) =>
      QualityChecks.bestSplits(Tables.load(s, dir, "lineitem"),
        "l_extendedprice", Seq("l_quantity", "l_discount"))),

    // Two-way ICC(2,1)/(3,1) on the user x event-type mean-value
    // table: rater-variance-aware reliability beside q373's ICC(1).
    "q436_icc2" -> ((s, dir) =>
      QualityChecks.iccTwoWay(Tables.load(s, dir, "events"),
        "user_id", "event_type", "value")),

    // Syntetos-Boylan demand quadrants per event type: ADI x CV2
    // routing (smooth/intermittent/erratic/lumpy) for the forecast
    // ladder — classification decided by exact integers.
    "q437_demand_pattern" -> ((s, dir) =>
      EventOps.demandProfile(Tables.load(s, dir, "events"))),

    // LSH parameter planner: expected recall of every (rows, bands)
    // split of a 128-bit sketch over the OBSERVED >= 0.9 near-dup pair
    // set (the q97 design threshold; this corpus is adversarially
    // self-similar — ~8% of ALL pairs exceed j=0.9 — so lower
    // thresholds approach all-pairs volume by construction).
    "q438_lsh_planner" -> ((s, dir) =>
      Dedup.lshPlanner(
        Dedup.prefixJaccardPairs(docs(s, dir), "doc_id", "text",
          threshold = 0.9), "jaccard")),

    // Deming (orthogonal) regression of view on click per-user means:
    // the method-comparison line beside q330's Bland-Altman limits.
    "q439_deming" -> ((s, dir) => {
      val per = Tables.load(s, dir, "events")
        .filter(sf.col("user_id").isNotNull && sf.col("value").isNotNull &&
          sf.col("event_type").isin("click", "view"))
        .groupBy("user_id", "event_type")
        .agg((sf.sum(sf.floor(sf.col("value").cast("double") * 1e4 + 0.5)
            .cast("long")).cast("double") /
          sf.count(sf.lit(1)).cast("double") / 1e4).as("m"))
      QualityChecks.demingRegression(
        per.filter(sf.col("event_type") === "click")
          .select(sf.col("user_id").as("u"), sf.col("m").as("x"))
          .join(per.filter(sf.col("event_type") === "view")
            .select(sf.col("user_id").as("u2"), sf.col("m").as("y")),
            sf.col("u") === sf.col("u2")),
        "x", "y")
    }),

    // Exact Bayesian A/B on the q377 cells: P(view beats click) under
    // Beta(1,1) priors — the closed-form finite sum, no approximation.
    "q440_bayes_ab" -> ((s, dir) =>
      QualityChecks.bayesianAB(
        Tables.load(s, dir, "events")
          .filter(sf.col("event_type").isin("click", "view"))
          .select(sf.col("event_type").as("arm"),
            (sf.col("value").cast("double") > 50.0).as("success")),
        "arm", "success")),

    // Dialog/instruction-format census on a staged corpus: which docs
    // carry chat / Q&A / Alpaca structure — the SFT-lane router.
    "q441_format_census" -> ((s, dir) => {
      val d = docs(s, dir)
      val staged = d.select(sf.col("source"),
        sf.when(sf.col("doc_id") % 11 === 0,
            sf.concat(sf.lit("User: hi\nAssistant: hello\n"), sf.col("text")))
          .when(sf.col("doc_id") % 13 === 0,
            sf.concat(sf.lit("Q: why\nA: because\n"), sf.col("text")))
          .when(sf.col("doc_id") % 17 === 0,
            sf.concat(sf.lit("### Instruction\ndo it\n### Response\ndone\n"),
              sf.col("text")))
          .otherwise(sf.col("text")).as("text"))
      TextAnalysis.formatCensus(staged, "source", "text")
    }),

    // Bounded-horizon absorption: P(reach purchase within 16 events)
    // per state — the multi-hop closeness the one-hop matrix hides.
    "q442_absorption" -> ((s, dir) =>
      EventOps.absorptionProbability(Tables.load(s, dir, "events"))),

    // Holt-Winters additive: level + trend + the 24-hour shape in one
    // steady-state convolution, truncation mass priced in-row.
    "q443_holt_winters" -> ((s, dir) =>
      EventOps.holtWintersSmoothing(Tables.load(s, dir, "events"))),

    // Empirical-Bayes shrinkage of per-supplier return rates: small
    // samples pulled to the corpus prior — honest rate ranking.
    "q444_eb_shrinkage" -> ((s, dir) =>
      QualityChecks.ebShrinkage(
        Tables.load(s, dir, "lineitem")
          .select(sf.col("l_suppkey"),
            (sf.col("l_returnflag") === "R").as("returned")),
        "l_suppkey", "returned")),

    // Fact-to-header reconciliation: recomputed order totals vs the
    // header, exact integer drift ranking — the books must add up.
    "q445_order_recon" -> ((s, dir) =>
      QualityChecks.orderReconciliation(
        Tables.load(s, dir, "lineitem"), Tables.load(s, dir, "orders"))),

    // Activity-streak spectrum (gaps-and-islands): run lengths of
    // consecutive active days — the habit metric DAU curves blur.
    "q446_streaks" -> ((s, dir) =>
      EventOps.activityStreaks(Tables.load(s, dir, "events"))),

    // Attack tolerance: how the co-occurrence giant component shrinks
    // as top-degree hubs are removed — the scale-free fragility curve.
    "q447_attack_tolerance" -> ((s, dir) =>
      Graph.attackTolerance(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 3)),

    // Mixture-interleave schedule: the deterministic global training
    // order realizing equal source shares in every prefix.
    "q448_interleave" -> ((s, dir) =>
      Sampling.mixtureInterleave(docs(s, dir), "source", "doc_id",
        (0 until 20).map(i => s"src$i" -> 0.05))),

    // Chi-squared cell diagnostics on the q107 table: WHICH (lang,
    // source) combinations drive the dependence, zero cells included.
    "q449_chi_cells" -> ((s, dir) =>
      QualityChecks.chiSquaredCells(docs(s, dir), "lang", "source")),

    // Decile-shift table: where the order-value distribution moved
    // between the halves — drift LOCALIZED, not just scored.
    "q450_decile_shift" -> ((s, dir) =>
      QualityChecks.decileShift(Tables.load(s, dir, "orders"),
        "o_orderdate", "o_totalprice")),

    // Page-Hinkley drift detector per event type: the running-mean
    // sibling of q421's fixed-target CUSUM.
    "q451_page_hinkley" -> ((s, dir) =>
      EventOps.pageHinkley(Tables.load(s, dir, "events"))),

    // Per-dimension Fisher discriminant ratio: which embedding
    // components actually separate the labels — the probe screen.
    "q452_fisher_ratio" -> ((s, dir) =>
      Similarity.fisherRatio(Tables.load(s, dir, "embeddings"),
        "label", "embedding")),

    // Interrupted time-series excess per event type: pre-trend
    // projection as the counterfactual, cumulative excess over it.
    "q453_its_excess" -> ((s, dir) =>
      EventOps.itsExcess(Tables.load(s, dir, "events"))),

    // Order-to-ship lag profile: week-bucketed lags with negative
    // buckets flagged — impossible history the FK audit walks past.
    "q454_ship_lag" -> ((s, dir) =>
      QualityChecks.orderShipLag(
        Tables.load(s, dir, "lineitem"), Tables.load(s, dir, "orders"))),

    // Shapley channel attribution: the unique efficiency/symmetry/
    // dummy allocation, exact over the 2^k channel-set domain.
    "q455_shapley" -> ((s, dir) =>
      EventOps.shapleyAttribution(Tables.load(s, dir, "events"))),

    // Run-length stereotypy per event type: which action is being
    // hammered in runs — the diagonal structure the matrix hides.
    "q456_run_lengths" -> ((s, dir) =>
      EventOps.runLengthProfile(Tables.load(s, dir, "events"))),

    // Basket brand-diversity by size: replenishment vs browse
    // composition — per-order entropy, exact snapped terms.
    "q457_basket_diversity" -> ((s, dir) =>
      StarSchema.basketDiversity(
        Tables.load(s, dir, "lineitem")
          .join(Tables.load(s, dir, "part"),
            sf.col("l_partkey") === sf.col("p_partkey")))),

    // Popularity-baseline recommender eval: the floor every
    // personalized model must clear, hash-split train/test.
    "q458_pop_hit_rate" -> ((s, dir) =>
      Recsys.popularityHitRate(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey")),

    // Co-purchase item-item eval: top-k train neighbor lists scored
    // on held-out baskets — the first number that can beat q458.
    "q459_copurchase_hit" -> ((s, dir) =>
      Recsys.coPurchaseHitRate(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey")),

    // Tenure hazard curve: discrete-time churn hazard from the
    // activity log with final-week right-censoring.
    "q460_tenure_hazard" -> ((s, dir) =>
      EventOps.tenureHazard(Tables.load(s, dir, "events"))),

    // Boilerplate line census on a staged corpus: the top offender
    // table a human reviews before the line-dedup pass deletes them.
    "q461_boilerplate_lines" -> ((s, dir) => {
      val d = docs(s, dir)
      val staged = d.select(sf.col("doc_id"), sf.col("source"),
        sf.when(sf.col("doc_id") % 9 === 0,
            sf.concat(sf.col("text"),
              sf.lit("\nAll rights reserved worldwide.")))
          .when(sf.col("doc_id") % 6 === 0,
            sf.concat(sf.col("text"),
              sf.lit("\nSubscribe to our newsletter today!")))
          .otherwise(sf.col("text")).as("text"))
      TextAnalysis.boilerplateLines(staged, "doc_id", "source", "text")
    }),

    // Transition latency: how FAST each (from, to) edge fires — the
    // timing dimension the transition matrix drops.
    "q462_transition_latency" -> ((s, dir) =>
      EventOps.transitionLatency(Tables.load(s, dir, "events"))),

    // Spend-segment migration matrix between the halves: whales that
    // stayed, slid, or churned — absent is an explicit state.
    "q463_segment_migration" -> ((s, dir) =>
      StarSchema.segmentMigration(Tables.load(s, dir, "orders"))),

    // Item-item cosine table: "customers also bought", ranking decided
    // by exact integer cross-multiplication.
    "q464_item_similarity" -> ((s, dir) =>
      Recsys.itemSimilarity(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", k = 5, minPairCount = 3)),

    // New-vs-repeat revenue per month: the acquisition-vs-retention
    // dollars ledger behind the topline.
    "q465_repeat_revenue" -> ((s, dir) =>
      StarSchema.repeatRevenueSplit(Tables.load(s, dir, "orders"))),

    // Mean pairwise inner-product matrix, pair-free via sum vectors:
    // exact within/between label separation with no n^2 anywhere.
    "q466_mean_dot" -> ((s, dir) =>
      Similarity.meanDotMatrix(Tables.load(s, dir, "embeddings"),
        "label", "embedding")),

    // Activity-concentration Gini per event type: broad habit or
    // three whales — exact rank-sum identity, range-shuffle ranks.
    "q467_activity_gini" -> ((s, dir) =>
      EventOps.activityGini(Tables.load(s, dir, "events"))),

    // Conversion rate by touch depth: the breadth-incrementality
    // table behind the q455 Shapley allocation.
    "q468_touch_depth" -> ((s, dir) =>
      EventOps.touchDepthConversion(Tables.load(s, dir, "events"))),

    // sBG retention projection over activity-streak lifetimes: the
    // Fader-Hardie heterogeneity fit, least-squares over all ratios.
    "q469_sbg_retention" -> ((s, dir) => {
      val ud = Tables.load(s, dir, "events")
        .filter(sf.col("user_id").isNotNull && sf.col("ts").isNotNull)
        .select(sf.col("user_id").as("__u"),
          sf.expr("unix_micros(ts) div 86400000000").as("__d"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("__u").orderBy("__d")
      val streaks = ud.withColumn("__rn", sf.row_number().over(w))
        .groupBy(sf.col("__u"), (sf.col("__d") - sf.col("__rn")).as("__isl"))
        .agg((sf.count(sf.lit(1)) - 1).as("duration"))
      EventOps.sbgRetention(streaks.select("duration"), "duration")
    }),

    // Basket-size histogram vs the zero-truncated Poisson share: the
    // dispersion question asked of baskets instead of time bins.
    "q470_basket_fit" -> ((s, dir) =>
      StarSchema.basketSizeFit(Tables.load(s, dir, "lineitem"))),

    // IVF-PQ (IVFADC): coarse cells + PQ residual codes + ADC
    // shortlist + exact re-rank — the memory-bounded billion-scale
    // ANN layout; corpus state past encode is ints, not floats.
    "q471_ivfpq_topk" -> ((s, dir) =>
      Similarity.ivfPqTopK(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", sf.col("vec_id") < 10, k = 5)),

    // FULLY-REAL image decode path: synthesized binary-PGM payloads
    // (formula pixels) parsed by the real byte-level decoder and
    // box-resized 24x16 -> 6x4 with exact integer block means; the
    // oracle recomputes every resized pixel from the formula alone —
    // it never sees the bytes, so a hash match proves the decoder.
    "q472_pgm_resize" -> ((s, dir) => {
      val media = Tables.load(s, dir, "documents")
        .select(sf.col("doc_id"),
          gf.pgmSynth(sf.col("doc_id"), sf.lit(24), sf.lit(16)).as("payload"))
      Multimodal.pgmResize(media, "doc_id", targetW = 6, targetH = 4)
    }),

    // FULLY-REAL audio decode path: synthesized WAV-PCM16 payloads
    // (formula samples) decoded by the real RIFF/sample parser into
    // exact integer peak/sum-of-squares stats; oracle from formula.
    "q473_wav_stats" -> ((s, dir) => {
      val media = Tables.load(s, dir, "documents")
        .select(sf.col("doc_id"),
          gf.wavSynth(sf.col("doc_id"), sf.lit(480), sf.lit(8000)).as("payload"))
      Multimodal.wavStats(media, "doc_id")
    }),

    // KMV k-minimum-values sketch: distinct / Jaccard / intersection
    // ESTIMATES per event-type pair from one min-k pass, certified
    // against the exact answers computed beside them.
    "q474_kmv_overlap" -> ((s, dir) =>
      Sketch.kmvSetOverlap(Tables.load(s, dir, "events"),
        "event_type", "user_id", k = 64)),

    // Concurrency profile + Little's-law certification: time-weighted
    // open-session stats from the exact event-time sweep.
    "q475_concurrency" -> ((s, dir) =>
      EventOps.concurrencyProfile(Tables.load(s, dir, "events"))),

    // Bradley-Terry strengths from within-order brand quantity duels
    // (8 MM rounds in 1e-9 fixed point over the bounded brand domain).
    "q476_bradley_terry" -> ((s, dir) =>
      Recsys.bradleyTerry(
        Tables.load(s, dir, "lineitem").join(Tables.load(s, dir, "part"),
          sf.col("l_partkey") === sf.col("p_partkey")),
        "l_orderkey", "p_brand", "l_quantity")),

    // Sampled-source depth-bounded Brandes betweenness over the mined
    // co-occurrence graph: the broker/bridge centrality the prestige
    // family (PageRank/eigen/Katz/HITS) cannot see.
    "q477_betweenness" -> ((s, dir) =>
      Graph.betweenness(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey")),

    // Dialog STRUCTURE profile: turns, alternation violations and
    // role balance per source over staged chat prefixes — the SFT
    // curation stats beyond q441's format detection.
    "q478_dialog_profile" -> ((s, dir) => {
      val d = docs(s, dir)
      val staged = d.select(sf.col("source"),
        sf.when(sf.col("doc_id") % 7 === 0,
            sf.concat(sf.lit("User: hi\nAssistant: hello\nUser: more\nUser: again\n"),
              sf.col("text")))
          .when(sf.col("doc_id") % 11 === 0,
            sf.concat(sf.lit("User: q\nAssistant: a\n"), sf.col("text")))
          .otherwise(sf.col("text")).as("text"))
      TextAnalysis.dialogProfile(staged, "source", "text")
    }),

    // Erlang-C staffing table from the log's own offered load
    // (lambda x W from the q475 sweep): P(wait) per agent count.
    "q479_erlang_staffing" -> ((s, dir) =>
      EventOps.erlangStaffing(Tables.load(s, dir, "events"))),

    // Newsvendor critical-fractile stocking per brand from the exact
    // daily-demand distribution (cu=4, co=1 -> fractile 0.8).
    "q480_newsvendor" -> ((s, dir) =>
      StarSchema.newsvendorStock(
        Tables.load(s, dir, "lineitem").join(Tables.load(s, dir, "part"),
          sf.col("l_partkey") === sf.col("p_partkey")),
        "p_brand", "l_shipdate", "l_quantity")),

    // Bass diffusion fit on weekly first-seen adopters: innovation vs
    // imitation coefficients, implied market size and peak week.
    "q481_bass_adoption" -> ((s, dir) =>
      EventOps.bassDiffusion(Tables.load(s, dir, "events"))),

    // Chain-ladder development projection: order-month cohorts, ship
    // ages, volume-weighted factors -> ultimate + in-flight reserve.
    "q482_chain_ladder" -> ((s, dir) =>
      StarSchema.chainLadder(
        Tables.load(s, dir, "orders").join(Tables.load(s, dir, "lineitem"),
          sf.col("o_orderkey") === sf.col("l_orderkey")),
        "o_orderdate", "l_shipdate", "l_extendedprice")),

    // LMDI revenue driver decomposition between the halves of the
    // time range: customers x orders/customer x revenue/order with
    // exactly-additive contributions.
    "q483_kpi_lmdi" -> ((s, dir) =>
      StarSchema.kpiLmdi(Tables.load(s, dir, "orders"),
        "o_orderdate", "o_custkey", "o_totalprice")),

    // Croston/SBA intermittent-demand forecast per part from the
    // nonzero daily-demand points.
    "q484_croston" -> ((s, dir) =>
      StarSchema.crostonForecast(Tables.load(s, dir, "lineitem"),
        "l_partkey", "l_shipdate", "l_quantity")),

    // Price-volume-mix revenue bridge per brand between halves: the
    // CFO waterfall with an exact three-way identity.
    "q485_price_volume_mix" -> ((s, dir) =>
      StarSchema.priceVolumeMix(
        Tables.load(s, dir, "lineitem").join(Tables.load(s, dir, "part"),
          sf.col("l_partkey") === sf.col("p_partkey")),
        "p_brand", "l_shipdate", "l_quantity", "l_extendedprice")),

    // Theta-method one-step forecast per type (SES + half-drift, the
    // Hyndman-Billah equivalent form) on the dense hourly grid.
    "q486_theta_forecast" -> ((s, dir) =>
      EventOps.thetaForecast(Tables.load(s, dir, "events"))),

    // Off-policy replay (IPS): the greedy per-context policy's value
    // from logged data with exact empirical propensities.
    "q487_ips_offpolicy" -> ((s, dir) =>
      EventOps.ipsOffPolicy(Tables.load(s, dir, "events"),
        sf.pmod(sf.col("user_id"), sf.lit(4)))),

    // Forecast-bias tracking signal vs the naive lag-1 baseline.
    "q488_tracking_signal" -> ((s, dir) =>
      EventOps.trackingSignal(Tables.load(s, dir, "events"))),

    // 2-D skyline: parts no other part beats on BOTH price and size
    // (minimize both) — the Pareto-front database operator.
    "q489_skyline" -> ((s, dir) =>
      StarSchema.skyline2D(Tables.load(s, dir, "part"),
        "p_retailprice", "p_size")
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_partkey")),

    // Weibull median-rank regression on order->last-ship lead days:
    // shape (failure regime), scale (63.2% life), B10.
    "q490_weibull" -> ((s, dir) => {
      val opens = Tables.load(s, dir, "orders")
        .filter(sf.col("o_orderdate").isNotNull)
        .select(sf.col("o_orderkey"), sf.expr(
          "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("__o"))
      val closes = Tables.load(s, dir, "lineitem")
        .filter(sf.col("l_shipdate").isNotNull)
        .groupBy("l_orderkey")
        .agg(sf.max(sf.expr(
          "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000")).as("__c"))
      StarSchema.weibullFit(
        opens.join(closes, sf.col("o_orderkey") === sf.col("l_orderkey"))
          .select(sf.col("o_orderkey"),
            (sf.col("__c") - sf.col("__o")).cast("double").as("lead_days")),
        "o_orderkey", "lead_days")
    }),

    // ABC-XYZ planning matrix: revenue Pareto x demand variability —
    // the 9-cell grid that routes parts to forecast/stock policies.
    "q491_abc_xyz" -> ((s, dir) =>
      StarSchema.abcXyzMatrix(Tables.load(s, dir, "lineitem"),
        "l_partkey", "l_shipdate", "l_quantity", "l_extendedprice")),

    // Image near-dup at scale: REAL PGM decode -> 8x8 thumbnail ->
    // wraparound dHash -> pigeonhole Hamming banding (the q52
    // machinery on image signatures). Every doc gets a mixing-formula
    // image; docs with doc_id % 10 == 0 also plant a one-resize-block
    // perturbed copy (id + 10^9), within Hamming 2 by construction —
    // the output enumerates the planted near-identical pairs with no
    // cartesian anywhere.
    "q492_image_neardup" -> ((s, dir) => {
      val ids = Tables.load(s, dir, "documents").select("doc_id")
      val base = ids.select(sf.col("doc_id").as("img_id"),
        gf.pgmSynthMix(sf.col("doc_id"), sf.lit(24), sf.lit(16),
          sf.lit(false)).as("payload"))
      val planted = ids.filter(sf.col("doc_id") % 10 === 0)
        .select((sf.col("doc_id") + sf.lit(1000000000L)).as("img_id"),
          gf.pgmSynthMix(sf.col("doc_id"), sf.lit(24), sf.lit(16),
            sf.lit(true)).as("payload"))
      Multimodal.imageNearDup(base.unionAll(planted), "img_id", maxHamming = 3)
    }),

    // Audio near-dup: REAL WAV-PCM decode -> 60-frame loudness
    // envelope -> wraparound gradient hash -> the same pigeonhole
    // Hamming banding as q492. Docs with doc_id % 10 == 0 plant a
    // one-frame perturbed copy (id + 10^9), within Hamming 2 by
    // construction.
    "q493_audio_neardup" -> ((s, dir) => {
      val ids = Tables.load(s, dir, "documents").select("doc_id")
      val base = ids.select(sf.col("doc_id").as("clip_id"),
        gf.wavSynthMix(sf.col("doc_id"), sf.lit(480), sf.lit(8000),
          sf.lit(false)).as("payload"))
      val planted = ids.filter(sf.col("doc_id") % 10 === 0)
        .select((sf.col("doc_id") + sf.lit(1000000000L)).as("clip_id"),
          gf.wavSynthMix(sf.col("doc_id"), sf.lit(480), sf.lit(8000),
            sf.lit(true)).as("payload"))
      Multimodal.audioNearDup(base.unionAll(planted), "clip_id", maxHamming = 3)
    }),

    // EOQ / reorder-point / safety-stock policy per part: the (Q, R)
    // continuous-review table from exact daily-demand moments over
    // the full calendar horizon (K=100, h=2.5/unit-yr, L=7d, z=95%).
    "q494_eoq_policy" -> ((s, dir) =>
      StarSchema.eoqPolicy(Tables.load(s, dir, "lineitem"),
        "l_partkey", "l_shipdate", "l_quantity",
        orderingCost = 100.0, holdingCostPerYear = 2.5, leadTimeDays = 7)),

    // Pairwise transfer entropy between event-type activity series:
    // directed information flow on the shared hourly grid, in nats.
    "q495_transfer_entropy" -> ((s, dir) =>
      EventOps.transferEntropy(Tables.load(s, dir, "events"))),

    // Bullwhip ratio per brand: CV^2 of weekly order-dated quantity
    // over CV^2 of weekly ship-dated quantity on the shared dense
    // week horizon — demand-variability amplification upstream.
    "q496_bullwhip" -> ((s, dir) => {
      val pt = Tables.load(s, dir, "part")
        .select(sf.col("p_partkey"), sf.col("p_brand"))
      StarSchema.bullwhip(
        Tables.load(s, dir, "lineitem")
          .join(sf.broadcast(pt), sf.col("l_partkey") === sf.col("p_partkey")),
        Tables.load(s, dir, "orders"), "p_brand")
    }),

    // Quantity-weighted fill rate per order priority: share shipped
    // within 7 days of order date, late share, mean lateness.
    "q497_fill_rate" -> ((s, dir) =>
      StarSchema.fillRate(Tables.load(s, dir, "lineitem"),
        Tables.load(s, dir, "orders"), "o_orderpriority", leadDays = 7)),

    // Lag-1 Granger screening matrix over ALL ordered type pairs:
    // closed-form 2-predictor OLS from exact moments, restricted-vs-
    // unrestricted F — brackets q303's single-pair test and q495's
    // nonparametric transfer entropy.
    "q498_granger_matrix" -> ((s, dir) =>
      EventOps.grangerMatrix(Tables.load(s, dir, "events"))),

    // Matryoshka truncation ablation: recall@5 of prefix-dim cosine
    // top-k against the full-dimension ground truth, per dim — the
    // storage/recall curve that prices embedding truncation.
    "q499_matryoshka" -> ((s, dir) =>
      Similarity.matryoshkaRecall(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", sf.col("vec_id") < 10, k = 5,
        dims = Seq(8, 16, 32, 64))),

    // Fulfillment lead time per priority: the q412 robust summary
    // composed over order->last-ship day gaps — SLA percentiles.
    "q423_lead_time" -> ((s, dir) => {
      val opens = Tables.load(s, dir, "orders")
        .filter(sf.col("o_orderdate").isNotNull)
        .select(sf.col("o_orderkey"), sf.col("o_orderpriority"),
          sf.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
            .as("__o"))
      val closes = Tables.load(s, dir, "lineitem")
        .filter(sf.col("l_shipdate").isNotNull)
        .groupBy("l_orderkey")
        .agg(sf.max(sf.expr(
          "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000"))
          .as("__c"))
      QualityChecks.fiveNumber(
        opens.join(closes, sf.col("o_orderkey") === sf.col("l_orderkey"))
          .select(sf.col("o_orderpriority"),
            (sf.col("__c") - sf.col("__o")).cast("double").as("lead_days")),
        "o_orderpriority", "lead_days")
    }),

    // Partial correlation: does order value still track item count
    // once total quantity is held fixed — the confounder screen.
    "q397_partial_corr" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem").groupBy("l_orderkey")
        .agg(sf.count(sf.lit(1)).as("n_items"),
          sf.sum("l_quantity").as("sum_qty"))
      QualityChecks.partialCorrelation(
        Tables.load(s, dir, "orders")
          .join(li, sf.col("o_orderkey") === sf.col("l_orderkey")),
        "o_totalprice", "n_items", "sum_qty")
    }),

    // Fowlkes-Mallows + variation of information on the q357
    // labeling-vs-brand panel: pairwise precision/recall + a true
    // partition metric beside ARI and V-measure.
    "q380_clustering_agreement" -> ((s, dir) => {
      val labels = Graph.labelPropagation(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 3, rounds = 3)
      val classes = Tables.load(s, dir, "part")
        .select(sf.col("p_partkey").as("item"), sf.col("p_brand").as("cls"))
      Graph.clusteringAgreement(labels, classes)
    }),
  )

  // ---------------------------------------------------------------------
  // DuckDB oracles — one per query; every operator is hash-checked.
  // Approximate-index internals (LSH hyperplanes, IVF codebook) are
  // deterministic literals mirrored verbatim into the SQL.
  // ---------------------------------------------------------------------
  /** Shared PCA oracle chain (q214/q220): the corpus moment pass, the
    * exact HUGEINT covariance, the truncating quantization, and
    * `iters` unrolled power-iteration rounds, ending at v{iters}.
    * MATERIALIZED CTEs: plain CTEs inline the round chain
    * exponentially in DuckDB. */
  /** Shared LPA oracle chain (q164/q222): the q164 co-occurrence
    * mining (minPairCount=3 on lineitem) + 3 unrolled synchronous
    * majority-vote rounds, ending at l3 (item, lbl) with the mined
    * directed edge list still visible as `e`. */
  private val lpaOracleChain: String =
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
      |p AS (SELECT x.item AS a, y.item AS bb FROM b x JOIN b y
      |      ON x.basket = y.basket AND x.item < y.item),
      |e0 AS (SELECT a, bb FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |e AS (SELECT a AS src, bb AS dst FROM e0 UNION ALL SELECT bb, a FROM e0),
      |l0 AS (SELECT DISTINCT src AS item, src AS lbl FROM e),
      |v1 AS (SELECT e.src, l.lbl, COUNT(*) AS c FROM e JOIN l0 l ON e.dst = l.item GROUP BY 1, 2),
      |l1 AS (SELECT src AS item, lbl FROM (SELECT src, lbl,
      |       row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn FROM v1) WHERE rn = 1),
      |v2 AS (SELECT e.src, l.lbl, COUNT(*) AS c FROM e JOIN l1 l ON e.dst = l.item GROUP BY 1, 2),
      |l2 AS (SELECT src AS item, lbl FROM (SELECT src, lbl,
      |       row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn FROM v2) WHERE rn = 1),
      |v3 AS (SELECT e.src, l.lbl, COUNT(*) AS c FROM e JOIN l2 l ON e.dst = l.item GROUP BY 1, 2),
      |l3 AS (SELECT src AS item, lbl FROM (SELECT src, lbl,
      |       row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn FROM v3) WHERE rn = 1)""".stripMargin

  private def pcaOracleChain(iters: Int): String = {
    val head =
      """WITH base AS (SELECT embedding AS emb FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |e AS MATERIALIZED (SELECT CASE WHEN len(list_filter(emb,
        |    x -> isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)))) > 0 THEN NULL
        |  ELSE [CAST(floor(CAST(emb[i] AS DOUBLE)*1000000.0 + 0.5) AS BIGINT)
        |        FOR i IN range(1, 65)] END AS e6 FROM base),
        |cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
        |        CAST(COUNT(e6) AS BIGINT) AS n FROM e),
        |pp AS (SELECT unnest(flatten([[{'i': i, 'j': j, 'p': e6[i]*e6[j]}
        |    FOR j IN range(i, 65)] FOR i IN range(1, 65)])) AS s
        |  FROM e WHERE e6 IS NOT NULL),
        |sij AS (SELECT s.i AS i, s.j AS j, CAST(SUM(s.p) AS HUGEINT) AS sp
        |  FROM pp GROUP BY 1, 2),
        |fm AS (SELECT unnest([{'i': i, 'x': e6[i]} FOR i IN range(1, 65)]) AS s
        |  FROM e WHERE e6 IS NOT NULL),
        |si AS (SELECT s.i AS i, CAST(SUM(s.x) AS HUGEINT) AS sv FROM fm GROUP BY 1),
        |mu AS (SELECT sij.i, sij.j, n*sp - a.sv*b.sv AS mm
        |  FROM sij JOIN si a ON a.i = sij.i JOIN si b ON b.i = sij.j CROSS JOIN cnt),
        |mf AS (SELECT i, j, mm FROM mu
        |  UNION ALL SELECT j AS i, i AS j, mm FROM mu WHERE i < j),
        |sd AS (SELECT greatest(MAX(ABS(mm)) // 1000000, 1) AS sdv FROM mf),
        |mq AS MATERIALIZED (SELECT i, j, CAST(mm // sdv AS BIGINT) AS m FROM mf CROSS JOIN sd),
        |v0 AS (SELECT CAST(i AS BIGINT) AS j, CAST(1000000000 AS BIGINT) AS v
        |  FROM range(1, 65) t(i))""".stripMargin
    val rounds = (1 to iters).map { r =>
      s""",
         |u$r AS MATERIALIZED (SELECT mq.j AS j, CAST(SUM(mq.m * p.v) AS BIGINT) AS u
         |  FROM mq JOIN v${r - 1} p ON mq.i = p.j GROUP BY 1),
         |x$r AS (SELECT MAX(ABS(CAST(u AS DOUBLE))) AS mx FROM u$r),
         |v$r AS MATERIALIZED (SELECT j, CASE WHEN mx = 0 THEN 0
         |  ELSE CAST(floor(CAST(u AS DOUBLE)/mx*1000000000.0 + 0.5) AS BIGINT)
         |  END AS v FROM u$r CROSS JOIN x$r)""".stripMargin
    }.mkString
    head + rounds
  }

  def oracleSql: Map[String, String] = Map(
    "q01_star_revenue" ->
      """SELECT r.r_name AS region, n.n_name AS nation,
        | CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey=o.o_orderkey
        |JOIN customer c ON o.o_custkey=c.c_custkey
        |JOIN nation n ON c.c_nationkey=n.n_nationkey
        |JOIN region r ON n.n_regionkey=r.r_regionkey
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q02_fact_etl" ->
      """SELECT l.l_orderkey, CAST(l.l_linenumber AS INT) AS l_linenumber, o.o_custkey,
        | CAST(floor(l.l_quantity) AS INT) AS quantity,
        | CAST(datediff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS INT) AS ship_delay,
        | CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        | l.l_returnflag
        |FROM lineitem l JOIN orders o ON l.l_orderkey=o.o_orderkey
        |WHERE l.l_quantity > 0 AND l.l_returnflag IS NOT NULL AND l.l_linestatus IS NOT NULL
        |ORDER BY l.l_orderkey, CAST(l.l_linenumber AS INT), l.l_returnflag, o.o_custkey,
        | CAST(floor(l.l_quantity) AS INT),
        | CAST(datediff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS INT),
        | CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS DOUBLE)""".stripMargin,

    "q03_dim_date" ->
      """WITH dates AS (
        |  SELECT DISTINCT d FROM (
        |    SELECT CAST(o_orderdate AS DATE) AS d FROM orders
        |    UNION SELECT CAST(l_shipdate AS DATE) AS d FROM lineitem)
        |  WHERE d IS NOT NULL)
        |SELECT d,
        | CAST(datediff('day', DATE '1960-01-01', d) AS INT) AS date_key,
        | CAST(year(d) AS INT) AS year, CAST(month(d) AS INT) AS month,
        | CAST(dayofmonth(d) AS INT) AS day, CAST(weekofyear(d) AS INT) AS week,
        | CAST(dayofweek(d)+1 AS INT) AS dow,
        | CASE WHEN dayofweek(d) IN (0,6) THEN 1 ELSE 0 END AS is_weekend,
        | CASE WHEN month(d) IN (12,1,2) THEN 'Winter'
        |      WHEN month(d) IN (3,4,5) THEN 'Spring'
        |      WHEN month(d) IN (6,7,8) THEN 'Summer' ELSE 'Autumn' END AS season
        |FROM dates ORDER BY d""".stripMargin,

    "q04_pivot" ->
      """SELECT c.c_mktsegment,
        | CAST(SUM(CASE WHEN o.o_orderstatus='F' THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS o_orderstatus_f,
        | CAST(SUM(CASE WHEN o.o_orderstatus='O' THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS o_orderstatus_o,
        | CAST(SUM(CASE WHEN o.o_orderstatus='P' THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS o_orderstatus_p
        |FROM orders o JOIN customer c ON o.o_custkey=c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q05_surrogate" ->
      """SELECT c_custkey, c_nationkey,
        | CAST(row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS INT) AS sk
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q06_dim_customer" ->
      """SELECT c.c_custkey, c.c_name, c.c_mktsegment,
        | c.c_acctbal AS acctbal,
        | n.n_name AS nation, r.r_name AS region
        |FROM customer c
        |LEFT JOIN nation n ON c.c_nationkey=n.n_nationkey
        |LEFT JOIN region r ON n.n_regionkey=r.r_regionkey
        |ORDER BY c.c_custkey""".stripMargin,

    "q07_agg_stats" ->
      """SELECT n.n_name AS nation, COUNT(*) AS n_customers,
        | floor((CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*))*100.0 + 0.5)/100.0 AS avg_bal,
        | CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
        | MIN(c.c_acctbal) AS min_bal,
        | MAX(c.c_acctbal) AS max_bal
        |FROM customer c JOIN nation n ON c.c_nationkey=n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q08_inmem_dim" ->
      """SELECT d.priority_name, COUNT(*) AS n_orders
        |FROM orders o
        |JOIN (VALUES (1,'URGENT'),(2,'HIGH'),(3,'MEDIUM'),(4,'NOT SPECIFIED'),(5,'LOW'))
        |  d(id, priority_name)
        |ON CAST(str_split(o.o_orderpriority,'-')[1] AS INT)=d.id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q09_dq_rowcount" ->
      Tables.names.map(t => s"SELECT '$t' AS table_name, COUNT(*) AS row_count FROM $t")
        .mkString("", " UNION ALL ", " ORDER BY table_name"),

    "q10_dq_unique" ->
      Seq("customer" -> "c_custkey", "orders" -> "o_orderkey", "part" -> "p_partkey",
        "documents" -> "doc_id", "embeddings" -> "vec_id")
        .map { case (t, k) =>
          s"""SELECT '$t' AS table_name, COUNT(*) AS total_rows,
             | COUNT(DISTINCT $k) AS distinct_keys,
             | CAST(COUNT(*)=COUNT(DISTINCT $k) AS INT) AS is_unique FROM $t""".stripMargin
        }.mkString("", " UNION ALL ", " ORDER BY table_name"),

    "q11_sasdate" ->
      """SELECT o_orderkey,
        | CAST(datediff('day', DATE '1960-01-01', CAST(o_orderdate AS DATE)) AS INT) AS sas_days,
        | DATE '1960-01-01' + CAST(datediff('day', DATE '1960-01-01', CAST(o_orderdate AS DATE)) AS INT) AS roundtrip_date
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q12_filter_clean" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE text IS NOT NULL AND lang IS NOT NULL
        |  AND NOT contains(lower(text), 'slow')
        |ORDER BY doc_id""".stripMargin,

    "q13_port_parse" ->
      """SELECT p_partkey,
        | CAST(str_split(p_brand,'#')[2] AS INT) AS brand_num,
        | upper(p_type) AS type_upper,
        | trim(str_split(p_name,' ')[1]) AS name_first
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q14_token_stats" ->
      """SELECT doc_id,
        | CAST(CASE WHEN length(trim(text))=0 THEN 0
        |   ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INT) AS n_ws_tokens,
        | CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS INT) AS n_bpe_tokens,
        | CAST(length(text) AS INT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q15_text_quality" ->
      """WITH b AS (SELECT doc_id, text,
        |  CAST(length(text) AS DOUBLE) AS len,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digit,
        |  CAST(CASE WHEN length(trim(text))=0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS n_tok,
        |  CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) AS n_nonws
        | FROM documents),
        |c AS (SELECT doc_id,
        |  n_punct/greatest(len, 1.0) AS punct,
        |  n_digit/greatest(len, 1.0) AS digits,
        |  CASE WHEN n_tok=0 THEN 0.0 ELSE n_nonws/n_tok END AS avgtok,
        |  len FROM b)
        |SELECT doc_id, floor((punct)*10000.0 + 0.5)/10000.0 AS punct_ratio, floor((digits)*10000.0 + 0.5)/10000.0 AS digit_ratio,
        | floor((avgtok)*10000.0 + 0.5)/10000.0 AS avg_token_len,
        | floor((CASE WHEN len BETWEEN 100 AND 10000 THEN 0.4 ELSE 0.0 END
        |  + CASE WHEN punct < 0.1 THEN 0.2 ELSE 0.0 END
        |  + CASE WHEN digits < 0.2 THEN 0.2 ELSE 0.0 END
        |  + CASE WHEN avgtok BETWEEN 3 AND 10 THEN 0.2 ELSE 0.0 END)*10000.0 + 0.5)/10000.0::DOUBLE AS quality
        |FROM c ORDER BY doc_id""".stripMargin,

    "q16_langid" -> {
      // Candidate lists generated from the SAME stopword map the Spark
      // side uses (graft.functions.stopwords) so they cannot drift.
      val cands = functions.stopwords.toSeq.sortBy(_._1).map { case (l, sw) =>
        s"('$l', [${sw.map(w => s"'$w'").mkString(",")}])"
      }.mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id, lang AS label_lang,
         |    list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS toks
         |  FROM documents),
         |sc AS (
         |  SELECT b.doc_id, b.label_lang, u.l AS cand,
         |    len(list_intersect(b.toks, u.sw)) AS score
         |  FROM base b, (VALUES $cands) u(l, sw)),
         |r AS (SELECT doc_id, label_lang, cand,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand DESC) AS rn
         |  FROM sc)
         |SELECT doc_id, cand AS predicted_lang, label_lang,
         | CAST(cand = label_lang AS INT) AS is_match
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin
    },

    "q17_fingerprint" ->
      """SELECT doc_id,
        | md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // md5-60-bit token hash (first 15 hex nibbles of md5 as a big-endian
    // integer) — the same engine-portable hash Kernels.md5Hash60 computes.
    "q18_rolling_fp" ->
      """WITH toks AS (SELECT doc_id, text,
        |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |h AS (SELECT doc_id, text,
        |  list_transform(t, tok ->
        |    list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
        |      (a, b) -> a*16 + b) % 2147483629) AS hs
        |  FROM toks)
        |SELECT doc_id,
        | md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_md5,
        | CAST(CASE WHEN len(hs)=0 THEN 0
        |   ELSE list_reduce(hs, (a, h) -> (a*31 + h) % 2147483629) END AS BIGINT) AS fp_rolling
        |FROM h ORDER BY doc_id""".stripMargin,

    "q19_events_window" ->
      """SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS window_start,
        | event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | COUNT(user_id) AS n_user_rows
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q20_dedup_exact" ->
      """SELECT MIN(doc_id) AS rep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY rep_id""".stripMargin,

    "q21_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) ws
        |  FROM documents WHERE doc_id < 40)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        | floor((CASE WHEN len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws)) = 0 THEN 1.0
        |   ELSE CAST(len(list_intersect(a.ws,b.ws)) AS DOUBLE)
        |        / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) END)*10000.0 + 0.5)/10000.0 AS jaccard
        |FROM t a JOIN t b ON a.doc_id < b.doc_id ORDER BY 1,2""".stripMargin,

    "q22_minhash_lsh" ->
      """WITH t AS (SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) ws
        |  FROM documents),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  floor((CASE WHEN len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws)) = 0 THEN 1.0
        |    ELSE CAST(len(list_intersect(a.ws,b.ws)) AS DOUBLE)
        |         / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) END)*10000.0 + 0.5)/10000.0 AS jaccard
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
        |SELECT a_id, b_id, jaccard FROM p WHERE jaccard >= 0.9 ORDER BY 1,2""".stripMargin,

    // 60-bit SimHash from the same md5-60-bit token hash: per bit,
    // +/-1 vote per token occurrence, strictly-positive total -> bit set.
    "q23_simhash" ->
      """WITH toks AS (SELECT doc_id,
        |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |h AS (SELECT doc_id,
        |  list_transform(t, tok ->
        |    list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
        |      (a, b) -> a*16 + b)) AS hs
        |  FROM toks)
        |SELECT doc_id AS id,
        | CAST(CASE WHEN len(hs)=0 THEN 0 ELSE
        |   list_sum([CASE WHEN list_sum([CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0
        |             THEN 1::BIGINT << b ELSE 0::BIGINT END FOR b IN range(0, 60)])
        | END AS BIGINT) AS simhash
        |FROM h ORDER BY id""".stripMargin,

    "q24_embed_neardup" ->
      """WITH p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  floor((list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))*10000.0 + 0.5)/10000.0 AS cosine
        | FROM embeddings a JOIN embeddings b
        | ON a.vec_id < b.vec_id AND a.vec_id < 150 AND b.vec_id < 150)
        |SELECT a_id, b_id, cosine FROM p WHERE cosine >= 0.3 ORDER BY 1,2""".stripMargin,

    "q25_embed_topk" ->
      """WITH s AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) AS c
        | FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
        | WHERE q.vec_id < 10),
        |r AS (SELECT q_id, n_id, c,
        |  row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rn FROM s)
        |SELECT q_id, CAST(rn AS INT) AS "rank", n_id, floor((c)*10000.0 + 0.5)/10000.0 AS cosine
        |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

    // Sign-random-projection LSH ANN: the hyperplanes are dyadic-valued
    // Scala literals (Similarity.lshPlanes) embedded verbatim here, so
    // both engines compute identical buckets. Dots fold sequentially on
    // both sides (Kernels.dot ≡ list_reduce left fold).
    "q26_embed_lsh" -> {
      val planes = Similarity.lshPlanes(dim = 64, bits = 8, seed = 42)
      val bucketExpr = planes.zipWithIndex.map { case (p, j) =>
        val lit = p.mkString("[", ",", "]")
        s"(CASE WHEN list_reduce([v[i]*($lit)[i] FOR i IN range(1,65)], (a, b) -> a+b) > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("\n  + ")
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v,
         |  $bucketExpr AS bucket FROM base),
         |s AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |  list_cosine_similarity(q.v, n.v) AS c
         | FROM b q JOIN b n ON q.bucket = n.bucket AND n.vec_id <> q.vec_id
         | WHERE q.vec_id < 10),
         |r AS (SELECT q_id, n_id, c,
         |  row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rn FROM s)
         |SELECT q_id, CAST(rn AS INT) AS "rank", n_id, floor((c)*10000.0 + 0.5)/10000.0 AS cosine
         |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
    },

    // IVF ANN: codebook = the 16 vectors with the smallest Knuth
    // multiplicative hash of the id (Similarity.sampleHash — exact
    // integer arithmetic, reproduced verbatim below); assignment and
    // probing = nearest centroids by cosine, ties to the lower index.
    "q32_embed_ivf" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    ((vec_id % 2147483648) * 2654435761) % 4294967296 AS h FROM embeddings),
        |cent AS (SELECT v AS cv, row_number() OVER (ORDER BY h, vec_id) - 1 AS cid
        |         FROM c ORDER BY h, vec_id LIMIT 16),
        |sc AS (SELECT a.vec_id, a.v, cent.cid, list_cosine_similarity(a.v, cent.cv) AS s
        |       FROM c a CROSS JOIN cent),
        |assign AS (SELECT vec_id, v, cid AS cluster FROM
        |  (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM sc)
        |  WHERE rn = 1),
        |probes AS (SELECT vec_id AS q_id, v AS qv, cid AS probe FROM
        |  (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
        |   FROM sc WHERE vec_id < 10)
        |  WHERE rn <= 4),
        |cand AS (SELECT p.q_id, p.qv, a.vec_id AS n_id, a.v AS nv
        |         FROM probes p JOIN assign a ON a.cluster = p.probe AND a.vec_id <> p.q_id),
        |r AS (SELECT q_id, n_id, c2,
        |      row_number() OVER (PARTITION BY q_id ORDER BY c2 DESC, n_id) AS rn FROM
        |  (SELECT q_id, n_id, list_cosine_similarity(qv, nv) AS c2 FROM cand))
        |SELECT q_id, CAST(rn AS INT) AS "rank", n_id, floor((c2)*10000.0 + 0.5)/10000.0 AS cosine
        |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

    "q27_multimodal" ->
      """SELECT doc_id,
        | (['image','audio','video'])[CAST(doc_id%3+1 AS INT)] AS modality,
        | CAST(octet_length(encode(text)) AS INT) AS byte_len,
        | CAST(octet_length(encode(text))%640+1 AS INT) AS width,
        | CAST(octet_length(encode(text))*7%480+1 AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q28_dq_predicate" ->
      """SELECT 'n_chars_matches_len' AS check_name, COUNT(*) AS violations
        |FROM documents WHERE NOT (n_chars = length(text))""".stripMargin,

    "q29_char_ngram" ->
      """WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
        |  FROM documents WHERE doc_id < 30),
        |g AS (SELECT doc_id, list_distinct(
        |  CASE WHEN length(s) < 3 THEN [s]
        |       ELSE [substr(s, i, 3) FOR i IN range(1, length(s)-1)] END) AS gr FROM t)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        | floor((CASE WHEN len(a.gr)+len(b.gr)-len(list_intersect(a.gr,b.gr)) = 0 THEN 1.0
        |   ELSE CAST(len(list_intersect(a.gr,b.gr)) AS DOUBLE)
        |        / (len(a.gr)+len(b.gr)-len(list_intersect(a.gr,b.gr))) END)*10000.0 + 0.5)/10000.0 AS jaccard
        |FROM g a JOIN g b ON a.doc_id < b.doc_id ORDER BY 1,2""".stripMargin,

    "q30_dq_profile" ->
      Seq("c_acctbal", "c_mktsegment", "c_name", "c_nationkey").map { c =>
        s"""SELECT '$c' AS column_name,
           | CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           | COUNT(DISTINCT $c) AS n_distinct FROM customer""".stripMargin
      }.mkString("", " UNION ALL ", " ORDER BY column_name"),

    "q35_dq_quantiles" ->
      """SELECT l_returnflag,
        | floor((MIN(l_extendedprice))*10000.0 + 0.5)/10000.0 AS v_min,
        | floor((quantile_cont(l_extendedprice, 0.25))*10000.0 + 0.5)/10000.0 AS p25,
        | floor((quantile_cont(l_extendedprice, 0.5))*10000.0 + 0.5)/10000.0 AS p50,
        | floor((quantile_cont(l_extendedprice, 0.75))*10000.0 + 0.5)/10000.0 AS p75,
        | floor((quantile_cont(l_extendedprice, 0.95))*10000.0 + 0.5)/10000.0 AS p95,
        | floor((MAX(l_extendedprice))*10000.0 + 0.5)/10000.0 AS v_max
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q34_repetition" ->
      """WITH toks AS (SELECT doc_id,
        |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |bi AS (SELECT doc_id,
        |  unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bg
        |  FROM toks),
        |cnt AS (SELECT doc_id, MAX(c)::DOUBLE / SUM(c) AS tbf FROM
        |  (SELECT doc_id, bg, COUNT(*) AS c FROM bi GROUP BY 1, 2) GROUP BY doc_id)
        |SELECT k.doc_id,
        | floor((COALESCE(cnt.tbf, 0.0))*10000.0 + 0.5)/10000.0 AS top_bigram_frac,
        | floor((CASE WHEN len(k.t)=0 THEN 0.0
        |   ELSE 1.0 - CAST(len(list_distinct(k.t)) AS DOUBLE)/len(k.t) END)*10000.0 + 0.5)/10000.0 AS dup_token_frac
        |FROM toks k LEFT JOIN cnt ON k.doc_id = cnt.doc_id
        |ORDER BY k.doc_id""".stripMargin,

    "q33_dedup_clusters" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) ws
        |  FROM documents),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  floor((CASE WHEN len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws)) = 0 THEN 1.0
        |    ELSE CAST(len(list_intersect(a.ws,b.ws)) AS DOUBLE)
        |         / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) END)*10000.0 + 0.5)/10000.0 AS jaccard
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id),
        |pr AS (SELECT a_id, b_id FROM p WHERE jaccard >= 0.9),
        |e AS (SELECT a_id AS s, b_id AS d FROM pr UNION SELECT b_id, a_id FROM pr),
        |reach AS (SELECT s, d FROM e
        |          UNION SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s)
        |SELECT s AS doc_id, CAST(LEAST(s, MIN(d)) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY s ORDER BY 1""".stripMargin,

    "q31_salted_join" ->
      """SELECT o.o_orderstatus, COUNT(*) AS n_lines,
        | CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // DuckDB's native ASOF JOIN is the oracle for the window-composed
    // as-of; (user_id, ts) is unique in the corpus so the match is
    // well-defined on both sides.
    "q36_asof" ->
      """WITH c AS (SELECT * FROM events WHERE event_type='click'),
        |v AS (SELECT * FROM events WHERE event_type='view')
        |SELECT c.event_id, c.user_id,
        | strftime(CAST(c.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS click_ts,
        | v.event_id AS view_event_id, v.value AS view_value
        |FROM c ASOF JOIN v
        |  ON c.user_id = v.user_id AND v.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,

    // Gap test in integer microseconds on both sides (epoch_us) — a
    // seconds-granularity comparison would disagree on sub-second gaps.
    "q37_sessions" ->
      """WITH o AS (SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
        |       THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS sess FROM o)
        |SELECT user_id, CAST(sess AS INT) AS session_id,
        | strftime(MIN(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS session_start,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | CAST(epoch_us(MAX(CAST(ts AS TIMESTAMP))) // 1000000
        |     - epoch_us(MIN(CAST(ts AS TIMESTAMP))) // 1000000 AS BIGINT) AS duration_sec
        |FROM s GROUP BY user_id, sess ORDER BY user_id, session_id""".stripMargin,

    // Rational idf (N+1)/(df+1): integer-derived one-multiply-one-divide
    // double, bit-identical across engines — a log idf would hang the
    // ranking on each engine's ln() ULP behavior.
    "q38_tfidf" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfx.df,
        |  tf.tf * (n.n + 1.0) / (dfx.df + 1.0) AS score,
        |  row_number() OVER (PARTITION BY tf.doc_id
        |    ORDER BY tf.tf * (n.n + 1.0) / (dfx.df + 1.0) DESC, tf.term) AS rn
        |  FROM tf JOIN dfx USING (term) CROSS JOIN n)
        |SELECT doc_id, CAST(rn AS INT) AS "rank", term,
        | CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        | floor((score)*10000.0 + 0.5)/10000.0 AS score
        |FROM sc WHERE rn <= 5 ORDER BY doc_id, rn""".stripMargin,

    "q39_json_props" ->
      """SELECT CAST(props->>'$.k' AS INT) AS prop_k, COUNT(*) AS n_events,
        | MIN(event_id) AS first_event
        |FROM events GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin,

    "q40_hash_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE (((doc_id % 2147483648) * 2654435761) % 4294967296) % 10000 < 500
        |ORDER BY doc_id""".stripMargin,

    "q41_dq_orphans" ->
      Seq(("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"))
        .map { case (child, fk, parent, pk) =>
          // NOT EXISTS + IS NOT NULL mirrors the operator's pinned NULL
          // semantics (NULL fk = no reference; NULL parent keys inert) —
          // NOT IN's three-valued logic would diverge on NULLs.
          s"""SELECT '$child.$fk -> $parent.$pk' AS relationship,
             | COUNT(*) AS orphans
             |FROM $child c WHERE c.$fk IS NOT NULL
             |  AND NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$fk)""".stripMargin
        }.mkString("", " UNION ALL ", " ORDER BY relationship"),

    "q42_line_dedup" ->
      """WITH parts AS (SELECT doc_id, str_split(text, chr(10)) AS p FROM documents),
        |lx AS (SELECT doc_id,
        |  unnest([{'idx': i, 'line': p[i+1]} FOR i IN range(0, len(p))]) AS u
        |  FROM parts),
        |lines AS (SELECT doc_id, u.line AS line, u.idx AS idx FROM lx),
        |kept AS (SELECT doc_id, idx, line,
        |  row_number() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn
        |  FROM lines),
        |ka AS (SELECT doc_id, COUNT(*) AS n_kept,
        |  string_agg(line, chr(10) ORDER BY idx) AS kept_text
        |  FROM kept WHERE rn = 1 GROUP BY doc_id),
        |tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_lines,
        | COALESCE(ka.n_kept, 0) AS n_kept,
        | COALESCE(ka.kept_text, '') AS kept_text
        |FROM tot LEFT JOIN ka ON tot.doc_id = ka.doc_id
        |ORDER BY tot.doc_id""".stripMargin,

    "q43_pii_scrub" -> {
      val Seq(em, ph, ip) = Cleaning.piiPatterns.map(_._2).map(_.replace("'", "''"))
      s"""SELECT doc_id,
         | md5(regexp_replace(regexp_replace(regexp_replace(text,
         |   '$em', '<EMAIL>', 'g'), '$ph', '<PHONE>', 'g'), '$ip', '<IP>', 'g')) AS scrubbed_md5,
         | CAST(len(regexp_extract_all(text, '$em')) AS INT) AS n_email,
         | CAST(len(regexp_extract_all(text, '$ph')) AS INT) AS n_phone,
         | CAST(len(regexp_extract_all(text, '$ip')) AS INT) AS n_ip
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "q44_stopword_ratio" -> {
      val cands = functions.stopwords.toSeq.sortBy(_._1).map { case (l, sw) =>
        s"('$l', [${sw.map(w => s"'$w'").mkString(",")}])"
      }.mkString(", ")
      s"""WITH toks AS (SELECT doc_id, lang,
         |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
         |       ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS t
         |  FROM documents)
         |SELECT k.doc_id, k.lang,
         | floor((CAST(len(list_filter(k.t, x -> list_contains(u.sw, x))) AS DOUBLE)
         |   / greatest(len(k.t), 1))*10000.0 + 0.5)/10000.0 AS stopword_ratio
         |FROM toks k JOIN (VALUES $cands) u(l, sw) ON k.lang = u.l
         |ORDER BY k.doc_id""".stripMargin
    },

    "q45_dedup_corpus" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) ws
        |  FROM documents),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  floor((CASE WHEN len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws)) = 0 THEN 1.0
        |    ELSE CAST(len(list_intersect(a.ws,b.ws)) AS DOUBLE)
        |         / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) END)*10000.0 + 0.5)/10000.0 AS jaccard
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id),
        |pr AS (SELECT a_id, b_id FROM p WHERE jaccard >= 0.9),
        |e AS (SELECT a_id AS s, b_id AS d FROM pr UNION SELECT b_id, a_id FROM pr),
        |reach AS (SELECT s, d FROM e
        |          UNION SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s),
        |losers AS (SELECT s AS doc_id FROM reach GROUP BY s
        |           HAVING LEAST(s, MIN(d)) <> s)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY doc_id""".stripMargin,

    "q46_label_centroids" ->
      """WITH x AS (SELECT label,
        |  unnest([{'dim': i, 'x': embedding[i+1]} FOR i IN range(0, len(embedding))]) AS u
        |  FROM embeddings)
        |SELECT label, CAST(u.dim AS INT) AS dim,
        | floor((AVG(CAST(u.x AS DOUBLE)))*10000.0 + 0.5)/10000.0 AS centroid,
        | COUNT(*) AS n_vectors
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q47_scd2" ->
      """WITH o AS (SELECT user_id, event_id, ts, event_type,
        |  CASE WHEN lag(event_type) OVER w IS NULL
        |       OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS run FROM o),
        |iv AS (SELECT user_id, run, MIN(event_type) AS event_type,
        |  MIN(CAST(ts AS TIMESTAMP)) AS f, COUNT(*) AS n_events
        |  FROM r GROUP BY user_id, run)
        |SELECT user_id, CAST(run AS INT) AS version, event_type,
        | strftime(f, '%Y-%m-%d %H:%M:%S') AS valid_from,
        | strftime(lead(f) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to,
        | CAST(lead(f) OVER w2 IS NULL AS INT) AS is_current,
        | n_events
        |FROM iv WINDOW w2 AS (PARTITION BY user_id ORDER BY run)
        |ORDER BY user_id, version""".stripMargin,

    "q48_rollup" ->
      """SELECT r.r_name AS region, n.n_name AS nation,
        | CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_lines,
        | CAST(GROUPING(r.r_name, n.n_name) AS INT) AS lvl
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey=o.o_orderkey
        |JOIN customer c ON o.o_custkey=c.c_custkey
        |JOIN nation n ON c.c_nationkey=n.n_nationkey
        |JOIN region r ON n.n_regionkey=r.r_regionkey
        |GROUP BY ROLLUP(r.r_name, n.n_name)
        |ORDER BY lvl, region NULLS FIRST, nation NULLS FIRST""".stripMargin,

    "q49_running" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(row_number() OVER w AS INT) AS order_seq,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |   (w ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend,
        | floor((CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |     (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   / COUNT(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))*10000.0 + 0.5)/10000.0 AS moving_avg3
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, order_seq""".stripMargin,

    "q50_edit_distance" ->
      """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        | CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist
        |FROM documents a JOIN documents b ON a.doc_id < b.doc_id
        |WHERE a.doc_id < 20 AND b.doc_id < 20
        |ORDER BY 1, 2""".stripMargin,

    "q51_full_outer" ->
      """WITH c AS (SELECT CAST(c_nationkey AS INT) ck, COUNT(*) n_customers
        |           FROM customer GROUP BY 1),
        |s AS (SELECT CAST(s_nationkey AS INT) sk, COUNT(*) n_suppliers
        |      FROM supplier WHERE s_nationkey < 20 GROUP BY 1)
        |SELECT COALESCE(ck, sk) AS nationkey,
        | COALESCE(n_customers, 0) AS n_customers,
        | COALESCE(n_suppliers, 0) AS n_suppliers
        |FROM c FULL OUTER JOIN s ON c.ck = s.sk
        |ORDER BY nationkey""".stripMargin,

    // Banded SRP near-dup pairs: the 120 hyperplanes (24 bands x 5
    // bits) are the same dyadic literals the Spark plan carries
    // (Similarity.lshPlanes), and the candidate rule — agree on at
    // least one band, then exact cosine >= t — is mirrored exactly.
    "q53_embed_neardup_lsh" -> {
      val bands = 24
      val bits = 5
      val planes = Similarity.lshPlanes(dim = 64, bits = bands * bits, seed = 42)
      def bandExpr(b: Int): String = (0 until bits).map { j =>
        val lit = planes(b * bits + j).mkString("[", ",", "]")
        s"(CASE WHEN list_reduce([v[i]*($lit)[i] FOR i IN range(1,65)], (a, b) -> a+b) > 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      val bvExpr = (0 until bands).map(bandExpr).mkString("[\n", ",\n", "\n]")
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, $bvExpr AS bv FROM base),
         |cand AS (SELECT a.vec_id AS a_id, b2.vec_id AS b_id,
         |  floor((list_cosine_similarity(a.v, b2.v))*10000.0 + 0.5)/10000.0 AS cosine
         | FROM b a JOIN b b2 ON a.vec_id < b2.vec_id
         |  AND len(list_filter([i FOR i IN range(1,${bands + 1})], i -> a.bv[i] = b2.bv[i])) > 0)
         |SELECT a_id, b_id, cosine FROM cand WHERE cosine >= 0.4 ORDER BY 1, 2""".stripMargin
    },

    // IVF-cell near-dup pairs: same deterministic codebook rule as the
    // q32 oracle (overflow-safe Knuth hash sample, cosine assignment,
    // ties to the lower centroid index), candidates = pairs sharing a
    // probed cell, then exact cosine >= t.
    "q54_embed_neardup_ivf" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    ((vec_id % 2147483648) * 2654435761) % 4294967296 AS h FROM embeddings),
        |cent AS (SELECT v AS cv, row_number() OVER (ORDER BY h, vec_id) - 1 AS cid
        |         FROM c ORDER BY h, vec_id LIMIT 64),
        |sc AS (SELECT a.vec_id, a.v, cent.cid, list_cosine_similarity(a.v, cent.cv) AS s
        |       FROM c a CROSS JOIN cent),
        |probes AS (SELECT vec_id, cid FROM
        |  (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM sc)
        |  WHERE rn <= 4),
        |cand AS (SELECT DISTINCT p1.vec_id AS a_id, p2.vec_id AS b_id
        |         FROM probes p1 JOIN probes p2 ON p1.cid = p2.cid AND p1.vec_id < p2.vec_id),
        |p AS (SELECT cand.a_id, cand.b_id,
        |  floor((list_cosine_similarity(x.v, y.v))*10000.0 + 0.5)/10000.0 AS cosine
        |  FROM cand JOIN c x ON x.vec_id = cand.a_id JOIN c y ON y.vec_id = cand.b_id)
        |SELECT a_id, b_id, cosine FROM p WHERE cosine >= 0.35 ORDER BY 1, 2""".stripMargin,

    // IVF with a 2-round Lloyd-refined codebook. Each round is the
    // exact arithmetic of Similarity.refineCodebook: assign by cosine
    // argmax (ties to the lower centroid index), rebuild centroids from
    // FIXED-POINT e6 integer sums — order-independent, so both engines
    // derive the bit-identical codebook; empty clusters keep their
    // previous centroid (the LEFT JOIN + COALESCE).
    "q55_embed_ivf_kmeans" -> {
      def lloyd(centIn: String, centOut: String): String =
        s"""asg_$centOut AS (SELECT vec_id, v, cid AS cluster FROM
           |  (SELECT a.vec_id, a.v, t.cid,
           |     row_number() OVER (PARTITION BY a.vec_id
           |       ORDER BY list_cosine_similarity(a.v, t.cv) DESC, t.cid) AS rn
           |   FROM c a CROSS JOIN $centIn t) WHERE rn = 1),
           |upd_$centOut AS (SELECT cluster AS cid, u.dim AS dim,
           |    SUM(CAST(floor(u.x*1000000.0 + 0.5) AS BIGINT)) AS s, COUNT(*) AS cnt FROM
           |  (SELECT cluster, unnest([{'dim': i, 'x': v[i+1]} FOR i IN range(0, len(v))]) AS u
           |   FROM asg_$centOut) GROUP BY 1, 2),
           |new_$centOut AS (SELECT cid, list(CAST(s AS DOUBLE)/(1000000.0*cnt) ORDER BY dim) AS cv
           |  FROM upd_$centOut GROUP BY cid),
           |$centOut AS (SELECT c0.cid, COALESCE(n.cv, c0.cv) AS cv
           |  FROM $centIn c0 LEFT JOIN new_$centOut n USING (cid))"""
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    ((vec_id % 2147483648) * 2654435761) % 4294967296 AS h FROM embeddings),
         |cent0 AS (SELECT v AS cv, row_number() OVER (ORDER BY h, vec_id) - 1 AS cid
         |          FROM c ORDER BY h, vec_id LIMIT 16),
         |${lloyd("cent0", "cent1")},
         |${lloyd("cent1", "cent2")},
         |assign AS (SELECT vec_id, v, cid AS cluster FROM
         |  (SELECT a.vec_id, a.v, t.cid,
         |     row_number() OVER (PARTITION BY a.vec_id
         |       ORDER BY list_cosine_similarity(a.v, t.cv) DESC, t.cid) AS rn
         |   FROM c a CROSS JOIN cent2 t) WHERE rn = 1),
         |probes AS (SELECT vec_id AS q_id, v AS qv, cid AS probe FROM
         |  (SELECT a.vec_id, a.v, t.cid,
         |     row_number() OVER (PARTITION BY a.vec_id
         |       ORDER BY list_cosine_similarity(a.v, t.cv) DESC, t.cid) AS rn
         |   FROM c a CROSS JOIN cent2 t WHERE a.vec_id < 10) WHERE rn <= 4),
         |cand AS (SELECT p.q_id, p.qv, a.vec_id AS n_id, a.v AS nv
         |         FROM probes p JOIN assign a ON a.cluster = p.probe AND a.vec_id <> p.q_id),
         |r AS (SELECT q_id, n_id, c2,
         |      row_number() OVER (PARTITION BY q_id ORDER BY c2 DESC, n_id) AS rn FROM
         |  (SELECT q_id, n_id, list_cosine_similarity(qv, nv) AS c2 FROM cand))
         |SELECT q_id, CAST(rn AS INT) AS "rank", n_id, floor((c2)*10000.0 + 0.5)/10000.0 AS cosine
         |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
    },

    // Decontamination: exact string 8-gram overlap (the Spark side
    // joins on xxhash64 of the same grams — a collision can only add
    // an overlapping gram, P ~ grams²/2⁶⁴). wordShingles contract
    // mirrored: < 8 tokens -> the whole text as one shingle.
    "q56_decontaminate" ->
      """WITH ws AS (SELECT doc_id,
        |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |g AS (SELECT doc_id,
        |  CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
        |       ELSE list_distinct([array_to_string(t[i:i+7], ' ') FOR i IN range(1, len(t)-6)]) END AS gr
        |  FROM ws),
        |bench AS (SELECT DISTINCT unnest(gr) AS bg FROM g WHERE doc_id % 10 = 0),
        |dg AS (SELECT doc_id, unnest(gr) AS dgr FROM g WHERE doc_id % 10 <> 0)
        |SELECT doc_id, COUNT(*) AS n_contaminated_ngrams
        |FROM dg JOIN bench ON dgr = bg
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Group-limit: the window-rank twin of the k-bounded aggregator.
    "q59_topk_per_key" ->
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_custkey, CAST(rn AS INT) AS "rank", o_orderkey,
        |  floor((o_totalprice)*10000.0 + 0.5)/10000.0 AS score
        |FROM r WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin,

    // Sequence packing: the oracle computes the SAME prefix sum with a
    // plain global-order window (fine in a single-node engine; the
    // Spark side's two-level scan exists exactly because this window
    // doesn't distribute). SUM casts: DuckDB SUM(BIGINT) -> HUGEINT.
    "q58_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER
        |    (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pre
        |  FROM t)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  pre // 512 AS seq_id, pre % 512 AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    // Cross-corpus brute force: word-set Jaccard across the odd/even
    // split at the q22 threshold — the LSH path's recall makes the
    // sets equal (see q22).
    "q57_cross_corpus" ->
      """WITH t AS (SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) ws
        |  FROM documents),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  floor((CASE WHEN len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws)) = 0 THEN 1.0
        |    ELSE CAST(len(list_intersect(a.ws,b.ws)) AS DOUBLE)
        |         / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) END)*10000.0 + 0.5)/10000.0 AS jaccard
        |  FROM t a JOIN t b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0)
        |SELECT a_id, b_id, jaccard FROM p WHERE jaccard >= 0.9 ORDER BY 1, 2""".stripMargin,

    // Brute-force hamming join over the same md5-60-bit SimHash the q23
    // oracle computes; the Spark side's pigeonhole blocking is exact
    // (any pair within the budget shares a block), so the sets match.
    "q52_simhash_neardup" ->
      """WITH toks AS (SELECT doc_id,
        |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |h AS (SELECT doc_id,
        |  list_transform(t, tok ->
        |    list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
        |      (a, b) -> a*16 + b)) AS hs
        |  FROM toks),
        |sg AS (SELECT doc_id AS id,
        | CAST(CASE WHEN len(hs)=0 THEN 0 ELSE
        |   list_sum([CASE WHEN list_sum([CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0
        |             THEN 1::BIGINT << b ELSE 0::BIGINT END FOR b IN range(0, 60)])
        | END AS BIGINT) AS sh FROM h)
        |SELECT a.id AS a_id, b.id AS b_id,
        | CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        |FROM sg a JOIN sg b ON a.id < b.id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY 1, 2""".stripMargin,

    // Mixture sampling: per-source keep threshold = budget*10000 div
    // total tokens (int64 floor division both engines), row membership
    // by the q40 Knuth hash. Totals cast to BIGINT (DuckDB SUM ->
    // HUGEINT otherwise).
    "q60_mixture" ->
      """WITH w AS (SELECT doc_id, source,
        |  CAST(CASE WHEN length(trim(text))=0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |t AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS total FROM w GROUP BY 1),
        |b AS (SELECT w.doc_id, w.source, w.n_tokens,
        |  CAST(CASE w.source WHEN 'src0' THEN 400 WHEN 'src1' THEN 10000000
        |       WHEN 'src2' THEN 0 ELSE 600 END AS BIGINT) AS budget,
        |  t.total FROM w JOIN t USING (source))
        |SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens
        |FROM b
        |WHERE ((doc_id % 2147483648) * 2654435761) % 4294967296 % 10000
        |      < LEAST(10000, (budget * 10000) // total)
        |ORDER BY doc_id""".stripMargin,

    // Heavy hitters: the sketch only nominates candidates; the output
    // is the exact groupBy-count over the threshold, which is what the
    // oracle states directly.
    "q61_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |n AS (SELECT COUNT(*) AS n_total FROM toks)
        |SELECT term, COUNT(*) AS cnt, (SELECT n_total FROM n) AS n_total
        |FROM toks GROUP BY term
        |HAVING COUNT(*) >= ceil(0.002 * (SELECT n_total FROM n))
        |ORDER BY cnt DESC, term""".stripMargin,

    "q62_lm_quality" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |dt AS (SELECT doc_id, term, COUNT(*) AS c_dt FROM toks GROUP BY 1, 2),
        |c AS (SELECT term, CAST(SUM(c_dt) AS BIGINT) AS c_t FROM dt GROUP BY 1),
        |t AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_total, COUNT(*) AS vocab FROM c)
        |SELECT dt.doc_id,
        | floor((-SUM(dt.c_dt * ln((c.c_t + 1.0) / CAST(t.n_total + t.vocab AS DOUBLE)))
        |        / SUM(dt.c_dt)) * 10000.0 + 0.5) / 10000.0 AS lm_nll,
        | CAST(SUM(dt.c_dt) AS BIGINT) AS n_tokens
        |FROM dt JOIN c USING (term) CROSS JOIN t
        |GROUP BY dt.doc_id ORDER BY dt.doc_id""".stripMargin,

    "q63_source_kl" ->
      """WITH toks AS (SELECT source,
        |  unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |st AS (SELECT source, term, COUNT(*) AS c_st FROM toks GROUP BY 1, 2),
        |c AS (SELECT term, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
        |s AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
        |t AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_total, COUNT(*) AS vocab FROM c)
        |SELECT st.source,
        | floor(SUM((CAST(st.c_st AS DOUBLE) / CAST(s.n_s AS DOUBLE)) *
        |   ln((CAST(st.c_st AS DOUBLE) / CAST(s.n_s AS DOUBLE)) /
        |      ((c.c_t + 1.0) / CAST(t.n_total + t.vocab AS DOUBLE)))) * 10000.0 + 0.5)
        |   / 10000.0 AS kl_nats,
        | MAX(s.n_s) AS n_tokens, COUNT(*) AS n_terms
        |FROM st JOIN c USING (term) JOIN s USING (source) CROSS JOIN t
        |GROUP BY st.source ORDER BY st.source""".stripMargin,

    // Centroid distance: the oracle recomputes sum((x - avg)^2) by
    // unnest-join; the engine side is zip_with over a broadcast
    // centroid array — same arithmetic, different (equally
    // order-nondeterministic) summation trees, reconciled by the
    // shared 4-decimal rounding. The outlier flag thresholds the
    // ROUNDED distance in both engines.
    // SemDeDup: the q55 fixed-point k-means scaffolding (1 Lloyd round
    // here), then a within-cluster keep-lowest-id witness join. The
    // cosine threshold compares the shared 4-decimal rounding.
    "q65_semantic_dedup" -> {
      def lloyd(centIn: String, centOut: String): String =
        s"""asg_$centOut AS (SELECT vec_id, v, cid AS cluster FROM
           |  (SELECT a.vec_id, a.v, t.cid,
           |     row_number() OVER (PARTITION BY a.vec_id
           |       ORDER BY list_cosine_similarity(a.v, t.cv) DESC, t.cid) AS rn
           |   FROM c a CROSS JOIN $centIn t) WHERE rn = 1),
           |upd_$centOut AS (SELECT cluster AS cid, u.dim AS dim,
           |    SUM(CAST(floor(u.x*1000000.0 + 0.5) AS BIGINT)) AS s, COUNT(*) AS cnt FROM
           |  (SELECT cluster, unnest([{'dim': i, 'x': v[i+1]} FOR i IN range(0, len(v))]) AS u
           |   FROM asg_$centOut) GROUP BY 1, 2),
           |new_$centOut AS (SELECT cid, list(CAST(s AS DOUBLE)/(1000000.0*cnt) ORDER BY dim) AS cv
           |  FROM upd_$centOut GROUP BY cid),
           |$centOut AS (SELECT c0.cid, COALESCE(n.cv, c0.cv) AS cv
           |  FROM $centIn c0 LEFT JOIN new_$centOut n USING (cid))"""
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    ((vec_id % 2147483648) * 2654435761) % 4294967296 AS h FROM embeddings),
         |cent0 AS (SELECT v AS cv, row_number() OVER (ORDER BY h, vec_id) - 1 AS cid
         |          FROM c ORDER BY h, vec_id LIMIT 16),
         |${lloyd("cent0", "cent1")},
         |assign AS (SELECT vec_id, v, cid AS cluster FROM
         |  (SELECT a.vec_id, a.v, t.cid,
         |     row_number() OVER (PARTITION BY a.vec_id
         |       ORDER BY list_cosine_similarity(a.v, t.cv) DESC, t.cid) AS rn
         |   FROM c a CROSS JOIN cent1 t) WHERE rn = 1),
         |d AS (SELECT DISTINCT a.vec_id FROM assign a JOIN assign b
         |      ON a.cluster = b.cluster AND b.vec_id < a.vec_id
         |      WHERE floor(list_cosine_similarity(a.v, b.v)*10000.0 + 0.5)/10000.0 >= 0.35)
         |SELECT a.vec_id, CAST(a.cluster AS INT) AS cluster,
         |       CAST(d.vec_id IS NOT NULL AS INT) AS is_dup
         |FROM assign a LEFT JOIN d USING (vec_id) ORDER BY vec_id""".stripMargin
    },

    // Bloom prefilter is exact-verified engine-side, so the oracle is
    // the plain semi join.
    "q66_bloom_semijoin" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows, SUM(l_quantity) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Per-source quantile cut on q15's avg-token-length signal:
    // threshold = the largest score whose descending cumulative count
    // reaches ceil(0.25 * n_source); all boundary ties kept (both
    // engines).
    "q67_quantile_filter" ->
      """WITH b AS (SELECT doc_id, source,
        |  CAST(CASE WHEN length(trim(text))=0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS n_tok,
        |  CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) AS n_nonws
        | FROM documents),
        |q AS (SELECT doc_id, source,
        |  floor((CASE WHEN n_tok=0 THEN 0.0 ELSE n_nonws/n_tok END)*10000.0 + 0.5)/10000.0 AS score
        | FROM b),
        |dist AS (SELECT source, score, COUNT(*) AS cnt FROM q GROUP BY 1, 2),
        |cum AS (SELECT source, score,
        |  SUM(cnt) OVER (PARTITION BY source ORDER BY score DESC) AS cum,
        |  SUM(cnt) OVER (PARTITION BY source) AS n
        |  FROM dist),
        |thr AS (SELECT source, MAX(score) AS t FROM cum
        |        WHERE cum >= ceil(n * 0.25) GROUP BY source)
        |SELECT q.doc_id, q.source, q.score
        |FROM q JOIN thr ON q.source = thr.source AND q.score >= thr.t
        |ORDER BY q.doc_id""".stripMargin,

    // Duplicated-8-gram fraction: q56's shingle contract (short docs ->
    // whole text as one gram), carrier counts over doc-distinct grams.
    "q68_dup_ngram_frac" ->
      """WITH ws AS (SELECT doc_id,
        |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |g AS (SELECT doc_id,
        |  CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
        |       ELSE list_distinct([array_to_string(t[i:i+7], ' ') FOR i IN range(1, len(t)-6)]) END AS gr
        |  FROM ws),
        |dg AS (SELECT doc_id, unnest(gr) AS gram FROM g),
        |cnt AS (SELECT gram, COUNT(*) AS n_docs FROM dg GROUP BY 1)
        |SELECT doc_id, COUNT(*) AS n_grams,
        | CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
        | floor((CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / COUNT(*))*10000.0 + 0.5)/10000.0 AS dup_frac
        |FROM dg JOIN cnt USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Span removal: gram starts with corpus count >= 2 (multiplicity,
    // not doc-distinct) mark tokens within the following 8-token
    // window as covered; the survivors rebuild the text in order.
    "q110_dedup_spans" ->
      """WITH ws AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |g AS (SELECT doc_id, unnest([{'gpos': i, 'gram': array_to_string(t[i:i+7], ' ')}
        |       FOR i IN range(1, greatest(len(t)-7, 1)+1)]) AS u FROM ws),
        |ge AS (SELECT doc_id, u.gpos AS gpos, u.gram AS gram FROM g),
        |dupg AS (SELECT gram FROM ge GROUP BY gram HAVING COUNT(*) >= 2),
        |ds AS (SELECT doc_id, gpos FROM ge JOIN dupg USING (gram)),
        |tok AS (SELECT doc_id, unnest([{'pos': i, 'term': t[i]}
        |        FOR i IN range(1, len(t)+1)]) AS u FROM ws),
        |tk AS (SELECT doc_id, u.pos AS pos, u.term AS term FROM tok),
        |fl AS (SELECT tk.doc_id, tk.pos, tk.term,
        |       CASE WHEN ds.gpos IS NULL THEN 0 ELSE 1 END AS is_ds
        |       FROM tk LEFT JOIN ds ON tk.doc_id = ds.doc_id AND tk.pos = ds.gpos),
        |cv AS (SELECT doc_id, pos, term,
        |       MAX(is_ds) OVER (PARTITION BY doc_id ORDER BY pos
        |         ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS covered FROM fl)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        | CAST(SUM(covered) AS BIGINT) AS n_dup_tokens,
        | floor((CAST(SUM(covered) AS DOUBLE) / COUNT(*))*10000.0 + 0.5)/10000.0 AS dup_frac,
        | coalesce(string_agg(CASE WHEN covered = 0 THEN term END, ' ' ORDER BY pos), '')
        |   AS clean_text
        |FROM cv GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Entropy bands: H = ln(n) - sum(c*ln c)/n over token and char
    // counts; summation order differs across engines, the 4-decimal
    // floor-round reconciles ln (q62 convention).
    "q111_entropy" ->
      """WITH d AS (SELECT doc_id, trim(text) AS tx,
        |  regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |tc AS (SELECT doc_id, term, COUNT(*) AS c
        |       FROM (SELECT doc_id, unnest(t) AS term FROM d) GROUP BY 1, 2),
        |te AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |       ln(CAST(SUM(c) AS DOUBLE)) -
        |         SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / CAST(SUM(c) AS DOUBLE)
        |         AS h_tok
        |       FROM tc GROUP BY doc_id),
        |cc AS (SELECT doc_id, ch, COUNT(*) AS c
        |       FROM (SELECT doc_id, unnest([tx[i] FOR i IN range(1, length(tx)+1)]) AS ch
        |             FROM d) GROUP BY 1, 2),
        |ce AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
        |       ln(CAST(SUM(c) AS DOUBLE)) -
        |         SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / CAST(SUM(c) AS DOUBLE)
        |         AS h_ch
        |       FROM cc GROUP BY doc_id)
        |SELECT doc_id, n_tokens, floor(h_tok*10000.0 + 0.5)/10000.0 AS token_entropy,
        |       n_chars, floor(h_ch*10000.0 + 0.5)/10000.0 AS char_entropy
        |FROM te JOIN ce USING (doc_id) ORDER BY doc_id""".stripMargin,

    // BPE pair statistic: within-token adjacent char pairs, top-50 by
    // count with pair-text tie-break (deterministic cut).
    "q112_bpe_pairs" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |pr AS (SELECT unnest([tk[i:i+1] FOR i IN range(1, length(tk))]) AS pair
        |  FROM tok WHERE length(tk) >= 2)
        |SELECT pair, COUNT(*) AS cnt FROM pr GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,

    // Bigram LM: -mean ln (c(p,c)+1)/(c(p)+V); ln reconciled by the
    // 4-decimal floor-round (q62 convention).
    "q114_bigram_lm" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |bg AS (SELECT doc_id, unnest([{'p': t[i], 'c': t[i+1]} FOR i IN range(1, len(t))]) AS u
        |       FROM d WHERE len(t) >= 2),
        |b AS (SELECT doc_id, u.p AS p, u.c AS c FROM bg),
        |db AS (SELECT doc_id, p, c, COUNT(*) AS c_db FROM b GROUP BY 1, 2, 3),
        |cb AS (SELECT p, c, CAST(SUM(c_db) AS BIGINT) AS c_b FROM db GROUP BY 1, 2),
        |cu AS (SELECT term, COUNT(*) AS c_u
        |       FROM (SELECT unnest(t) AS term FROM d) GROUP BY 1),
        |v AS (SELECT COUNT(*) AS vocab FROM cu)
        |SELECT db.doc_id, CAST(SUM(c_db) AS BIGINT) AS n_bigrams,
        | floor((-SUM(c_db * ln((cb.c_b + 1.0) / CAST(cu.c_u + v.vocab AS DOUBLE)))
        |        / SUM(c_db)) * 10000.0 + 0.5) / 10000.0 AS lm2_nll
        |FROM db JOIN cb USING (p, c) JOIN cu ON db.p = cu.term CROSS JOIN v
        |GROUP BY db.doc_id ORDER BY db.doc_id""".stripMargin,

    // OOV rate: vocabulary = top-10 terms (count desc, term), per-doc
    // fraction of occurrences outside it.
    "q115_oov_rate" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |tok AS (SELECT doc_id, unnest(t) AS term FROM d),
        |v AS (SELECT term FROM tok GROUP BY term ORDER BY COUNT(*) DESC, term LIMIT 10),
        |o AS (SELECT doc_id, COUNT(*) AS n_oov FROM tok
        |      WHERE term NOT IN (SELECT term FROM v) GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(o.n_oov, 0) AS BIGINT) AS n_oov,
        |  floor((CAST(coalesce(o.n_oov, 0) AS DOUBLE) / len(t))*10000.0 + 0.5)/10000.0
        |    AS oov_frac
        |FROM d LEFT JOIN o USING (doc_id) ORDER BY doc_id""".stripMargin,

    // BM25: Lucene idf variant; per-(doc,term) score assembled in one
    // pinned double expression, summed over <= 3 matched terms.
    "q116_bm25" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |st AS (SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(len(t)) AS DOUBLE) / COUNT(*) AS avgdl FROM d),
        |tok AS (SELECT doc_id, unnest(t) AS term FROM d),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |       WHERE term IN ('hash', 'join', 'vector') GROUP BY 1, 2),
        |dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM d)
        |SELECT tf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched,
        |  floor(SUM(ln(1.0 + (st.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
        |            * (tf.tf * (1.2 + 1.0))
        |            / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / st.avgdl)))
        |        * 10000.0 + 0.5) / 10000.0 AS bm25
        |FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id) CROSS JOIN st
        |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin,

    // Weighted sampling: hash*W < 10000*budget*w in exact integers
    // (HUGEINT on the oracle side, bounded decimals in the engine).
    "q113_weighted_sample" ->
      """WITH w AS (SELECT doc_id, source,
        |  CAST(CASE WHEN length(trim(text))=0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS W FROM w)
        |SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens
        |FROM w, t
        |WHERE CAST(((doc_id % 2147483648) * 2654435761) % 4294967296 % 10000 AS HUGEINT) * W
        |      < CAST(1500000 AS HUGEINT) * n_tokens
        |ORDER BY doc_id""".stripMargin,

    // Multi-touch attribution: (user, day-bin) join replayed as a plain
    // BETWEEN join; all credit arithmetic is integer (// = div on the
    // positive values here), one final /1e8 division.
    "q117_attribution" ->
      """WITH t AS (SELECT user_id, epoch_us(ts) AS t_ts, event_type AS channel
        |  FROM events WHERE event_type IN ('click', 'view')),
        |c AS (SELECT user_id, event_id AS conv_id, epoch_us(ts) AS c_ts,
        |      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents
        |      FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT c.conv_id, c.value_cents, t.channel FROM c JOIN t
        |      ON c.user_id = t.user_id
        |      AND t.t_ts >= c.c_ts - 259200000000 AND t.t_ts <= c.c_ts),
        |n AS (SELECT conv_id, COUNT(*) AS n_touch FROM m GROUP BY 1),
        |tc AS (SELECT m.channel, (m.value_cents * 1000000) // n.n_touch AS credit_fx
        |       FROM m JOIN n USING (conv_id)),
        |dc AS (SELECT 'direct' AS channel, value_cents * 1000000 AS credit_fx
        |       FROM c WHERE conv_id NOT IN (SELECT conv_id FROM n)),
        |u AS (SELECT * FROM tc UNION ALL SELECT * FROM dc)
        |SELECT channel, COUNT(*) AS n_attributions,
        |  floor((CAST(SUM(credit_fx) AS DOUBLE) / 1e8) * 100.0 + 0.5) / 100.0 AS credit
        |FROM u GROUP BY channel ORDER BY channel""".stripMargin,

    // Basket co-occurrence lift; lift assembled in the same pinned
    // double expression from exact integer counts.
    "q118_cooccur_lift" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |ca AS (SELECT item, COUNT(*) AS c_item FROM b GROUP BY 1),
        |nb AS (SELECT COUNT(DISTINCT basket) AS n_baskets FROM b),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |cab AS (SELECT item_a, item_b, COUNT(*) AS c_ab FROM p GROUP BY 1, 2
        |        HAVING COUNT(*) >= 3)
        |SELECT item_a, item_b, c_ab, a.c_item AS c_a, bb.c_item AS c_b,
        |  floor((CAST(n_baskets AS DOUBLE) * c_ab / (CAST(a.c_item AS DOUBLE) * bb.c_item))
        |        * 10000.0 + 0.5) / 10000.0 AS lift
        |FROM cab JOIN ca a ON cab.item_a = a.item
        |JOIN ca bb ON cab.item_b = bb.item CROSS JOIN nb
        |ORDER BY item_a, item_b""".stripMargin,

    // PageRank: the identical integer fixed-point recurrence unrolled
    // three times; ranks are exact BIGINTs, nothing rounds.
    "q119_pagerank" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |cab AS (SELECT item_a, item_b FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |e AS (SELECT item_a AS src, item_b AS dst FROM cab
        |      UNION ALL SELECT item_b, item_a FROM cab),
        |od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS item FROM e),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |r0 AS (SELECT item, 1000000000000 // n AS rank_fx FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT e.dst AS dst, SUM(r0.rank_fx // od.outdeg) AS s
        |       FROM e JOIN od USING (src) JOIN r0 ON e.src = r0.item GROUP BY 1),
        |r1 AS (SELECT item, (15000000000000 // (100 * n)) + (85 * COALESCE(s, 0)) // 100 AS rank_fx
        |       FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.item = c1.dst),
        |c2 AS (SELECT e.dst AS dst, SUM(r1.rank_fx // od.outdeg) AS s
        |       FROM e JOIN od USING (src) JOIN r1 ON e.src = r1.item GROUP BY 1),
        |r2 AS (SELECT item, (15000000000000 // (100 * n)) + (85 * COALESCE(s, 0)) // 100 AS rank_fx
        |       FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.item = c2.dst),
        |c3 AS (SELECT e.dst AS dst, SUM(r2.rank_fx // od.outdeg) AS s
        |       FROM e JOIN od USING (src) JOIN r2 ON e.src = r2.item GROUP BY 1),
        |r3 AS (SELECT item, (15000000000000 // (100 * n)) + (85 * COALESCE(s, 0)) // 100 AS rank_fx
        |       FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.item = c3.dst)
        |SELECT item, CAST(rank_fx AS BIGINT) AS rank_fx
        |FROM r3 ORDER BY rank_fx DESC, item""".stripMargin,

    // Calibration: q73's replayed linear score -> sigmoid confidence
    // snapped to 1e-4 (absorbing libm exp ulps, the q62 ln convention),
    // exact integer bin sums, one final division for ECE.
    "q120_calibration" -> {
      val w = Similarity.lshPlanes(256, 1, seed = 7)(0)
      s"""WITH wt AS (SELECT ${w.mkString("[", ",", "]")}::DOUBLE[] AS w),
         |t AS (SELECT doc_id,
         |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
         |       ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x))
         |  END AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         |    list_reduce(list_transform(toks, tok ->
         |      wt.w[((list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
         |             (a,b) -> a*16 + b) % 2147483629) % 256) + 1]),
         |      (a,b) -> a + b) END AS raw
         |  FROM t CROSS JOIN wt),
         |cy AS (SELECT s.doc_id,
         |  1.0 / (1.0 + exp(-(floor((raw + -0.05)*10000.0 + 0.5)/10000.0))) AS conf,
         |  CAST(d.lang = 'en' AS BIGINT) AS y
         |  FROM s JOIN documents d USING (doc_id)),
         |bb AS (SELECT least((CAST(floor(conf*10000.0 + 0.5) AS BIGINT) * 10) // 10000, 9) AS bin,
         |       CAST(floor(conf*10000.0 + 0.5) AS BIGINT) AS c4, y FROM cy),
         |g AS (SELECT bin, COUNT(*) AS n, SUM(c4) AS s_c4,
         |      CAST(SUM(y) AS BIGINT) AS n_pos FROM bb GROUP BY 1),
         |w2 AS (SELECT bin, n, n_pos, conf_d, acc_d,
         |       CAST(floor(abs(acc_d - conf_d) * 1e6 + 0.5) AS BIGINT) AS gap_fx
         |       FROM (SELECT bin, n, n_pos,
         |             CAST(s_c4 AS DOUBLE) / 1e4 / CAST(n AS DOUBLE) AS conf_d,
         |             CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc_d FROM g)),
         |tt AS (SELECT SUM(n) AS n_total, SUM(n * gap_fx) AS gap_total FROM w2)
         |SELECT bin, n, n_pos,
         |  floor(conf_d*10000.0 + 0.5)/10000.0 AS avg_conf,
         |  floor(acc_d*10000.0 + 0.5)/10000.0 AS accuracy,
         |  floor(CAST(gap_fx AS DOUBLE)/1e6*10000.0 + 0.5)/10000.0 AS gap,
         |  floor(CAST(gap_total AS DOUBLE)/(CAST(n_total AS DOUBLE)*1e6)*10000.0 + 0.5)/10000.0 AS ece
         |FROM w2 CROSS JOIN tt ORDER BY bin""".stripMargin
    },

    // Seasonal anomalies: fixed-point moments per (type, hour), z in
    // pinned IEEE doubles — the flag set is exact, not approximate.
    "q121_seasonal_anomaly" ->
      """WITH s AS (SELECT event_id, event_type, hour(ts) AS hr, value,
        |       CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS x4
        |       FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type AS bt, hr AS bh, COUNT(*) AS n,
        |      SUM(CAST(x4 AS DECIMAL(38,0))) AS s1,
        |      SUM(CAST(x4 AS DECIMAL(38,0)) * CAST(x4 AS DECIMAL(38,0))) AS ss
        |      FROM s GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |mv AS (SELECT bt, bh,
        |       CAST(s1 AS DOUBLE)/1e4/CAST(n AS DOUBLE) AS m,
        |       (CAST(ss AS DOUBLE)/1e8 - CAST(n AS DOUBLE)
        |          * (CAST(s1 AS DOUBLE)/1e4/CAST(n AS DOUBLE))
        |          * (CAST(s1 AS DOUBLE)/1e4/CAST(n AS DOUBLE)))
        |         / (CAST(n AS DOUBLE) - 1) AS v
        |       FROM b),
        |z AS (SELECT s.event_id, s.event_type, s.hr, s.value,
        |      (CAST(s.x4 AS DOUBLE)/1e4 - mv.m) / sqrt(mv.v) AS zz, mv.v AS v
        |      FROM s JOIN mv ON s.event_type = mv.bt AND s.hr = mv.bh)
        |SELECT event_id, event_type, hr, value,
        |  floor(zz*10000.0 + 0.5)/10000.0 AS z
        |FROM z WHERE v > 0 AND abs(zz) > 2.5 ORDER BY event_id""".stripMargin,

    // Soft dedup: integer 1e6-scale weights (1000000 // group_size),
    // exact weighted token mass, one final division.
    "q122_soft_dedup" ->
      """WITH f AS (SELECT doc_id, source,
        |      CASE WHEN length(trim(text))=0 THEN 0
        |           ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tok,
        |      md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |      FROM documents),
        |g AS (SELECT fp, COUNT(*) AS gs FROM f GROUP BY 1)
        |SELECT source, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens,
        |  floor((CAST(SUM(tok * (1000000 // gs)) AS DOUBLE)/1e6)*100.0 + 0.5)/100.0
        |    AS effective_tokens
        |FROM f JOIN g USING (fp) GROUP BY source ORDER BY source""".stripMargin,

    // Dominant component: the identical integer power iteration
    // unrolled twice — HUGEINT sums, sign-adjusted floor division
    // emulating BigInt/div truncation, one pinned double cosine.
    "q123_dominant_component" ->
      """WITH x AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |    e -> CAST(floor(e*1e4 + 0.5) AS BIGINT)) AS x4 FROM embeddings),
        |dims AS (SELECT vec_id, u.d AS d, u.xv AS xv FROM
        |  (SELECT vec_id, unnest([{'d': i-1, 'xv': x4[i]} FOR i IN range(1, len(x4)+1)]) AS u
        |   FROM x)),
        |t1 AS (SELECT vec_id, 1000000 * SUM(xv) AS t FROM dims GROUP BY 1),
        |u1 AS (SELECT d, SUM(CAST(xv AS HUGEINT) * t) AS uu
        |       FROM dims JOIN t1 USING (vec_id) GROUP BY 1),
        |m1 AS (SELECT MAX(abs(uu)) AS ma FROM u1),
        |v1 AS (SELECT d, CASE WHEN uu >= 0 THEN (uu * 1000000) // ma
        |                      ELSE -((-(uu * 1000000)) // ma) END AS vd
        |       FROM u1 CROSS JOIN m1),
        |t2 AS (SELECT vec_id, SUM(CAST(xv AS HUGEINT) * vd) AS t
        |       FROM dims JOIN v1 USING (d) GROUP BY 1),
        |u2 AS (SELECT d, SUM(CAST(xv AS HUGEINT) * t) AS uu
        |       FROM dims JOIN t2 USING (vec_id) GROUP BY 1),
        |m2 AS (SELECT MAX(abs(uu)) AS ma FROM u2),
        |v2 AS (SELECT d, CASE WHEN uu >= 0 THEN (uu * 1000000) // ma
        |                      ELSE -((-(uu * 1000000)) // ma) END AS vd
        |       FROM u2 CROSS JOIN m2),
        |proj AS (SELECT vec_id, SUM(CAST(xv AS HUGEINT) * vd) AS proj_fx
        |         FROM dims JOIN v2 USING (d) GROUP BY 1),
        |nx AS (SELECT vec_id, SUM(xv * xv) AS nx2 FROM dims GROUP BY 1),
        |nv AS (SELECT SUM(vd * vd) AS nv2 FROM v2)
        |SELECT p.vec_id, CAST(p.proj_fx AS BIGINT) AS proj_fx,
        |  floor(CAST(p.proj_fx AS DOUBLE) /
        |        (sqrt(CAST(nx.nx2 AS DOUBLE)) * sqrt(CAST(nv.nv2 AS DOUBLE)))
        |        * 10000.0 + 0.5) / 10000.0 AS cos_dom
        |FROM proj p JOIN nx USING (vec_id) CROSS JOIN nv ORDER BY vec_id""".stripMargin,

    // Native session windows: gaps-and-islands with the session_window
    // boundary rule (diff >= gap breaks; end = last + gap).
    "q124_session_window" ->
      """WITH o AS (SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) >= 1800000000
        |       THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS sess FROM o)
        |SELECT user_id,
        | strftime(MIN(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS session_start,
        | strftime(MAX(CAST(ts AS TIMESTAMP)) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
        |   AS session_end,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sess ORDER BY user_id, session_start""".stripMargin,

    // Fertility: strlen = UTF-8 bytes in DuckDB (Spark octet_length).
    "q125_fertility" ->
      """WITH t AS (SELECT source,
        |  CAST(CASE WHEN length(trim(text))=0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS ws,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe,
        |  CAST(strlen(text) AS BIGINT) AS b FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        | CAST(SUM(ws) AS BIGINT) AS n_words,
        | CAST(SUM(bpe) AS BIGINT) AS n_tokens,
        | CAST(SUM(b) AS BIGINT) AS n_bytes,
        | CASE WHEN SUM(ws) > 0 THEN
        |   floor(CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(ws) AS DOUBLE) * 10000.0 + 0.5)/10000.0
        | END AS fertility,
        | CASE WHEN SUM(bpe) > 0 THEN
        |   floor(CAST(SUM(b) AS DOUBLE) / CAST(SUM(bpe) AS DOUBLE) * 10000.0 + 0.5)/10000.0
        | END AS bytes_per_token
        |FROM t GROUP BY source ORDER BY source""".stripMargin,

    // Blocklist tagging over lowercased whitespace tokens.
    "q69_blocklist" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |       ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x))
        |  END AS toks FROM documents)
        |SELECT doc_id,
        | CAST(len(list_filter(toks, x -> list_contains(['buy','click','free','spam','winner'], x))) AS INT) AS n_hits,
        | CAST(len(list_intersect(list_distinct(toks), ['buy','click','free','spam','winner'])) AS INT) AS n_terms_matched,
        | CAST(len(list_filter(toks, x -> list_contains(['buy','click','free','spam','winner'], x))) > 0 AS INT) AS flagged
        |FROM t ORDER BY doc_id""".stripMargin,

    // PQ ANN: codes = per-subspace argmin L2 over the sliced sampleHash-
    // prefix codebook; ADC = dot(query, concatenated sub-centroids).
    // list_distance ranks like the kernel's squared-L2 (sqrt monotone).
    "q70_pq_topk" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    ((vec_id % 2147483648) * 2654435761) % 4294967296 AS h FROM embeddings),
        |cent AS (SELECT v AS cv, row_number() OVER (ORDER BY h, vec_id) - 1 AS cid
        |         FROM c ORDER BY h, vec_id LIMIT 16),
        |codes AS (SELECT vec_id, m, cid FROM (
        |  SELECT a.vec_id, mm.m, t.cid,
        |    row_number() OVER (PARTITION BY a.vec_id, mm.m
        |      ORDER BY list_distance(a.v[mm.m*16+1:(mm.m+1)*16], t.cv[mm.m*16+1:(mm.m+1)*16]) ASC, t.cid) AS rn
        |  FROM c a CROSS JOIN (SELECT CAST(range AS INT) AS m FROM range(0,4)) mm CROSS JOIN cent t) WHERE rn = 1),
        |recon AS (SELECT codes.vec_id, flatten(list(cent.cv[codes.m*16+1:(codes.m+1)*16] ORDER BY codes.m)) AS rv
        |          FROM codes JOIN cent USING (cid) GROUP BY codes.vec_id),
        |scored AS (SELECT q.vec_id AS q_id, r.vec_id AS n_id, list_dot_product(q.v, r.rv) AS adc
        |           FROM c q JOIN recon r ON r.vec_id <> q.vec_id WHERE q.vec_id < 10),
        |rr AS (SELECT q_id, n_id, adc, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS rn FROM scored)
        |SELECT q_id, CAST(rn AS INT) AS "rank", n_id, floor(adc*10000.0 + 0.5)/10000.0 AS adc
        |FROM rr WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

    // Winsorized stats: nearest-rank thresholds over the distinct-value
    // cumulative counts; quantity is integral so the clipped sum is
    // order-exact.
    "q71_winsorize" ->
      """WITH d AS (SELECT l_returnflag AS g, CAST(l_quantity AS DOUBLE) AS v
        |  FROM lineitem WHERE l_quantity IS NOT NULL),
        |cnt AS (SELECT g, v, COUNT(*) AS c FROM d GROUP BY 1, 2),
        |r AS (SELECT g, v,
        |  SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum,
        |  SUM(c) OVER (PARTITION BY g) AS n FROM cnt),
        |thr AS (SELECT g,
        |  MIN(CASE WHEN cum >= greatest(ceil(n*0.05), 1) THEN v END) AS lo,
        |  MIN(CASE WHEN cum >= greatest(ceil(n*0.95), 1) THEN v END) AS hi
        |  FROM r GROUP BY g)
        |SELECT d.g AS l_returnflag, COUNT(*) AS n_rows,
        | floor(MIN(lo)*10000.0 + 0.5)/10000.0 AS p_lo,
        | floor(MIN(hi)*10000.0 + 0.5)/10000.0 AS p_hi,
        | CAST(SUM(CASE WHEN d.v < lo THEN 1 ELSE 0 END
        |        + CASE WHEN d.v > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
        | floor((SUM(LEAST(GREATEST(d.v, lo), hi)) / COUNT(*))*10000.0 + 0.5)/10000.0 AS winsorized_mean
        |FROM d JOIN thr USING (g) GROUP BY 1 ORDER BY 1""".stripMargin,

    // Latest snapshot: the window-rank twin of the max(struct) reduce.
    "q72_latest_snapshot" ->
      """WITH r AS (SELECT user_id, ts, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s,
        |       event_id, event_type, value
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // Classifier scoring: the weight table and per-token MD5-fold index
    // are replayed verbatim; dyadic weights make the token sums exact.
    "q73_classifier_score" -> {
      val w = Similarity.lshPlanes(256, 1, seed = 7)(0)
      s"""WITH wt AS (SELECT ${w.mkString("[", ",", "]")}::DOUBLE[] AS w),
         |t AS (SELECT doc_id,
         |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
         |       ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x))
         |  END AS toks FROM documents),
         |s AS (SELECT doc_id, len(toks) AS n_tokens,
         |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         |    list_reduce(list_transform(toks, tok ->
         |      wt.w[((list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
         |             (a,b) -> a*16 + b) % 2147483629) % 256) + 1]),
         |      (a,b) -> a + b) END AS raw
         |  FROM t CROSS JOIN wt)
         |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
         | floor((raw + -0.05)*10000.0 + 0.5)/10000.0 AS score,
         | CAST(floor((raw + -0.05)*10000.0 + 0.5)/10000.0 > 0 AS INT) AS flagged
         |FROM s ORDER BY doc_id""".stripMargin
    },

    // PMI: bigram stream vs unigram stream, ln-ratio; rounded PMI is
    // the primary sort key with (w1, w2) completing determinism.
    "q74_pmi" ->
      """WITH t AS (SELECT CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |  ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x))
        |  END AS toks FROM documents),
        |uni AS (SELECT unnest(toks) AS w FROM t),
        |uc AS (SELECT w, COUNT(*) AS c_w FROM uni GROUP BY 1),
        |bi AS (SELECT unnest([{'w1': toks[i+1], 'w2': toks[i+2]} FOR i IN range(0, len(toks)-1)]) AS bg
        |       FROM t WHERE len(toks) >= 2),
        |bc AS (SELECT bg.w1 AS w1, bg.w2 AS w2, COUNT(*) AS c_bg FROM bi GROUP BY 1, 2),
        |nb AS (SELECT CAST(SUM(c_bg) AS BIGINT) AS n_bg FROM bc),
        |nu AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n_uni FROM uc)
        |SELECT b.w1, b.w2, b.c_bg,
        | floor(ln((CAST(b.c_bg AS DOUBLE) / CAST(nb.n_bg AS DOUBLE)) /
        |   ((CAST(u1.c_w AS DOUBLE) / CAST(nu.n_uni AS DOUBLE)) *
        |    (CAST(u2.c_w AS DOUBLE) / CAST(nu.n_uni AS DOUBLE))))*10000.0 + 0.5)/10000.0 AS pmi
        |FROM bc b JOIN uc u1 ON b.w1 = u1.w JOIN uc u2 ON b.w2 = u2.w
        |CROSS JOIN nb CROSS JOIN nu
        |WHERE b.c_bg >= 5
        |ORDER BY pmi DESC, b.w1, b.w2""".stripMargin,

    // Dimension profile: DECIMAL(38,0) sums of fixed-point values are
    // exact under any accumulation order; both engines divide the same
    // exact sums in the same double expression.
    "q75_dim_profile" ->
      """WITH x AS (SELECT unnest([{'dim': i, 'x': CAST(embedding[i+1] AS DOUBLE)}
        |    FOR i IN range(0, len(embedding))]) AS u FROM embeddings),
        |f AS (SELECT u.dim AS dim,
        |  CASE WHEN isnan(u.x) OR isinf(u.x) THEN NULL ELSE u.x END AS x,
        |  CASE WHEN isnan(u.x) OR isinf(u.x) THEN NULL
        |       ELSE CAST(floor(u.x*1000000.0 + 0.5) AS BIGINT) END AS fx FROM x),
        |a AS (SELECT dim, COUNT(x) AS n,
        |  CAST(SUM(CASE WHEN x IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
        |  SUM(CAST(fx AS DECIMAL(38,0))) AS s1,
        |  SUM(CAST(fx*fx AS DECIMAL(38,0))) AS s2,
        |  MIN(x) AS mn, MAX(x) AS mx FROM f GROUP BY dim)
        |SELECT CAST(dim AS INT) AS dim, n, n_nonfinite,
        | floor((CAST(s1 AS DOUBLE)/1000000.0 / CAST(n AS DOUBLE))*10000.0 + 0.5)/10000.0 AS mean,
        | floor(sqrt(greatest((CAST(s2 AS DOUBLE)/1000000000000.0
        |   - (CAST(s1 AS DOUBLE)/1000000.0)*(CAST(s1 AS DOUBLE)/1000000.0)/CAST(n AS DOUBLE))
        |   / (CAST(n AS DOUBLE) - 1), 0.0))*10000.0 + 0.5)/10000.0 AS std,
        | floor(mn*10000.0 + 0.5)/10000.0 AS v_min,
        | floor(mx*10000.0 + 0.5)/10000.0 AS v_max
        |FROM a ORDER BY dim""".stripMargin,

    "q76_k_anonymity" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS cnt
        |  FROM customer GROUP BY 1, 2)
        |SELECT 'c_nationkey,c_mktsegment' AS quasi_cols, CAST(10 AS BIGINT) AS k,
        | COUNT(*) AS n_groups,
        | CAST(SUM(CASE WHEN cnt < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
        | CAST(SUM(CASE WHEN cnt < 10 THEN cnt ELSE 0 END) AS BIGINT) AS rows_at_risk,
        | MIN(cnt) AS min_group_size
        |FROM g""".stripMargin,

    // l-diversity: identical quasi grid, distinct sensitive bands per
    // group, same violation cut.
    "q223_l_diversity" ->
      """WITH cells AS (SELECT c_nationkey, c_mktsegment,
        |  floor(CAST(c_acctbal AS DOUBLE)/2000.0) AS s, COUNT(*) AS cnt
        |  FROM customer GROUP BY 1, 2, 3),
        |g AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS dv,
        |  CAST(SUM(cnt) AS BIGINT) AS rws FROM cells GROUP BY 1, 2)
        |SELECT 'c_nationkey,c_mktsegment' AS quasi_cols, CAST(5 AS BIGINT) AS l,
        | COUNT(*) AS n_groups,
        | CAST(SUM(CASE WHEN dv < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        | CAST(SUM(CASE WHEN dv < 5 THEN rws ELSE 0 END) AS BIGINT) AS rows_at_risk,
        | MIN(dv) AS min_diversity
        |FROM g""".stripMargin,

    "q77_skew_profile" ->
      """WITH g AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1)
        |SELECT 'user_id' AS key_col,
        | CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
        | CAST(MAX(cnt) AS BIGINT) AS max_key_rows,
        | floor((CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE))*10000.0 + 0.5)/10000.0 AS top_share,
        | floor((CAST(MAX(cnt) AS DOUBLE) / (CAST(SUM(cnt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)))*10000.0 + 0.5)/10000.0 AS skew_ratio
        |FROM g""".stripMargin,

    // Hash split: the same Knuth-hash bucket CASE, edges 8000/9000.
    "q78_hash_split" ->
      """WITH s AS (SELECT source,
        |  CASE WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 % 10000 < 8000 THEN 'train'
        |       WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 % 10000 < 9000 THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, source, COUNT(*) AS n_docs
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Corpus diff: md5 digests compared across a full outer join on id.
    "q79_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |v2 AS (SELECT doc_id,
        |  md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, md5(text) AS fp
        |  FROM documents WHERE doc_id % 17 = 0),
        |d AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.fp IS NULL THEN 'added'
        |       WHEN b.fp IS NULL THEN 'removed'
        |       WHEN a.fp <> b.fp THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT status, COUNT(*) AS n_docs FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    "q80_hard_negatives" ->
      """WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |  list_cosine_similarity(q.v, n.v) AS cos
        |  FROM c q JOIN c n ON q.vec_id <> n.vec_id AND q.label <> n.label
        |  WHERE q.vec_id < 10),
        |r AS (SELECT q_id, n_id, cos,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn FROM p)
        |SELECT q_id, CAST(rn AS INT) AS "rank", n_id,
        | floor(cos*10000.0 + 0.5)/10000.0 AS cosine
        |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

    // Chunking: stride 24, windows [id*24+1, id*24+32]; empty docs
    // produce no chunks.
    "q81_chunk" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |n AS (SELECT doc_id, toks,
        |  1 + CAST(ceil(greatest(len(toks) - 32, 0) / 24.0) AS INT) AS nc FROM t),
        |c AS (SELECT doc_id, toks, unnest([i FOR i IN range(0, nc)]) AS chunk_id FROM n)
        |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        | CAST(len(toks[chunk_id*24+1 : least(chunk_id*24+32, len(toks))]) AS INT) AS n_tokens,
        | array_to_string(toks[chunk_id*24+1 : least(chunk_id*24+32, len(toks))], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // Within-doc line dedup: DuckDB lambda indexes are 1-based, Spark's
    // 0-based — both keep x at i iff list_position/array_position
    // (first occurrence, 1-based in both) lands on i.
    "q82_doc_line_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM documents),
        |k AS (SELECT doc_id, l,
        |  list_filter(l, (x, i) -> list_position(l, x) = i) AS kept FROM t)
        |SELECT doc_id, CAST(len(l) AS BIGINT) AS n_lines,
        | CAST(len(kept) AS BIGINT) AS n_kept,
        | array_to_string(kept, chr(10)) AS clean_text
        |FROM k ORDER BY doc_id""".stripMargin,

    // Source overlap: same short-doc convention as q56 (fewer than n
    // tokens -> the whole doc is one gram). Spark counts distinct
    // 64-bit gram hashes; the oracle counts distinct gram STRINGS —
    // identical up to xxhash64 collisions (odds ~1e-9 at gate SFs).
    "q83_source_overlap" ->
      """WITH ws AS (SELECT source,
        |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |g0 AS (SELECT source, unnest(
        |  CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |       ELSE [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t)-1)] END) AS g
        |  FROM ws),
        |g AS (SELECT DISTINCT source, g AS gh FROM g0),
        |s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM g GROUP BY 1),
        |i AS (SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM g a JOIN g b ON a.gh = b.gh AND a.source < b.source GROUP BY 1,2),
        |p AS (SELECT sa.source AS source_a, sa.n_grams AS n_grams_a,
        |  sb.source AS source_b, sb.n_grams AS n_grams_b
        |  FROM s sa JOIN s sb ON sa.source < sb.source)
        |SELECT source_a, source_b, n_grams_a, n_grams_b,
        | CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common,
        | floor(CAST(COALESCE(n_common, 0) AS DOUBLE)
        |   / (n_grams_a + n_grams_b - COALESCE(n_common, 0)) * 10000.0 + 0.5)/10000.0 AS jaccard
        |FROM p LEFT JOIN i USING (source_a, source_b)
        |ORDER BY source_a, source_b""".stripMargin,

    "q64_centroid_outliers" ->
      """WITH x AS (SELECT vec_id, label,
        |  unnest([{'dim': i, 'x': embedding[i+1]} FOR i IN range(0, len(embedding))]) AS u
        |  FROM embeddings),
        |c AS (SELECT label, u.dim AS dim, AVG(CAST(u.x AS DOUBLE)) AS c
        |  FROM x GROUP BY 1, 2),
        |d AS (SELECT x.vec_id, x.label,
        |  SUM((CAST(x.u.x AS DOUBLE) - c.c) * (CAST(x.u.x AS DOUBLE) - c.c)) AS ss
        |  FROM x JOIN c ON x.label = c.label AND x.u.dim = c.dim
        |  GROUP BY 1, 2)
        |SELECT vec_id, label,
        | floor(sqrt(ss) * 10000.0 + 0.5) / 10000.0 AS centroid_dist,
        | CAST(floor(sqrt(ss) * 10000.0 + 0.5) / 10000.0 > 1.01 AS INT) AS is_outlier
        |FROM d ORDER BY vec_id""".stripMargin,

    // Funnel: staged min-joins, lag in exact integer microseconds
    // (q37's epoch_us convention).
    "q84_funnel" ->
      """WITH s0 AS (SELECT user_id AS u, MIN(ts) AS t, MIN(ts) AS t0
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (SELECT e.user_id AS u, MIN(e.ts) AS t, MIN(s0.t0) AS t0
        |  FROM events e JOIN s0 ON e.user_id = s0.u AND e.ts > s0.t
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s2 AS (SELECT e.user_id AS u, MIN(e.ts) AS t, MIN(s1.t0) AS t0
        |  FROM events e JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT 0 AS step_idx, 'view' AS step_name,
        |  CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(COALESCE(SUM(epoch_us(CAST(t AS TIMESTAMP))
        |    - epoch_us(CAST(t0 AS TIMESTAMP))), 0) AS BIGINT) AS sum_lag_us FROM s0
        |UNION ALL
        |SELECT 1, 'click', CAST(COUNT(*) AS BIGINT),
        |  CAST(COALESCE(SUM(epoch_us(CAST(t AS TIMESTAMP))
        |    - epoch_us(CAST(t0 AS TIMESTAMP))), 0) AS BIGINT) FROM s1
        |UNION ALL
        |SELECT 2, 'purchase', CAST(COUNT(*) AS BIGINT),
        |  CAST(COALESCE(SUM(epoch_us(CAST(t AS TIMESTAMP))
        |    - epoch_us(CAST(t0 AS TIMESTAMP))), 0) AS BIGINT) FROM s2
        |ORDER BY step_idx""".stripMargin,

    // Retention: Monday-truncated weeks in both engines; the day
    // difference of two week-truncations is an exact multiple of 7.
    "q85_retention" ->
      """WITH wk AS (SELECT DISTINCT user_id AS u,
        |  CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS w FROM events),
        |c AS (SELECT u, MIN(w) AS cw FROM wk GROUP BY 1)
        |SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
        | CAST(date_diff('day', cw, w) // 7 AS INT) AS week_offset,
        | CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM wk JOIN c USING (u)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Histogram: the bin expression replays Spark's exact double-op
    // order ((x - lo) / (hi - lo) * nBins) — IEEE-deterministic.
    "q86_histogram" ->
      """WITH b AS (SELECT
        |  CAST(least(greatest(floor((l_extendedprice - 0.0) / 120000.0 * 20), 0), 19) AS INT) AS bin_idx,
        |  l_extendedprice AS x
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |SELECT bin_idx,
        | floor((0.0 + bin_idx * 6000.0) * 1000000.0 + 0.5) / 1000000.0 AS bin_lo,
        | floor((0.0 + (bin_idx + 1) * 6000.0) * 1000000.0 + 0.5) / 1000000.0 AS bin_hi,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | floor(MIN(x) * 1000000.0 + 0.5) / 1000000.0 AS v_min,
        | floor(MAX(x) * 1000000.0 + 0.5) / 1000000.0 AS v_max
        |FROM b GROUP BY bin_idx ORDER BY bin_idx""".stripMargin,

    // Correlation: the 1e-4 fixed-point + DECIMAL(38,0) moment sums
    // replayed; r assembled in the same double-op order. The corpus has
    // no NULLs in these columns, so one shared moment row serves all
    // six pairs (Spark computes per-pair ns for the general case).
    "q87_correlation" ->
      """WITH f AS (SELECT
        |  CAST(floor(CAST(l_quantity AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS vq,
        |  CAST(floor(CAST(l_extendedprice AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS vp,
        |  CAST(floor(CAST(l_discount AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS vd,
        |  CAST(floor(CAST(l_tax AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS vt
        |  FROM lineitem),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(vq AS DECIMAL(19,0))) AS sq, SUM(CAST(vp AS DECIMAL(19,0))) AS sp,
        |  SUM(CAST(vd AS DECIMAL(19,0))) AS sd, SUM(CAST(vt AS DECIMAL(19,0))) AS st,
        |  SUM(CAST(vq AS DECIMAL(19,0)) * CAST(vq AS DECIMAL(19,0))) AS sqq,
        |  SUM(CAST(vp AS DECIMAL(19,0)) * CAST(vp AS DECIMAL(19,0))) AS spp,
        |  SUM(CAST(vd AS DECIMAL(19,0)) * CAST(vd AS DECIMAL(19,0))) AS sdd,
        |  SUM(CAST(vt AS DECIMAL(19,0)) * CAST(vt AS DECIMAL(19,0))) AS stt,
        |  SUM(CAST(vq AS DECIMAL(19,0)) * CAST(vp AS DECIMAL(19,0))) AS sqp,
        |  SUM(CAST(vq AS DECIMAL(19,0)) * CAST(vd AS DECIMAL(19,0))) AS sqd,
        |  SUM(CAST(vq AS DECIMAL(19,0)) * CAST(vt AS DECIMAL(19,0))) AS sqt,
        |  SUM(CAST(vp AS DECIMAL(19,0)) * CAST(vd AS DECIMAL(19,0))) AS spd,
        |  SUM(CAST(vp AS DECIMAL(19,0)) * CAST(vt AS DECIMAL(19,0))) AS spt,
        |  SUM(CAST(vd AS DECIMAL(19,0)) * CAST(vt AS DECIMAL(19,0))) AS sdt
        |  FROM f),
        |p AS (
        |  SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, n,
        |    CAST(sq AS DOUBLE)/10000.0 AS sx, CAST(sp AS DOUBLE)/10000.0 AS sy,
        |    CAST(sqq AS DOUBLE)/100000000.0 AS sxx, CAST(spp AS DOUBLE)/100000000.0 AS syy,
        |    CAST(sqp AS DOUBLE)/100000000.0 AS sxy FROM m
        |  UNION ALL SELECT 'l_quantity', 'l_discount', n,
        |    CAST(sq AS DOUBLE)/10000.0, CAST(sd AS DOUBLE)/10000.0,
        |    CAST(sqq AS DOUBLE)/100000000.0, CAST(sdd AS DOUBLE)/100000000.0,
        |    CAST(sqd AS DOUBLE)/100000000.0 FROM m
        |  UNION ALL SELECT 'l_quantity', 'l_tax', n,
        |    CAST(sq AS DOUBLE)/10000.0, CAST(st AS DOUBLE)/10000.0,
        |    CAST(sqq AS DOUBLE)/100000000.0, CAST(stt AS DOUBLE)/100000000.0,
        |    CAST(sqt AS DOUBLE)/100000000.0 FROM m
        |  UNION ALL SELECT 'l_extendedprice', 'l_discount', n,
        |    CAST(sp AS DOUBLE)/10000.0, CAST(sd AS DOUBLE)/10000.0,
        |    CAST(spp AS DOUBLE)/100000000.0, CAST(sdd AS DOUBLE)/100000000.0,
        |    CAST(spd AS DOUBLE)/100000000.0 FROM m
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax', n,
        |    CAST(sp AS DOUBLE)/10000.0, CAST(st AS DOUBLE)/10000.0,
        |    CAST(spp AS DOUBLE)/100000000.0, CAST(stt AS DOUBLE)/100000000.0,
        |    CAST(spt AS DOUBLE)/100000000.0 FROM m
        |  UNION ALL SELECT 'l_discount', 'l_tax', n,
        |    CAST(sd AS DOUBLE)/10000.0, CAST(st AS DOUBLE)/10000.0,
        |    CAST(sdd AS DOUBLE)/100000000.0, CAST(stt AS DOUBLE)/100000000.0,
        |    CAST(sdt AS DOUBLE)/100000000.0 FROM m)
        |SELECT col_x, col_y, n,
        | CASE WHEN sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
        |               * (CAST(n AS DOUBLE) * syy - sy * sy)) > 0
        |   THEN floor((CAST(n AS DOUBLE) * sxy - sx * sy)
        |     / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
        |          * (CAST(n AS DOUBLE) * syy - sy * sy)) * 1000000.0 + 0.5) / 1000000.0
        |   END AS r
        |FROM p ORDER BY col_x, col_y""".stripMargin,

    // Normalize: the same five regexes, RE2 and Java agree on these
    // classes/quantifiers; 'g' replays Spark's replace-all default.
    "q88_normalize" ->
      """WITH n AS (SELECT doc_id, text,
        |  trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |        '\t', ' ', 'g'),
        |      '  +', ' ', 'g'),
        |    ' *\n *', chr(10), 'g'),
        |  '\n\n\n+', chr(10) || chr(10), 'g')) AS clean_text
        |  FROM documents)
        |SELECT doc_id, clean_text,
        | CAST(length(text) AS BIGINT) AS n_chars_raw,
        | CAST(length(clean_text) AS BIGINT) AS n_chars_norm
        |FROM n ORDER BY doc_id""".stripMargin,

    // PSI: q86's bin rule on both halves, Laplace-smoothed shares,
    // (p-q)*ln(p/q) in the same double-op order; rounding reconciles ln.
    "q89_psi_drift" ->
      """WITH a AS (SELECT
        |  CAST(least(greatest(floor((o_totalprice - 0.0) / 500000.0 * 10), 0), 9) AS INT) AS ba,
        |  COUNT(*) AS n_a FROM orders
        |  WHERE o_orderkey % 2 = 0 AND o_totalprice IS NOT NULL GROUP BY 1),
        |b AS (SELECT
        |  CAST(least(greatest(floor((o_totalprice - 0.0) / 500000.0 * 10), 0), 9) AS INT) AS bb,
        |  COUNT(*) AS n_b FROM orders
        |  WHERE o_orderkey % 2 <> 0 AND o_totalprice IS NOT NULL GROUP BY 1),
        |j AS (SELECT COALESCE(ba, bb) AS bin_idx,
        |  COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
        |  FROM a FULL OUTER JOIN b ON ba = bb),
        |t AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM j),
        |s AS (SELECT bin_idx, n_a, n_b,
        |  (CAST(n_a AS DOUBLE) + 0.5) / (CAST(ta AS DOUBLE) + 5.0) AS p,
        |  (CAST(n_b AS DOUBLE) + 0.5) / (CAST(tb AS DOUBLE) + 5.0) AS q
        |  FROM j CROSS JOIN t)
        |SELECT bin_idx, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        | floor(p * 1000000.0 + 0.5) / 1000000.0 AS p_a,
        | floor(q * 1000000.0 + 0.5) / 1000000.0 AS p_b,
        | floor((p - q) * ln(p / q) * 1000000.0 + 0.5) / 1000000.0 AS psi_term
        |FROM s ORDER BY bin_idx""".stripMargin,

    // Per-key cap: the window-rank twin of the cap-bounded aggregator,
    // over the q40 portable hash, ties by id.
    "q90_cap_per_key" ->
      """WITH h AS (SELECT source, doc_id,
        |  (((doc_id % 2147483648) * 2654435761) % 4294967296) % 10000 AS hb
        |  FROM documents),
        |r AS (SELECT source, doc_id,
        |  row_number() OVER (PARTITION BY source ORDER BY hb, doc_id) AS rn FROM h)
        |SELECT source, CAST(rn AS INT) AS "rank", doc_id
        |FROM r WHERE rn <= 25 ORDER BY source, "rank"""".stripMargin,

    // Semantic decontamination: q53's plane-literal banding, corpus side
    // vs eval side, any-band agreement then exact cosine.
    "q91_semantic_decontam" -> {
      val bands = 24
      val bits = 5
      val planes = Similarity.lshPlanes(dim = 64, bits = bands * bits, seed = 42)
      def bandExpr(b: Int): String = (0 until bits).map { j =>
        val lit = planes(b * bits + j).mkString("[", ",", "]")
        s"(CASE WHEN list_reduce([v[i]*($lit)[i] FOR i IN range(1,65)], (a, b) -> a+b) > 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      val bvExpr = (0 until bands).map(bandExpr).mkString("[\n", ",\n", "\n]")
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, $bvExpr AS bv FROM base),
         |cand AS (SELECT c.vec_id AS corpus_id, e.vec_id AS eval_id,
         |  floor((list_cosine_similarity(c.v, e.v))*10000.0 + 0.5)/10000.0 AS cosine
         | FROM b c JOIN b e ON c.vec_id % 10 <> 0 AND e.vec_id % 10 = 0
         |  AND len(list_filter([i FOR i IN range(1,${bands + 1})], i -> c.bv[i] = e.bv[i])) > 0)
         |SELECT corpus_id, eval_id, cosine FROM cand WHERE cosine >= 0.4 ORDER BY 1, 2""".stripMargin
    },

    // Canonical selection: q23's simhash replay defines the clusters;
    // the window-rank twin picks max (n_chars, id) per cluster.
    "q92_canonical" ->
      """WITH toks AS (SELECT doc_id,
        |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |h AS (SELECT doc_id,
        |  list_transform(t, tok ->
        |    list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
        |      (a, b) -> a*16 + b)) AS hs
        |  FROM toks),
        |s AS (SELECT doc_id AS id,
        |  CAST(CASE WHEN len(hs)=0 THEN 0 ELSE
        |    list_sum([CASE WHEN list_sum([CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0
        |              THEN 1::BIGINT << b ELSE 0::BIGINT END FOR b IN range(0, 60)])
        |  END AS BIGINT) AS simhash
        |  FROM h),
        |j AS (SELECT s.simhash, s.id, d.n_chars
        |  FROM s JOIN documents d ON d.doc_id = s.id),
        |r AS (SELECT simhash, id, n_chars,
        |  COUNT(*) OVER (PARTITION BY simhash) AS n_members,
        |  row_number() OVER (PARTITION BY simhash ORDER BY n_chars DESC, id DESC) AS rn
        |  FROM j)
        |SELECT simhash, CAST(n_members AS BIGINT) AS n_members,
        | id AS canonical_id, n_chars AS canonical_score
        |FROM r WHERE rn = 1 ORDER BY simhash""".stripMargin,

    // Inverted index: distinct (doc, term), df floor, window-rank twin
    // of the id-ascending posting cap, ordered list_agg.
    "q93_inverted_index" ->
      """WITH t0 AS (SELECT doc_id,
        |  unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |t AS (SELECT DISTINCT doc_id, term FROM t0),
        |d AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM t GROUP BY 1),
        |p AS (SELECT term, doc_id,
        |  row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn FROM t)
        |SELECT d.term, d.df,
        | CAST(COUNT(*) AS BIGINT) AS n_kept,
        | array_to_string(list(p.doc_id ORDER BY p.doc_id), ',') AS postings,
        | CAST(d.df > 20 AS INT) AS truncated
        |FROM p JOIN d USING (term)
        |WHERE p.rn <= 20 AND d.df >= 5
        |GROUP BY d.term, d.df ORDER BY d.term""".stripMargin,

    "q94_interval_join" ->
      """WITH pts AS (SELECT DISTINCT CAST(l_shipdate AS DATE) AS d FROM lineitem),
        |iv AS (SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS lo,
        |  CAST(o_orderdate AS DATE) + CAST(o_orderkey % 30 AS INT) AS hi
        |  FROM orders)
        |SELECT strftime(d, '%Y-%m-%d') AS point_date,
        | COUNT(*) AS n_open_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_open_price
        |FROM pts JOIN iv ON d >= lo AND d <= hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q95_trailing_window" ->
      """SELECT user_id, event_id,
        | strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
        | COUNT(*) OVER w AS trailing_n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trailing_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        |  RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "q96_mad_outliers" ->
      """WITH m AS (SELECT floor((quantile_cont(CAST(value AS DOUBLE), 0.5))*10000.0 + 0.5)/10000.0 AS med
        |  FROM events WHERE value IS NOT NULL),
        |d AS (SELECT event_id, CAST(value AS DOUBLE) AS v,
        |  abs(CAST(value AS DOUBLE) - med) AS dev FROM events, m),
        |md AS (SELECT floor((quantile_cont(dev, 0.5))*10000.0 + 0.5)/10000.0 AS mad FROM d)
        |SELECT event_id,
        | floor(v*10000.0 + 0.5)/10000.0 AS value,
        | CASE WHEN mad > 0 THEN floor((dev/mad)*10000.0 + 0.5)/10000.0 END AS mad_score
        |FROM d, md
        |WHERE CASE WHEN mad > 0 THEN dev > mad*3.0 ELSE dev > 0 END
        |ORDER BY event_id""".stripMargin,

    "q97_prefix_jaccard" ->
      """WITH t AS (SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) ws
        |  FROM documents WHERE length(trim(text)) > 0)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        | floor((CAST(len(list_intersect(a.ws,b.ws)) AS DOUBLE)
        |   / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))))*10000.0 + 0.5)/10000.0 AS jaccard
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.ws,b.ws)) AS DOUBLE)
        |   / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) >= 0.9
        |ORDER BY 1, 2""".stripMargin,

    "q98_active_users" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        |  FROM events),
        |days AS (SELECT DISTINCT d FROM ud)
        |SELECT strftime(days.d, '%Y-%m-%d') AS day,
        | COUNT(DISTINCT CASE WHEN ud.d = days.d THEN ud.user_id END) AS dau,
        | COUNT(DISTINCT ud.user_id) AS window_users
        |FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q99_ab_lift" ->
      """WITH s AS (SELECT
        |  CASE WHEN (((user_id % 2147483648) * 2654435761) % 4294967296) % 10000 < 5000
        |       THEN 'A' ELSE 'B' END AS variant,
        |  CAST(floor(CAST(value AS DOUBLE)*10000.0 + 0.5) AS BIGINT) AS x4
        |  FROM events WHERE value IS NOT NULL),
        |m AS (SELECT
        |  COUNT(CASE WHEN variant='A' THEN 1 END) AS n_a,
        |  COUNT(CASE WHEN variant='B' THEN 1 END) AS n_b,
        |  CAST(SUM(CASE WHEN variant='A' THEN CAST(x4 AS DECIMAL(38,0)) END) AS DOUBLE) AS s_a,
        |  CAST(SUM(CASE WHEN variant='B' THEN CAST(x4 AS DECIMAL(38,0)) END) AS DOUBLE) AS s_b,
        |  CAST(SUM(CASE WHEN variant='A' THEN CAST(x4 AS DECIMAL(38,0))*CAST(x4 AS DECIMAL(38,0)) END) AS DOUBLE) AS ss_a,
        |  CAST(SUM(CASE WHEN variant='B' THEN CAST(x4 AS DECIMAL(38,0))*CAST(x4 AS DECIMAL(38,0)) END) AS DOUBLE) AS ss_b
        |  FROM s),
        |d AS (SELECT n_a, n_b,
        |  (s_a/10000.0)/CAST(n_a AS DOUBLE) AS ma, (s_b/10000.0)/CAST(n_b AS DOUBLE) AS mb,
        |  (ss_a/100000000.0 - CAST(n_a AS DOUBLE)*((s_a/10000.0)/CAST(n_a AS DOUBLE))*((s_a/10000.0)/CAST(n_a AS DOUBLE)))/(CAST(n_a AS DOUBLE)-1) AS va,
        |  (ss_b/100000000.0 - CAST(n_b AS DOUBLE)*((s_b/10000.0)/CAST(n_b AS DOUBLE))*((s_b/10000.0)/CAST(n_b AS DOUBLE)))/(CAST(n_b AS DOUBLE)-1) AS vb
        |  FROM m)
        |SELECT n_a, n_b,
        | floor(ma*10000.0 + 0.5)/10000.0 AS mean_a,
        | floor(mb*10000.0 + 0.5)/10000.0 AS mean_b,
        | CASE WHEN ma <> 0 THEN floor(((mb-ma)/ma*100)*10000.0 + 0.5)/10000.0 END AS lift_pct,
        | CASE WHEN n_a >= 2 AND n_b >= 2 THEN
        |   floor(((mb-ma)/sqrt(va/CAST(n_a AS DOUBLE) + vb/CAST(n_b AS DOUBLE)))*10000.0 + 0.5)/10000.0 END AS t_stat
        |FROM d""".stripMargin,

    "q100_cube" ->
      """SELECT r.r_name AS region, o.o_orderpriority AS priority,
        | CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_lines,
        | CAST(GROUPING(r.r_name, o.o_orderpriority) AS INT) AS lvl
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey=o.o_orderkey
        |JOIN customer c ON o.o_custkey=c.c_custkey
        |JOIN nation n ON c.c_nationkey=n.n_nationkey
        |JOIN region r ON n.n_regionkey=r.r_regionkey
        |GROUP BY CUBE(r.r_name, o.o_orderpriority)
        |ORDER BY lvl, region NULLS FIRST, priority NULLS FIRST""".stripMargin,

    "q101_price_ranks" ->
      """SELECT o_orderkey, o_orderpriority AS priority, o_totalprice,
        | floor((percent_rank() OVER w)*1000000.0 + 0.5)/1000000.0 AS pct_rank,
        | floor((cume_dist() OVER w)*1000000.0 + 0.5)/1000000.0 AS cume,
        | CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY priority, o_totalprice, o_orderkey""".stripMargin,

    "q102_event_deltas" ->
      """SELECT user_id, event_id,
        | strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
        | floor((CAST(value AS DOUBLE) - lag(CAST(value AS DOUBLE)) OVER w)*10000.0 + 0.5)/10000.0 AS value_delta,
        | epoch_us(CAST(ts AS TIMESTAMP))//1000000
        |   - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))//1000000 AS secs_since_prev,
        | lead(event_type) OVER w AS next_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "q105_corpus_card" ->
      """WITH t AS (SELECT text, lang, source,
        |  CAST(length(text) AS BIGINT) AS nc,
        |  CAST(CASE WHEN length(trim(text))=0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS nt
        |  FROM documents),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |  CAST(SUM(CAST(nc AS DECIMAL(38,0))) AS DOUBLE) AS chars,
        |  CAST(SUM(CAST(nt AS DECIMAL(38,0))) AS DOUBLE) AS toks,
        |  CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) AS dst,
        |  CAST(SUM(CASE WHEN length(trim(text))=0 THEN 1 ELSE 0 END) AS DOUBLE) AS emp,
        |  CAST(SUM(CASE WHEN length(text) < 100 THEN 1 ELSE 0 END) AS DOUBLE) AS sht
        |  FROM t)
        |SELECT metric, value FROM (
        |  SELECT 'n_docs' AS metric, n AS value FROM tot
        |  UNION ALL SELECT 'chars_per_doc', floor(chars/n*10000.0 + 0.5)/10000.0 FROM tot
        |  UNION ALL SELECT 'tokens_per_doc', floor(toks/n*10000.0 + 0.5)/10000.0 FROM tot
        |  UNION ALL SELECT 'exact_dup_rate', floor((n-dst)/n*10000.0 + 0.5)/10000.0 FROM tot
        |  UNION ALL SELECT 'empty_rate', floor(emp/n*10000.0 + 0.5)/10000.0 FROM tot
        |  UNION ALL SELECT 'short_rate', floor(sht/n*10000.0 + 0.5)/10000.0 FROM tot
        |  UNION ALL SELECT 'lang_share_' || COALESCE(lang, 'null'),
        |    floor(CAST(COUNT(*) AS DOUBLE)/(SELECT n FROM tot)*10000.0 + 0.5)/10000.0
        |    FROM documents GROUP BY lang
        |  UNION ALL SELECT 'source_share_' || COALESCE(source, 'null'),
        |    floor(CAST(COUNT(*) AS DOUBLE)/(SELECT n FROM tot)*10000.0 + 0.5)/10000.0
        |    FROM documents GROUP BY source
        |) ORDER BY metric""".stripMargin,

    "q109_mann_whitney" ->
      """WITH a AS (SELECT CAST(value AS DOUBLE) v FROM events
        |  WHERE event_type='click' AND value IS NOT NULL),
        |b AS (SELECT CAST(value AS DOUBLE) v FROM events
        |  WHERE event_type='view' AND value IS NOT NULL),
        |ca AS (SELECT v, COUNT(*) c FROM a GROUP BY 1),
        |cb AS (SELECT v, COUNT(*) c FROM b GROUP BY 1),
        |m AS (SELECT COALESCE(ca.v, cb.v) AS v, COALESCE(ca.c, 0) AS ca,
        |  COALESCE(cb.c, 0) AS cb FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |c AS (SELECT v, ca, cb, ca + cb AS t,
        |  COALESCE(SUM(ca + cb) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb FROM m),
        |s AS (SELECT
        |  CAST(SUM(CAST(ca AS DECIMAL(38,0)) * CAST(cumb*2 + t + 1 AS DECIMAL(38,0))) AS DOUBLE) AS r2s,
        |  CAST(SUM(CAST(t AS DECIMAL(38,0))*CAST(t AS DECIMAL(38,0))*CAST(t AS DECIMAL(38,0))
        |    - CAST(t AS DECIMAL(38,0))) AS DOUBLE) AS ties,
        |  CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM c)
        |SELECT COALESCE(na, 0) AS n_a, COALESCE(nb, 0) AS n_b,
        | CASE WHEN na > 0 AND nb > 0 THEN
        |   floor((r2s/2 - CAST(na AS DOUBLE)*(CAST(na AS DOUBLE)+1)/2)*10000.0 + 0.5)/10000.0
        | END AS u_stat,
        | CASE WHEN na > 0 AND nb > 0 AND sqrt(CAST(na AS DOUBLE)*CAST(nb AS DOUBLE)/12 *
        |     ((CAST(na AS DOUBLE)+CAST(nb AS DOUBLE)+1)
        |      - ties/((CAST(na AS DOUBLE)+CAST(nb AS DOUBLE))*(CAST(na AS DOUBLE)+CAST(nb AS DOUBLE)-1)))) > 0
        |   THEN floor(((r2s/2 - CAST(na AS DOUBLE)*(CAST(na AS DOUBLE)+1)/2)
        |      - CAST(na AS DOUBLE)*CAST(nb AS DOUBLE)/2)
        |     / sqrt(CAST(na AS DOUBLE)*CAST(nb AS DOUBLE)/12 *
        |       ((CAST(na AS DOUBLE)+CAST(nb AS DOUBLE)+1)
        |        - ties/((CAST(na AS DOUBLE)+CAST(nb AS DOUBLE))*(CAST(na AS DOUBLE)+CAST(nb AS DOUBLE)-1))))
        |     *10000.0 + 0.5)/10000.0 END AS z
        |FROM s""".stripMargin,

    "q108_transitions" ->
      """WITH p AS (SELECT event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |cells AS (SELECT from_type, to_type, COUNT(*) AS n FROM p
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type AS f, SUM(n) AS tot FROM cells GROUP BY 1)
        |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        | floor((CAST(n AS DOUBLE)/CAST(tot AS DOUBLE))*10000.0 + 0.5)/10000.0 AS p
        |FROM cells JOIN t ON cells.from_type = t.f
        |ORDER BY from_type, to_type""".stripMargin,

    "q107_chi_squared" ->
      """WITH cells AS (SELECT CAST(lang AS VARCHAR) r, CAST(source AS VARCHAR) c, COUNT(*) o
        |  FROM documents GROUP BY 1, 2),
        |rt AS (SELECT r, SUM(o) rt FROM cells GROUP BY 1),
        |ct AS (SELECT c, SUM(o) ct FROM cells GROUP BY 1),
        |t AS (SELECT SUM(o) n, COUNT(DISTINCT r) nr, COUNT(DISTINCT c) nc FROM cells),
        |grid AS (SELECT rt.r, ct.c, rt.rt, ct.ct, COALESCE(cells.o, 0) AS o
        |  FROM rt CROSS JOIN ct LEFT JOIN cells ON cells.r = rt.r AND cells.c = ct.c),
        |terms AS (SELECT CAST(floor(
        |    ((CAST(o AS DOUBLE) - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(t.n AS DOUBLE))
        |     *(CAST(o AS DOUBLE) - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(t.n AS DOUBLE))
        |     /(CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(t.n AS DOUBLE)))*1000000.0 + 0.5)
        |   /1000000.0 AS DECIMAL(28,6)) AS term
        |  FROM grid, t)
        |SELECT floor(CAST((SELECT SUM(term) FROM terms) AS DOUBLE)*10000.0 + 0.5)/10000.0 AS chi2,
        | CAST((nr-1)*(nc-1) AS BIGINT) AS dof, CAST(n AS BIGINT) AS n
        |FROM t""".stripMargin,

    "q106_ks_test" ->
      """WITH a AS (SELECT CAST(value AS DOUBLE) v FROM events
        |  WHERE event_type='click' AND value IS NOT NULL),
        |b AS (SELECT CAST(value AS DOUBLE) v FROM events
        |  WHERE event_type='view' AND value IS NOT NULL),
        |ca AS (SELECT v, COUNT(*) c FROM a GROUP BY 1),
        |cb AS (SELECT v, COUNT(*) c FROM b GROUP BY 1),
        |m AS (SELECT COALESCE(ca.v, cb.v) AS v, COALESCE(ca.c, 0) AS ca,
        |  COALESCE(cb.c, 0) AS cb FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |c AS (SELECT v,
        |  SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cuma,
        |  SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb FROM m),
        |t AS (SELECT COALESCE((SELECT SUM(ca) FROM m), 0) AS na,
        |  COALESCE((SELECT SUM(cb) FROM m), 0) AS nb),
        |g AS (SELECT c.v, abs(c.cuma*t.nb - c.cumb*t.na) AS gap FROM c, t),
        |best AS (SELECT * FROM g ORDER BY gap DESC, v ASC LIMIT 1)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        | CASE WHEN na > 0 AND nb > 0 THEN
        |   floor((CAST(gap AS DOUBLE)/CAST(na*nb AS DOUBLE))*1000000.0 + 0.5)/1000000.0
        | END AS ks_stat,
        | CASE WHEN na > 0 AND nb > 0 THEN floor(v*10000.0 + 0.5)/10000.0 END AS ks_at
        |FROM t LEFT JOIN best ON TRUE""".stripMargin,

    "q104_dense_ids" ->
      """SELECT c_custkey, c_acctbal,
        | CAST(row_number() OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS sk
        |FROM customer ORDER BY sk""".stripMargin,

    "q103_unicode_nfc" ->
      """WITH d AS (SELECT doc_id, replace(text, 'a', 'a' || chr(769)) AS dec
        |  FROM documents)
        |SELECT doc_id, CAST(length(dec) AS INT) AS n_decomposed,
        | CAST(length(nfc_normalize(dec)) AS INT) AS n_nfc,
        | md5(nfc_normalize(dec)) AS nfc_md5
        |FROM d ORDER BY doc_id""".stripMargin,

    // Triangles: the q119 edge CTE closed by a 3-way self-join over
    // id-ordered edges — (x,y),(y,z),(x,z) with x<y<z, each once.
    "q126_triangles" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |e AS (SELECT item_a, item_b FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT e1.item_a AS item_a, e1.item_b AS item_b, e2.item_b AS item_c
        |FROM e e1 JOIN e e2 ON e2.item_a = e1.item_b
        |JOIN e e3 ON e3.item_a = e1.item_a AND e3.item_b = e2.item_b
        |ORDER BY 1, 2, 3""".stripMargin,

    // Containment at t=1.0: the quadratic subset twin — any recall gap
    // in the inverted-index prefix path fails the gate.
    "q127_containment" ->
      """WITH t AS (SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) ws
        |  FROM documents WHERE length(trim(text)) > 0)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        | floor((CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / len(a.ws))*10000.0 + 0.5)/10000.0 AS containment
        |FROM t a JOIN t b ON a.doc_id <> b.doc_id
        |WHERE len(list_intersect(a.ws, b.ws)) = len(a.ws)
        |ORDER BY 1, 2""".stripMargin,

    // Decayed score: one pow() per event snapped to 1e-9 (the q62/q120
    // ulp convention), then exact integer fixed-point assembly.
    "q128_decayed_score" ->
      """WITH r AS (SELECT max(epoch_us(ts)) AS ref_us FROM events),
        |s AS (SELECT user_id,
        |  CAST(floor(pow(2.0, -(CAST(r.ref_us - epoch_us(ts) AS DOUBLE) / 86400000000.0)) * 1e9 + 0.5) AS BIGINT) AS w_fx,
        |  CAST(floor(CAST(value AS DOUBLE) * 1e4 + 0.5) AS BIGINT) AS v_fx
        |  FROM events CROSS JOIN r
        |  WHERE value IS NOT NULL AND ts IS NOT NULL)
        |SELECT user_id, COUNT(*) AS n_events,
        |  floor((CAST(SUM(CAST(v_fx AS DECIMAL(38,0)) * CAST(w_fx AS DECIMAL(38,0))) AS DOUBLE) / 1e13) * 10000.0 + 0.5)/10000.0 AS score
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    // Quantization error: identical double fold per vector (list_reduce
    // left fold == Spark aggregate from 0.0), snapped once at 1e10.
    "q129_quantize_error" ->
      """WITH v AS (SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |s AS (SELECT label, e, list_max(list_transform(e, x -> abs(x))) AS ma FROM v),
        |q AS (SELECT label,
        |  CASE WHEN ma = 0 THEN 0
        |       ELSE CAST(floor(list_reduce(list_transform(e, x ->
        |              (x - floor(x/(ma/127.0) + 0.5)*(ma/127.0)) * (x - floor(x/(ma/127.0) + 0.5)*(ma/127.0))),
        |            (a, b) -> a + b) * 1e10 + 0.5) AS BIGINT) END AS err_fx
        |  FROM s)
        |SELECT label, COUNT(*) AS n_vecs,
        |  floor((CAST(SUM(CAST(err_fx AS DECIMAL(38,0))) AS DOUBLE) / 1e10 / COUNT(*)) * 1e8 + 0.5)/1e8 AS avg_sq_err,
        |  floor((CAST(MAX(err_fx) AS DOUBLE) / 1e10) * 1e8 + 0.5)/1e8 AS max_sq_err
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,

    // Dense series: generate_series fills the grid, left join fills
    // zeros; value sums exact 1e4 fixed point.
    "q130_dense_series" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin,
        |  CASE WHEN value IS NOT NULL THEN CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) END AS v4
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, COUNT(*) AS n,
        |      SUM(CAST(v4 AS DECIMAL(38,0))) AS s FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b) gs)
        |SELECT g.t AS event_type, g.bin AS bin,
        |  strftime(make_timestamp(g.bin * 3600000000), '%Y-%m-%d %H:%M') AS bin_start,
        |  COALESCE(c.n, 0) AS n_events,
        |  floor((COALESCE(CAST(c.s AS DOUBLE), 0.0) / 1e4)*10000.0 + 0.5)/10000.0 AS sum_value
        |FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin
        |ORDER BY 1, 2""".stripMargin,

    // Distinctive terms: exact integer counts, identical double
    // assembly of the prior + two lns + z, rounded once at 1e-4.
    "q131_distinctive_terms" ->
      """WITH t AS (SELECT source, CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |  ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) END AS toks
        |  FROM documents),
        |u AS (SELECT source, unnest(toks) AS w FROM t),
        |ysw AS (SELECT source, w, COUNT(*) AS y_sw FROM u GROUP BY 1, 2),
        |yw AS (SELECT w, CAST(SUM(y_sw) AS BIGINT) AS y_w FROM ysw GROUP BY 1),
        |ns AS (SELECT source, CAST(SUM(y_sw) AS BIGINT) AS n_s FROM ysw GROUP BY 1),
        |tot AS (SELECT CAST(SUM(y_w) AS BIGINT) AS n_total FROM yw),
        |j AS (SELECT ysw.source AS source, ysw.w AS w, ysw.y_sw AS y_sw,
        |      yw.y_w AS y_w, ns.n_s AS n_s, tot.n_total AS n_total,
        |      100.0 * CAST(yw.y_w AS DOUBLE) / CAST(tot.n_total AS DOUBLE) AS aw
        |      FROM ysw JOIN yw USING (w) JOIN ns ON ysw.source = ns.source CROSS JOIN tot
        |      WHERE ysw.y_sw >= 5),
        |d AS (SELECT source, w, y_sw, y_w - y_sw AS n_rest,
        |  ln((CAST(y_sw AS DOUBLE) + aw) / (CAST(n_s AS DOUBLE) + 100.0 - CAST(y_sw AS DOUBLE) - aw))
        |  - ln((CAST(y_w - y_sw AS DOUBLE) + aw) / (CAST(n_total - n_s AS DOUBLE) + 100.0 - CAST(y_w - y_sw AS DOUBLE) - aw)) AS delta,
        |  1.0/(CAST(y_sw AS DOUBLE) + aw) + 1.0/(CAST(y_w - y_sw AS DOUBLE) + aw) AS v
        |  FROM j)
        |SELECT source, w AS term, y_sw AS n_in, n_rest,
        |  floor(delta*10000.0 + 0.5)/10000.0 AS delta,
        |  floor((delta/sqrt(v))*10000.0 + 0.5)/10000.0 AS z
        |FROM d ORDER BY source, term""".stripMargin,

    // Session paths: the q37 gaps-and-islands session assignment +
    // ordered string_agg per session, then an exact path count.
    "q132_session_paths" ->
      """WITH s AS (SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |       WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS nw
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |t AS (SELECT user_id, event_type, ts, event_id,
        |  SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |p AS (SELECT user_id, sid, string_agg(event_type, '->' ORDER BY ts, event_id) AS path
        |      FROM t GROUP BY 1, 2),
        |c AS (SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1 HAVING COUNT(*) >= 3)
        |SELECT path, n_sessions FROM c ORDER BY n_sessions DESC, path""".stripMargin,

    // Zipf fit: snapped lns -> exact DECIMAL moments -> identical
    // closed-form OLS assembly; intercept reuses the UNROUNDED slope.
    "q133_zipf_slope" ->
      """WITH t AS (SELECT CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |  ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) END AS toks
        |  FROM documents),
        |uc AS (SELECT w, COUNT(*) AS c_w FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
        |r AS (SELECT c_w, row_number() OVER (ORDER BY c_w DESC, w) AS rnk FROM uc),
        |f AS (SELECT CAST(floor(ln(CAST(rnk AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS lx,
        |             CAST(floor(ln(CAST(c_w AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS ly FROM r),
        |m AS (SELECT COUNT(*) AS n,
        |      SUM(CAST(lx AS DECIMAL(38,0))) AS sx, SUM(CAST(ly AS DECIMAL(38,0))) AS sy,
        |      SUM(CAST(lx AS DECIMAL(38,0))*CAST(lx AS DECIMAL(38,0))) AS sxx,
        |      SUM(CAST(lx AS DECIMAL(38,0))*CAST(ly AS DECIMAL(38,0))) AS sxy FROM f),
        |a AS (SELECT CAST(n AS BIGINT) AS n_terms, CAST(n AS DOUBLE) AS nd,
        |      CAST(sx AS DOUBLE)/1e6 AS sxd, CAST(sy AS DOUBLE)/1e6 AS syd,
        |      CAST(sxx AS DOUBLE)/1e12 AS sxxd, CAST(sxy AS DOUBLE)/1e12 AS sxyd FROM m),
        |b AS (SELECT n_terms, nd, sxd, syd,
        |      nd * sxxd - sxd * sxd AS den, nd * sxyd - sxd * syd AS num FROM a)
        |SELECT n_terms,
        |  CASE WHEN den > 0 THEN floor((num / den)*10000.0 + 0.5)/10000.0 END AS slope,
        |  CASE WHEN den > 0 THEN floor(((syd - (num / den) * sxd) / nd)*10000.0 + 0.5)/10000.0 END AS intercept
        |FROM b""".stripMargin,

    // Graph profile: the q126 edge CTE + exact degree/wedge/triangle
    // counts, identical pinned ratio assembly at 1e-6.
    "q134_graph_profile" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |e AS (SELECT item_a, item_b FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |dg AS (SELECT n, COUNT(*) AS d FROM
        |       (SELECT item_a AS n FROM e UNION ALL SELECT item_b FROM e) GROUP BY 1),
        |ds AS (SELECT COUNT(*) AS n_nodes, CAST(SUM(d) AS BIGINT) AS deg_sum,
        |       CAST(MAX(d) AS BIGINT) AS max_degree,
        |       CAST(SUM((d * (d - 1)) // 2) AS BIGINT) AS wedges FROM dg),
        |ne AS (SELECT COUNT(*) AS n_edges FROM e),
        |tr AS (SELECT COUNT(*) AS n_triangles FROM e e1 JOIN e e2 ON e2.item_a = e1.item_b
        |       JOIN e e3 ON e3.item_a = e1.item_a AND e3.item_b = e2.item_b),
        |j AS (SELECT * FROM ds CROSS JOIN ne CROSS JOIN tr)
        |SELECT metric, value FROM (
        |SELECT 'avg_degree' AS metric,
        |  floor((CAST(deg_sum AS DOUBLE)/CAST(n_nodes AS DOUBLE))*1000000.0 + 0.5)/1000000.0 AS value FROM j
        |UNION ALL SELECT 'density', CASE WHEN n_nodes > 1
        |  THEN floor((CAST(deg_sum AS DOUBLE)/(CAST(n_nodes AS DOUBLE)*(CAST(n_nodes AS DOUBLE)-1.0)))*1000000.0 + 0.5)/1000000.0
        |  ELSE 0.0 END FROM j
        |UNION ALL SELECT 'global_clustering', CASE WHEN wedges > 0
        |  THEN floor((3.0*CAST(n_triangles AS DOUBLE)/CAST(wedges AS DOUBLE))*1000000.0 + 0.5)/1000000.0
        |  ELSE 0.0 END FROM j
        |UNION ALL SELECT 'max_degree', CAST(max_degree AS DOUBLE) FROM j
        |UNION ALL SELECT 'n_edges', CAST(n_edges AS DOUBLE) FROM j
        |UNION ALL SELECT 'n_nodes', CAST(n_nodes AS DOUBLE) FROM j
        |UNION ALL SELECT 'n_triangles', CAST(n_triangles AS DOUBLE) FROM j
        |UNION ALL SELECT 'wedges', CAST(wedges AS DOUBLE) FROM j)
        |ORDER BY metric""".stripMargin,

    // N-gram coverage: the q56 gram construction per n, exact distinct
    // counts, one rounded ratio.
    "q135_ngram_coverage" ->
      """WITH ws AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |g1 AS (SELECT doc_id, list_distinct([array_to_string(t[i:i], ' ') FOR i IN range(1, len(t)+1)]) AS gr FROM ws),
        |e1 AS (SELECT DISTINCT unnest(gr) AS g FROM g1 WHERE doc_id % 10 = 0),
        |c1 AS (SELECT DISTINCT unnest(gr) AS g FROM g1 WHERE doc_id % 10 <> 0),
        |g2 AS (SELECT doc_id, CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
        |       ELSE list_distinct([array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))]) END AS gr FROM ws),
        |e2 AS (SELECT DISTINCT unnest(gr) AS g FROM g2 WHERE doc_id % 10 = 0),
        |c2 AS (SELECT DISTINCT unnest(gr) AS g FROM g2 WHERE doc_id % 10 <> 0),
        |g3 AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |       ELSE list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t)-1)]) END AS gr FROM ws),
        |e3 AS (SELECT DISTINCT unnest(gr) AS g FROM g3 WHERE doc_id % 10 = 0),
        |c3 AS (SELECT DISTINCT unnest(gr) AS g FROM g3 WHERE doc_id % 10 <> 0),
        |r AS (
        |SELECT 1 AS n, (SELECT COUNT(*) FROM e1) AS eval_grams,
        |       (SELECT COUNT(*) FROM e1 WHERE g IN (SELECT g FROM c1)) AS covered
        |UNION ALL
        |SELECT 2, (SELECT COUNT(*) FROM e2),
        |       (SELECT COUNT(*) FROM e2 WHERE g IN (SELECT g FROM c2))
        |UNION ALL
        |SELECT 3, (SELECT COUNT(*) FROM e3),
        |       (SELECT COUNT(*) FROM e3 WHERE g IN (SELECT g FROM c3)))
        |SELECT n, eval_grams, covered,
        |  floor((CAST(covered AS DOUBLE)/CAST(eval_grams AS DOUBLE))*10000.0 + 0.5)/10000.0 AS coverage
        |FROM r ORDER BY n""".stripMargin,

    // RRF: the q116 BM25 ranking + snapped-cosine ranking against the
    // mirrored query-vector literal; 1e-9-snapped reciprocal ranks,
    // exact integer fusion, one final division.
    "q136_rrf_fusion" -> {
      val qv = Similarity.lshPlanes(64, 1, seed = 11)(0)
      s"""WITH d AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
         |  FROM documents WHERE length(trim(text)) > 0),
         |st AS (SELECT COUNT(*) AS n_docs,
         |  CAST(SUM(len(t)) AS DOUBLE) / COUNT(*) AS avgdl FROM d),
         |tok AS (SELECT doc_id, unnest(t) AS term FROM d),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
         |       WHERE term IN ('hash', 'join', 'vector') GROUP BY 1, 2),
         |dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM d),
         |bm AS (SELECT tf.doc_id AS id,
         |  floor(SUM(ln(1.0 + (st.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
         |            * (tf.tf * (1.2 + 1.0))
         |            / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / st.avgdl)))
         |        * 10000.0 + 0.5) / 10000.0 AS score
         |  FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id) CROSS JOIN st
         |  GROUP BY tf.doc_id),
         |v AS (SELECT vec_id AS id,
         |  floor(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         |    ${qv.mkString("[", ",", "]")}::DOUBLE[])*10000.0 + 0.5)/10000.0 AS score
         |  FROM embeddings),
         |rt AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rnk FROM bm),
         |rv AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rnk FROM v),
         |c AS (SELECT id, CAST(floor(1e9/(60.0 + CAST(rnk AS DOUBLE)) + 0.5) AS BIGINT) AS c FROM rt
         |      UNION ALL
         |      SELECT id, CAST(floor(1e9/(60.0 + CAST(rnk AS DOUBLE)) + 0.5) AS BIGINT) AS c FROM rv)
         |SELECT id, COUNT(*) AS n_lists,
         |  floor((CAST(SUM(c) AS DOUBLE)/1e9)*1000000.0 + 0.5)/1000000.0 AS rrf
         |FROM c GROUP BY 1 ORDER BY rrf DESC, id""".stripMargin
    },

    // Bursts: the q130 dense grid + a trailing-24 window; the flag is
    // pure integer arithmetic, only the reported ratio divides.
    "q137_bursts" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin,
        |  CASE WHEN value IS NOT NULL THEN CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) END AS v4
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, COUNT(*) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b) gs),
        |d AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS n_events
        |      FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |w AS (SELECT t, bin, n_events,
        |      SUM(n_events) OVER (PARTITION BY t ORDER BY bin ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS tr,
        |      COUNT(*) OVER (PARTITION BY t ORDER BY bin ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS nt
        |      FROM d)
        |SELECT t AS event_type, bin,
        |  strftime(make_timestamp(bin * 3600000000), '%Y-%m-%d %H:%M') AS bin_start,
        |  n_events, CAST(tr AS BIGINT) AS trailing_events,
        |  CASE WHEN tr > 0 THEN floor((CAST(n_events AS DOUBLE)*24/CAST(tr AS DOUBLE))*10000.0 + 0.5)/10000.0 END AS burst_ratio
        |FROM w
        |WHERE nt = 24 AND 10*n_events*24 > 30*tr AND n_events > 0
        |ORDER BY event_type, bin""".stripMargin,

    // BPE training: the identical greedy loop unrolled — per step, a
    // pair count over the evolving word table, a (cnt desc, a, b)
    // argmax, and a sentinel-delimited literal replace.
    "q138_bpe_train" -> {
      val n = 10
      val head =
        """WITH tk AS (SELECT CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
          |  ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) END AS toks
          |  FROM documents),
          |wf AS (SELECT w, COUNT(*) AS freq FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY 1),
          |w0 AS (SELECT array_to_string(list_transform(string_split(w, ''), x -> ' '||x||' '), '') AS s, freq FROM wf)""".stripMargin
      val iters = (1 to n).map { i =>
        s""",
           |p$i AS (SELECT pr.a AS a, pr.b AS b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
           |  SELECT freq, unnest([{'a': syms[j+1], 'b': syms[j+2]} FOR j IN range(0, len(syms)-1)]) AS pr
           |  FROM (SELECT freq, string_split(trim(s, ' '), '  ') AS syms FROM w${i - 1}) WHERE len(syms) >= 2)
           |  GROUP BY 1, 2),
           |b$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
           |w$i AS (SELECT replace(s, ' '||b$i.a||'  '||b$i.b||' ', ' '||b$i.a||b$i.b||' ') AS s, freq
           |        FROM w${i - 1} CROSS JOIN b$i)""".stripMargin
      }.mkString
      val sel = (1 to n)
        .map(i => s"SELECT $i AS step, a AS left_sym, b AS right_sym, a||b AS merged, cnt AS freq FROM b$i")
        .mkString("\n", "\nUNION ALL\n", "\nORDER BY step")
      head + iters + sel
    },

    // ANOVA: exact fixed-point group moments; per-group terms snapped
    // at 1e-6 BEFORE the unordered cross-group sum; one F assembly.
    "q139_anova" ->
      """WITH s AS (SELECT event_type AS g,
        |  CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS x4
        |  FROM events WHERE value IS NOT NULL),
        |gr AS (SELECT g, COUNT(*) AS n, SUM(CAST(x4 AS DECIMAL(38,0))) AS s1,
        |       SUM(CAST(x4 AS DECIMAL(38,0))*CAST(x4 AS DECIMAL(38,0))) AS ss FROM s GROUP BY 1),
        |t AS (SELECT n, s1,
        |  CAST(floor((CAST(s1 AS DOUBLE)/1e4)*(CAST(s1 AS DOUBLE)/1e4)/CAST(n AS DOUBLE)*1e6 + 0.5) AS BIGINT) AS bt,
        |  CAST(floor((CAST(ss AS DOUBLE)/1e8 - (CAST(s1 AS DOUBLE)/1e4)*(CAST(s1 AS DOUBLE)/1e4)/CAST(n AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS wt
        |  FROM gr),
        |m AS (SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n,
        |      SUM(CAST(s1 AS DECIMAL(38,0))) AS st,
        |      SUM(CAST(bt AS DECIMAL(38,0))) AS b, SUM(CAST(wt AS DECIMAL(38,0))) AS w FROM t)
        |SELECT k, n, CASE WHEN k > 1 AND n > k AND CAST(w AS DOUBLE)/1e6 > 0 THEN
        |  floor((((CAST(b AS DOUBLE)/1e6 - (CAST(st AS DOUBLE)/1e4)*(CAST(st AS DOUBLE)/1e4)/CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1))
        |       / ((CAST(w AS DOUBLE)/1e6) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))))*10000.0 + 0.5)/10000.0 END AS f_stat
        |FROM m""".stripMargin,

    // Spearman: domain-compressed exact doubled midranks, DECIMAL
    // moment sums, one pinned rho assembly.
    "q140_spearman" ->
      """WITH r AS (SELECT CAST(l_quantity AS DOUBLE) AS x, CAST(l_extendedprice AS DOUBLE) AS y
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |dx AS (SELECT x, COUNT(*) AS c FROM r GROUP BY 1),
        |rx AS (SELECT x, COALESCE(SUM(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)*2 + c + 1 AS ra FROM dx),
        |dy AS (SELECT y, COUNT(*) AS c FROM r GROUP BY 1),
        |ry AS (SELECT y, COALESCE(SUM(c) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)*2 + c + 1 AS rb FROM dy),
        |j AS (SELECT ra, rb FROM r JOIN rx USING (x) JOIN ry USING (y)),
        |m AS (SELECT COUNT(*) AS n,
        |      SUM(CAST(ra AS DECIMAL(38,0))) AS sa, SUM(CAST(rb AS DECIMAL(38,0))) AS sb,
        |      SUM(CAST(ra AS DECIMAL(38,0))*CAST(ra AS DECIMAL(38,0))) AS saa,
        |      SUM(CAST(rb AS DECIMAL(38,0))*CAST(rb AS DECIMAL(38,0))) AS sbb,
        |      SUM(CAST(ra AS DECIMAL(38,0))*CAST(rb AS DECIMAL(38,0))) AS sab FROM j)
        |SELECT n, CASE WHEN (CAST(n AS DOUBLE)*CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE)) > 0
        |               AND (CAST(n AS DOUBLE)*CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE)) > 0 THEN
        |  floor(((CAST(n AS DOUBLE)*CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE)*CAST(sb AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE)*CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE))
        |         * (CAST(n AS DOUBLE)*CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE))))*10000.0 + 0.5)/10000.0 END AS rho
        |FROM m""".stripMargin,

    // Centroid cosine matrix: q46's snapped centroids as exact 1e4
    // integers; DECIMAL dots/norms, one pinned assembly per pair.
    "q141_centroid_sim" ->
      """WITH x AS (SELECT label,
        |  unnest([{'dim': i, 'x': embedding[i+1]} FOR i IN range(0, len(embedding))]) AS u
        |  FROM embeddings),
        |c AS (SELECT label, u.dim AS dim,
        |      CAST(floor((AVG(CAST(u.x AS DOUBLE)))*10000.0 + 0.5) AS BIGINT) AS c4
        |      FROM x GROUP BY 1, 2),
        |n AS (SELECT label, SUM(CAST(c4 AS DECIMAL(38,0))*CAST(c4 AS DECIMAL(38,0))) AS n2 FROM c GROUP BY 1),
        |d AS (SELECT a.label AS label_a, b.label AS label_b,
        |      SUM(CAST(a.c4 AS DECIMAL(38,0))*CAST(b.c4 AS DECIMAL(38,0))) AS dot
        |      FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label GROUP BY 1, 2)
        |SELECT label_a, label_b,
        |  CASE WHEN CAST(na.n2 AS DOUBLE) > 0 AND CAST(nb.n2 AS DOUBLE) > 0 THEN
        |    floor((CAST(dot AS DOUBLE)/sqrt(CAST(na.n2 AS DOUBLE)*CAST(nb.n2 AS DOUBLE)))*10000.0 + 0.5)/10000.0 END AS cosine
        |FROM d JOIN n na ON d.label_a = na.label JOIN n nb ON d.label_b = nb.label
        |ORDER BY 1, 2""".stripMargin,

    // Concentration: exact token masses; integer rank-weighted Gini
    // sum, 1e-9-snapped HHI terms, pinned assemblies.
    "q142_concentration" ->
      """WITH tm AS (SELECT source,
        |  CAST(SUM(CASE WHEN length(trim(text))=0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS m
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(m) AS BIGINT) AS mt FROM tm),
        |r AS (SELECT source, m, row_number() OVER (ORDER BY m, source) AS i FROM tm),
        |g AS (SELECT r.m, r.i, t.mt,
        |      CAST(floor((CAST(r.m AS DOUBLE)/CAST(t.mt AS DOUBLE))*(CAST(r.m AS DOUBLE)/CAST(t.mt AS DOUBLE))*1e9 + 0.5) AS BIGINT) AS h
        |      FROM r CROSS JOIN t),
        |a AS (SELECT COUNT(*) AS n_sources, CAST(MAX(m) AS BIGINT) AS mx,
        |      CAST(MAX(mt) AS BIGINT) AS mtf,
        |      SUM(CAST(i AS DECIMAL(38,0))*CAST(m AS DECIMAL(38,0))) AS ims,
        |      SUM(CAST(h AS DECIMAL(38,0))) AS hs FROM g)
        |SELECT n_sources,
        |  CASE WHEN n_sources > 1 AND CAST(mtf AS DOUBLE) > 0 THEN
        |    floor((2.0*CAST(ims AS DOUBLE)/(CAST(n_sources AS DOUBLE)*CAST(mtf AS DOUBLE))
        |           - (CAST(n_sources AS DOUBLE)+1.0)/CAST(n_sources AS DOUBLE))*10000.0 + 0.5)/10000.0 END AS gini,
        |  CASE WHEN CAST(mtf AS DOUBLE) > 0 THEN floor((CAST(hs AS DOUBLE)/1e9)*10000.0 + 0.5)/10000.0 END AS hhi,
        |  CASE WHEN CAST(mtf AS DOUBLE) > 0 THEN floor((CAST(mx AS DOUBLE)/CAST(mtf AS DOUBLE))*10000.0 + 0.5)/10000.0 END AS top_share
        |FROM a""".stripMargin,

    // A-ES: the identical portable hash -> (h+1)/2^32 uniform, one
    // snapped pow per row, (key desc, id) top-k.
    "q143_weighted_topk" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS w
        |  FROM documents),
        |f AS (SELECT doc_id, w FROM t WHERE w > 0),
        |k AS (SELECT doc_id, floor(CAST(w AS DOUBLE)*10000.0 + 0.5)/10000.0 AS weight,
        |  CAST(floor(pow(CAST((((doc_id % 2147483648) * 2654435761) % 4294967296) + 1 AS DOUBLE)/4294967296.0,
        |       1.0/CAST(w AS DOUBLE))*1e12 + 0.5) AS BIGINT) AS key_fx
        |  FROM f)
        |SELECT doc_id, weight, key_fx FROM k
        |ORDER BY key_fx DESC, doc_id LIMIT 100""".stripMargin,

    // Trend slopes: exact integer bins + fixed-point values, DECIMAL
    // moments, pinned per-group OLS assembly.
    "q144_trend_slopes" ->
      """WITH b AS (SELECT event_type,
        |  epoch_us(ts) // 3600000000 AS bin,
        |  CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS y4
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |lo AS (SELECT min(bin) AS lo FROM b),
        |x AS (SELECT event_type, b.bin - lo.lo AS x, y4 FROM b CROSS JOIN lo),
        |m AS (SELECT event_type, COUNT(*) AS n,
        |      SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y4 AS DECIMAL(38,0))) AS sy,
        |      SUM(CAST(x AS DECIMAL(38,0))*CAST(x AS DECIMAL(38,0))) AS sxx,
        |      SUM(CAST(x AS DECIMAL(38,0))*CAST(y4 AS DECIMAL(38,0))) AS sxy
        |      FROM x GROUP BY 1),
        |a AS (SELECT event_type, n, CAST(n AS DOUBLE) AS nd,
        |      CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE)/1e4 AS syd,
        |      CAST(sxx AS DOUBLE) AS sxxd, CAST(sxy AS DOUBLE)/1e4 AS sxyd FROM m),
        |c AS (SELECT event_type, n, nd, sxd, syd,
        |      nd * sxxd - sxd * sxd AS den, nd * sxyd - sxd * syd AS num FROM a)
        |SELECT event_type, n,
        |  CASE WHEN den > 0 THEN floor((num / den)*1000000.0 + 0.5)/1000000.0 END AS slope_per_bin,
        |  CASE WHEN den > 0 THEN floor(((syd - (num / den) * sxd) / nd)*10000.0 + 0.5)/10000.0 END AS intercept
        |FROM c ORDER BY event_type""".stripMargin,

    // Stationary distribution: the identical integer recurrence
    // unrolled (q119's convention) — all ops are BIGINT floor
    // divisions on exact counts, nothing rounds until the readout.
    "q145_stationary" -> {
      val n = 3
      val head =
        """WITH pr AS (SELECT event_type AS f,
          |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |c AS (SELECT f, t, COUNT(*) AS c FROM pr WHERE t IS NOT NULL GROUP BY 1, 2),
          |ct AS (SELECT f, CAST(SUM(c) AS BIGINT) AS ctot FROM c GROUP BY 1),
          |st AS (SELECT DISTINCT s FROM (SELECT f AS s FROM c UNION ALL SELECT t FROM c)),
          |ns AS (SELECT COUNT(*) AS n FROM st),
          |r0 AS (SELECT s, 1000000000000 // n AS pi FROM st CROSS JOIN ns)""".stripMargin
      val iters = (1 to n).map { i =>
        s""",
           |r$i AS (SELECT st.s AS s, COALESCE(x.m, 0) AS pi FROM st LEFT JOIN (
           |  SELECT c.t AS s, CAST(SUM((p.pi * c.c) // ct.ctot) AS BIGINT) AS m
           |  FROM c JOIN ct USING (f) JOIN r${i - 1} p ON c.f = p.s GROUP BY 1) x
           |  ON st.s = x.s)""".stripMargin
      }.mkString
      head + iters +
        s"""
           |SELECT s AS state, CAST(pi AS BIGINT) AS pi_fx,
           |  floor((CAST(pi AS DOUBLE)/1e12)*1000000.0 + 0.5)/1000000.0 AS pi
           |FROM r$n ORDER BY pi_fx DESC, state""".stripMargin
    },

    // Cluster-aware split: q33's recursive-CTE cluster labels ->
    // coalesce(cluster, own id) -> the q78 portable-hash bucketing.
    "q146_cluster_split" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) ws
        |  FROM documents),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  floor((CASE WHEN len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws)) = 0 THEN 1.0
        |    ELSE CAST(len(list_intersect(a.ws,b.ws)) AS DOUBLE)
        |         / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) END)*10000.0 + 0.5)/10000.0 AS jaccard
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id),
        |pr AS (SELECT a_id, b_id FROM p WHERE jaccard >= 0.9),
        |e AS (SELECT a_id AS s, b_id AS d FROM pr UNION SELECT b_id, a_id FROM pr),
        |reach AS (SELECT s, d FROM e
        |          UNION SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s),
        |lbl AS (SELECT s AS doc_id, CAST(LEAST(s, MIN(d)) AS BIGINT) AS cluster_id
        |        FROM reach GROUP BY s),
        |k AS (SELECT t.doc_id, COALESCE(l.cluster_id, t.doc_id) AS split_key
        |      FROM t LEFT JOIN lbl l USING (doc_id)),
        |b AS (SELECT doc_id, split_key,
        |      (((split_key % 2147483648) * 2654435761) % 4294967296) % 10000 AS bkt FROM k)
        |SELECT doc_id, split_key,
        |  CASE WHEN bkt < 8000 THEN 'train' WHEN bkt < 9000 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    // Join-size forecast: count tables joined, pairs = c_l * c_r,
    // deterministic (pairs desc, key) top-20.
    "q154_join_size" ->
      """WITH c AS (SELECT user_id AS key, COUNT(*) AS n FROM events
        |           WHERE user_id IS NOT NULL GROUP BY 1)
        |SELECT a.key, a.n AS c_left, b.n AS c_right, CAST(a.n * b.n AS BIGINT) AS pairs
        |FROM c a JOIN c b USING (key)
        |ORDER BY pairs DESC, key LIMIT 20""".stripMargin,

    // Conversion latency: conditional min endpoints, integer floor-div
    // to seconds; pre-exposure conversions excluded.
    "q155_conversion_latency" ->
      """WITH g AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN ts END) AS f,
        |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS t
        |  FROM events GROUP BY 1)
        |SELECT user_id, CAST((epoch_us(t) - epoch_us(f)) // 1000000 AS BIGINT) AS latency_sec
        |FROM g WHERE f IS NOT NULL AND t IS NOT NULL AND t >= f
        |ORDER BY user_id""".stripMargin,

    // FD audit: (det, dep) pair aggregation then det rollup;
    // violations only, ordered by minority mass.
    "q160_fd_check" ->
      """WITH p AS (SELECT l_orderkey AS det, l_returnflag AS dep, COUNT(*) AS c
        |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT det, COUNT(*) AS n_distinct_dep, CAST(SUM(c) AS BIGINT) AS n_rows,
        |      CAST(SUM(c) - MAX(c) AS BIGINT) AS n_minority_rows FROM p GROUP BY 1)
        |SELECT det, n_distinct_dep, n_rows, n_minority_rows FROM g
        |WHERE n_distinct_dep > 1
        |ORDER BY n_minority_rows DESC, det""".stripMargin,

    // Benford: exact integer-cents first character; identical ln-ratio
    // expectation expression.
    "q161_benford" ->
      """WITH c AS (SELECT CAST(floor(CAST(l_extendedprice AS DOUBLE)*100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0),
        |d AS (SELECT substr(CAST(cents AS VARCHAR), 1, 1) AS d, COUNT(*) AS n
        |      FROM c WHERE cents >= 1 GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM d)
        |SELECT CAST(d AS INT) AS digit, n,
        |  floor(CAST(n AS DOUBLE)/CAST(n_total AS DOUBLE)*10000.0 + 0.5)/10000.0 AS frac_observed,
        |  floor(ln(1.0 + 1.0/CAST(d AS DOUBLE))/ln(10.0)*10000.0 + 0.5)/10000.0 AS frac_benford
        |FROM d CROSS JOIN t ORDER BY digit""".stripMargin,

    // ROC AUC: q120's score replay feeding the q147 Mann-Whitney
    // doubled-rank-sum machinery; AUC assembled in the same pinned
    // double order (u = r2s/2 - na(na+1)/2, auc = u/(na·nb)).
    "q162_roc_auc" -> {
      val w = Similarity.lshPlanes(256, 1, seed = 7)(0)
      s"""WITH wt AS (SELECT ${w.mkString("[", ",", "]")}::DOUBLE[] AS w),
         |t AS (SELECT doc_id,
         |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
         |       ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x))
         |  END AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         |    list_reduce(list_transform(toks, tok ->
         |      wt.w[((list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
         |             (a,b) -> a*16 + b) % 2147483629) % 256) + 1]),
         |      (a,b) -> a + b) END AS raw
         |  FROM t CROSS JOIN wt),
         |sc AS (SELECT CAST(floor((floor((raw + -0.05)*10000.0 + 0.5)/10000.0) * 10000.0 + 0.5) AS BIGINT) AS v,
         |  CAST(d.lang = 'en' AS BIGINT) AS p
         |  FROM s JOIN documents d USING (doc_id)),
         |g AS (SELECT v, CAST(SUM(p) AS BIGINT) AS ca, CAST(SUM(1-p) AS BIGINT) AS cb FROM sc GROUP BY 1),
         |c AS (SELECT v, ca, cb, COALESCE(SUM(ca+cb) OVER (ORDER BY v
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM g),
         |t2 AS (SELECT SUM(CAST(ca AS DECIMAL(38,0)) * CAST(2*cum + ca + cb + 1 AS DECIMAL(38,0))) AS r2s,
         |       CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM c)
         |SELECT na AS n_pos, nb AS n_neg,
         |  CASE WHEN na > 0 AND nb > 0 THEN
         |    floor(((CAST(r2s AS DOUBLE)/2 - CAST(na AS DOUBLE)*(CAST(na AS DOUBLE)+1)/2)
         |           / (CAST(na AS DOUBLE)*CAST(nb AS DOUBLE)))*1000000.0 + 0.5)/1000000.0 END AS auc,
         |  CASE WHEN na > 0 AND nb > 0 THEN
         |    floor((((CAST(r2s AS DOUBLE)/2 - CAST(na AS DOUBLE)*(CAST(na AS DOUBLE)+1)/2)
         |           / (CAST(na AS DOUBLE)*CAST(nb AS DOUBLE)))*2 - 1)*1000000.0 + 0.5)/1000000.0 END AS gini
         |FROM t2""".stripMargin
    },

    // MI: 1e-6-snapped ln terms times exact integer counts into
    // DECIMAL sums (the q148 convention); ratios assembled in the
    // same pinned double order as the Spark side.
    "q163_mutual_info" ->
      """WITH cells AS (SELECT CAST(source AS VARCHAR) AS x, CAST(lang AS VARCHAR) AS y, COUNT(*) AS c
        |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
        |mx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cxv FROM cells GROUP BY 1),
        |my AS (SELECT y, CAST(SUM(c) AS BIGINT) AS cyv FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
        |mi AS (SELECT SUM(CAST(c AS DECIMAL(38,0)) *
        |         CAST(CAST(floor(ln((CAST(c AS DOUBLE)*CAST(n AS DOUBLE)) /
        |           (CAST(cxv AS DOUBLE)*CAST(cyv AS DOUBLE)))*1e6 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS mi_sum
        |       FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot),
        |hx AS (SELECT SUM(CAST(cxv AS DECIMAL(38,0)) *
        |         CAST(CAST(floor(ln(CAST(cxv AS DOUBLE)/CAST(n AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS hx_sum,
        |       COUNT(*) AS n_x FROM mx CROSS JOIN tot),
        |hy AS (SELECT SUM(CAST(cyv AS DECIMAL(38,0)) *
        |         CAST(CAST(floor(ln(CAST(cyv AS DOUBLE)/CAST(n AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS hy_sum,
        |       COUNT(*) AS n_y FROM my CROSS JOIN tot)
        |SELECT n, CAST(n_x AS BIGINT) AS n_x, CAST(n_y AS BIGINT) AS n_y,
        |  floor((CAST(mi_sum AS DOUBLE)/1000000.0/CAST(n AS DOUBLE))*1000000.0 + 0.5)/1000000.0 AS mi_nats,
        |  floor((-(CAST(hx_sum AS DOUBLE)/1000000.0/CAST(n AS DOUBLE)))*1000000.0 + 0.5)/1000000.0 AS h_x,
        |  floor((-(CAST(hy_sum AS DOUBLE)/1000000.0/CAST(n AS DOUBLE)))*1000000.0 + 0.5)/1000000.0 AS h_y,
        |  CASE WHEN hx_sum < 0 AND hy_sum < 0 THEN
        |    floor(((CAST(mi_sum AS DOUBLE)/1000000.0/CAST(n AS DOUBLE)) /
        |      sqrt((-(CAST(hx_sum AS DOUBLE)/1000000.0/CAST(n AS DOUBLE))) *
        |           (-(CAST(hy_sum AS DOUBLE)/1000000.0/CAST(n AS DOUBLE)))))*1000000.0 + 0.5)/1000000.0 END AS nmi
        |FROM mi CROSS JOIN hx CROSS JOIN hy CROSS JOIN tot""".stripMargin,

    // LPA: three synchronous rounds unrolled; each round is the same
    // neighbor-vote + (count desc, label) argmax the Spark loop runs.
    "q164_label_prop" ->
      (lpaOracleChain +
        "\nSELECT item, lbl AS community FROM l3 ORDER BY item"),

    // Community quality: q164's mined graph + LPA chain, then exact
    // integer modularity/assortativity sums, one double division each.
    "q222_community_quality" ->
      (lpaOracleChain +
        """,
          |deg AS (SELECT src AS item, CAST(COUNT(*) AS BIGINT) AS dg FROM e GROUP BY 1),
          |m2t AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM e),
          |nnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg),
          |dc AS (SELECT l3.lbl, CAST(SUM(dg) AS BIGINT) AS d_c
          |       FROM deg JOIN l3 ON l3.item = deg.item GROUP BY 1),
          |aggc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_comm,
          |  CAST(SUM(CAST(d_c AS HUGEINT)*CAST(d_c AS HUGEINT)) AS HUGEINT) AS sum_dc2 FROM dc),
          |ecs AS (SELECT CAST(COUNT(*) AS BIGINT) AS sum_ec FROM e
          |  JOIN l3 ls ON ls.item = e.src JOIN l3 ld ON ld.item = e.dst
          |  WHERE ls.lbl = ld.lbl),
          |ast AS (SELECT
          |  CAST(SUM(CAST(ds.dg AS HUGEINT)*CAST(dd.dg AS HUGEINT)) AS HUGEINT) AS sxy,
          |  CAST(SUM(CAST(ds.dg AS HUGEINT)) AS HUGEINT) AS sx,
          |  CAST(SUM(CAST(ds.dg AS HUGEINT)*CAST(ds.dg AS HUGEINT)) AS HUGEINT) AS sxx
          |  FROM e JOIN deg ds ON ds.item = e.src JOIN deg dd ON dd.item = e.dst)
          |SELECT n_nodes, m2 // 2 AS n_edges, n_comm AS n_communities,
          |  floor(CAST(sum_ec AS DOUBLE)/CAST(m2 AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS intra_edge_frac,
          |  floor(CAST(CAST(m2 AS HUGEINT)*CAST(sum_ec AS HUGEINT) - sum_dc2 AS DOUBLE)
          |    /CAST(CAST(m2 AS HUGEINT)*CAST(m2 AS HUGEINT) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS modularity,
          |  CASE WHEN CAST(m2 AS HUGEINT)*sxx - sx*sx <> 0 THEN
          |    floor(CAST(CAST(m2 AS HUGEINT)*sxy - sx*sx AS DOUBLE)
          |      /CAST(CAST(m2 AS HUGEINT)*sxx - sx*sx AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS assortativity
          |FROM nnt CROSS JOIN m2t CROSS JOIN aggc CROSS JOIN ecs CROSS JOIN ast""".stripMargin),

    // JL distortion: identical seeded plane literals (the q26 mirror
    // protocol), index-order folds, same 3/k scale and 1e-6 snaps.
    "q224_jl_distortion" -> {
      val planes = Similarity.lshPlanes(dim = 64, bits = 16, seed = 42)
      val flat = planes.flatten.mkString("[", ",", "]")
      val scale = (3.0 / 16).toString
      s"""WITH pl AS (SELECT ${flat}::DOUBLE[] AS p),
         |base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  WHERE embedding IS NOT NULL AND len(embedding) = 64
         |    AND len(list_filter(embedding,
         |        e -> isnan(CAST(e AS DOUBLE)) OR isinf(CAST(e AS DOUBLE)))) = 0),
         |c AS (SELECT vec_id,
         |  list_reduce([v[i]*v[i] FOR i IN range(1, 65)], (a, b) -> a + b) AS n2x,
         |  list_reduce([yy*yy FOR yy IN
         |    [list_reduce([v[i]*p[(j-1)*64 + i] FOR i IN range(1, 65)], (a, b) -> a + b)
         |     FOR j IN range(1, 17)]], (a, b) -> a + b) AS n2y
         | FROM base CROSS JOIN pl)
         |SELECT vec_id,
         |  floor(n2x*1000000.0 + 0.5)/1000000.0 AS n2_x,
         |  floor(n2y*$scale*1000000.0 + 0.5)/1000000.0 AS n2_proj,
         |  CASE WHEN n2x > 0 THEN floor(n2y*$scale/n2x*1000000.0 + 0.5)/1000000.0 END AS distortion
         |FROM c ORDER BY vec_id""".stripMargin
    },

    // Naive Bayes: identical split/counts, same seen-pairs-only score
    // decomposition in snapped-ln longs, same (score desc, label) argmax.
    "q225_naive_bayes" ->
      """WITH tk AS (SELECT doc_id, lang AS lbl,
        |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |  ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) END AS toks,
        |  (((doc_id % 2147483648) * 2654435761) % 4294967296) % 10000 < 9000 AS is_train
        |  FROM documents WHERE lang IS NOT NULL),
        |twl AS (SELECT w, lbl, COUNT(*) AS c,
        |  CAST(floor(ln(CAST(COUNT(*) + 1 AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS lnc_fx
        |  FROM (SELECT lbl, unnest(toks) AS w FROM tk WHERE is_train) GROUP BY 1, 2),
        |tl AS (SELECT lbl, CAST(SUM(c) AS BIGINT) AS tok_l FROM twl GROUP BY 1),
        |vt AS (SELECT COUNT(DISTINCT w) AS v FROM twl),
        |pr AS (SELECT lbl, COUNT(*) AS n_l FROM tk WHERE is_train GROUP BY 1),
        |nd AS (SELECT COUNT(*) AS n_docs FROM tk WHERE is_train),
        |consts AS (SELECT pr.lbl AS cand,
        |  CAST(floor(ln(CAST(n_l AS DOUBLE)/CAST(n_docs AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS prior_fx,
        |  CAST(floor(ln(CAST(tok_l + v AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS den_fx
        |  FROM pr CROSS JOIN nd JOIN tl ON tl.lbl = pr.lbl CROSS JOIN vt),
        |et AS (SELECT doc_id, w, COUNT(*) AS n_w FROM
        |  (SELECT doc_id, unnest(toks) AS w FROM tk WHERE NOT is_train) GROUP BY 1, 2),
        |part AS (SELECT et.doc_id, twl.lbl AS cand,
        |  CAST(SUM(et.n_w * twl.lnc_fx) AS BIGINT) AS s_fx
        |  FROM et JOIN twl ON twl.w = et.w GROUP BY 1, 2),
        |dt AS (SELECT doc_id, lbl AS label_true, CAST(len(toks) AS BIGINT) AS n_tok
        |  FROM tk WHERE NOT is_train),
        |scored AS (SELECT dt.doc_id, dt.label_true, consts.cand,
        |  prior_fx + COALESCE(part.s_fx, 0) - dt.n_tok * den_fx AS score_fx
        |  FROM dt CROSS JOIN consts
        |  LEFT JOIN part ON part.doc_id = dt.doc_id AND part.cand = consts.cand),
        |pred AS (SELECT doc_id, label_true, cand AS label_pred FROM (
        |  SELECT doc_id, label_true, cand,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score_fx DESC, cand) AS rn
        |  FROM scored) WHERE rn = 1)
        |SELECT label_true, label_pred, COUNT(*) AS n_docs
        |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // TextRank: identical per-doc adjacency graph + 3 unrolled rounds
    // of q119's integer recurrence with the per-doc n as a column.
    "q226_textrank" -> {
      val head =
        """WITH tk AS (SELECT doc_id, CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
          |  ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) END AS toks
          |  FROM documents),
          |t2 AS (SELECT doc_id, toks FROM tk WHERE len(toks) >= 2),
          |sq AS (SELECT doc_id, pr.a AS src, pr.b AS dst FROM (
          |  SELECT doc_id, unnest([{'a': toks[i+1], 'b': toks[i+2]} FOR i IN range(0, len(toks)-1)]) AS pr
          |  FROM t2) WHERE pr.a <> pr.b),
          |e AS (SELECT DISTINCT doc_id, src, dst FROM
          |  (SELECT doc_id, src, dst FROM sq UNION ALL SELECT doc_id, dst, src FROM sq)),
          |od AS (SELECT doc_id, src, COUNT(*) AS outdeg FROM e GROUP BY 1, 2),
          |nodes AS (SELECT DISTINCT doc_id, src AS item FROM e),
          |nn AS (SELECT doc_id, COUNT(*) AS n FROM nodes GROUP BY 1),
          |r0 AS (SELECT nodes.doc_id, item, 1000000000000 // n AS rank_fx
          |       FROM nodes JOIN nn ON nn.doc_id = nodes.doc_id)""".stripMargin
      val rounds = (1 to 3).map { r =>
        s""",
           |c$r AS (SELECT e.doc_id, e.dst, SUM(p.rank_fx // od.outdeg) AS s
           |  FROM e JOIN od ON od.doc_id = e.doc_id AND od.src = e.src
           |  JOIN r${r - 1} p ON p.doc_id = e.doc_id AND p.item = e.src GROUP BY 1, 2),
           |r$r AS (SELECT nodes.doc_id, nodes.item,
           |  (15000000000000 // (100 * nn.n)) + (85 * COALESCE(c$r.s, 0)) // 100 AS rank_fx
           |  FROM nodes JOIN nn ON nn.doc_id = nodes.doc_id
           |  LEFT JOIN c$r ON c$r.doc_id = nodes.doc_id AND c$r.dst = nodes.item)""".stripMargin
      }.mkString
      val tail =
        """
          |SELECT doc_id, CAST(pos AS INT) AS pos, token, rank_fx FROM (
          |  SELECT doc_id, item AS token, CAST(rank_fx AS BIGINT) AS rank_fx,
          |    row_number() OVER (PARTITION BY doc_id ORDER BY rank_fx DESC, item) AS pos
          |  FROM r3) WHERE pos <= 3 ORDER BY doc_id, pos""".stripMargin
      head + rounds + tail
    },

    // Good-Turing: identical count table, S(r) rollup, and the
    // (r+1)·S(r+1) single-ratio identity for r* and the masses.
    "q227_good_turing" ->
      """WITH tk AS (SELECT doc_id, CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |  ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) END AS toks
        |  FROM documents),
        |cnt AS (SELECT w, COUNT(*) AS c FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY 1),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM cnt),
        |sr AS (SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS s FROM cnt WHERE c <= 11 GROUP BY 1),
        |grid AS (SELECT CAST(i AS BIGINT) AS r FROM range(0, 11) t(i))
        |SELECT g.r,
        |  CASE WHEN g.r > 0 THEN COALESCE(sr.s, 0) END AS s_r,
        |  CASE WHEN g.r > 0 AND COALESCE(sr.s, 0) > 0 THEN
        |    floor(CAST((g.r + 1) * COALESCE(s1.s, 0) AS DOUBLE)/CAST(sr.s AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS r_star,
        |  floor(CAST((g.r + 1) * COALESCE(s1.s, 0) AS DOUBLE)/CAST(n.n_tok AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS p_mass
        |FROM grid g LEFT JOIN sr ON sr.r = g.r LEFT JOIN sr s1 ON s1.r = g.r + 1
        |CROSS JOIN n ORDER BY g.r""".stripMargin,

    // CMH: identical cells, per-stratum pinned rationals snapped 1e-6
    // before the cross-stratum long sums, same final assemblies.
    "q228_cmh" ->
      """WITH base AS (SELECT event_type AS k,
        |  (((user_id % 2147483648) * 2654435761) % 4294967296) % 10000 < 5000 AS ga,
        |  value >= 50.0 AS sc
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |cells AS (SELECT k,
        |  CAST(SUM(CASE WHEN ga AND sc THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(SUM(CASE WHEN ga AND NOT sc THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |  CAST(SUM(CASE WHEN NOT ga AND sc THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |  CAST(SUM(CASE WHEN NOT ga AND NOT sc THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM base GROUP BY 1),
        |w AS (SELECT a, b, c, d, a+b+c+d AS n, a+b AS n1, c+d AS n0,
        |  a+c AS m1, b+d AS m0 FROM cells WHERE a+b+c+d >= 2),
        |fx AS (SELECT n,
        |  CAST(floor((CAST(a AS DOUBLE) - CAST(n1*m1 AS DOUBLE)/CAST(n AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS dfx,
        |  CAST(floor(CAST(CAST(n1 AS HUGEINT)*n0*m1*m0 AS DOUBLE)
        |    /CAST(CAST(n AS HUGEINT)*n*(n-1) AS DOUBLE)*1e6 + 0.5) AS BIGINT) AS vfx,
        |  CAST(floor(CAST(a*d AS DOUBLE)/CAST(n AS DOUBLE)*1e6 + 0.5) AS BIGINT) AS onx,
        |  CAST(floor(CAST(b*c AS DOUBLE)/CAST(n AS DOUBLE)*1e6 + 0.5) AS BIGINT) AS odx
        |  FROM w),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata, CAST(SUM(n) AS BIGINT) AS n_rows,
        |  CAST(SUM(dfx) AS BIGINT) AS sd, CAST(SUM(vfx) AS BIGINT) AS sv,
        |  CAST(SUM(onx) AS BIGINT) AS son, CAST(SUM(odx) AS BIGINT) AS sod FROM fx)
        |SELECT n_strata, n_rows,
        |  CASE WHEN sv > 0 THEN floor((CAST(sd AS DOUBLE)/1e6)*(CAST(sd AS DOUBLE)/1e6)
        |    /(CAST(sv AS DOUBLE)/1e6)*1000000.0 + 0.5)/1000000.0 END AS cmh_stat,
        |  CASE WHEN sod > 0 THEN floor(CAST(son AS DOUBLE)/CAST(sod AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS mh_odds_ratio
        |FROM s""".stripMargin,

    // Brier decomposition: q120's conf chain + bins verbatim, exact
    // integer Brier sum, per-bin 1e-9 snapped squared terms.
    "q229_brier" -> {
      val w = Similarity.lshPlanes(256, 1, seed = 7)(0)
      s"""WITH wt AS (SELECT ${w.mkString("[", ",", "]")}::DOUBLE[] AS w),
         |t AS (SELECT doc_id,
         |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
         |       ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x))
         |  END AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         |    list_reduce(list_transform(toks, tok ->
         |      wt.w[((list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
         |             (a,b) -> a*16 + b) % 2147483629) % 256) + 1]),
         |      (a,b) -> a + b) END AS raw
         |  FROM t CROSS JOIN wt),
         |cy AS (SELECT s.doc_id,
         |  1.0 / (1.0 + exp(-(floor((raw + -0.05)*10000.0 + 0.5)/10000.0))) AS conf,
         |  CAST(d.lang = 'en' AS BIGINT) AS y
         |  FROM s JOIN documents d USING (doc_id)),
         |bb AS (SELECT least((CAST(floor(conf*10000.0 + 0.5) AS BIGINT) * 10) // 10000, 9) AS bin,
         |       CAST(floor(conf*10000.0 + 0.5) AS BIGINT) AS c4, y FROM cy),
         |g AS (SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
         |      CAST(SUM(c4) AS HUGEINT) AS s_c4,
         |      CAST(SUM((c4 - y*10000)*(c4 - y*10000)) AS HUGEINT) AS s_d2 FROM bb GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(n_pos) AS BIGINT) AS npos,
         |        CAST(SUM(s_d2) AS HUGEINT) AS sd2 FROM g),
         |terms AS (SELECT nt, npos, sd2,
         |  CAST(floor(CAST(n AS DOUBLE)
         |    * ((CAST(s_c4 AS DOUBLE)/1e4/CAST(n AS DOUBLE) - CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE))
         |     * (CAST(s_c4 AS DOUBLE)/1e4/CAST(n AS DOUBLE) - CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE)))
         |    * 1e9 + 0.5) AS BIGINT) AS relfx,
         |  CAST(floor(CAST(n AS DOUBLE)
         |    * ((CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE) - CAST(npos AS DOUBLE)/CAST(nt AS DOUBLE))
         |     * (CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE) - CAST(npos AS DOUBLE)/CAST(nt AS DOUBLE)))
         |    * 1e9 + 0.5) AS BIGINT) AS resfx
         |  FROM g CROSS JOIN tot),
         |f AS (SELECT CAST(MAX(nt) AS BIGINT) AS n_rows, CAST(MAX(npos) AS BIGINT) AS np,
         |  CAST(MAX(sd2) AS HUGEINT) AS sd2,
         |  CAST(SUM(relfx) AS BIGINT) AS rel, CAST(SUM(resfx) AS BIGINT) AS res FROM terms)
         |SELECT n_rows,
         |  floor(CAST(sd2 AS DOUBLE)/1e8/CAST(n_rows AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS brier,
         |  floor(CAST(rel AS DOUBLE)/1e9/CAST(n_rows AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS reliability,
         |  floor(CAST(res AS DOUBLE)/1e9/CAST(n_rows AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS resolution,
         |  floor((CAST(np AS DOUBLE)/CAST(n_rows AS DOUBLE))
         |    *(1.0 - CAST(np AS DOUBLE)/CAST(n_rows AS DOUBLE))*1000000.0 + 0.5)/1000000.0 AS uncertainty
         |FROM f""".stripMargin
    },

    // JSON profile: dynamic-path extraction, identical portable-regex
    // kind classification over the same unquoted value text.
    "q230_json_profile" ->
      """WITH base AS (SELECT props FROM events
        |  WHERE props IS NOT NULL AND json_valid(props)),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM base),
        |kv AS (SELECT k, json_extract_string(props, '$.' || k) AS v
        |       FROM (SELECT props, unnest(json_keys(props)) AS k FROM base)),
        |cls AS (SELECT k AS "key",
        |  CASE WHEN v IS NULL THEN 'null'
        |       WHEN regexp_matches(v, '^[+-]?[0-9]+$') THEN 'int'
        |       WHEN regexp_matches(v, '^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$') THEN 'float'
        |       WHEN v IN ('true', 'false') THEN 'bool'
        |       WHEN v LIKE '{%' THEN 'object'
        |       WHEN v LIKE '[%' THEN 'array'
        |       ELSE 'string' END AS kind FROM kv)
        |SELECT "key", kind, COUNT(*) AS n_values,
        |  floor(CAST(COUNT(*) AS DOUBLE)/CAST(n_rows AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS row_share
        |FROM cls CROSS JOIN tot GROUP BY 1, 2, n_rows ORDER BY 1, 2""".stripMargin,

    // CUPED: identical per-user 1e4 fx sums, pooled exact-integer
    // moments, theta/rho2 pinned as (num/den1)(num/den2), same guards.
    "q231_cuped" ->
      """WITH per AS (SELECT user_id AS u,
        |  CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |    THEN CAST(floor(CAST(value AS DOUBLE)*1e4+0.5) AS BIGINT) ELSE 0 END) AS HUGEINT) AS x4,
        |  CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |    THEN CAST(floor(CAST(value AS DOUBLE)*1e4+0.5) AS BIGINT) ELSE 0 END) AS HUGEINT) AS y4
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |pg AS (SELECT u, x4, y4,
        |  (((u % 2147483648) * 2654435761) % 4294967296) % 10000 < 5000 AS ga FROM per),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(x4) AS HUGEINT) AS sx, CAST(SUM(y4) AS HUGEINT) AS sy,
        |  CAST(SUM(x4*y4) AS HUGEINT) AS sxy, CAST(SUM(x4*x4) AS HUGEINT) AS sxx,
        |  CAST(SUM(y4*y4) AS HUGEINT) AS syy FROM pg),
        |v AS (SELECT CAST(SUM(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |  CAST(SUM(CASE WHEN ga THEN x4 END) AS HUGEINT) AS xa,
        |  CAST(SUM(CASE WHEN ga THEN y4 END) AS HUGEINT) AS ya,
        |  CAST(SUM(CASE WHEN NOT ga THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |  CAST(SUM(CASE WHEN NOT ga THEN x4 END) AS HUGEINT) AS xb,
        |  CAST(SUM(CASE WHEN NOT ga THEN y4 END) AS HUGEINT) AS yb FROM pg),
        |c AS (SELECT n, na, nb,
        |  CAST(CAST(n AS HUGEINT)*sxy - sx*sy AS DOUBLE) AS num,
        |  CAST(CAST(n AS HUGEINT)*sxx - sx*sx AS DOUBLE) AS den1,
        |  CAST(CAST(n AS HUGEINT)*syy - sy*sy AS DOUBLE) AS den2,
        |  CAST(xa AS DOUBLE)/1e4/CAST(na AS DOUBLE) AS mxa,
        |  CAST(ya AS DOUBLE)/1e4/CAST(na AS DOUBLE) AS mya,
        |  CAST(xb AS DOUBLE)/1e4/CAST(nb AS DOUBLE) AS mxb,
        |  CAST(yb AS DOUBLE)/1e4/CAST(nb AS DOUBLE) AS myb
        |  FROM m CROSS JOIN v)
        |SELECT n AS n_users, na AS n_a, nb AS n_b,
        |  CASE WHEN den1 <> 0 THEN floor(num/den1*1000000.0 + 0.5)/1000000.0 END AS theta,
        |  CASE WHEN na > 0 THEN floor(mya*1000000.0 + 0.5)/1000000.0 END AS mean_a,
        |  CASE WHEN nb > 0 THEN floor(myb*1000000.0 + 0.5)/1000000.0 END AS mean_b,
        |  CASE WHEN na > 0 AND nb > 0 THEN floor((myb - mya)*1000000.0 + 0.5)/1000000.0 END AS lift_raw,
        |  CASE WHEN na > 0 AND nb > 0 AND den1 <> 0 THEN
        |    floor(((myb - num/den1*mxb) - (mya - num/den1*mxa))*1000000.0 + 0.5)/1000000.0 END AS lift_adj,
        |  CASE WHEN den1 <> 0 AND den2 <> 0 THEN
        |    floor((num/den1)*(num/den2)*1000000.0 + 0.5)/1000000.0 END AS rho2
        |FROM c""".stripMargin,

    // Markov attribution: identical journey truncation + transition
    // counts, then the 1e9 integer recurrence unrolled per run (base +
    // one per removed channel), same pinned ratio assembly.
    "q232_markov_attribution" -> {
      val rounds = 12
      val chans = Seq("click", "error", "signup", "view")
      val runs = ("b", None: Option[String]) +:
        chans.zipWithIndex.map { case (c, i) => (s"c$i", Some(c)) }
      val head =
        """WITH e AS (SELECT user_id AS u, ts, event_id AS eid, event_type AS t
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
          |r AS (SELECT u, t, row_number() OVER (PARTITION BY u ORDER BY ts, eid) AS rn FROM e),
          |f AS (SELECT u, MIN(CASE WHEN t = 'purchase' THEN rn END) AS fp, MAX(rn) AS mx
          |      FROM r GROUP BY 1),
          |k AS (SELECT r.u, r.rn, CASE WHEN r.t = 'purchase' THEN 'CONV' ELSE r.t END AS s,
          |      f.fp, f.mx FROM r JOIN f ON f.u = r.u
          |      WHERE r.rn <= COALESCE(f.fp, 2147483647)),
          |tr AS (SELECT COALESCE(lag(s) OVER (PARTITION BY u ORDER BY rn), 'START') AS src, s AS dst FROM k
          |       UNION ALL SELECT s, 'NULL' FROM k WHERE fp IS NULL AND rn = mx),
          |t AS MATERIALIZED (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2),
          |tot AS MATERIALIZED (SELECT src, CAST(SUM(c) AS BIGINT) AS total FROM t GROUP BY 1),
          |st AS MATERIALIZED (SELECT DISTINCT s FROM (SELECT src AS s FROM t UNION ALL SELECT dst FROM t))""".stripMargin
      val runChains = runs.map { case (tag, removed) =>
        val rmCond = removed.map(c => s" OR st.s = '$c'").getOrElse("")
        val p0 =
          s""",
             |p_${tag}_0 AS (SELECT s, CASE WHEN s = 'CONV' THEN 1000000000 ELSE CAST(0 AS BIGINT) END AS v FROM st)""".stripMargin
        val rds = (1 to rounds).map { kk =>
          s""",
             |p_${tag}_$kk AS MATERIALIZED (SELECT st.s AS s,
             |  CASE WHEN st.s = 'CONV' THEN 1000000000
             |       WHEN st.s = 'NULL'$rmCond THEN 0
             |       ELSE COALESCE(a.v2, 0) END AS v
             |  FROM st LEFT JOIN (
             |    SELECT t.src AS s,
             |      CAST(CAST(SUM(t.c * p.v) AS HUGEINT) // MAX(tot.total) AS BIGINT) AS v2
             |    FROM t JOIN p_${tag}_${kk - 1} p ON p.s = t.dst
             |    JOIN tot ON tot.src = t.src
             |    GROUP BY t.src) a ON a.s = st.s)""".stripMargin
        }.mkString
        p0 + rds
      }.mkString
      val resRows = chans.zipWithIndex.map { case (c, i) =>
        s"""SELECT '$c' AS channel,
           |  (SELECT v FROM p_b_$rounds WHERE s = 'START') AS pb,
           |  (SELECT v FROM p_c${i}_$rounds WHERE s = 'START') AS pc""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      val tail =
        s""",
           |res AS (
           |  $resRows),
           |se AS (SELECT CAST(SUM(pb - pc) AS BIGINT) AS sev FROM res)
           |SELECT channel,
           |  floor(CAST(pb AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS p_base,
           |  floor(CAST(pc AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS p_removed,
           |  CASE WHEN pb > 0 THEN floor(CAST(pb - pc AS DOUBLE)/CAST(pb AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS removal_effect,
           |  CASE WHEN sev > 0 THEN floor(CAST(pb - pc AS DOUBLE)/CAST(sev AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS share
           |FROM res CROSS JOIN se ORDER BY channel""".stripMargin
      head + runChains + tail
    },

    // Item embeddings: identical symmetrized window pairs, 1e-6 PPMI
    // snap/clamp, md5-60 sign bits, exact long component sums.
    "q233_item_embeddings" ->
      """WITH tk AS (SELECT CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |  ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) END AS toks
        |  FROM documents),
        |t2 AS (SELECT toks FROM tk WHERE len(toks) >= 2),
        |rawp AS (SELECT pr.a AS a, pr.b AS b FROM (
        |  SELECT unnest(flatten([[{'a': toks[i+1], 'b': toks[j+1]}
        |    FOR j IN range(i + 1, least(i + 2, len(toks) - 1) + 1)]
        |    FOR i IN range(0, len(toks) - 1)])) AS pr FROM t2) WHERE pr.a <> pr.b),
        |sym AS (SELECT a, b FROM rawp UNION ALL SELECT b, a FROM rawp),
        |pairs AS (SELECT a, b, COUNT(*) AS c_ab FROM sym GROUP BY 1, 2),
        |outm AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_out FROM pairs GROUP BY 1),
        |inm AS (SELECT b, CAST(SUM(c_ab) AS BIGINT) AS c_in FROM pairs GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_pairs FROM pairs),
        |sup AS (SELECT pairs.a, pairs.b,
        |  greatest(CAST(floor(ln(CAST(c_ab AS DOUBLE)*CAST(n_pairs AS DOUBLE)
        |    /(CAST(c_out AS DOUBLE)*CAST(c_in AS DOUBLE)))*1e6 + 0.5) AS BIGINT), 0) AS pfx,
        |  list_reduce([strpos('0123456789abcdef', substr(md5(pairs.b), i, 1))-1 FOR i IN range(1,16)],
        |    (x, y) -> x*16 + y) AS h
        |  FROM pairs JOIN outm ON outm.a = pairs.a JOIN inm ON inm.b = pairs.b
        |  CROSS JOIN tot WHERE c_ab >= 5),
        |contrib AS (SELECT a, pfx, h, d FROM sup CROSS JOIN range(0, 16) rd(d)
        |  WHERE pfx > 0)
        |SELECT a AS token, CAST(d AS INT) AS dim,
        |  CAST(SUM(pfx * (((h // CAST(power(2, d) AS BIGINT)) % 2) * 2 - 1)) AS BIGINT) AS v_fx
        |FROM contrib GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // V-measure: q164's chain + brand join, per-cell 1e-9 snapped
    // entropy terms, fx-ratio h/c, same degenerate conventions.
    "q234_v_measure" ->
      (lpaOracleChain +
        """,
          |cl AS (SELECT l3.item, l3.lbl AS community, p.p_brand AS cls
          |  FROM l3 JOIN part p ON p.p_partkey = l3.item),
          |cells AS MATERIALIZED (SELECT community, cls, CAST(COUNT(*) AS BIGINT) AS n_ck
          |  FROM cl GROUP BY 1, 2),
          |ck AS (SELECT community, CAST(SUM(n_ck) AS BIGINT) AS n_k FROM cells GROUP BY 1),
          |cc AS (SELECT cls, CAST(SUM(n_ck) AS BIGINT) AS n_c FROM cells GROUP BY 1),
          |nt AS (SELECT CAST(SUM(n_ck) AS BIGINT) AS nn FROM cells),
          |cnts AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ck) AS n_clusters,
          |         (SELECT CAST(COUNT(*) AS BIGINT) FROM cc) AS n_classes),
          |hck AS (SELECT CAST(SUM(CAST(floor(CAST(n_ck AS DOUBLE)/CAST(nn AS DOUBLE)
          |  * ln(CAST(n_ck AS DOUBLE)/CAST(n_k AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS hck_fx
          |  FROM cells JOIN ck USING (community) CROSS JOIN nt),
          |hkc AS (SELECT CAST(SUM(CAST(floor(CAST(n_ck AS DOUBLE)/CAST(nn AS DOUBLE)
          |  * ln(CAST(n_ck AS DOUBLE)/CAST(n_c AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS hkc_fx
          |  FROM cells JOIN cc USING (cls) CROSS JOIN nt),
          |hc AS (SELECT CAST(SUM(CAST(floor(CAST(n_c AS DOUBLE)/CAST(nn AS DOUBLE)
          |  * ln(CAST(n_c AS DOUBLE)/CAST(nn AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS hc_fx
          |  FROM cc CROSS JOIN nt),
          |hk AS (SELECT CAST(SUM(CAST(floor(CAST(n_k AS DOUBLE)/CAST(nn AS DOUBLE)
          |  * ln(CAST(n_k AS DOUBLE)/CAST(nn AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS hk_fx
          |  FROM ck CROSS JOIN nt),
          |fin AS (SELECT nn AS n_items, n_clusters, n_classes,
          |  CASE WHEN hc_fx = 0 THEN 1.0 ELSE 1.0 - CAST(hck_fx AS DOUBLE)/CAST(hc_fx AS DOUBLE) END AS h,
          |  CASE WHEN hk_fx = 0 THEN 1.0 ELSE 1.0 - CAST(hkc_fx AS DOUBLE)/CAST(hk_fx AS DOUBLE) END AS c
          |  FROM nt CROSS JOIN cnts CROSS JOIN hck CROSS JOIN hkc CROSS JOIN hc CROSS JOIN hk)
          |SELECT n_items, n_clusters, n_classes,
          |  floor(h*1000000.0 + 0.5)/1000000.0 AS homogeneity,
          |  floor(c*1000000.0 + 0.5)/1000000.0 AS completeness,
          |  CASE WHEN h + c <> 0 THEN floor(2.0*h*c/(h + c)*1000000.0 + 0.5)/1000000.0
          |       ELSE 0.0 END AS v_measure
          |FROM fin""".stripMargin),

    // Source entropy: identical count table, 1e-9 snapped cells,
    // exp(-fx/1e9) perplexity (the q120 exp-parity precedent).
    "q235_source_entropy" ->
      """WITH tk AS (SELECT source, CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |  ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) END AS toks
        |  FROM documents WHERE source IS NOT NULL),
        |cnt AS (SELECT source, w, COUNT(*) AS c FROM
        |  (SELECT source, unnest(toks) AS w FROM tk) GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS vocab FROM cnt GROUP BY 1),
        |hf AS (SELECT cnt.source, CAST(SUM(CAST(floor(CAST(c AS DOUBLE)/CAST(n_tokens AS DOUBLE)
        |  * ln(CAST(c AS DOUBLE)/CAST(n_tokens AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS hfx
        |  FROM cnt JOIN ns ON ns.source = cnt.source GROUP BY 1)
        |SELECT ns.source, n_tokens, vocab,
        |  floor(CAST(vocab AS DOUBLE)/CAST(n_tokens AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS ttr,
        |  floor(-CAST(hfx AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS entropy,
        |  floor(exp(-CAST(hfx AS DOUBLE)/1e9)*10000.0 + 0.5)/10000.0 AS perplexity
        |FROM ns JOIN hf ON hf.source = ns.source ORDER BY ns.source""".stripMargin,

    // Davies-Bouldin: q32's codebook/assignment verbatim, L2 via the
    // pinned dot expansion, 1e-6 snaps before every unordered sum/max.
    "q236_davies_bouldin" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    ((vec_id % 2147483648) * 2654435761) % 4294967296 AS h FROM embeddings
        |    WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |cent AS (SELECT v AS cv, row_number() OVER (ORDER BY h, vec_id) - 1 AS cid
        |         FROM c ORDER BY h, vec_id LIMIT 16),
        |sc AS (SELECT a.vec_id, a.v, cent.cid, list_cosine_similarity(a.v, cent.cv) AS s
        |       FROM c a CROSS JOIN cent),
        |assign AS (SELECT vec_id, v, cid AS cluster FROM
        |  (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM sc)
        |  WHERE rn = 1),
        |wd AS (SELECT cluster, CAST(floor(sqrt(
        |    list_reduce([v[i]*v[i] FOR i IN range(1,65)], (a,b) -> a+b)
        |    - 2.0*list_reduce([v[i]*cv[i] FOR i IN range(1,65)], (a,b) -> a+b)
        |    + list_reduce([cv[i]*cv[i] FOR i IN range(1,65)], (a,b) -> a+b))*1e6 + 0.5) AS BIGINT) AS sfx
        |  FROM assign JOIN cent ON cent.cid = assign.cluster),
        |pc AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(sfx) AS BIGINT) AS ssum
        |  FROM wd GROUP BY 1),
        |pd AS (SELECT a.cid AS i, b.cid AS j, CAST(floor(sqrt(
        |    list_reduce([a.cv[k]*a.cv[k] FOR k IN range(1,65)], (x,y) -> x+y)
        |    - 2.0*list_reduce([a.cv[k]*b.cv[k] FOR k IN range(1,65)], (x,y) -> x+y)
        |    + list_reduce([b.cv[k]*b.cv[k] FOR k IN range(1,65)], (x,y) -> x+y))*1e6 + 0.5) AS BIGINT) AS dfx
        |  FROM cent a JOIN cent b ON a.cid <> b.cid),
        |rt AS (SELECT pd.i AS cluster, CAST(floor(MAX(
        |    (CAST(pi.ssum AS DOUBLE)/1e6/CAST(pi.n AS DOUBLE)
        |     + CAST(pj.ssum AS DOUBLE)/1e6/CAST(pj.n AS DOUBLE))
        |    / (CAST(pd.dfx AS DOUBLE)/1e6))*1e6 + 0.5) AS BIGINT) AS rfx
        |  FROM pd JOIN pc pi ON pi.cluster = pd.i JOIN pc pj ON pj.cluster = pd.j
        |  WHERE pd.dfx > 0 GROUP BY 1),
        |dbv AS (SELECT CAST(SUM(rfx) AS BIGINT) AS sr, CAST(COUNT(*) AS BIGINT) AS kk FROM rt)
        |SELECT pc.cluster, pc.n AS n_members,
        |  floor(CAST(ssum AS DOUBLE)/1e6/CAST(pc.n AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS s_mean,
        |  floor(CAST(rfx AS DOUBLE)/1e6*1000000.0 + 0.5)/1000000.0 AS r,
        |  floor(CAST(sr AS DOUBLE)/CAST(kk AS DOUBLE)/1e6*1000000.0 + 0.5)/1000000.0 AS db_index
        |FROM pc JOIN rt ON rt.cluster = pc.cluster CROSS JOIN dbv
        |ORDER BY pc.cluster""".stripMargin,

    // Subsampling: identical counts, keep rule, and uniform hash —
    // both engines compare the same exact doubles, nothing snaps.
    "q237_subsample" ->
      """WITH tk AS (SELECT doc_id, CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |  ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) END AS toks
        |  FROM documents),
        |pw AS (SELECT doc_id, pr.p AS pos, pr.w AS w FROM (
        |  SELECT doc_id, unnest([{'p': i-1, 'w': toks[i]} FOR i IN range(1, len(toks)+1)]) AS pr
        |  FROM tk)),
        |cnt AS (SELECT w, COUNT(*) AS c FROM pw GROUP BY 1),
        |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM cnt),
        |sel AS (SELECT pw.doc_id,
        |  (CAST((((pw.doc_id*1315423911 + pw.pos) % 2147483648) * 2654435761) % 4294967296 + 1 AS DOUBLE)/4294967296.0
        |   <= least(1.0, sqrt(0.001*CAST(nn AS DOUBLE)/CAST(c AS DOUBLE)))) AS keep
        |  FROM pw JOIN cnt ON cnt.w = pw.w CROSS JOIN nt)
        |SELECT doc_id, COUNT(*) AS n_before,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
        |  floor(CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS kept_frac
        |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin,

    // Hopkins: identical bounds/probes (the pinned mn + u·(mx−mn)
    // recomputed in SQL), sampleHash real sample, index-order
    // distances, 1e-6 sqrt snaps, pinned final ratio.
    "q238_hopkins" ->
      """WITH c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
        |    ((vec_id % 2147483648) * 2654435761) % 4294967296 AS h FROM embeddings
        |    WHERE embedding IS NOT NULL AND len(embedding) = 64
        |      AND len(list_filter(embedding,
        |          e -> isnan(CAST(e AS DOUBLE)) OR isinf(CAST(e AS DOUBLE)))) = 0),
        |mm AS (SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
        |  FROM c CROSS JOIN range(1, 65) t(i) GROUP BY 1),
        |ml AS (SELECT list(mn ORDER BY i) AS mnl, list(mx ORDER BY i) AS mxl FROM mm),
        |pr AS (SELECT p, [mnl[i] +
        |    (CAST((((p*64 + (i-1)) % 2147483648) * 2654435761) % 4294967296 + 1 AS DOUBLE)/4294967296.0)
        |    * (mxl[i] - mnl[i]) FOR i IN range(1, 65)] AS pv
        |  FROM range(0, 50) t(p) CROSS JOIN ml),
        |sp AS (SELECT id, v FROM c ORDER BY h, id LIMIT 50),
        |um AS (SELECT pr.p, MIN(list_reduce(
        |    [(c.v[i]-pr.pv[i])*(c.v[i]-pr.pv[i]) FOR i IN range(1,65)], (a,b) -> a+b)) AS d2
        |  FROM c CROSS JOIN pr GROUP BY 1),
        |wm AS (SELECT sp.id, MIN(list_reduce(
        |    [(c.v[i]-sp.v[i])*(c.v[i]-sp.v[i]) FOR i IN range(1,65)], (a,b) -> a+b)) AS d2
        |  FROM c JOIN sp ON c.id <> sp.id GROUP BY 1),
        |su AS (SELECT CAST(SUM(CAST(floor(sqrt(d2)*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS su FROM um),
        |sw AS (SELECT CAST(SUM(CAST(floor(sqrt(d2)*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sw FROM wm)
        |SELECT CAST(50 AS BIGINT) AS n_sample,
        |  floor(CAST(su AS DOUBLE)/1e6*1000000.0 + 0.5)/1000000.0 AS sum_u,
        |  floor(CAST(sw AS DOUBLE)/1e6*1000000.0 + 0.5)/1000000.0 AS sum_w,
        |  CASE WHEN su + sw > 0 THEN
        |    floor(CAST(su AS DOUBLE)/CAST(su + sw AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS hopkins
        |FROM su CROSS JOIN sw""".stripMargin,

    // EWMA: q218's zero-filled grid, integer 1e9/2^(l+1) weights, the
    // dense-grid lag join providing start-of-window availability.
    "q239_ewma" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |lw AS (SELECT CAST(l AS BIGINT) AS l, CAST(1000000000 // power(2, l + 1) AS BIGINT) AS w
        |       FROM (SELECT unnest(range(0, 8)) AS l)),
        |pr AS (SELECT a.t, a.bin, a.v, lw.l, lw.w, bb.v AS vl
        |  FROM sv a CROSS JOIN lw
        |  JOIN sv bb ON bb.t = a.t AND bb.bin = a.bin - lw.l)
        |SELECT t AS event_type, bin,
        |  CAST(SUM(CASE WHEN l = 0 THEN vl END) AS BIGINT) AS n_events,
        |  floor(CAST(SUM(w * vl) AS DOUBLE)/CAST(SUM(w) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS ewma
        |FROM pr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Cliff's delta: q109's doubled midrank sum, exact-integer 2U,
    // single pinned divisions, magnitude banded on the ROUNDED delta.
    "q240_cliffs_delta" ->
      """WITH a AS (SELECT CAST(value AS DOUBLE) v FROM events
        |  WHERE event_type='click' AND value IS NOT NULL),
        |b AS (SELECT CAST(value AS DOUBLE) v FROM events
        |  WHERE event_type='view' AND value IS NOT NULL),
        |ca AS (SELECT v, COUNT(*) c FROM a GROUP BY 1),
        |cb AS (SELECT v, COUNT(*) c FROM b GROUP BY 1),
        |m AS (SELECT COALESCE(ca.v, cb.v) AS v, COALESCE(ca.c, 0) AS ca,
        |  COALESCE(cb.c, 0) AS cb FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |c AS (SELECT v, ca, cb, ca + cb AS t,
        |  COALESCE(SUM(ca + cb) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb FROM m),
        |s AS (SELECT
        |  CAST(SUM(CAST(ca AS HUGEINT) * CAST(cumb*2 + t + 1 AS HUGEINT)) AS HUGEINT) AS r2s,
        |  CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM c),
        |f AS (SELECT na, nb,
        |  r2s - CAST(na AS HUGEINT)*(CAST(na AS HUGEINT)+1) AS twou FROM s),
        |g AS (SELECT na, nb,
        |  CASE WHEN na > 0 AND nb > 0 THEN
        |    floor(CAST(twou - CAST(na AS HUGEINT)*CAST(nb AS HUGEINT) AS DOUBLE)
        |      /CAST(CAST(na AS HUGEINT)*CAST(nb AS HUGEINT) AS DOUBLE)*1000000.0 + 0.5)/1000000.0
        |  END AS delta,
        |  CASE WHEN na > 0 AND nb > 0 THEN
        |    floor(CAST(twou AS DOUBLE)
        |      /CAST(CAST(2 AS HUGEINT)*CAST(na AS HUGEINT)*CAST(nb AS HUGEINT) AS DOUBLE)*1000000.0 + 0.5)/1000000.0
        |  END AS auc
        |  FROM f)
        |SELECT COALESCE(na, 0) AS n_a, COALESCE(nb, 0) AS n_b, delta, auc,
        |  CASE WHEN abs(delta) < 0.147 THEN 'negligible'
        |       WHEN abs(delta) < 0.33 THEN 'small'
        |       WHEN abs(delta) < 0.474 THEN 'medium'
        |       WHEN delta IS NOT NULL THEN 'large' END AS magnitude
        |FROM g""".stripMargin,

    // Hill: identical counts, top-(k+1) count multiset (tie-safe by
    // construction), 1e-9 ln snaps, one pinned division.
    "q241_hill_tail" ->
      """WITH tk AS (SELECT CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |  ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) END AS toks
        |  FROM documents),
        |cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM
        |  (SELECT unnest(toks) AS w FROM tk) GROUP BY 1),
        |top AS (SELECT c FROM cnt ORDER BY c DESC LIMIT 51),
        |th AS (SELECT MIN(c) AS ck1 FROM top),
        |s AS (SELECT CAST(SUM(CAST(floor(ln(CAST(c AS DOUBLE)/CAST(ck1 AS DOUBLE))*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS sfx,
        |  CAST(MIN(ck1) AS BIGINT) AS c_threshold,
        |  CAST(COUNT(*) AS BIGINT) AS nr FROM top CROSS JOIN th)
        |SELECT nr - 1 AS k, c_threshold,
        |  CASE WHEN sfx > 0 THEN
        |    floor(CAST(nr - 1 AS DOUBLE)/(CAST(sfx AS DOUBLE)/1e9)*1000000.0 + 0.5)/1000000.0 END AS hill_alpha
        |FROM s""".stripMargin,

    // Source minhash: identical md5-60 base, identical (a·h+b) mod p
    // permutation literals, identical slot-agreement assembly.
    "q165_source_minhash" -> {
      val co = CorpusStats.minhashCoefs(16)
      val av = co.map(_._1).mkString("[", ",", "]")
      val bv = co.map(_._2).mkString("[", ",", "]")
      s"""WITH st AS (SELECT DISTINCT source, tok FROM (
         |  SELECT source, unnest(list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x))) AS tok
         |  FROM documents WHERE length(trim(text)) > 0)),
         |bs AS (SELECT source, list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
         |       (a,b) -> a*16 + b) % 2147483629 AS h FROM st),
         |ab AS (SELECT $av::BIGINT[] AS av, $bv::BIGINT[] AS bv),
         |co AS (SELECT CAST(i AS INT) AS seed, av[CAST(i AS INT)+1] AS a, bv[CAST(i AS INT)+1] AS b
         |       FROM (SELECT unnest(range(16)) AS i) CROSS JOIN ab),
         |hs AS (SELECT source, seed, (a * h + b) % 2147483629 AS hv FROM bs CROSS JOIN co),
         |sig AS (SELECT source, seed, MIN(hv) AS minh FROM hs GROUP BY 1, 2)
         |SELECT a.source AS src_a, b.source AS src_b,
         |  CAST(SUM(CASE WHEN a.minh = b.minh THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         |  16 AS k,
         |  floor((CAST(SUM(CASE WHEN a.minh = b.minh THEN 1 ELSE 0 END) AS DOUBLE) / 16)*10000.0 + 0.5)/10000.0 AS est_jaccard
         |FROM sig a JOIN sig b ON a.seed = b.seed AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    // Contract: one arm per rule, identical null-safe NOT semantics;
    // unique violations = n_rows - count(distinct key).
    "q166_contract" ->
      """WITH n AS (SELECT COUNT(*) AS n_rows FROM orders),
        |r AS (
        |  SELECT 'custkey_not_null' AS rule_id, 'row' AS kind,
        |    CAST(SUM(CASE WHEN NOT COALESCE(o_custkey IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM orders
        |  UNION ALL
        |  SELECT 'status_enum', 'row',
        |    CAST(SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F','P'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'priority_regex', 'row',
        |    CAST(SUM(CASE WHEN NOT COALESCE(regexp_matches(o_orderpriority, '^[1-5]-'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'price_range', 'row',
        |    CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice > 0.0 AND o_totalprice <= 400000.0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'date_bounds', 'row',
        |    CAST(SUM(CASE WHEN NOT COALESCE(o_orderdate >= TIMESTAMP '1992-01-01' AND o_orderdate < TIMESTAMP '2002-01-01', FALSE) THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'orderkey_unique', 'unique',
        |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders)
        |SELECT rule_id, kind, violations, n_rows, violations = 0 AS pass
        |FROM r CROSS JOIN n ORDER BY rule_id""".stripMargin,

    // Bootstrap CI: identical hash-derived Poisson multiplicities
    // (shared threshold literals), identical fixed-point resample
    // means, identical sorted-left-fold rank/SE assembly.
    "q167_bootstrap_ci" -> {
      val ts = QualityChecks.poissonThresholds
      val mcase = ts.zipWithIndex
        .map { case (t, k) => s"WHEN u < $t THEN $k" }
        .mkString("CASE ", " ", " ELSE 6 END")
      s"""WITH base AS (SELECT event_type AS k, event_id AS id,
         |  CAST(floor(CAST(value AS DOUBLE)*10000.0 + 0.5) AS BIGINT) AS vfx
         |  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
         |rs AS (SELECT k, id, vfx, CAST(i AS BIGINT) AS b
         |       FROM base CROSS JOIN (SELECT unnest(range(40)) AS i)),
         |mt AS (SELECT k, b, vfx, $mcase AS m FROM
         |       (SELECT k, b, vfx, (((id*41 + b) % 2147483648) * 2654435761) % 4294967296 AS u FROM rs)),
         |g AS (SELECT k, b, SUM(CAST(m AS DECIMAL(38,0)) * CAST(vfx AS DECIMAL(38,0))) AS sb,
         |      CAST(SUM(m) AS BIGINT) AS nb FROM mt GROUP BY 1, 2),
         |mm AS (SELECT k, CAST(floor(CAST(sb AS DOUBLE)/10000.0/CAST(nb AS DOUBLE)*1000000.0 + 0.5) AS BIGINT) AS mfx
         |       FROM g WHERE nb > 0),
         |lst AS (SELECT k, list_sort(list(mfx)) AS ms FROM mm GROUP BY 1),
         |mo AS (SELECT k, ms, len(ms) AS nb,
         |       list_reduce(list_transform(ms, x -> x/1000000.0), (a, c) -> a + c)
         |         / CAST(len(ms) AS DOUBLE) AS mom FROM lst),
         |tot AS (SELECT k, COUNT(*) AS n, SUM(CAST(vfx AS DECIMAL(38,0))) AS s FROM base GROUP BY 1)
         |SELECT tot.k AS event_type, CAST(n AS BIGINT) AS n,
         |  floor(CAST(s AS DOUBLE)/10000.0/CAST(n AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS mean,
         |  CAST(nb AS BIGINT) AS n_resamples,
         |  floor((ms[GREATEST(CAST(floor(CAST(nb*5 + 99 AS DOUBLE)/100.0) AS INT), 1)]/1000000.0)*1000000.0 + 0.5)/1000000.0 AS p05_boot,
         |  floor((ms[GREATEST(CAST(floor(CAST(nb*95 + 99 AS DOUBLE)/100.0) AS INT), 1)]/1000000.0)*1000000.0 + 0.5)/1000000.0 AS p95_boot,
         |  CASE WHEN nb > 1 THEN
         |    floor(sqrt(list_reduce(list_transform(ms, x -> (x/1000000.0 - mom)*(x/1000000.0 - mom)),
         |      (a, c) -> a + c) / (CAST(nb AS DOUBLE) - 1.0))*1000000.0 + 0.5)/1000000.0 END AS se_boot
         |FROM mo JOIN tot ON mo.k = tot.k ORDER BY event_type""".stripMargin
    },

    // Per-source heavy hitters: the sketch only nominates — the exact
    // recount + ceil(phi·n_g) threshold make the output sketch-free,
    // so the oracle is a plain exact groupBy twin.
    "q168_heavy_per_source" ->
      """WITH toks AS (SELECT source AS grp,
        |  unnest(list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x))) AS term
        |  FROM documents WHERE source IS NOT NULL AND length(trim(text)) > 0),
        |g AS (SELECT grp, term, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
        |t AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n_grp FROM g GROUP BY 1)
        |SELECT g.grp AS source, term, CAST(cnt AS BIGINT) AS cnt, n_grp
        |FROM g JOIN t ON g.grp = t.grp
        |WHERE cnt >= ceil(0.01 * n_grp)
        |ORDER BY source, cnt DESC, term""".stripMargin,

    // Heaps fit: identical 1e-6 ln snapping + DECIMAL moments + the
    // zipfSlope closed-form assembly.
    "q169_heaps_fit" ->
      """WITH st AS (SELECT source AS grp, lower(tok) AS w, COUNT(*) AS c FROM (
        |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents WHERE source IS NOT NULL AND length(trim(text)) > 0)
        |  GROUP BY 1, 2),
        |per AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS nt, COUNT(*) AS nv FROM st GROUP BY 1),
        |lx AS (SELECT CAST(floor(ln(CAST(nt AS DOUBLE))*1000000.0 + 0.5) AS BIGINT) AS lx,
        |       CAST(floor(ln(CAST(nv AS DOUBLE))*1000000.0 + 0.5) AS BIGINT) AS ly FROM per),
        |m AS (SELECT COUNT(*) AS n,
        |      SUM(CAST(lx AS DECIMAL(38,0))) AS sx, SUM(CAST(ly AS DECIMAL(38,0))) AS sy,
        |      SUM(CAST(lx AS DECIMAL(38,0)) * CAST(lx AS DECIMAL(38,0))) AS sxx,
        |      SUM(CAST(lx AS DECIMAL(38,0)) * CAST(ly AS DECIMAL(38,0))) AS sxy FROM lx)
        |SELECT CAST(n AS BIGINT) AS n_sources,
        |  CASE WHEN n >= 2 AND CAST(n AS DOUBLE)*(CAST(sxx AS DOUBLE)/1e12) - (CAST(sx AS DOUBLE)/1e6)*(CAST(sx AS DOUBLE)/1e6) > 0.0 THEN
        |    floor(((CAST(n AS DOUBLE)*(CAST(sxy AS DOUBLE)/1e12) - (CAST(sx AS DOUBLE)/1e6)*(CAST(sy AS DOUBLE)/1e6))
        |      / (CAST(n AS DOUBLE)*(CAST(sxx AS DOUBLE)/1e12) - (CAST(sx AS DOUBLE)/1e6)*(CAST(sx AS DOUBLE)/1e6)))*10000.0 + 0.5)/10000.0 END AS beta,
        |  CASE WHEN n >= 2 AND CAST(n AS DOUBLE)*(CAST(sxx AS DOUBLE)/1e12) - (CAST(sx AS DOUBLE)/1e6)*(CAST(sx AS DOUBLE)/1e6) > 0.0 THEN
        |    floor(((CAST(sy AS DOUBLE)/1e6 - ((CAST(n AS DOUBLE)*(CAST(sxy AS DOUBLE)/1e12) - (CAST(sx AS DOUBLE)/1e6)*(CAST(sy AS DOUBLE)/1e6))
        |      / (CAST(n AS DOUBLE)*(CAST(sxx AS DOUBLE)/1e12) - (CAST(sx AS DOUBLE)/1e6)*(CAST(sx AS DOUBLE)/1e6))) * (CAST(sx AS DOUBLE)/1e6)) / CAST(n AS DOUBLE))*10000.0 + 0.5)/10000.0 END AS ln_k
        |FROM m""".stripMargin,

    // Isotonic: q120's binning, then the minimax identity
    // iso(i) = max_{a<=i} min_{b>=i} intervalAccuracy([a,b]) as pure
    // bounded-domain joins — identical interval ratios both engines.
    "q170_isotonic" -> {
      val w = Similarity.lshPlanes(256, 1, seed = 7)(0)
      s"""WITH wt AS (SELECT ${w.mkString("[", ",", "]")}::DOUBLE[] AS w),
         |t AS (SELECT doc_id,
         |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
         |       ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x))
         |  END AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         |    list_reduce(list_transform(toks, tok ->
         |      wt.w[((list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
         |             (a,b) -> a*16 + b) % 2147483629) % 256) + 1]),
         |      (a,b) -> a + b) END AS raw
         |  FROM t CROSS JOIN wt),
         |cy AS (SELECT s.doc_id,
         |  1.0 / (1.0 + exp(-(floor((raw + -0.05)*10000.0 + 0.5)/10000.0))) AS conf,
         |  CAST(d.lang = 'en' AS BIGINT) AS y
         |  FROM s JOIN documents d USING (doc_id)),
         |bb AS (SELECT least((CAST(floor(conf*10000.0 + 0.5) AS BIGINT) * 10) // 10000, 9) AS bin, y FROM cy),
         |b AS (SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos FROM bb GROUP BY 1),
         |ivs AS (SELECT x.bin AS a, y2.bin AS b2,
         |        CAST(SUM(m.n_pos) AS DOUBLE) / CAST(SUM(m.n) AS DOUBLE) AS w
         |        FROM b x JOIN b y2 ON x.bin <= y2.bin
         |        JOIN b m ON m.bin >= x.bin AND m.bin <= y2.bin
         |        GROUP BY 1, 2),
         |gi AS (SELECT i.bin AS i, ivs.a, MIN(ivs.w) AS mn FROM b i
         |       JOIN ivs ON ivs.a <= i.bin AND ivs.b2 >= i.bin GROUP BY 1, 2),
         |iso AS (SELECT i, MAX(mn) AS iso FROM gi GROUP BY 1)
         |SELECT b.bin, b.n, b.n_pos,
         |  floor((CAST(b.n_pos AS DOUBLE)/CAST(b.n AS DOUBLE))*10000.0 + 0.5)/10000.0 AS accuracy,
         |  floor(iso.iso*10000.0 + 0.5)/10000.0 AS iso_accuracy
         |FROM b JOIN iso ON b.bin = iso.i ORDER BY b.bin""".stripMargin
    },

    // kNN label eval: quadratic cosine twin on the hash sample; votes
    // by (count desc, label), neighbors by (cosine desc, id).
    "q159_knn_eval" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv,
        |  CAST(label AS BIGINT) AS q_label FROM embeddings
        |  WHERE (((vec_id % 2147483648) * 2654435761) % 4294967296) % 10 = 0),
        |s AS (SELECT q.q_id, q.q_label, n.vec_id AS n_id, CAST(n.label AS BIGINT) AS n_label,
        |  list_cosine_similarity(q.qv, CAST(n.embedding AS DOUBLE[])) AS c
        |  FROM q JOIN embeddings n ON n.vec_id <> q.q_id),
        |r AS (SELECT q_id, q_label, n_label,
        |  row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rn FROM s),
        |v AS (SELECT q_id, q_label, n_label, COUNT(*) AS c FROM r WHERE rn <= 5 GROUP BY 1, 2, 3),
        |p AS (SELECT q_id, q_label, n_label,
        |  row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_label) AS rr FROM v)
        |SELECT q_id AS vec_id, q_label AS label, n_label AS predicted,
        |  CAST(CASE WHEN q_label = n_label THEN 1 ELSE 0 END AS INT) AS is_correct
        |FROM p WHERE rr = 1 ORDER BY vec_id""".stripMargin,

    // Standardization: identical snapped moments and pinned z assembly;
    // constant dims NULL.
    "q158_standardize" ->
      """WITH c AS (SELECT vec_id, pr.d AS dim,
        |  CAST(floor(CAST(pr.x AS DOUBLE)*1e6 + 0.5) AS BIGINT) AS x6 FROM (
        |  SELECT vec_id, unnest([{'d': i, 'x': embedding[i+1]} FOR i IN range(0, len(embedding))]) AS pr
        |  FROM embeddings)),
        |st AS (SELECT dim, COUNT(*) AS n, SUM(CAST(x6 AS DECIMAL(38,0))) AS s1,
        |       SUM(CAST(x6 AS DECIMAL(38,0))*CAST(x6 AS DECIMAL(38,0))) AS s2 FROM c GROUP BY 1),
        |m AS (SELECT dim,
        |  (CAST(s1 AS DOUBLE)/1e6)/CAST(n AS DOUBLE) AS mean,
        |  sqrt(greatest((CAST(s2 AS DOUBLE)/1e12 - (CAST(s1 AS DOUBLE)/1e6)*(CAST(s1 AS DOUBLE)/1e6)/CAST(n AS DOUBLE))/(CAST(n AS DOUBLE)-1), 0.0)) AS std
        |  FROM st)
        |SELECT c.vec_id, c.dim, CASE WHEN std > 0 THEN
        |  floor((CAST(x6 AS DOUBLE)/1e6 - mean)/std*10000.0 + 0.5)/10000.0 END AS z
        |FROM c JOIN m USING (dim) ORDER BY vec_id, dim""".stripMargin,

    // Windowed PMI: nested comprehension pair explode, pair-table
    // margins (consistent with the pair universe), one snapped ln.
    "q157_windowed_pmi" ->
      """WITH tk AS (SELECT CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |  ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) END AS t
        |  FROM documents),
        |p AS (SELECT pr.a AS a, pr.b AS b, COUNT(*) AS c_ab FROM (
        |  SELECT unnest(flatten([[{'a': t[i+1], 'b': t[j+1]}
        |    FOR j IN range(i+1, least(i+4, len(t)-1)+1)] FOR i IN range(0, len(t)-1)])) AS pr
        |  FROM tk WHERE len(t) >= 2) GROUP BY 1, 2),
        |o AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_out FROM p GROUP BY 1),
        |ii AS (SELECT b, CAST(SUM(c_ab) AS BIGINT) AS c_in FROM p GROUP BY 1),
        |n AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_pairs FROM p)
        |SELECT p.a, p.b, p.c_ab,
        |  floor(ln(CAST(p.c_ab AS DOUBLE)*CAST(n_pairs AS DOUBLE)
        |        /(CAST(c_out AS DOUBLE)*CAST(c_in AS DOUBLE)))*10000.0 + 0.5)/10000.0 AS pmi
        |FROM p JOIN o USING (a) JOIN ii USING (b) CROSS JOIN n
        |WHERE p.c_ab >= 5
        |ORDER BY pmi DESC, a, b""".stripMargin,

    // Sequence n-grams: per-user (ts, id)-ordered type list, 1-based
    // inclusive slices, exact support counts.
    "q156_seq_ngrams" ->
      """WITH s AS (SELECT user_id, list(event_type ORDER BY ts, event_id) AS seq
        |           FROM events GROUP BY 1),
        |g AS (SELECT unnest([array_to_string(seq[i+1:i+3], '->') FOR i IN range(0, len(seq)-2)]) AS ngram
        |      FROM s WHERE len(seq) >= 3)
        |SELECT ngram, COUNT(*) AS n_occurrences FROM g GROUP BY 1
        |HAVING COUNT(*) >= 3
        |ORDER BY n_occurrences DESC, ngram""".stripMargin,

    // Char classes: identical length-difference counts; explicit ASCII
    // classes so Java regex and RE2 agree by construction.
    "q153_char_classes" ->
      """WITH t AS (SELECT source, CAST(length(text) AS BIGINT) AS n,
        |  CAST(length(text) - length(regexp_replace(lower(text), '[a-z]', '', 'g')) AS BIGINT) AS a,
        |  CAST(length(text) - length(regexp_replace(lower(text), '[0-9]', '', 'g')) AS BIGINT) AS d,
        |  CAST(length(text) - length(regexp_replace(lower(text), '[ ]', '', 'g')) AS BIGINT) AS s
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_chars, CAST(SUM(a) AS BIGINT) AS sa,
        |      CAST(SUM(d) AS BIGINT) AS sd, CAST(SUM(s) AS BIGINT) AS ss FROM t GROUP BY 1)
        |SELECT source, n_chars,
        |  CASE WHEN n_chars > 0 THEN floor(CAST(sa AS DOUBLE)/CAST(n_chars AS DOUBLE)*10000.0 + 0.5)/10000.0 END AS frac_alpha,
        |  CASE WHEN n_chars > 0 THEN floor(CAST(sd AS DOUBLE)/CAST(n_chars AS DOUBLE)*10000.0 + 0.5)/10000.0 END AS frac_digit,
        |  CASE WHEN n_chars > 0 THEN floor(CAST(ss AS DOUBLE)/CAST(n_chars AS DOUBLE)*10000.0 + 0.5)/10000.0 END AS frac_space,
        |  CASE WHEN n_chars > 0 THEN floor(CAST(n_chars - sa - sd - ss AS DOUBLE)/CAST(n_chars AS DOUBLE)*10000.0 + 0.5)/10000.0 END AS frac_other
        |FROM g ORDER BY source""".stripMargin,

    // Stratified A-ES: the window-rank twin of the k-bounded
    // aggregator — identical key formula, partitioned by source.
    "q152_weighted_per_group" ->
      """WITH t AS (SELECT doc_id, source,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS w
        |  FROM documents),
        |k AS (SELECT source, doc_id,
        |  CAST(floor(pow(CAST((((doc_id % 2147483648) * 2654435761) % 4294967296) + 1 AS DOUBLE)/4294967296.0,
        |       1.0/CAST(w AS DOUBLE))*1e12 + 0.5) AS BIGINT) AS key_fx
        |  FROM t WHERE w > 0),
        |r AS (SELECT source, doc_id, key_fx,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY key_fx DESC, doc_id) AS INT) AS rank
        |  FROM k)
        |SELECT source, rank, doc_id, key_fx FROM r WHERE rank <= 10
        |ORDER BY source, rank""".stripMargin,

    // Quantile normalization: max-tie CDFs, integer target rank
    // k = ceil(cum_g*N/n_g) via // division, rank-interval containment.
    "q151_quantile_norm" ->
      """WITH t AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v FROM documents),
        |gv AS (SELECT g, v, COUNT(*) AS c FROM t GROUP BY 1, 2),
        |gc AS (SELECT g, v, c,
        |  CAST(SUM(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum_g,
        |  CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n_g FROM gv),
        |gl AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cn FROM gv GROUP BY 1),
        |glc AS (SELECT v, cn, CAST(SUM(cn) OVER (ORDER BY v) AS BIGINT) AS cum FROM gl),
        |n AS (SELECT CAST(SUM(cn) AS BIGINT) AS n_tot FROM gl),
        |k AS (SELECT g, v, c, (cum_g * n_tot + n_g - 1) // n_g AS k FROM gc CROSS JOIN n)
        |SELECT k.g AS source, k.v AS value, CAST(k.c AS BIGINT) AS n_rows, glc.v AS norm_value
        |FROM k JOIN glc ON k.k BETWEEN glc.cum - glc.cn + 1 AND glc.cum
        |ORDER BY source, value""".stripMargin,

    // Weighted median: domain compression, cumulative window, integer
    // threshold cum*2 >= tot — no division on either side.
    "q150_weighted_median" ->
      """WITH t AS (SELECT source, CAST(n_chars AS BIGINT) AS v,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS w
        |  FROM documents),
        |f AS (SELECT source, v, CAST(SUM(w) AS BIGINT) AS w FROM t WHERE w > 0 GROUP BY 1, 2),
        |c AS (SELECT source, v,
        |  SUM(w) OVER (PARTITION BY source ORDER BY v) AS cum,
        |  SUM(w) OVER (PARTITION BY source) AS tot FROM f)
        |SELECT source, CAST(MAX(tot) AS BIGINT) AS total_w, CAST(MIN(v) AS BIGINT) AS q_value
        |FROM c WHERE cum * 2 >= tot * 1
        |GROUP BY source ORDER BY source""".stripMargin,

    // Edit-distance join: the quadratic twin over the same 16-char
    // prefix key; DuckDB levenshtein = Spark levenshtein (unit costs).
    "q149_edit_join" ->
      """WITH t AS (SELECT doc_id, substr(lower(trim(text)), 1, 16) AS s FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.s, b.s) <= 1
        |ORDER BY a_id, b_id""".stripMargin,

    // Stupid Backoff: counts from the 90% train split, CASE backoff
    // chain with double-cast alpha products (decimal literals would
    // give exact 0.16 where IEEE gives 0.16000000000000003), per-
    // position ln snapped at 1e-6 before the per-doc integer sum.
    "q148_backoff_lm" ->
      """WITH tk AS (SELECT doc_id, CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |  ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) END AS toks,
        |  (((doc_id % 2147483648) * 2654435761) % 4294967296) % 10000 < 9000 AS is_train
        |  FROM documents),
        |n AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS n_tok FROM tk WHERE is_train),
        |cu AS (SELECT w, COUNT(*) AS c_u FROM (SELECT unnest(toks) AS w FROM tk WHERE is_train) GROUP BY 1),
        |cb AS (SELECT pr.a AS a, pr.b AS b, COUNT(*) AS c_b FROM (
        |  SELECT unnest([{'a': toks[i+1], 'b': toks[i+2]} FOR i IN range(0, len(toks)-1)]) AS pr
        |  FROM tk WHERE is_train AND len(toks) >= 2) GROUP BY 1, 2),
        |ct AS (SELECT pr.a AS a, pr.b AS b, pr.c AS c, COUNT(*) AS c_t FROM (
        |  SELECT unnest([{'a': toks[i+1], 'b': toks[i+2], 'c': toks[i+3]} FOR i IN range(0, len(toks)-2)]) AS pr
        |  FROM tk WHERE is_train AND len(toks) >= 3) GROUP BY 1, 2, 3),
        |ev AS (SELECT doc_id, pr.a AS w1, pr.b AS w2, pr.c AS w3, COUNT(*) AS n_occ FROM (
        |  SELECT doc_id, unnest([{'a': toks[i+1], 'b': toks[i+2], 'c': toks[i+3]} FOR i IN range(0, len(toks)-2)]) AS pr
        |  FROM tk WHERE NOT is_train AND len(toks) >= 3) GROUP BY 1, 2, 3, 4),
        |j AS (SELECT ev.doc_id, ev.n_occ,
        |  CASE WHEN ct.c_t IS NOT NULL THEN CAST(ct.c_t AS DOUBLE) / CAST(cb12.c_b AS DOUBLE)
        |       WHEN cb23.c_b IS NOT NULL THEN CAST(0.4 AS DOUBLE) * CAST(cb23.c_b AS DOUBLE) / CAST(cu2.c_u AS DOUBLE)
        |       WHEN cu3.c_u IS NOT NULL THEN CAST(0.4 AS DOUBLE)*CAST(0.4 AS DOUBLE) * CAST(cu3.c_u AS DOUBLE) / CAST(n.n_tok AS DOUBLE)
        |       ELSE CAST(0.4 AS DOUBLE)*CAST(0.4 AS DOUBLE) / CAST(n.n_tok AS DOUBLE) END AS s
        |  FROM ev
        |  LEFT JOIN ct ON ct.a = ev.w1 AND ct.b = ev.w2 AND ct.c = ev.w3
        |  LEFT JOIN cb cb12 ON cb12.a = ev.w1 AND cb12.b = ev.w2
        |  LEFT JOIN cb cb23 ON cb23.a = ev.w2 AND cb23.b = ev.w3
        |  LEFT JOIN cu cu2 ON cu2.w = ev.w2
        |  LEFT JOIN cu cu3 ON cu3.w = ev.w3
        |  CROSS JOIN n),
        |f AS (SELECT doc_id, CAST(SUM(n_occ) AS BIGINT) AS n_scored,
        |  SUM(n_occ * CAST(floor(ln(s)*1e6 + 0.5) AS BIGINT)) AS fx FROM j GROUP BY 1)
        |SELECT doc_id, n_scored,
        |  floor(CAST(fx AS DOUBLE)/CAST(n_scored AS DOUBLE)/1e6*10000.0 + 0.5)/10000.0 AS sb_score
        |FROM f ORDER BY doc_id""".stripMargin,

    // BPE apply: replay q138's merge learning, then apply the ordered
    // merge table to every document's sentinel-encoded token stream
    // (word boundary = chr(10), unmatchable by any " a  b " pattern).
    "q147_bpe_apply" -> {
      val n = 10
      val head =
        """WITH tk AS (SELECT doc_id, CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
          |  ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) END AS toks
          |  FROM documents),
          |wf AS (SELECT w, COUNT(*) AS freq FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY 1),
          |w0 AS (SELECT array_to_string(list_transform(string_split(w, ''), x -> ' '||x||' '), '') AS s, freq FROM wf),
          |d0 AS (SELECT doc_id, array_to_string(list_transform(toks, w ->
          |  array_to_string(list_transform(string_split(w, ''), x -> ' '||x||' '), '')), chr(10)) AS s FROM tk)""".stripMargin
      val iters = (1 to n).map { i =>
        s""",
           |p$i AS (SELECT pr.a AS a, pr.b AS b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
           |  SELECT freq, unnest([{'a': syms[j+1], 'b': syms[j+2]} FOR j IN range(0, len(syms)-1)]) AS pr
           |  FROM (SELECT freq, string_split(trim(s, ' '), '  ') AS syms FROM w${i - 1}) WHERE len(syms) >= 2)
           |  GROUP BY 1, 2),
           |b$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
           |w$i AS (SELECT replace(s, ' '||b$i.a||'  '||b$i.b||' ', ' '||b$i.a||b$i.b||' ') AS s, freq
           |        FROM w${i - 1} CROSS JOIN b$i),
           |d$i AS (SELECT doc_id, replace(d${i - 1}.s, ' '||b$i.a||'  '||b$i.b||' ', ' '||b$i.a||b$i.b||' ') AS s
           |        FROM d${i - 1} CROSS JOIN b$i)""".stripMargin
      }.mkString
      val tail =
        s""",
           |f AS (SELECT doc_id, CASE WHEN s = '' THEN []::VARCHAR[]
           |  ELSE flatten(list_transform(string_split(s, chr(10)), w -> string_split(trim(w, ' '), '  '))) END AS toks
           |  FROM d$n)
           |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, array_to_string(toks, '|') AS toks_str
           |FROM f ORDER BY doc_id""".stripMargin
      head + iters + tail
    },

    // Winnowing: identical md5-60 gram hashing + window minima; the
    // df-cap and pair join replay exactly (k=4, w=4, df in [2,50],
    // n_shared >= 2).
    "q171_winnowing" ->
      """WITH ws AS (SELECT doc_id,
        |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |       ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) END AS t
        |  FROM documents),
        |g AS (SELECT doc_id,
        |  CASE WHEN len(t)=0 THEN []::VARCHAR[]
        |       WHEN len(t)<4 THEN [array_to_string(t, ' ')]
        |       ELSE [array_to_string(t[i:i+3], ' ') FOR i IN range(1, len(t)-2)] END AS gr
        |  FROM ws),
        |h AS (SELECT doc_id, list_transform(gr, s ->
        |  list_reduce([strpos('0123456789abcdef', substr(md5(s), i, 1))-1 FOR i IN range(1,16)],
        |    (a,b) -> a*16 + b)) AS gh FROM g),
        |fp AS (SELECT doc_id,
        |  CASE WHEN len(gh)=0 THEN []::BIGINT[]
        |       WHEN len(gh)<4 THEN [list_min(gh)]
        |       ELSE list_distinct([list_min(gh[j:j+3]) FOR j IN range(1, len(gh)-2)]) END AS fps
        |  FROM h),
        |e AS (SELECT doc_id, unnest(fps) AS f FROM fp),
        |keep AS (SELECT f FROM e GROUP BY f HAVING COUNT(*) BETWEEN 2 AND 50)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM e a JOIN keep k ON a.f = k.f JOIN e b ON a.f = b.f
        |WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY 1, 2""".stripMargin,

    // PR curve: q120's score replay, then exact integer cumulative
    // TP/FP over distinct thresholds desc and the identical pinned
    // double P/R/F1 assembly.
    "q172_pr_curve" -> {
      val w = Similarity.lshPlanes(256, 1, seed = 7)(0)
      s"""WITH wt AS (SELECT ${w.mkString("[", ",", "]")}::DOUBLE[] AS w),
         |t AS (SELECT doc_id,
         |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
         |       ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x))
         |  END AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         |    list_reduce(list_transform(toks, tok ->
         |      wt.w[((list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
         |             (a,b) -> a*16 + b) % 2147483629) % 256) + 1]),
         |      (a,b) -> a + b) END AS raw
         |  FROM t CROSS JOIN wt),
         |sc AS (SELECT floor((raw + -0.05)*10000.0 + 0.5)/10000.0 AS score,
         |  CAST(d.lang = 'en' AS BIGINT) AS y
         |  FROM s JOIN documents d USING (doc_id)),
         |g AS (SELECT score, CAST(SUM(y) AS BIGINT) AS ca,
         |      CAST(SUM(1 - y) AS BIGINT) AS cb FROM sc GROUP BY 1),
         |c AS (SELECT score, CAST(SUM(ca) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
         |      CAST(SUM(cb) OVER (ORDER BY score DESC) AS BIGINT) AS fp FROM g),
         |tt AS (SELECT CAST(SUM(ca) AS BIGINT) AS np, CAST(SUM(cb) AS BIGINT) AS nn FROM g)
         |SELECT score AS threshold, tp, fp, np - tp AS fn, nn - fp AS tn,
         |  CASE WHEN tp + fp > 0 THEN
         |    floor((CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(fp AS DOUBLE)))*1000000.0 + 0.5)/1000000.0 END AS precision,
         |  CASE WHEN np > 0 THEN
         |    floor((CAST(tp AS DOUBLE)/CAST(np AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS recall,
         |  CASE WHEN tp > 0 THEN
         |    floor((2.0 * (CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(fp AS DOUBLE)))
         |               * (CAST(tp AS DOUBLE)/CAST(np AS DOUBLE))
         |         / ((CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(fp AS DOUBLE)))
         |            + (CAST(tp AS DOUBLE)/CAST(np AS DOUBLE))))*1000000.0 + 0.5)/1000000.0
         |  WHEN np > 0 THEN 0.0 END AS f1
         |FROM c CROSS JOIN tt ORDER BY threshold DESC""".stripMargin
    },

    // Kaplan-Meier: exact integer risk-set prefix sums over distinct
    // durations, 1e-9-snapped ln factors, cumulative log-sum, one exp.
    "q173_kaplan_meier" ->
      """WITH u AS (SELECT user_id,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS t0,
        |  CAST(floor(epoch(min(CASE WHEN event_type = 'purchase' THEN ts END))) AS BIGINT) AS te,
        |  CAST(floor(epoch(max(ts))) AS BIGINT) AS tl
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
        |d AS (SELECT COALESCE(te, tl) - t0 AS duration, te IS NOT NULL AS e FROM u),
        |g AS (SELECT duration,
        |  CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS n_event,
        |  CAST(SUM(CASE WHEN e THEN 0 ELSE 1 END) AS BIGINT) AS n_censor
        |  FROM d WHERE duration >= 0 GROUP BY 1),
        |n AS (SELECT CAST(SUM(n_event + n_censor) AS BIGINT) AS nn FROM g),
        |r AS (SELECT duration, n_event, n_censor,
        |  nn - (CAST(SUM(n_event + n_censor) OVER (ORDER BY duration) AS BIGINT)
        |        - (n_event + n_censor)) AS n_risk
        |  FROM g CROSS JOIN n),
        |sj AS (SELECT duration, n_event, n_censor, n_risk,
        |  CASE WHEN n_event > 0 AND n_event < n_risk THEN
        |    CAST(floor(ln(1.0 - CAST(n_event AS DOUBLE)/CAST(n_risk AS DOUBLE))*1e9 + 0.5) AS BIGINT)
        |  ELSE 0 END AS term,
        |  CASE WHEN n_event = n_risk THEN 1 ELSE 0 END AS z FROM r),
        |f AS (SELECT duration, n_risk, n_event, n_censor,
        |  CAST(SUM(term) OVER (ORDER BY duration) AS BIGINT) AS cl,
        |  CAST(SUM(z) OVER (ORDER BY duration) AS BIGINT) AS cz FROM sj)
        |SELECT duration, n_risk, n_event, n_censor,
        |  CASE WHEN cz > 0 THEN 0.0
        |       ELSE floor(exp(CAST(cl AS DOUBLE)/1e9)*1000000.0 + 0.5)/1000000.0 END AS survival
        |FROM f ORDER BY duration""".stripMargin,

    // DSIR: identical md5-60 bucket hashing, Laplace-smoothed bucket
    // log-ratios snapped at 1e-6, exact integer per-doc sums.
    "q174_dsir" ->
      """WITH tk AS (SELECT doc_id, (lang = 'en') AS is_target,
        |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |       ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) END AS toks
        |  FROM documents),
        |tb AS (SELECT doc_id, is_target,
        |  CAST(((list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
        |    (a,b) -> a*16 + b) % 2147483629) % 256) AS INT) AS b
        |  FROM (SELECT doc_id, is_target, unnest(toks) AS tok FROM tk)),
        |m AS (SELECT b, CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |      CAST(SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS cs FROM tb GROUP BY 1),
        |t AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cs) AS BIGINT) AS ns FROM m),
        |r AS (SELECT b, CAST(floor(ln(((CAST(ct AS DOUBLE)+1.0)*(CAST(ns AS DOUBLE)+256.0))
        |  /((CAST(cs AS DOUBLE)+1.0)*(CAST(nt AS DOUBLE)+256.0)))*1e6 + 0.5) AS BIGINT) AS lnr
        |  FROM m CROSS JOIN t),
        |db AS (SELECT doc_id, is_target, b, CAST(COUNT(*) AS BIGINT) AS n FROM tb GROUP BY 1,2,3),
        |f AS (SELECT doc_id, is_target, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |      SUM(CAST(n AS DECIMAL(38,0)) * CAST(lnr AS DECIMAL(38,0))) AS s
        |      FROM db JOIN r USING (b) GROUP BY 1, 2)
        |SELECT doc_id, is_target, n_tokens,
        |  floor(CAST(s AS DOUBLE)/1e6*10000.0 + 0.5)/10000.0 AS log_weight
        |FROM f ORDER BY doc_id""".stripMargin,

    // JSD pairs: shared-term contributions snapped at 1e-12 + the
    // closed-form unshared-mass term, identical double assembly.
    "q175_jsd_pairs" ->
      """WITH st AS (SELECT src, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |  SELECT source AS src,
        |    unnest(list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x))) AS w
        |  FROM documents WHERE source IS NOT NULL AND length(trim(text)) > 0) GROUP BY 1, 2),
        |ns AS (SELECT src, CAST(SUM(c) AS BIGINT) AS n FROM st GROUP BY 1),
        |p AS (SELECT a.src AS src_a, b.src AS src_b, na.n AS na, nb.n AS nb, a.c AS ca, b.c AS cb
        |  FROM st a JOIN st b ON a.w = b.w AND a.src < b.src
        |  JOIN ns na ON na.src = a.src JOIN ns nb ON nb.src = b.src),
        |tt AS (SELECT src_a, src_b, na, nb, COUNT(*) AS n_shared_terms,
        |  CAST(SUM(ca) AS BIGINT) AS sca, CAST(SUM(cb) AS BIGINT) AS scb,
        |  SUM(CAST(CAST(floor((0.5*(CAST(ca AS DOUBLE)/CAST(na AS DOUBLE))
        |      *ln(2.0*(CAST(ca AS DOUBLE)/CAST(na AS DOUBLE))
        |          /((CAST(ca AS DOUBLE)/CAST(na AS DOUBLE))+(CAST(cb AS DOUBLE)/CAST(nb AS DOUBLE))))
        |    + 0.5*(CAST(cb AS DOUBLE)/CAST(nb AS DOUBLE))
        |      *ln(2.0*(CAST(cb AS DOUBLE)/CAST(nb AS DOUBLE))
        |          /((CAST(ca AS DOUBLE)/CAST(na AS DOUBLE))+(CAST(cb AS DOUBLE)/CAST(nb AS DOUBLE)))))
        |    *1e12 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS ts
        |  FROM p GROUP BY 1, 2, 3, 4)
        |SELECT src_a, src_b, n_shared_terms,
        |  floor((CAST(ts AS DOUBLE)/1e12 + 0.5*ln(2.0)
        |    *((CAST(na AS DOUBLE)-CAST(sca AS DOUBLE))/CAST(na AS DOUBLE)
        |      + (CAST(nb AS DOUBLE)-CAST(scb AS DOUBLE))/CAST(nb AS DOUBLE)))*1000000.0 + 0.5)/1000000.0 AS jsd
        |FROM tt ORDER BY 1, 2""".stripMargin,

    // JW linkage: DuckDB's jaro_winkler_similarity is bit-identical to
    // the graft kernel (boost 0.7, prefix cap 4) on ASCII keys, so the
    // raw-double threshold replays exactly.
    "q176_jw_linkage" ->
      """WITH t AS (SELECT c_custkey AS id, c_nationkey AS blk,
        |  lower(trim(c_name)) AS s FROM customer)
        |SELECT a.id AS a_id, b.id AS b_id,
        |  floor(jaro_winkler_similarity(a.s, b.s)*10000.0 + 0.5)/10000.0 AS jw
        |FROM t a JOIN t b ON a.blk = b.blk AND a.id < b.id
        |WHERE jaro_winkler_similarity(a.s, b.s) >= 0.96
        |ORDER BY 1, 2""".stripMargin,

    // k-center: the greedy farthest-point loop unrolled round by round
    // (the Lloyd-unroll convention); identical left-fold squared-L2
    // distances, MIN-over-centers, (d DESC, id) argmax tie-break.
    "q177_kcenter" -> {
      val k = 8
      val dist = "list_reduce([(b.v[i]-c.v[i])*(b.v[i]-c.v[i]) FOR i IN range(1,65)], (a,x) -> a+x)"
      val head =
        """WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |cen0 AS (SELECT 0 AS round, id, v, NULL::DOUBLE AS d
          |         FROM (SELECT id, v FROM base ORDER BY id LIMIT 1))""".stripMargin
      val rounds = (1 until k).map { r =>
        s""",
           |d$r AS (SELECT b.id, MIN($dist) AS d FROM base b, cen${r - 1} c GROUP BY b.id),
           |m$r AS (SELECT $r AS round, dd.id, base.v, dd.d FROM d$r dd JOIN base USING (id)
           |        ORDER BY dd.d DESC, dd.id LIMIT 1),
           |cen$r AS (SELECT * FROM cen${r - 1} UNION ALL SELECT * FROM m$r)""".stripMargin
      }.mkString
      head + rounds + s"""
        |SELECT round, id AS vec_id, floor(d*1000000.0 + 0.5)/1000000.0 AS radius_sq
        |FROM cen${k - 1} ORDER BY round""".stripMargin
    },

    // Gopher gate: integer counting + exact divisions, so the rule
    // booleans replay; fractions rounded 1e-4 for the report only.
    "q178_gopher_gate" ->
      """WITH d AS (SELECT doc_id, text AS t FROM documents),
        |s AS (SELECT doc_id, t,
        |  CASE WHEN length(trim(t))=0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(trim(t), '\s+') END AS toks,
        |  CASE WHEN length(trim(t))=0 THEN []::VARCHAR[]
        |       ELSE list_transform(regexp_split_to_array(trim(t), '\s+'), x -> lower(x)) END AS lt,
        |  string_split(t, chr(10)) AS lines FROM d),
        |m AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_words,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(length(t) - length(replace(t, '#', '')) AS BIGINT) AS n_hash,
        |  CAST((length(t) - length(replace(t, '...', ''))) // 3 AS BIGINT) AS n_ell,
        |  CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*]'))) AS BIGINT) AS n_bullet,
        |  CAST(len(list_filter(lines, l -> regexp_matches(l, '\.\.\.\s*$'))) AS BIGINT) AS n_elline,
        |  CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
        |  CAST(len(list_filter(['the','a','of','and','to','in','is','that','it','was'],
        |       w -> list_contains(lt, w))) AS BIGINT) AS stop_hits,
        |  CAST(length(regexp_replace(trim(t), '\s+', '', 'g')) AS BIGINT) AS n_chars
        |  FROM s),
        |r AS (SELECT doc_id, n_words,
        |  CASE WHEN n_words > 0 THEN CAST(n_chars AS DOUBLE)/CAST(n_words AS DOUBLE) END AS mw,
        |  CASE WHEN n_words > 0 THEN CAST(n_hash + n_ell AS DOUBLE)/CAST(n_words AS DOUBLE) END AS sr,
        |  CAST(n_bullet AS DOUBLE)/CAST(n_lines AS DOUBLE) AS bf,
        |  CAST(n_elline AS DOUBLE)/CAST(n_lines AS DOUBLE) AS ef,
        |  CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE)/CAST(n_words AS DOUBLE) END AS af,
        |  stop_hits FROM m)
        |SELECT doc_id, n_words,
        |  floor(mw*10000.0 + 0.5)/10000.0 AS mean_word_len,
        |  floor(sr*10000.0 + 0.5)/10000.0 AS symbol_ratio,
        |  floor(bf*10000.0 + 0.5)/10000.0 AS bullet_frac,
        |  floor(ef*10000.0 + 0.5)/10000.0 AS ellipsis_frac,
        |  floor(af*10000.0 + 0.5)/10000.0 AS alpha_word_frac,
        |  stop_hits,
        |  (n_words >= 50 AND n_words <= 100000) AS r_word_count,
        |  COALESCE(mw >= 3.0 AND mw <= 10.0, FALSE) AS r_mean_word_len,
        |  COALESCE(sr <= 0.1, FALSE) AS r_symbol,
        |  (bf <= 0.9) AS r_bullet,
        |  (ef <= 0.3) AS r_ellipsis,
        |  COALESCE(af >= 0.8, FALSE) AS r_alpha,
        |  (stop_hits >= 2) AS r_stopwords,
        |  ((n_words >= 50 AND n_words <= 100000)
        |   AND COALESCE(mw >= 3.0 AND mw <= 10.0, FALSE)
        |   AND COALESCE(sr <= 0.1, FALSE) AND bf <= 0.9 AND ef <= 0.3
        |   AND COALESCE(af >= 0.8, FALSE) AND stop_hits >= 2) AS pass
        |FROM r ORDER BY doc_id""".stripMargin,

    // CDC: identical md5-60 boundary rule (window 8, mod 64, skip
    // position 1), identical cut-list chunking, md5 chunk identity.
    "q179_cdc_chunks" ->
      """WITH d AS (SELECT doc_id, text AS t FROM documents),
        |b AS (SELECT doc_id, t,
        |  [i FOR i IN range(2, length(t) - 7 + 1)
        |     IF list_reduce([strpos('0123456789abcdef', substr(md5(substr(t, i, 8)), k, 1))-1 FOR k IN range(1,16)],
        |          (a,x) -> a*16 + x) % 64 = 0] AS bnd FROM d),
        |c AS (SELECT doc_id, t, [1] || bnd || [length(t) + 1] AS cuts FROM b),
        |ch AS (SELECT doc_id, substr(t, cuts[j], cuts[j+1] - cuts[j]) AS chunk
        |  FROM (SELECT doc_id, t, cuts, unnest(range(1, len(cuts))) AS j FROM c)),
        |f AS (SELECT doc_id, md5(chunk) AS chunk_md5,
        |  CAST(length(chunk) AS BIGINT) AS chunk_len FROM ch WHERE length(chunk) > 0)
        |SELECT chunk_md5, chunk_len, CAST(COUNT(*) AS BIGINT) AS n_occ,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM f GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY n_occ DESC, chunk_md5""".stripMargin,

    // Length buckets: integer round-up arithmetic, cap, exact sums.
    "q180_length_buckets" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        |  FROM documents),
        |b AS (SELECT doc_id, CAST(n AS BIGINT) AS n,
        |  CAST(least(n, 128) AS BIGINT) AS kept,
        |  CAST(least(((n + 31) // 32) * 32, 128) AS BIGINT) AS bucket_len
        |  FROM t WHERE n > 0)
        |SELECT bucket_len, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS total_tokens,
        |  CAST(SUM(bucket_len - kept) AS BIGINT) AS pad_tokens,
        |  CAST(SUM(n - kept) AS BIGINT) AS truncated_tokens,
        |  floor((CAST(SUM(bucket_len - kept) AS DOUBLE)
        |    / CAST(COUNT(*) * bucket_len AS DOUBLE))*10000.0 + 0.5)/10000.0 AS pad_frac
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    // Silhouette: q46 centroid replay at the 1e-4 snap, per-dim
    // squared diffs snapped 1e-12 -> exact integer dim sums, pinned
    // sqrt/ratio per point, 1e-9-snapped label means.
    "q181_silhouette" ->
      """WITH x AS (SELECT vec_id, label,
        |  unnest([{'dim': i, 'x': CAST(embedding[i+1] AS DOUBLE)} FOR i IN range(0, len(embedding))]) AS u
        |  FROM embeddings WHERE label IS NOT NULL),
        |c AS (SELECT label AS cl, u.dim AS dim,
        |  floor((AVG(u.x))*10000.0 + 0.5)/10000.0 AS cv
        |  FROM x GROUP BY 1, 2),
        |d AS (SELECT x.vec_id, x.label, c.cl,
        |  CAST(SUM(CAST(floor((x.u.x - c.cv)*(x.u.x - c.cv)*1e12 + 0.5) AS BIGINT)) AS BIGINT) AS di
        |  FROM x JOIN c ON x.u.dim = c.dim GROUP BY 1, 2, 3),
        |ab AS (SELECT vec_id, label,
        |  MAX(CASE WHEN cl = label THEN di END) AS a,
        |  MIN(CASE WHEN cl <> label THEN di END) AS b FROM d GROUP BY 1, 2),
        |sv AS (SELECT label,
        |  CASE WHEN greatest(sqrt(CAST(a AS DOUBLE)/1e12), sqrt(CAST(b AS DOUBLE)/1e12)) > 0
        |       THEN (sqrt(CAST(b AS DOUBLE)/1e12) - sqrt(CAST(a AS DOUBLE)/1e12))
        |            / greatest(sqrt(CAST(a AS DOUBLE)/1e12), sqrt(CAST(b AS DOUBLE)/1e12))
        |       ELSE 0.0 END AS s FROM ab),
        |f AS (SELECT label, COUNT(*) AS n_points,
        |  CAST(SUM(CAST(floor(s*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS ss,
        |  CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nn
        |  FROM sv GROUP BY 1)
        |SELECT CAST(label AS BIGINT) AS label, CAST(n_points AS BIGINT) AS n_points,
        |  floor(CAST(ss AS DOUBLE)/1e9/CAST(n_points AS DOUBLE)*10000.0 + 0.5)/10000.0 AS mean_sil,
        |  floor(CAST(nn AS DOUBLE)/CAST(n_points AS DOUBLE)*10000.0 + 0.5)/10000.0 AS neg_frac
        |FROM f ORDER BY label""".stripMargin,

    // Kappa: q16's prediction replay -> exact cells/margins/diagonal,
    // DECIMAL pe numerator, pinned (po-pe)/(1-pe) assembly.
    "q182_kappa" -> {
      val cands = functions.stopwords.toSeq.sortBy(_._1).map { case (l, sw) =>
        s"('$l', [${sw.map(w => s"'$w'").mkString(",")}])"
      }.mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id, lang AS label_lang,
         |    list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS toks
         |  FROM documents),
         |sc AS (
         |  SELECT b.doc_id, b.label_lang, u.l AS cand,
         |    len(list_intersect(b.toks, u.sw)) AS score
         |  FROM base b, (VALUES $cands) u(l, sw)),
         |pred AS (SELECT doc_id, label_lang, cand AS predicted_lang FROM (
         |  SELECT doc_id, label_lang, cand,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand DESC) AS rn
         |  FROM sc) WHERE rn = 1),
         |cells AS (SELECT predicted_lang AS a, label_lang AS b,
         |  CAST(COUNT(*) AS BIGINT) AS c FROM pred
         |  WHERE predicted_lang IS NOT NULL AND label_lang IS NOT NULL GROUP BY 1, 2),
         |ra AS (SELECT a, CAST(SUM(c) AS BIGINT) AS rc FROM cells GROUP BY 1),
         |cb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cc FROM cells GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
         |  CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS diag FROM cells),
         |pe AS (SELECT SUM(CAST(rc AS DECIMAL(38,0)) * CAST(cc AS DECIMAL(38,0))) AS s
         |  FROM ra JOIN cb ON ra.a = cb.b)
         |SELECT n AS n_rows,
         |  floor((CAST(diag AS DOUBLE)/CAST(n AS DOUBLE))*10000.0 + 0.5)/10000.0 AS p_observed,
         |  floor((CAST(s AS DOUBLE)/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE)))*10000.0 + 0.5)/10000.0 AS p_expected,
         |  CASE WHEN CAST(s AS DOUBLE)/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE)) < 1.0 THEN
         |    floor(((CAST(diag AS DOUBLE)/CAST(n AS DOUBLE)
         |      - CAST(s AS DOUBLE)/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE)))
         |     / (1.0 - CAST(s AS DOUBLE)/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE))))*10000.0 + 0.5)/10000.0
         |  END AS kappa
         |FROM tot CROSS JOIN pe""".stripMargin
    },

    // Novelty curve: q56-style string grams (hash is equality-only on
    // the Spark side), min-bucket first-occurrence, window cumsum.
    "q183_novelty_curve" ->
      """WITH ws AS (SELECT doc_id, doc_id // 100 AS bucket,
        |  regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |g AS (SELECT bucket, unnest(
        |  CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |       ELSE list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t)-1)]) END) AS gr
        |  FROM ws),
        |fs AS (SELECT gr, MIN(bucket) AS fb FROM g GROUP BY 1),
        |ng AS (SELECT fb AS bucket, CAST(COUNT(*) AS BIGINT) AS new_grams FROM fs GROUP BY 1),
        |occ AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_gram_occ FROM g GROUP BY 1),
        |nd AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs FROM ws GROUP BY 1),
        |j AS (SELECT nd.bucket AS bucket, n_docs,
        |  COALESCE(n_gram_occ, 0) AS n_gram_occ, COALESCE(new_grams, 0) AS new_grams
        |  FROM nd LEFT JOIN occ USING (bucket) LEFT JOIN ng USING (bucket)),
        |f AS (SELECT j.*, CAST(SUM(new_grams) OVER (ORDER BY bucket) AS BIGINT) AS cum_new FROM j)
        |SELECT bucket, n_docs, n_gram_occ, new_grams, cum_new,
        |  CASE WHEN n_gram_occ > 0 THEN
        |    floor((CAST(new_grams AS DOUBLE)/CAST(n_gram_occ AS DOUBLE))*10000.0 + 0.5)/10000.0
        |  END AS novelty_rate
        |FROM f ORDER BY bucket""".stripMargin,

    // MERGE apply: base snapshot rows re-enter as upserts at their own
    // (ts, id); latest wins; trailing delete removes the key.
    "q184_merge_apply" ->
      """WITH base AS (SELECT user_id, ts, event_id, 'upsert' AS op, event_type, value FROM (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00') WHERE rn = 1),
        |chg AS (SELECT user_id, ts, event_id,
        |  CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
        |  event_type, value
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM chg),
        |w AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM u)
        |SELECT user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s,
        |  event_id, event_type, value
        |FROM w WHERE rn = 1 AND op <> 'delete' ORDER BY user_id""".stripMargin,

    // k-core: the identical 3-round peel recurrence unrolled; each
    // round keeps nodes of current degree >= 2 and the edges whose
    // endpoints both survive.
    "q185_kcore" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |c AS (SELECT item_a, item_b FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e0 AS (SELECT item_a AS src, item_b AS dst FROM c
        |       UNION ALL SELECT item_b, item_a FROM c),
        |n1 AS (SELECT src FROM e0 GROUP BY src HAVING COUNT(*) >= 2),
        |e1 AS (SELECT e.src, e.dst FROM e0 e JOIN n1 a ON e.src = a.src
        |       JOIN n1 d ON e.dst = d.src),
        |n2 AS (SELECT src FROM e1 GROUP BY src HAVING COUNT(*) >= 2),
        |e2 AS (SELECT e.src, e.dst FROM e1 e JOIN n2 a ON e.src = a.src
        |       JOIN n2 d ON e.dst = d.src),
        |n3 AS (SELECT src FROM e2 GROUP BY src HAVING COUNT(*) >= 2),
        |e3 AS (SELECT e.src, e.dst FROM e2 e JOIN n3 a ON e.src = a.src
        |       JOIN n3 d ON e.dst = d.src)
        |SELECT src AS item, COUNT(*) AS degree FROM e3 GROUP BY src ORDER BY item""".stripMargin,

    // Retrieval eval: identical rank order (cosine desc, id), identical
    // 1e-9-snapped 1/log2 gains, IEEE divisions rounded once at 1e-4.
    "q186_retrieval_eval" ->
      """WITH s AS (SELECT q.vec_id AS q_id, q.label AS q_label, n.vec_id AS n_id, n.label AS n_label,
        |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) AS c
        | FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
        | WHERE q.vec_id < 20),
        |r AS (SELECT q_id, q_label, n_label,
        |  row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rn FROM s),
        |t AS (SELECT q_id, q_label, rn, (n_label = q_label) AS rel FROM r WHERE rn <= 10),
        |pq AS (SELECT q_id, q_label,
        |  CAST(SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |  CAST(SUM(CASE WHEN rel THEN CAST(floor(1e9/log2(rn+1)+0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS dcg9,
        |  MIN(CASE WHEN rel THEN rn END) AS minr
        | FROM t GROUP BY 1, 2),
        |lt AS (SELECT label, COUNT(*) AS cl FROM embeddings GROUP BY 1),
        |j AS (SELECT pq.*, lt.cl - 1 AS rel_total FROM pq JOIN lt ON lt.label = pq.q_label)
        |SELECT q_id, q_label AS label, CAST(rel_total AS BIGINT) AS rel_total, hits,
        |  CASE WHEN minr IS NULL THEN 0.0
        |       ELSE floor((1.0/minr)*10000.0 + 0.5)/10000.0 END AS mrr,
        |  CASE WHEN rel_total > 0
        |       THEN floor((CAST(hits AS DOUBLE)/rel_total)*10000.0 + 0.5)/10000.0 END AS recall_k,
        |  CASE WHEN rel_total > 0
        |       THEN floor((CAST(dcg9 AS DOUBLE) / CAST(list_sum(
        |         [CAST(floor(1e9/log2(i+1)+0.5) AS BIGINT)
        |          FOR i IN range(1, CAST(greatest(least(10, rel_total), 1) AS BIGINT) + 1)]) AS DOUBLE))*10000.0 + 0.5)/10000.0
        |       END AS ndcg_k
        |FROM j ORDER BY q_id""".stripMargin,

    // Readability: identical vowel-group/sentence-run counts, the two
    // final assemblies pinned left-assoc, rounded once at 1e-4.
    "q187_readability" ->
      """WITH w AS (SELECT doc_id, lower(text) AS lt,
        |  regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (SELECT doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_words,
        |  greatest(1, CAST(len(regexp_extract_all(lt, '[.!?]+')) AS BIGINT)) AS n_sentences,
        |  CAST(list_sum([greatest(1, len(regexp_extract_all(x, '[aeiouy]+'))) FOR x IN ws]) AS BIGINT) AS n_syllables
        | FROM w)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  floor((0.39 * (CAST(n_words AS DOUBLE)/n_sentences) + 11.8 * (CAST(n_syllables AS DOUBLE)/n_words) - 15.59)*10000.0 + 0.5)/10000.0 AS fk_grade,
        |  floor((206.835 - 1.015 * (CAST(n_words AS DOUBLE)/n_sentences) - 84.6 * (CAST(n_syllables AS DOUBLE)/n_words))*10000.0 + 0.5)/10000.0 AS reading_ease
        |FROM c ORDER BY doc_id""".stripMargin,

    // Agg-state merge: the oracle is the FULL-history recompute — any
    // non-algebraic leak in the split/merge path fails the gate.
    "q188_agg_state_merge" ->
      """WITH s AS (SELECT user_id, event_type,
        |  CASE WHEN value IS NOT NULL THEN CAST(floor(value*1e4 + 0.5) AS BIGINT) END AS v4
        |  FROM events),
        |g AS (SELECT user_id, event_type, COUNT(*) AS n_rows, COUNT(v4) AS n_vals,
        |  CAST(SUM(v4) AS BIGINT) AS sum4, MIN(v4) AS min4, MAX(v4) AS max4
        | FROM s GROUP BY 1, 2)
        |SELECT user_id, event_type, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_vals AS BIGINT) AS n_vals,
        |  floor((CAST(sum4 AS DOUBLE)/1e4)*10000.0 + 0.5)/10000.0 AS sum_v,
        |  floor((CAST(min4 AS DOUBLE)/1e4)*10000.0 + 0.5)/10000.0 AS min_v,
        |  floor((CAST(max4 AS DOUBLE)/1e4)*10000.0 + 0.5)/10000.0 AS max_v,
        |  CASE WHEN n_vals > 0
        |    THEN floor(((CAST(sum4 AS DOUBLE)/1e4)/n_vals)*10000.0 + 0.5)/10000.0 END AS mean_v
        |FROM g ORDER BY user_id, event_type""".stripMargin,

    // Truncation fidelity: identical (cosine desc, id) rankings per
    // prefix via DuckDB list slicing; overlap is a set-intersect count.
    "q189_truncation_fidelity" ->
      """WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 10),
        |n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |f AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |  row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.e, n.e) DESC, n.vec_id) AS rn
        | FROM q JOIN n ON n.vec_id <> q.vec_id),
        |fs AS (SELECT q_id, n_id FROM f WHERE rn <= 5),
        |dd AS (SELECT * FROM (VALUES (8), (16), (32)) v(d)),
        |t AS (SELECT dd.d, q.vec_id AS q_id, n.vec_id AS n_id,
        |  row_number() OVER (PARTITION BY dd.d, q.vec_id
        |    ORDER BY list_cosine_similarity(q.e[1:dd.d], n.e[1:dd.d]) DESC, n.vec_id) AS rn
        | FROM dd CROSS JOIN q JOIN n ON n.vec_id <> q.vec_id),
        |ts AS (SELECT d, q_id, n_id FROM t WHERE rn <= 5),
        |o AS (SELECT ts.d, ts.q_id, COUNT(*) AS c FROM ts JOIN fs USING (q_id, n_id)
        |      GROUP BY 1, 2),
        |base AS (SELECT dd.d AS d, q.vec_id AS q_id FROM dd CROSS JOIN q)
        |SELECT b.q_id, CAST(b.d AS INT) AS d,
        |  CAST(coalesce(o.c, 0) AS BIGINT) AS n_overlap,
        |  floor((CAST(coalesce(o.c, 0) AS DOUBLE)/5)*10000.0 + 0.5)/10000.0 AS recall_d
        |FROM base b LEFT JOIN o ON o.q_id = b.q_id AND o.d = b.d
        |ORDER BY b.q_id, b.d""".stripMargin,

    // Class weights: identical 1e-9 pow snap, 1e12 reciprocal grid,
    // order-free integer normalizing sum, pinned final divisions.
    "q190_class_weights" ->
      """WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings
        |  WHERE label IS NOT NULL GROUP BY 1),
        |k AS (SELECT label, n,
        |  CAST(floor(1e12 / (1000000000 - CAST(floor(pow(0.99, n)*1e9 + 0.5) AS BIGINT)) + 0.5) AS BIGINT) AS r12
        |  FROM c),
        |t AS (SELECT COUNT(*) AS k_classes, CAST(SUM(n) AS BIGINT) AS n_total,
        |  CAST(SUM(r12) AS BIGINT) AS s12 FROM k)
        |SELECT label, CAST(n AS BIGINT) AS n,
        |  floor((CAST(n_total AS DOUBLE) / CAST(k_classes * n AS DOUBLE))*10000.0 + 0.5)/10000.0 AS inv_freq_w,
        |  floor(((CAST(k_classes AS DOUBLE) * r12) / CAST(s12 AS DOUBLE))*10000.0 + 0.5)/10000.0 AS eff_num_w
        |FROM k CROSS JOIN t ORDER BY label""".stripMargin,

    // PPR: the q119 integer recurrence with seed-only restart mass.
    "q191_ppr" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |cab AS (SELECT item_a, item_b FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS (SELECT item_a AS src, item_b AS dst FROM cab
        |      UNION ALL SELECT item_b, item_a FROM cab),
        |od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS item, (src % 5 = 0) AS is_seed FROM e),
        |nn AS (SELECT COUNT(*) AS ns FROM nodes WHERE is_seed),
        |r0 AS (SELECT item, is_seed,
        |       CASE WHEN is_seed THEN 1000000000000 // ns ELSE 0 END AS rank_fx
        |       FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT e.dst AS dst, SUM(r0.rank_fx // od.outdeg) AS s
        |       FROM e JOIN od USING (src) JOIN r0 ON e.src = r0.item GROUP BY 1),
        |r1 AS (SELECT item, is_seed,
        |       CASE WHEN is_seed THEN 15000000000000 // (100 * ns) ELSE 0 END
        |         + (85 * COALESCE(s, 0)) // 100 AS rank_fx
        |       FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.item = c1.dst),
        |c2 AS (SELECT e.dst AS dst, SUM(r1.rank_fx // od.outdeg) AS s
        |       FROM e JOIN od USING (src) JOIN r1 ON e.src = r1.item GROUP BY 1),
        |r2 AS (SELECT item, is_seed,
        |       CASE WHEN is_seed THEN 15000000000000 // (100 * ns) ELSE 0 END
        |         + (85 * COALESCE(s, 0)) // 100 AS rank_fx
        |       FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.item = c2.dst),
        |c3 AS (SELECT e.dst AS dst, SUM(r2.rank_fx // od.outdeg) AS s
        |       FROM e JOIN od USING (src) JOIN r2 ON e.src = r2.item GROUP BY 1),
        |r3 AS (SELECT item, is_seed,
        |       CASE WHEN is_seed THEN 15000000000000 // (100 * ns) ELSE 0 END
        |         + (85 * COALESCE(s, 0)) // 100 AS rank_fx
        |       FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.item = c3.dst)
        |SELECT item, CAST(rank_fx AS BIGINT) AS rank_fx
        |FROM r3 ORDER BY rank_fx DESC, item""".stripMargin,

    // BFS hops: identical synchronous relaxation, 3 rounds unrolled;
    // NULL-aware min written as the same explicit CASE.
    "q192_bfs_hops" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |cab AS (SELECT item_a, item_b FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS (SELECT item_a AS src, item_b AS dst FROM cab
        |      UNION ALL SELECT item_b, item_a FROM cab),
        |d0 AS (SELECT DISTINCT src AS item,
        |       CASE WHEN src % 5 = 0 THEN CAST(0 AS BIGINT) END AS dist FROM e),
        |x1 AS (SELECT e.dst, MIN(d0.dist + 1) AS nd FROM e
        |       JOIN d0 ON e.src = d0.item WHERE d0.dist IS NOT NULL GROUP BY 1),
        |d1 AS (SELECT item, CASE WHEN dist IS NULL THEN nd WHEN nd IS NULL THEN dist
        |       ELSE least(dist, nd) END AS dist
        |       FROM d0 LEFT JOIN x1 ON d0.item = x1.dst),
        |x2 AS (SELECT e.dst, MIN(d1.dist + 1) AS nd FROM e
        |       JOIN d1 ON e.src = d1.item WHERE d1.dist IS NOT NULL GROUP BY 1),
        |d2 AS (SELECT item, CASE WHEN dist IS NULL THEN nd WHEN nd IS NULL THEN dist
        |       ELSE least(dist, nd) END AS dist
        |       FROM d1 LEFT JOIN x2 ON d1.item = x2.dst),
        |x3 AS (SELECT e.dst, MIN(d2.dist + 1) AS nd FROM e
        |       JOIN d2 ON e.src = d2.item WHERE d2.dist IS NOT NULL GROUP BY 1),
        |d3 AS (SELECT item, CASE WHEN dist IS NULL THEN nd WHEN nd IS NULL THEN dist
        |       ELSE least(dist, nd) END AS dist
        |       FROM d2 LEFT JOIN x3 ON d2.item = x3.dst)
        |SELECT item, CAST(dist AS BIGINT) AS dist FROM d3 ORDER BY item""".stripMargin,

    // Change point: q130's dense grid, integer CUSUM statistic,
    // earliest-bin tie-break, segment means rounded once.
    "q193_change_point" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, COUNT(*) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |w AS (SELECT t, bin, v,
        |  CAST(row_number() OVER (PARTITION BY t ORDER BY bin) AS BIGINT) AS rn,
        |  CAST(SUM(v) OVER (PARTITION BY t ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s,
        |  CAST(COUNT(*) OVER (PARTITION BY t) AS BIGINT) AS n,
        |  CAST(SUM(v) OVER (PARTITION BY t) AS BIGINT) AS sn
        | FROM sv),
        |cand AS (SELECT *, abs(n*s - rn*sn) AS d FROM w WHERE rn < n)
        |SELECT t AS event_type, n AS n_bins,
        |  strftime(make_timestamp(bin * 3600000000), '%Y-%m-%d %H:%M') AS change_start,
        |  CAST(d AS BIGINT) AS d_max,
        |  floor((CAST(s AS DOUBLE)/rn)*10000.0 + 0.5)/10000.0 AS mean_before,
        |  floor((CAST(sn - s AS DOUBLE)/(n - rn))*10000.0 + 0.5)/10000.0 AS mean_after
        |FROM cand
        |QUALIFY row_number() OVER (PARTITION BY t ORDER BY d DESC, bin) = 1
        |ORDER BY event_type""".stripMargin,

    // Bot score: identical whole-second gaps, integer moment sums,
    // IEEE sqrt (correctly rounded — engines agree), pinned cv.
    "q194_bot_score" ->
      """WITH s AS (SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec
        |  FROM events WHERE ts IS NOT NULL),
        |g AS (SELECT user_id, sec,
        |  sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS gap
        | FROM s),
        |a AS (SELECT user_id, COUNT(*) AS n_events,
        |  CAST(max(sec) - min(sec) AS BIGINT) AS span_s,
        |  COUNT(gap) AS n_gaps, CAST(SUM(gap) AS BIGINT) AS gs,
        |  CAST(SUM(gap*gap) AS BIGINT) AS gss
        | FROM g GROUP BY 1)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events, span_s,
        |  CAST(n_gaps AS BIGINT) AS n_gaps,
        |  floor((CAST(gs AS DOUBLE)/n_gaps)*10000.0 + 0.5)/10000.0 AS mean_gap_s,
        |  CASE WHEN gs > 0 THEN floor((sqrt((n_gaps*CAST(gss AS DOUBLE) - CAST(gs AS DOUBLE)*CAST(gs AS DOUBLE))/(CAST(n_gaps AS DOUBLE)*n_gaps)) / (CAST(gs AS DOUBLE)/n_gaps))*10000.0 + 0.5)/10000.0 END AS cv_gap,
        |  (n_gaps >= 5 AND gs > 0 AND
        |   sqrt((n_gaps*CAST(gss AS DOUBLE) - CAST(gs AS DOUBLE)*CAST(gs AS DOUBLE))/(CAST(n_gaps AS DOUBLE)*n_gaps)) / (CAST(gs AS DOUBLE)/n_gaps) < 0.1) AS bot_like
        |FROM a WHERE n_gaps >= 1 ORDER BY user_id""".stripMargin,

    // U-shape: q117's match + (t_ts, t_id)-ordered first/last marks;
    // identical integer CASE split (100 / 50-50 / 40-20-40).
    "q195_ushape_attribution" ->
      """WITH t AS (SELECT user_id, epoch_us(ts) AS t_ts, event_id AS t_id,
        |  event_type AS channel
        |  FROM events WHERE event_type IN ('click', 'view')),
        |c AS (SELECT user_id, event_id AS conv_id, epoch_us(ts) AS c_ts,
        |      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents
        |      FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT c.conv_id, c.value_cents, t.channel, t.t_ts, t.t_id FROM c JOIN t
        |      ON c.user_id = t.user_id
        |      AND t.t_ts >= c.c_ts - 259200000000 AND t.t_ts <= c.c_ts),
        |r AS (SELECT *, row_number() OVER (PARTITION BY conv_id ORDER BY t_ts, t_id) AS rn,
        |      COUNT(*) OVER (PARTITION BY conv_id) AS n_touch FROM m),
        |tc AS (SELECT channel,
        |  CASE WHEN n_touch = 1 THEN value_cents * 1000000
        |       WHEN n_touch = 2 THEN (value_cents * 1000000 * 50) // 100
        |       WHEN rn = 1 OR rn = n_touch THEN (value_cents * 1000000 * 40) // 100
        |       ELSE (value_cents * 1000000 * 20) // (100 * (n_touch - 2)) END AS credit_fx
        |  FROM r),
        |dc AS (SELECT 'direct' AS channel, value_cents * 1000000 AS credit_fx
        |       FROM c WHERE conv_id NOT IN (SELECT conv_id FROM m)),
        |u AS (SELECT * FROM tc UNION ALL SELECT * FROM dc)
        |SELECT channel, COUNT(*) AS n_attributions,
        |  floor((CAST(SUM(credit_fx) AS DOUBLE) / 1e8) * 100.0 + 0.5) / 100.0 AS credit
        |FROM u GROUP BY channel ORDER BY channel""".stripMargin,

    // Dup spectrum: identical string key, two-level exact counts.
    "q196_dup_spectrum" ->
      """WITH k AS (SELECT concat(CAST(l_partkey AS VARCHAR), '|', CAST(l_suppkey AS VARCHAR)) AS fp
        |  FROM lineitem),
        |m AS (SELECT fp, COUNT(*) AS mult FROM k GROUP BY 1),
        |s AS (SELECT mult, COUNT(*) AS n_contents FROM m GROUP BY 1),
        |t AS (SELECT CAST(SUM(mult * n_contents) AS BIGINT) AS n_total FROM s)
        |SELECT mult AS multiplicity, CAST(n_contents AS BIGINT) AS n_contents,
        |  CAST(mult * n_contents AS BIGINT) AS n_rows,
        |  floor((CAST(mult * n_contents AS DOUBLE)/n_total)*10000.0 + 0.5)/10000.0 AS row_share,
        |  CAST((mult - 1) * n_contents AS BIGINT) AS dedup_savings
        |FROM s CROSS JOIN t ORDER BY multiplicity""".stripMargin,

    // Embedding health: identical 1e-12 square snap, IEEE sqrt
    // re-snapped 1e-9, integer min/max/mean sums.
    "q197_embedding_health" ->
      """WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |p AS (SELECT e IS NULL AS nul,
        |  e IS NOT NULL AND len(e) <> 64 AS bad,
        |  e IS NOT NULL AND len(list_filter(e, x -> isnan(x) OR isinf(x))) > 0 AS nf,
        |  CASE WHEN e IS NOT NULL AND len(list_filter(e, x -> isnan(x) OR isinf(x))) = 0
        |    THEN CAST(floor(sqrt(CAST(CAST(list_sum([CAST(floor(x*x*1e12 + 0.5) AS BIGINT) FOR x IN e]) AS BIGINT) AS DOUBLE)/1e12)*1e9 + 0.5) AS BIGINT)
        |  END AS n9
        | FROM v)
        |SELECT COUNT(*) AS n_vectors,
        |  CAST(SUM(CASE WHEN nul THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_dim,
        |  CAST(SUM(CASE WHEN nf THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
        |  CAST(SUM(CASE WHEN n9 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
        |  floor((CAST(MIN(n9) AS DOUBLE)/1e9)*10000.0 + 0.5)/10000.0 AS min_norm,
        |  floor((CAST(MAX(n9) AS DOUBLE)/1e9)*10000.0 + 0.5)/10000.0 AS max_norm,
        |  CASE WHEN COUNT(n9) > 0
        |    THEN floor((CAST(SUM(n9) AS DOUBLE)/1e9/COUNT(n9))*10000.0 + 0.5)/10000.0 END AS mean_norm
        |FROM p""".stripMargin,

    // Best threshold: the q172 sweep + (f1 desc, threshold desc) argmax.
    "q198_best_threshold" -> {
      val w = Similarity.lshPlanes(256, 1, seed = 7)(0)
      s"""WITH wt AS (SELECT ${w.mkString("[", ",", "]")}::DOUBLE[] AS w),
         |t AS (SELECT doc_id,
         |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
         |       ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x))
         |  END AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         |    list_reduce(list_transform(toks, tok ->
         |      wt.w[((list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
         |             (a,b) -> a*16 + b) % 2147483629) % 256) + 1]),
         |      (a,b) -> a + b) END AS raw
         |  FROM t CROSS JOIN wt),
         |sc AS (SELECT floor((raw + -0.05)*10000.0 + 0.5)/10000.0 AS score,
         |  CAST(d.lang = 'en' AS BIGINT) AS y
         |  FROM s JOIN documents d USING (doc_id)),
         |g AS (SELECT score, CAST(SUM(y) AS BIGINT) AS ca,
         |      CAST(SUM(1 - y) AS BIGINT) AS cb FROM sc GROUP BY 1),
         |c AS (SELECT score, CAST(SUM(ca) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
         |      CAST(SUM(cb) OVER (ORDER BY score DESC) AS BIGINT) AS fp FROM g),
         |tt AS (SELECT CAST(SUM(ca) AS BIGINT) AS np, CAST(SUM(cb) AS BIGINT) AS nn FROM g),
         |curve AS (SELECT score AS threshold, tp, fp, np - tp AS fn, nn - fp AS tn,
         |  CASE WHEN tp + fp > 0 THEN
         |    floor((CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(fp AS DOUBLE)))*1000000.0 + 0.5)/1000000.0 END AS precision,
         |  CASE WHEN np > 0 THEN
         |    floor((CAST(tp AS DOUBLE)/CAST(np AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS recall,
         |  CASE WHEN tp > 0 THEN
         |    floor((2.0 * (CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(fp AS DOUBLE)))
         |               * (CAST(tp AS DOUBLE)/CAST(np AS DOUBLE))
         |         / ((CAST(tp AS DOUBLE)/(CAST(tp AS DOUBLE)+CAST(fp AS DOUBLE)))
         |            + (CAST(tp AS DOUBLE)/CAST(np AS DOUBLE))))*1000000.0 + 0.5)/1000000.0
         |  WHEN np > 0 THEN 0.0 END AS f1
         |FROM c CROSS JOIN tt)
         |SELECT threshold, f1, precision, recall, tp, fp, fn, tn
         |FROM curve WHERE f1 IS NOT NULL
         |QUALIFY row_number() OVER (ORDER BY f1 DESC, threshold DESC) = 1""".stripMargin
    },

    // Blocking quality: identical integer pair counts ((s*(s-1))//2),
    // pinned double ratios rounded 1e-6.
    "q199_blocking_quality" ->
      """WITH b AS (SELECT c_nationkey AS blk, COUNT(*) AS sz FROM customer GROUP BY 1),
        |a AS (SELECT
        |  CAST(SUM(CASE WHEN blk IS NOT NULL THEN sz ELSE 0 END) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN blk IS NULL THEN sz ELSE 0 END) AS BIGINT) AS n_unblocked,
        |  CAST(SUM(CASE WHEN blk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks,
        |  CAST(SUM(CASE WHEN blk IS NOT NULL AND sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
        |  MAX(CASE WHEN blk IS NOT NULL THEN sz END) AS max_block,
        |  CAST(SUM(CASE WHEN blk IS NOT NULL THEN (sz*(sz-1))//2 ELSE 0 END) AS BIGINT) AS cand_pairs
        | FROM b)
        |SELECT n_rows, n_unblocked, n_blocks, n_singletons, max_block, cand_pairs,
        |  CASE WHEN n_rows > 1 THEN
        |    floor((1.0 - CAST(cand_pairs AS DOUBLE)/CAST((n_rows*(n_rows-1))//2 AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS reduction_ratio,
        |  CASE WHEN cand_pairs > 0 THEN
        |    floor((CAST((max_block*(max_block-1))//2 AS DOUBLE)/CAST(cand_pairs AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS max_block_pair_share
        |FROM a""".stripMargin,

    // Waterfill: identical integer share/cap recurrence, 4 rounds.
    "q200_waterfill" ->
      """WITH t AS (SELECT source,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        |  FROM documents),
        |caps AS (SELECT source, CAST(SUM(n) AS BIGINT) AS cap FROM t
        |         GROUP BY 1 HAVING SUM(n) > 0),
        |a0 AS (SELECT source, cap, CAST(0 AS BIGINT) AS alloc FROM caps),
        |s1 AS (SELECT CAST(SUM(alloc) AS BIGINT) AS used,
        |       CAST(SUM(CASE WHEN alloc < cap THEN 1 ELSE 0 END) AS BIGINT) AS na FROM a0),
        |a1 AS (SELECT source, cap, least(cap, alloc + greatest(
        |       CASE WHEN na > 0 THEN (26000 - used) // na ELSE 0 END, 0)) AS alloc
        |       FROM a0 CROSS JOIN s1),
        |s2 AS (SELECT CAST(SUM(alloc) AS BIGINT) AS used,
        |       CAST(SUM(CASE WHEN alloc < cap THEN 1 ELSE 0 END) AS BIGINT) AS na FROM a1),
        |a2 AS (SELECT source, cap, least(cap, alloc + greatest(
        |       CASE WHEN na > 0 THEN (26000 - used) // na ELSE 0 END, 0)) AS alloc
        |       FROM a1 CROSS JOIN s2),
        |s3 AS (SELECT CAST(SUM(alloc) AS BIGINT) AS used,
        |       CAST(SUM(CASE WHEN alloc < cap THEN 1 ELSE 0 END) AS BIGINT) AS na FROM a2),
        |a3 AS (SELECT source, cap, least(cap, alloc + greatest(
        |       CASE WHEN na > 0 THEN (26000 - used) // na ELSE 0 END, 0)) AS alloc
        |       FROM a2 CROSS JOIN s3),
        |s4 AS (SELECT CAST(SUM(alloc) AS BIGINT) AS used,
        |       CAST(SUM(CASE WHEN alloc < cap THEN 1 ELSE 0 END) AS BIGINT) AS na FROM a3),
        |a4 AS (SELECT source, cap, least(cap, alloc + greatest(
        |       CASE WHEN na > 0 THEN (26000 - used) // na ELSE 0 END, 0)) AS alloc
        |       FROM a3 CROSS JOIN s4)
        |SELECT source, cap AS capacity, alloc AS allocation,
        |  alloc = cap AS saturated,
        |  floor((CAST(alloc AS DOUBLE)/cap)*10000.0 + 0.5)/10000.0 AS fill_frac
        |FROM a4 ORDER BY source""".stripMargin,

    // Lang mixture: identical chunk slicing, q16 candidate scoring per
    // chunk, (count, lang) dominant argmax.
    "q201_lang_mixture" -> {
      val cands = functions.stopwords.toSeq.sortBy(_._1).map { case (l, sw) =>
        s"('$l', [${sw.map(w => s"'$w'").mkString(",")}])"
      }.mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
         |         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks
         |  FROM documents),
         |ch0 AS (SELECT doc_id,
         |  unnest([{'ci': i, 'ct': toks[i*16+1 : (i+1)*16]}
         |          FOR i IN range(0, CAST(ceil(len(toks)/16.0) AS BIGINT))]) AS u
         |  FROM base WHERE len(toks) > 0),
         |ch AS (SELECT doc_id, u.ci AS ci, u.ct AS ct FROM ch0),
         |sc AS (SELECT ch.doc_id, ch.ci, u.l AS cand,
         |  len(list_intersect(list_distinct(ch.ct), u.sw)) AS score
         |  FROM ch, (VALUES $cands) u(l, sw)),
         |pr AS (SELECT doc_id, cand AS lang,
         |  row_number() OVER (PARTITION BY doc_id, ci ORDER BY score DESC, cand DESC) AS rn
         |  FROM sc),
         |pc AS (SELECT doc_id, lang, COUNT(*) AS c FROM pr WHERE rn = 1 GROUP BY 1, 2),
         |d AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chunks,
         |  CAST(COUNT(*) AS BIGINT) AS n_langs FROM pc GROUP BY 1),
         |dom AS (SELECT doc_id, lang, c,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, lang DESC) AS rn
         |  FROM pc)
         |SELECT d.doc_id, d.n_chunks, d.n_langs, dom.lang AS dominant_lang,
         |  floor((CAST(dom.c AS DOUBLE)/d.n_chunks)*10000.0 + 0.5)/10000.0 AS dominant_frac,
         |  d.n_langs > 1 AS is_mixed
         |FROM d JOIN dom ON dom.doc_id = d.doc_id AND dom.rn = 1
         |ORDER BY d.doc_id""".stripMargin
    },

    // Conformal: q172 scores + q78 hash split; threshold = exact
    // floor(alpha*(n+1))-th smallest cal-positive score.
    "q202_conformal" -> {
      val w = Similarity.lshPlanes(256, 1, seed = 7)(0)
      s"""WITH wt AS (SELECT ${w.mkString("[", ",", "]")}::DOUBLE[] AS w),
         |t AS (SELECT doc_id,
         |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
         |       ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x))
         |  END AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         |    list_reduce(list_transform(toks, tok ->
         |      wt.w[((list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
         |             (a,b) -> a*16 + b) % 2147483629) % 256) + 1]),
         |      (a,b) -> a + b) END AS raw
         |  FROM t CROSS JOIN wt),
         |sc AS (SELECT s.doc_id, floor((raw + -0.05)*10000.0 + 0.5)/10000.0 AS score,
         |  d.lang = 'en' AS y,
         |  ((s.doc_id % 2147483648) * 2654435761) % 4294967296 % 10000 AS b
         |  FROM s JOIN documents d USING (doc_id)),
         |cp AS (SELECT score FROM sc WHERE b < 5000 AND y),
         |nk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal_pos,
         |       CAST(floor(0.1 * (COUNT(*) + 1)) AS BIGINT) AS k FROM cp),
         |cg AS (SELECT score, COUNT(*) AS c FROM cp GROUP BY 1),
         |cum AS (SELECT score, SUM(c) OVER (ORDER BY score) AS cum FROM cg),
         |thr AS (SELECT MIN(score) AS threshold FROM cum CROSS JOIN nk WHERE cum >= k)
         |SELECT nk.n_cal_pos, nk.k, thr.threshold,
         |  CAST(SUM(CASE WHEN b >= 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
         |  CAST(SUM(CASE WHEN b >= 5000 AND score >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |  CAST(SUM(CASE WHEN b >= 5000 AND y THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_pos,
         |  CAST(SUM(CASE WHEN b >= 5000 AND y AND score >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
         |  CASE WHEN SUM(CASE WHEN b >= 5000 AND y THEN 1 ELSE 0 END) > 0 THEN
         |    floor((CAST(SUM(CASE WHEN b >= 5000 AND y AND score >= threshold THEN 1 ELSE 0 END) AS DOUBLE)
         |      / SUM(CASE WHEN b >= 5000 AND y THEN 1 ELSE 0 END))*10000.0 + 0.5)/10000.0 END AS coverage,
         |  CASE WHEN SUM(CASE WHEN b >= 5000 THEN 1 ELSE 0 END) > 0 THEN
         |    floor((CAST(SUM(CASE WHEN b >= 5000 AND score >= threshold THEN 1 ELSE 0 END) AS DOUBLE)
         |      / SUM(CASE WHEN b >= 5000 THEN 1 ELSE 0 END))*10000.0 + 0.5)/10000.0 END AS flagged_frac
         |FROM sc CROSS JOIN nk CROSS JOIN thr
         |GROUP BY nk.n_cal_pos, nk.k, thr.threshold""".stripMargin
    },

    // Theil-Sen: q130 daily grid, identical 1e-6 slope snap,
    // nearest-rank median by integer prefix counts.
    "q203_theil_sen" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, COUNT(*) AS n FROM e GROUP BY 1, 2),
        |bo AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(bo.lo, bo.hi)) AS bin FROM bo) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |p AS (SELECT a.t,
        |  CAST(floor(CAST(b.v - a.v AS DOUBLE)/CAST(b.bin - a.bin AS DOUBLE)*1e6 + 0.5) AS BIGINT) AS s6
        | FROM sv a JOIN sv b ON a.t = b.t AND a.bin < b.bin),
        |cg AS (SELECT t, s6, COUNT(*) AS c FROM p GROUP BY 1, 2),
        |cum AS (SELECT t, s6,
        |  CAST(SUM(c) OVER (PARTITION BY t ORDER BY s6 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |  CAST(SUM(c) OVER (PARTITION BY t) AS BIGINT) AS n FROM cg)
        |SELECT t AS event_type, n AS n_pairs,
        |  floor((CAST(MIN(s6) AS DOUBLE)/1e6)*10000.0 + 0.5)/10000.0 AS ts_slope_per_day
        |FROM cum WHERE cum >= (n + 1) // 2
        |GROUP BY t, n ORDER BY event_type""".stripMargin,

    // Pack manifest: q58's global prefix + identical span interval
    // arithmetic; span arrays ordered by in-sequence offset.
    "q204_pack_manifest" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER
        |    (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pre
        |  FROM t),
        |sp0 AS (SELECT doc_id, n_tokens, pre,
        |  unnest(generate_series(pre // 512, (pre + n_tokens - 1) // 512)) AS seq_id
        |  FROM c WHERE n_tokens > 0),
        |sp AS (SELECT seq_id, doc_id,
        |  greatest(pre, seq_id*512) - seq_id*512 AS off,
        |  least(pre + n_tokens, (seq_id+1)*512) - greatest(pre, seq_id*512) AS len
        |  FROM sp0)
        |SELECT seq_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |  CAST(SUM(len) AS BIGINT) AS fill_tokens,
        |  512 - CAST(SUM(len) AS BIGINT) AS pad_tokens,
        |  array_to_string(list(CAST(off AS VARCHAR) ORDER BY off), ',') AS boundaries,
        |  array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY off), ',') AS doc_ids
        |FROM sp GROUP BY 1 ORDER BY seq_id""".stripMargin,

    // AB balance: the q99 moment pattern per event type, pinned SMD.
    "q205_ab_balance" ->
      """WITH s AS (SELECT event_type,
        |  CASE WHEN (((user_id % 2147483648) * 2654435761) % 4294967296) % 10000 < 5000
        |       THEN 'A' ELSE 'B' END AS variant,
        |  CAST(floor(CAST(value AS DOUBLE)*10000.0 + 0.5) AS BIGINT) AS x4
        |  FROM events WHERE value IS NOT NULL),
        |m AS (SELECT event_type,
        |  COUNT(CASE WHEN variant='A' THEN 1 END) AS n_a,
        |  COUNT(CASE WHEN variant='B' THEN 1 END) AS n_b,
        |  CAST(SUM(CASE WHEN variant='A' THEN CAST(x4 AS DECIMAL(38,0)) END) AS DOUBLE) AS s_a,
        |  CAST(SUM(CASE WHEN variant='B' THEN CAST(x4 AS DECIMAL(38,0)) END) AS DOUBLE) AS s_b,
        |  CAST(SUM(CASE WHEN variant='A' THEN CAST(x4 AS DECIMAL(38,0))*CAST(x4 AS DECIMAL(38,0)) END) AS DOUBLE) AS ss_a,
        |  CAST(SUM(CASE WHEN variant='B' THEN CAST(x4 AS DECIMAL(38,0))*CAST(x4 AS DECIMAL(38,0)) END) AS DOUBLE) AS ss_b
        |  FROM s GROUP BY 1),
        |d AS (SELECT event_type, n_a, n_b,
        |  (s_a/10000.0)/CAST(n_a AS DOUBLE) AS ma, (s_b/10000.0)/CAST(n_b AS DOUBLE) AS mb,
        |  (ss_a/100000000.0 - CAST(n_a AS DOUBLE)*((s_a/10000.0)/CAST(n_a AS DOUBLE))*((s_a/10000.0)/CAST(n_a AS DOUBLE)))/(CAST(n_a AS DOUBLE)-1) AS va,
        |  (ss_b/100000000.0 - CAST(n_b AS DOUBLE)*((s_b/10000.0)/CAST(n_b AS DOUBLE))*((s_b/10000.0)/CAST(n_b AS DOUBLE)))/(CAST(n_b AS DOUBLE)-1) AS vb
        |  FROM m)
        |SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        | floor(ma*10000.0 + 0.5)/10000.0 AS mean_a,
        | floor(mb*10000.0 + 0.5)/10000.0 AS mean_b,
        | CASE WHEN n_a >= 2 AND n_b >= 2 THEN
        |   floor(((ma-mb)/sqrt((va+vb)/2))*10000.0 + 0.5)/10000.0 END AS smd,
        | CASE WHEN n_a >= 2 AND n_b >= 2 THEN
        |   abs((ma-mb)/sqrt((va+vb)/2)) <= 0.1 END AS balanced
        |FROM d ORDER BY event_type""".stripMargin,

    // SPRT: the same driver-snapped 1e-9 log constants embedded as
    // integers; exact integer LLR prefix over the (ts, id) order.
    "q206_sprt" -> {
      def fx9(x: Double): Long = math.floor(math.log(x) * 1e9 + 0.5).toLong
      val incFail = fx9(0.15 / 0.05)
      val incOk = fx9(0.85 / 0.95)
      val upper = fx9(0.8 / 0.05)
      val lower = fx9(0.2 / 0.95)
      s"""WITH b AS (SELECT epoch_us(ts) AS us, event_id AS id,
         |  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS f
         |  FROM events WHERE ts IS NOT NULL),
         |c AS (SELECT us, id, f,
         |  CAST(SUM(CASE WHEN f = 1 THEN $incFail ELSE $incOk END)
         |    OVER (ORDER BY us, id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS llr,
         |  CAST(row_number() OVER (ORDER BY us, id) AS BIGINT) AS n,
         |  CAST(SUM(f) OVER (ORDER BY us, id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fails
         | FROM b),
         |cr AS (SELECT n, us, llr FROM c WHERE llr >= $upper OR llr <= $lower
         |       ORDER BY n LIMIT 1),
         |tt AS (SELECT n, fails, llr FROM c ORDER BY n DESC LIMIT 1)
         |SELECT tt.n AS n_events, tt.fails AS n_failures,
         |  floor((CAST(tt.llr AS DOUBLE)/1e9)*10000.0 + 0.5)/10000.0 AS final_llr,
         |  CASE WHEN cr.n IS NULL THEN 'continue'
         |       WHEN cr.llr >= $upper THEN 'reject_h0' ELSE 'accept_h0' END AS decision,
         |  cr.n AS first_cross_n,
         |  strftime(make_timestamp(cr.us), '%Y-%m-%d %H:%M:%S') AS first_cross_ts
         |FROM tt LEFT JOIN cr ON TRUE""".stripMargin
    },

    // Markov backtest: q78 user split, (count desc, next asc) argmax,
    // held-out top-1 accuracy.
    "q207_markov_backtest" ->
      """WITH p0 AS (SELECT user_id, ts, event_id, event_type AS cur,
        |  (((user_id % 2147483648) * 2654435761) % 4294967296) % 10000 AS b
        | FROM events WHERE ts IS NOT NULL),
        |p AS (SELECT *, lead(cur) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |      FROM p0),
        |pp AS (SELECT * FROM p WHERE nxt IS NOT NULL),
        |tr AS (SELECT cur, nxt, COUNT(*) AS c FROM pp WHERE b < 5000 GROUP BY 1, 2),
        |model AS (SELECT cur, nxt AS predicted_next FROM tr
        |  QUALIFY row_number() OVER (PARTITION BY cur ORDER BY c DESC, nxt) = 1),
        |te AS (SELECT pp.cur, pp.nxt, model.predicted_next
        |       FROM pp LEFT JOIN model USING (cur) WHERE pp.b >= 5000)
        |SELECT cur AS event_type, MAX(predicted_next) AS predicted_next,
        |  CAST(COUNT(*) AS BIGINT) AS n_test,
        |  CAST(COALESCE(SUM(CASE WHEN nxt = predicted_next THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits,
        |  floor((CAST(COALESCE(SUM(CASE WHEN nxt = predicted_next THEN 1 ELSE 0 END), 0) AS DOUBLE)
        |    / COUNT(*))*10000.0 + 0.5)/10000.0 AS accuracy
        |FROM te GROUP BY cur ORDER BY event_type""".stripMargin,

    // C4 gate: identical line predicates (terminal punct / >=5 words /
    // no javascript), identical '\n' re-join, md5 page identity.
    "q208_c4_gate" ->
      """WITH d AS (SELECT doc_id, text AS t, string_split(text, chr(10)) AS lines
        |  FROM documents),
        |k AS (SELECT doc_id, t, lines,
        |  list_filter(lines, l -> length(trim(l)) > 0
        |    AND regexp_matches(trim(l), '[.!?"'']$')
        |    AND len(regexp_split_to_array(trim(l), '\s+')) >= 5
        |    AND NOT contains(lower(l), 'javascript')) AS kept,
        |  len(list_filter(lines, l -> contains(lower(l), 'javascript'))) AS n_js
        |  FROM d),
        |j AS (SELECT doc_id, t, lines, kept, n_js,
        |  COALESCE(array_to_string(kept, chr(10)), '') AS jt FROM k),
        |m AS (SELECT doc_id,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
        |  CAST(n_js AS BIGINT) AS n_js_lines,
        |  CAST(CASE WHEN length(jt) > 0
        |       THEN len(regexp_split_to_array(trim(jt), '\s+')) ELSE 0 END AS BIGINT) AS n_kept_words,
        |  CAST(len(regexp_extract_all(jt, '[.!?]')) AS BIGINT) AS n_sentences,
        |  contains(lower(t), 'lorem ipsum') AS has_lorem_ipsum,
        |  contains(t, '{') AS has_curly,
        |  md5(jt) AS kept_md5
        |  FROM j)
        |SELECT doc_id, n_lines, n_kept_lines, n_js_lines, n_kept_words,
        |  n_sentences, has_lorem_ipsum, has_curly, kept_md5,
        |  (n_sentences >= 3 AND NOT has_lorem_ipsum AND NOT has_curly) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,

    // Mojibake audit: identical char-class counts (RE2 \x{..} escapes
    // name the same code points as the Java \uXXXX literals).
    "q209_mojibake" ->
      """WITH m AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(text, '\x{FFFD}')) AS BIGINT) AS n_replacement,
        |  CAST(len(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]')) AS BIGINT) AS n_control,
        |  CAST(len(regexp_extract_all(text, '[\x{C3}\x{C2}][\x{80}-\x{BF}]|\x{E2}\x{20AC}')) AS BIGINT) AS n_mojibake,
        |  CAST(len(regexp_extract_all(text, '\x{A0}')) AS BIGINT) AS n_nbsp
        |  FROM documents)
        |SELECT doc_id, n_chars, n_replacement, n_control, n_mojibake, n_nbsp,
        |  CASE WHEN n_chars > 0 THEN
        |    floor((CAST(n_replacement + n_control + n_mojibake AS DOUBLE)
        |      / CAST(n_chars AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS suspect_ratio,
        |  (n_replacement + n_control + n_mojibake > 0) AS flag_encoding
        |FROM m ORDER BY doc_id""".stripMargin,

    // Interval merge: identical gaps-and-islands plan — running max of
    // prior ends decides island starts; integer epoch seconds exact.
    "q210_interval_merge" ->
      """WITH iv AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |  CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
        | FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |m AS (SELECT user_id, s, e,
        |  MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM iv),
        |f AS (SELECT user_id, s, e,
        |  CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nw FROM m),
        |g AS (SELECT user_id, s, e,
        |  CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island FROM f)
        |SELECT user_id, island, MIN(s) AS island_start, MAX(e) AS island_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_intervals,
        |  MAX(e) - MIN(s) AS covered_sec
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // FDR: identical arms/counts, pinned z assembly snapped 1e-6,
    // identical A&S 7.1.26 erfc polynomial snapped 1e-9, BH step-up
    // over the bounded test family with (p, group) tie order.
    "q211_fdr" ->
      """WITH e AS (SELECT event_type AS g,
        |  (((user_id % 2147483648) * 2654435761) % 4294967296) % 10000 < 5000 AS a,
        |  CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS sc
        | FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |c AS (SELECT g,
        |  CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(SUM(CASE WHEN a THEN sc ELSE 0 END) AS BIGINT) AS x_a,
        |  CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
        |  CAST(SUM(CASE WHEN a THEN 0 ELSE sc END) AS BIGINT) AS x_b
        | FROM e GROUP BY 1),
        |z AS (SELECT *, CASE WHEN n_a > 0 AND n_b > 0
        |    AND x_a + x_b > 0 AND x_a + x_b < n_a + n_b THEN
        |  floor(((CAST(x_a AS DOUBLE)/CAST(n_a AS DOUBLE) - CAST(x_b AS DOUBLE)/CAST(n_b AS DOUBLE))
        |    / sqrt(((CAST(x_a AS DOUBLE)+CAST(x_b AS DOUBLE))/(CAST(n_a AS DOUBLE)+CAST(n_b AS DOUBLE)))
        |      * (1.0 - (CAST(x_a AS DOUBLE)+CAST(x_b AS DOUBLE))/(CAST(n_a AS DOUBLE)+CAST(n_b AS DOUBLE)))
        |      * (1.0/CAST(n_a AS DOUBLE) + 1.0/CAST(n_b AS DOUBLE))))*1000000.0 + 0.5)/1000000.0
        |  END AS z FROM c),
        |p AS (SELECT *, CASE WHEN z IS NOT NULL THEN
        |  floor(((1.0/(1.0 + 0.3275911*(abs(z)/1.4142135623730951)))
        |    * (0.254829592 + (1.0/(1.0 + 0.3275911*(abs(z)/1.4142135623730951)))
        |      * (-0.284496736 + (1.0/(1.0 + 0.3275911*(abs(z)/1.4142135623730951)))
        |        * (1.421413741 + (1.0/(1.0 + 0.3275911*(abs(z)/1.4142135623730951)))
        |          * (-1.453152027 + (1.0/(1.0 + 0.3275911*(abs(z)/1.4142135623730951)))
        |            * 1.061405429))))
        |    * exp(-((abs(z)/1.4142135623730951)*(abs(z)/1.4142135623730951))))*1e9 + 0.5)/1e9
        |  END AS p_value FROM z),
        |r AS (SELECT *,
        |  CASE WHEN p_value IS NOT NULL THEN
        |    CAST(row_number() OVER (ORDER BY p_value ASC NULLS LAST, g) AS BIGINT) END AS bh_rank,
        |  COUNT(p_value) OVER () AS m FROM p),
        |b AS (SELECT *, CASE WHEN bh_rank IS NOT NULL THEN
        |  floor((CAST(bh_rank AS DOUBLE) * 0.05 / CAST(m AS DOUBLE))*1e9 + 0.5)/1e9
        |  END AS bh_crit FROM r),
        |k AS (SELECT *, MAX(CASE WHEN p_value <= bh_crit THEN bh_rank END) OVER () AS kmax FROM b)
        |SELECT g AS "group", n_a, x_a, n_b, x_b, z, p_value, bh_rank, bh_crit,
        |  (p_value IS NOT NULL AND bh_rank <= COALESCE(kmax, 0)) AS reject
        |FROM k ORDER BY "group"""".stripMargin,

    // OLS: identical fixed-point snaps, DECIMAL(38,0) moment sums,
    // identical Cramer determinant assembly; betas snapped 1e-9 and
    // SSE/R2/RMSE defined over the snapped betas.
    "q212_ols" ->
      """WITH r AS (SELECT
        |  CAST(floor(CAST(l_extendedprice AS DOUBLE)*100.0 + 0.5) AS BIGINT) AS y,
        |  CAST(floor(CAST(l_quantity AS DOUBLE)*1.0 + 0.5) AS BIGINT) AS x1,
        |  CAST(floor(CAST(l_discount AS DOUBLE)*100.0 + 0.5) AS BIGINT) AS x2
        | FROM lineitem WHERE l_extendedprice IS NOT NULL
        |   AND l_quantity IS NOT NULL AND l_discount IS NOT NULL),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(x1 AS DECIMAL(38,0))) AS s1,
        |  SUM(CAST(x2 AS DECIMAL(38,0))) AS s2,
        |  SUM(CAST(y AS DECIMAL(38,0))) AS sy,
        |  SUM(CAST(x1 AS DECIMAL(38,0))*CAST(x1 AS DECIMAL(38,0))) AS s11,
        |  SUM(CAST(x1 AS DECIMAL(38,0))*CAST(x2 AS DECIMAL(38,0))) AS s12,
        |  SUM(CAST(x2 AS DECIMAL(38,0))*CAST(x2 AS DECIMAL(38,0))) AS s22,
        |  SUM(CAST(x1 AS DECIMAL(38,0))*CAST(y AS DECIMAL(38,0))) AS s1y,
        |  SUM(CAST(x2 AS DECIMAL(38,0))*CAST(y AS DECIMAL(38,0))) AS s2y,
        |  SUM(CAST(y AS DECIMAL(38,0))*CAST(y AS DECIMAL(38,0))) AS syy
        | FROM r),
        |d AS (SELECT n, CAST(n AS DOUBLE) AS nd,
        |  CAST(s1 AS DOUBLE)/1.0 AS s1d, CAST(s2 AS DOUBLE)/100.0 AS s2d,
        |  CAST(sy AS DOUBLE)/100.0 AS syd,
        |  CAST(s11 AS DOUBLE)/1.0 AS s11d, CAST(s12 AS DOUBLE)/100.0 AS s12d,
        |  CAST(s22 AS DOUBLE)/10000.0 AS s22d,
        |  CAST(s1y AS DOUBLE)/100.0 AS s1yd, CAST(s2y AS DOUBLE)/10000.0 AS s2yd,
        |  CAST(syy AS DOUBLE)/10000.0 AS syyd FROM a),
        |dt AS (SELECT *,
        |  nd*(s11d*s22d - s12d*s12d) - s1d*(s1d*s22d - s12d*s2d) + s2d*(s1d*s12d - s11d*s2d) AS det,
        |  syd*(s11d*s22d - s12d*s12d) - s1d*(s1yd*s22d - s12d*s2yd) + s2d*(s1yd*s12d - s11d*s2yd) AS dd0,
        |  nd*(s1yd*s22d - s12d*s2yd) - syd*(s1d*s22d - s12d*s2d) + s2d*(s1d*s2yd - s1yd*s2d) AS dd1,
        |  nd*(s11d*s2yd - s1yd*s12d) - s1d*(s1d*s2yd - s1yd*s2d) + syd*(s1d*s12d - s11d*s2d) AS dd2
        | FROM d),
        |b AS (SELECT *,
        |  CASE WHEN det <> 0.0 THEN floor(dd0/det*1000000000.0 + 0.5)/1000000000.0 END AS beta0,
        |  CASE WHEN det <> 0.0 THEN floor(dd1/det*1000000000.0 + 0.5)/1000000000.0 END AS beta1,
        |  CASE WHEN det <> 0.0 THEN floor(dd2/det*1000000000.0 + 0.5)/1000000000.0 END AS beta2
        | FROM dt),
        |f AS (SELECT n, beta0, beta1, beta2, nd,
        |  syyd - beta0*syd - beta1*s1yd - beta2*s2yd AS sse,
        |  syyd - syd*syd/nd AS sst FROM b)
        |SELECT n, beta0, beta1, beta2,
        |  CASE WHEN beta0 IS NOT NULL AND sst > 0 THEN
        |    floor((1.0 - sse/sst)*1000000.0 + 0.5)/1000000.0 END AS r2,
        |  CASE WHEN beta0 IS NOT NULL AND nd > 0 THEN
        |    floor(sqrt(greatest(sse, 0.0)/nd)*1000000.0 + 0.5)/1000000.0 END AS rmse
        |FROM f""".stripMargin,

    // Temperature mix: identical pow snap at 1e-9, exact HUGEINT
    // quota floor-division, pinned report ratios.
    "q213_temperature_mix" ->
      """WITH tk AS (SELECT source,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        | FROM documents WHERE source IS NOT NULL),
        |c AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens
        |      FROM tk GROUP BY 1 HAVING SUM(n) > 0),
        |k AS (SELECT source, n_tokens,
        |  CAST(floor(pow(CAST(n_tokens AS DOUBLE), 0.3)*1000000000.0 + 0.5) AS BIGINT) AS w9
        | FROM c),
        |t AS (SELECT CAST(SUM(w9) AS HUGEINT) AS sw9 FROM k),
        |q AS (SELECT source, n_tokens, w9, sw9,
        |  CAST((CAST(1000000 AS HUGEINT) * CAST(w9 AS HUGEINT)) // sw9 AS BIGINT) AS quota
        | FROM k CROSS JOIN t)
        |SELECT source, n_tokens, w9, quota,
        |  least(n_tokens, quota) AS allocation,
        |  (least(n_tokens, quota) = n_tokens) AS saturated,
        |  floor((CAST(w9 AS DOUBLE)/CAST(sw9 AS DOUBLE))*1000000.0 + 0.5)/1000000.0 AS share,
        |  floor((CAST(least(n_tokens, quota) AS DOUBLE)/CAST(n_tokens AS DOUBLE))*10000.0 + 0.5)/10000.0 AS sampled_frac
        |FROM q ORDER BY source""".stripMargin,

    // PCA: identical 1e6 snaps, exact HUGEINT covariance
    // M = n*Sij - Si*Sj, identical truncating quantization, the power
    // iteration unrolled round by round (the Lloyd-unroll convention),
    // left-fold Rayleigh/trace in index order.
    "q214_pca" -> {
      val iters = 8
      pcaOracleChain(iters) +
        s""",
           |uf AS (SELECT mq.j AS j, CAST(SUM(mq.m * p.v) AS BIGINT) AS u
           |  FROM mq JOIN v$iters p ON mq.i = p.j GROUP BY 1),
           |folds AS (SELECT
           |  list_reduce(list(CAST(p.v AS DOUBLE)*CAST(uf.u AS DOUBLE) ORDER BY p.j),
           |    (a, b) -> a + b) AS num,
           |  list_reduce(list(CAST(p.v AS DOUBLE)*CAST(p.v AS DOUBLE) ORDER BY p.j),
           |    (a, b) -> a + b) AS den
           |  FROM v$iters p JOIN uf ON p.j = uf.j),
           |tr AS (SELECT list_reduce(list(CAST(m AS DOUBLE) ORDER BY i),
           |  (a, b) -> a + b) AS trace FROM mq WHERE i = j)
           |SELECT p.j AS dim,
           |  floor(CAST(p.v AS DOUBLE)/1000000000.0*1000000.0 + 0.5)/1000000.0 AS loading,
           |  CASE WHEN trace > 0 AND den > 0 THEN
           |    floor((num/den)/trace*1000000.0 + 0.5)/1000000.0 ELSE 0.0 END AS explained_share,
           |  CASE WHEN den > 0 THEN
           |    floor((num/den)*CAST(sdv AS DOUBLE)/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE))/1000000000000.0*1000000.0 + 0.5)/1000000.0
           |  ELSE 0.0 END AS eigenvalue,
           |  n AS n_rows, n_all - n AS n_excluded
           |FROM v$iters p CROSS JOIN folds CROSS JOIN tr CROSS JOIN sd CROSS JOIN cnt
           |ORDER BY dim""".stripMargin
    },

    // Top-component removal: the q214 chain's v8 as a list literal,
    // identical index-order folds, map-only projection per row.
    "q220_pc_removal" -> {
      val iters = 8
      pcaOracleChain(iters) +
        s""",
           |lv AS (SELECT list(CAST(v AS DOUBLE)/1000000000.0 ORDER BY j) AS l FROM v$iters),
           |rows0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
           |  WHERE embedding IS NOT NULL AND len(embedding) = 64
           |    AND len(list_filter(embedding,
           |        ee -> isnan(CAST(ee AS DOUBLE)) OR isinf(CAST(ee AS DOUBLE)))) = 0),
           |calc AS (SELECT vec_id, x, l,
           |  list_reduce([x[i]*x[i] FOR i IN range(1, 65)], (a, b) -> a + b) AS n2b,
           |  list_reduce([x[i]*l[i] FOR i IN range(1, 65)], (a, b) -> a + b) AS dotxl,
           |  list_reduce([l[i]*l[i] FOR i IN range(1, 65)], (a, b) -> a + b) AS ll
           | FROM rows0 CROSS JOIN lv),
           |fin AS (SELECT vec_id, n2b,
           |  list_reduce([(x[i] - c*l[i])*(x[i] - c*l[i]) FOR i IN range(1, 65)],
           |    (a, b) -> a + b) AS n2a
           | FROM (SELECT vec_id, x, l, n2b,
           |   CASE WHEN ll > 0 THEN dotxl/ll ELSE 0.0 END AS c FROM calc))
           |SELECT vec_id,
           |  floor(n2b*1000000.0 + 0.5)/1000000.0 AS n2_before,
           |  floor(n2a*1000000.0 + 0.5)/1000000.0 AS n2_after,
           |  CASE WHEN n2b > 0 THEN
           |    floor((1.0 - n2a/n2b)*1000000.0 + 0.5)/1000000.0 END AS removed_frac
           |FROM fin ORDER BY vec_id""".stripMargin
    },

    // SSSP: q192's synchronous relaxation with integer edge costs
    // 1e6 // c_ab, 3 rounds unrolled, NULL-aware min CASE.
    "q215_sssp" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |cab AS (SELECT item_a, item_b, CAST(COUNT(*) AS BIGINT) AS c
        |      FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS (SELECT item_a AS src, item_b AS dst, CAST(1000000 // c AS BIGINT) AS w FROM cab
        |      UNION ALL SELECT item_b, item_a, CAST(1000000 // c AS BIGINT) FROM cab),
        |d0 AS (SELECT DISTINCT src AS item,
        |       CASE WHEN src % 5 = 0 THEN CAST(0 AS BIGINT) END AS dist FROM e),
        |x1 AS (SELECT e.dst, MIN(d0.dist + e.w) AS nd FROM e
        |       JOIN d0 ON e.src = d0.item WHERE d0.dist IS NOT NULL GROUP BY 1),
        |d1 AS (SELECT item, CASE WHEN dist IS NULL THEN nd WHEN nd IS NULL THEN dist
        |       ELSE least(dist, nd) END AS dist
        |       FROM d0 LEFT JOIN x1 ON d0.item = x1.dst),
        |x2 AS (SELECT e.dst, MIN(d1.dist + e.w) AS nd FROM e
        |       JOIN d1 ON e.src = d1.item WHERE d1.dist IS NOT NULL GROUP BY 1),
        |d2 AS (SELECT item, CASE WHEN dist IS NULL THEN nd WHEN nd IS NULL THEN dist
        |       ELSE least(dist, nd) END AS dist
        |       FROM d1 LEFT JOIN x2 ON d1.item = x2.dst),
        |x3 AS (SELECT e.dst, MIN(d2.dist + e.w) AS nd FROM e
        |       JOIN d2 ON e.src = d2.item WHERE d2.dist IS NOT NULL GROUP BY 1),
        |d3 AS (SELECT item, CASE WHEN dist IS NULL THEN nd WHEN nd IS NULL THEN dist
        |       ELSE least(dist, nd) END AS dist
        |       FROM d2 LEFT JOIN x3 ON d2.item = x3.dst)
        |SELECT item, CAST(dist AS BIGINT) AS dist FROM d3 ORDER BY item""".stripMargin,

    // Fellegi-Sunter: identical driver-snapped 1e9 log-weight
    // literals, identical agreement predicates, integer weight sums.
    "q216_fellegi_sunter" -> {
      def fx9(x: Double): Long = math.floor(math.log(x) * 1e9 + 0.5).toLong
      val (waN, wdN) = (fx9(0.9 / 0.01), fx9(0.1 / 0.99))
      val (waB, wdB) = (fx9(0.9 / 0.15), fx9(0.1 / 0.85))
      val (waC, wdC) = (fx9(0.95 / 0.1), fx9(0.05 / 0.9))
      val t9 = math.floor(4.0 * 1e9 + 0.5).toLong
      s"""WITH c AS (SELECT c_custkey AS id, c_nationkey AS n, c_mktsegment AS s,
         |  c_name, c_acctbal FROM customer
         |  WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL),
         |p AS (SELECT a.id AS a_id, b.id AS b_id,
         |  COALESCE(substr(a.c_name, -3, 3) = substr(b.c_name, -3, 3), FALSE) AS agree_name_sfx,
         |  COALESCE(abs(floor(CAST(a.c_acctbal AS DOUBLE)*100 + 0.5)
         |    - floor(CAST(b.c_acctbal AS DOUBLE)*100 + 0.5)) <= 10000, FALSE) AS agree_acctbal,
         |  COALESCE(((CAST(floor(CAST(a.c_acctbal AS DOUBLE)*100 + 0.5) AS BIGINT) % 10) + 10) % 10
         |    = ((CAST(floor(CAST(b.c_acctbal AS DOUBLE)*100 + 0.5) AS BIGINT) % 10) + 10) % 10, FALSE) AS agree_cent
         | FROM c a JOIN c b ON a.n = b.n AND a.s = b.s AND a.id < b.id),
         |w AS (SELECT *,
         |  (CASE WHEN agree_name_sfx THEN $waN ELSE $wdN END)
         |  + (CASE WHEN agree_acctbal THEN $waB ELSE $wdB END)
         |  + (CASE WHEN agree_cent THEN $waC ELSE $wdC END) AS w9 FROM p)
         |SELECT a_id, b_id, agree_name_sfx, agree_acctbal, agree_cent,
         |  floor(CAST(w9 AS DOUBLE)/1000000000.0*1000000.0 + 0.5)/1000000.0 AS weight,
         |  CASE WHEN w9 >= $t9 THEN 'match' ELSE 'possible' END AS decision
         |FROM w WHERE w9 >= 0 ORDER BY a_id, b_id""".stripMargin
    },

    // Negative sampling: identical dense indexing (row_number - 1 over
    // the id order), identical multiplicative hash and self-remap.
    "q217_negative_samples" ->
      """WITH x AS (SELECT vec_id AS id, label AS lbl,
        |  CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS idx
        |  FROM embeddings),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM x),
        |a AS (SELECT id AS anchor_id, lbl AS anchor_lbl, idx, CAST(j AS BIGINT) AS slot
        |      FROM x CROSS JOIN (SELECT unnest(range(1, 5)) AS j)),
        |c AS (SELECT anchor_id, anchor_lbl, slot, idx, n,
        |  (((idx*41 + slot) % 2147483648) * 2654435761) % 4294967296 % n AS c0
        |  FROM a CROSS JOIN nn),
        |d AS (SELECT anchor_id, anchor_lbl, slot,
        |  CASE WHEN c0 = idx THEN (c0 + 1) % n ELSE c0 END AS ni FROM c)
        |SELECT anchor_id, slot, x.id AS neg_id,
        |  (d.anchor_lbl IS NOT DISTINCT FROM x.lbl) AS same_label
        |FROM d JOIN x ON x.idx = d.ni ORDER BY anchor_id, slot""".stripMargin,

    // ACF: q130's dense grid; exact integer centered products
    // num = sum((n*v1 - s)(n*v2 - s)), den likewise; one division.
    "q218_acf" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |st AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
        |       FROM sv GROUP BY 1),
        |dn AS (SELECT sv.t,
        |  SUM(CAST(st.n*sv.v - st.s AS DECIMAL(38,0)) * CAST(st.n*sv.v - st.s AS DECIMAL(38,0))) AS den
        |  FROM sv JOIN st ON sv.t = st.t GROUP BY 1),
        |pr AS (SELECT a.t, CAST(l.lag AS BIGINT) AS lag, a.v AS v1, bb.v AS v2
        |  FROM sv a CROSS JOIN (SELECT unnest(range(1, 7)) AS lag) l
        |  JOIN sv bb ON bb.t = a.t AND bb.bin = a.bin + l.lag),
        |nm AS (SELECT pr.t, pr.lag,
        |  SUM(CAST(st.n*pr.v1 - st.s AS DECIMAL(38,0)) * CAST(st.n*pr.v2 - st.s AS DECIMAL(38,0))) AS num
        |  FROM pr JOIN st ON pr.t = st.t GROUP BY 1, 2)
        |SELECT nm.t AS event_type, nm.lag, st.n AS n_bins,
        |  CASE WHEN den > 0 THEN
        |    floor((CAST(num AS DOUBLE)/CAST(den AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS acf
        |FROM nm JOIN dn ON nm.t = dn.t JOIN st ON nm.t = st.t
        |ORDER BY 1, 2""".stripMargin,

    // Token-label MI: identical presence collapse, 2x2 cells, pinned
    // (x/N)*ln(N*x/(rm*cm)) assembly snapped 1e-6, (mi desc, token) cut.
    "q219_token_mi" ->
      """WITH d AS (SELECT doc_id, (lang = 'en') AS y,
        |  CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |       ELSE list_distinct(list_transform(regexp_split_to_array(trim(text), '\s+'),
        |            x -> lower(x))) END AS toks
        | FROM documents WHERE (lang = 'en') IS NOT NULL),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
        |      CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS e FROM d),
        |c AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df,
        |      CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS a
        |      FROM (SELECT y, unnest(toks) AS w FROM d) GROUP BY 1
        |      HAVING COUNT(*) >= 5),
        |m AS (SELECT w AS token, df, a AS n_label,
        |  (CASE WHEN a > 0 AND df > 0 AND e > 0 THEN
        |    (CAST(a AS DOUBLE)/CAST(nn AS DOUBLE))
        |      * ln((CAST(nn AS DOUBLE)*CAST(a AS DOUBLE))/(CAST(df AS DOUBLE)*CAST(e AS DOUBLE))) ELSE 0.0 END
        |  + CASE WHEN df - a > 0 AND df > 0 AND nn - e > 0 THEN
        |    (CAST(df - a AS DOUBLE)/CAST(nn AS DOUBLE))
        |      * ln((CAST(nn AS DOUBLE)*CAST(df - a AS DOUBLE))/(CAST(df AS DOUBLE)*CAST(nn - e AS DOUBLE))) ELSE 0.0 END
        |  + CASE WHEN e - a > 0 AND nn - df > 0 AND e > 0 THEN
        |    (CAST(e - a AS DOUBLE)/CAST(nn AS DOUBLE))
        |      * ln((CAST(nn AS DOUBLE)*CAST(e - a AS DOUBLE))/(CAST(nn - df AS DOUBLE)*CAST(e AS DOUBLE))) ELSE 0.0 END
        |  + CASE WHEN nn - df - (e - a) > 0 AND nn - df > 0 AND nn - e > 0 THEN
        |    (CAST(nn - df - (e - a) AS DOUBLE)/CAST(nn AS DOUBLE))
        |      * ln((CAST(nn AS DOUBLE)*CAST(nn - df - (e - a) AS DOUBLE))/(CAST(nn - df AS DOUBLE)*CAST(nn - e AS DOUBLE))) ELSE 0.0 END) AS mi0
        | FROM c CROSS JOIN t)
        |SELECT token, df, n_label,
        |  floor(mi0*1000000.0 + 0.5)/1000000.0 AS mi
        |FROM m ORDER BY mi DESC, token LIMIT 50""".stripMargin,

    // Kneser-Ney: identical 90% split, distinct-bigram table feeding
    // contexts/fan-outs/fan-ins/scalars, same D=0.75 interpolation and
    // add-one continuation floor, 1e-6 ln snap before the per-doc sum.
    "q221_kn_lm" ->
      """WITH tk AS (SELECT doc_id, CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |  ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) END AS toks,
        |  (((doc_id % 2147483648) * 2654435761) % 4294967296) % 10000 < 9000 AS is_train
        |  FROM documents),
        |db AS (SELECT pr.a AS a, pr.b AS b, COUNT(*) AS c_b FROM (
        |  SELECT unnest([{'a': toks[i+1], 'b': toks[i+2]} FOR i IN range(0, len(toks)-1)]) AS pr
        |  FROM tk WHERE is_train AND len(toks) >= 2) GROUP BY 1, 2),
        |cctx AS (SELECT a, CAST(SUM(c_b) AS BIGINT) AS c_ctx, COUNT(*) AS n_fwd FROM db GROUP BY 1),
        |rev AS (SELECT b, COUNT(*) AS n_rev FROM db GROUP BY 1),
        |sc AS (SELECT (SELECT COUNT(*) FROM db) AS bt, (SELECT COUNT(*) FROM rev) AS rt),
        |ev AS (SELECT doc_id, pr.a AS w1, pr.b AS w2, COUNT(*) AS n_occ FROM (
        |  SELECT doc_id, unnest([{'a': toks[i+1], 'b': toks[i+2]} FOR i IN range(0, len(toks)-1)]) AS pr
        |  FROM tk WHERE NOT is_train AND len(toks) >= 2) GROUP BY 1, 2, 3),
        |j0 AS (SELECT ev.doc_id, ev.n_occ, db.c_b, cctx.c_ctx, cctx.n_fwd,
        |  CAST(COALESCE(rev.n_rev, 0) + 1 AS DOUBLE) / CAST(sc.bt + sc.rt + 1 AS DOUBLE) AS pc
        |  FROM ev
        |  LEFT JOIN db ON db.a = ev.w1 AND db.b = ev.w2
        |  LEFT JOIN cctx ON cctx.a = ev.w1
        |  LEFT JOIN rev ON rev.b = ev.w2
        |  CROSS JOIN sc),
        |j AS (SELECT doc_id, n_occ,
        |  CASE WHEN n_fwd IS NOT NULL THEN
        |    (greatest(CAST(COALESCE(c_b, 0) AS DOUBLE) - 0.75, 0.0)
        |      + 0.75 * CAST(n_fwd AS DOUBLE) * pc) / CAST(c_ctx AS DOUBLE)
        |  ELSE pc END AS p FROM j0),
        |f AS (SELECT doc_id, CAST(SUM(n_occ) AS BIGINT) AS n_scored,
        |  SUM(n_occ * CAST(floor(ln(p)*1e6 + 0.5) AS BIGINT)) AS fx FROM j GROUP BY 1)
        |SELECT doc_id, n_scored,
        |  floor(-CAST(fx AS DOUBLE)/CAST(n_scored AS DOUBLE)/1e6*10000.0 + 0.5)/10000.0 AS kn_nll
        |FROM f ORDER BY doc_id""".stripMargin,

    // URL host profile: the oracle derives scheme/host/registered
    // domain INDEPENDENTLY from the synthesis arithmetic (graft parses
    // the assembled string — agreement checks the parser).
    "q242_url_profile" ->
      """WITH p AS (SELECT doc_id,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL
        |       WHEN doc_id % 5 = 0 THEN 'http' ELSE 'https' END AS scheme,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE
        |    (CASE WHEN doc_id % 7 = 0 THEN 'www.' ELSE '' END) || source ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '.com'
        |          WHEN doc_id % 3 = 1 THEN '.co.uk' ELSE '.org' END) END AS host,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE source ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '.com'
        |          WHEN doc_id % 3 = 1 THEN '.co.uk' ELSE '.org' END) END AS dom
        |  FROM documents)
        |SELECT COALESCE(dom, '__invalid__') AS registered_domain,
        |  CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
        |  floor(CAST(SUM(CASE WHEN scheme = 'https' THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5)/1000000.0 AS https_frac
        |FROM p GROUP BY 1 ORDER BY n_urls DESC, registered_domain""".stripMargin,

    // URL dedup: identical normalization (lower host, default-port
    // drop — the :443 survives only on the http rows — query kept),
    // min-id survivor per key; malformed rows key on the raw string.
    "q243_url_dedup" ->
      """WITH u AS (SELECT doc_id,
        |  CASE WHEN doc_id % 97 = 0 THEN 'not a url' ELSE
        |    (CASE WHEN doc_id % 5 = 0 THEN 'http' ELSE 'https' END) || '://' ||
        |    (CASE WHEN doc_id % 7 = 0 THEN 'WWW.' ELSE '' END) || source ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '.com'
        |          WHEN doc_id % 3 = 1 THEN '.co.uk' ELSE '.org' END) ||
        |    (CASE WHEN doc_id % 11 = 0 THEN ':443' ELSE '' END) ||
        |    '/doc/' || CAST(doc_id % 40 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '?v=' || CAST(doc_id % 4 AS VARCHAR)
        |     ELSE '' END) END AS url FROM documents),
        |k AS (SELECT u.doc_id, u.url,
        |  CASE WHEN u.doc_id % 97 = 0 THEN u.url ELSE
        |    (CASE WHEN u.doc_id % 5 = 0 THEN 'http' ELSE 'https' END) || '://' ||
        |    (CASE WHEN u.doc_id % 7 = 0 THEN 'www.' ELSE '' END) || d.source ||
        |    (CASE WHEN u.doc_id % 3 = 0 THEN '.com'
        |          WHEN u.doc_id % 3 = 1 THEN '.co.uk' ELSE '.org' END) ||
        |    (CASE WHEN u.doc_id % 11 = 0 AND u.doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
        |    '/doc/' || CAST(u.doc_id % 40 AS VARCHAR) ||
        |    (CASE WHEN u.doc_id % 2 = 0 THEN '?v=' || CAST(u.doc_id % 4 AS VARCHAR)
        |     ELSE '' END) END AS kk
        |  FROM u JOIN documents d ON d.doc_id = u.doc_id)
        |SELECT doc_id, url, kk AS url_normalized FROM (
        |  SELECT doc_id, url, kk,
        |    row_number() OVER (PARTITION BY kk ORDER BY doc_id) AS rn FROM k)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // McNemar: two q229-style scoring chains (seed-7 / seed-11 weight
    // literals), correctness vs lang='en', exact discordant cells.
    "q244_mcnemar" -> {
      val wa = Similarity.lshPlanes(256, 1, seed = 7)(0)
      val wb = Similarity.lshPlanes(256, 1, seed = 11)(0)
      def chain(name: String, wt: String) =
        s"""$name AS (SELECT doc_id, CASE WHEN len(toks) = 0 THEN 0.0 ELSE
           |  list_reduce(list_transform(toks, tok ->
           |    $wt.w[((list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
           |      (a,b) -> a*16 + b) % 2147483629) % 256) + 1]),
           |    (a,b) -> a + b) END AS raw
           |  FROM t CROSS JOIN $wt)""".stripMargin
      s"""WITH wta AS (SELECT ${wa.mkString("[", ",", "]")}::DOUBLE[] AS w),
         |wtb AS (SELECT ${wb.mkString("[", ",", "]")}::DOUBLE[] AS w),
         |t AS (SELECT doc_id,
         |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
         |       ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x))
         |  END AS toks FROM documents),
         |${chain("sa", "wta")},
         |${chain("sb", "wtb")},
         |p AS (SELECT t.doc_id,
         |  (floor((sa.raw + -0.05)*10000.0 + 0.5)/10000.0 > 0) = (d.lang = 'en') AS ar,
         |  (floor((sb.raw + -0.05)*10000.0 + 0.5)/10000.0 > 0) = (d.lang = 'en') AS br
         |  FROM t JOIN sa USING (doc_id) JOIN sb USING (doc_id)
         |  JOIN documents d USING (doc_id)),
         |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(CASE WHEN ar AND br THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |  CAST(SUM(CASE WHEN NOT ar AND NOT br THEN 1 ELSE 0 END) AS BIGINT) AS n_neither,
         |  CAST(SUM(CASE WHEN ar AND NOT br THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
         |  CAST(SUM(CASE WHEN NOT ar AND br THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b
         |  FROM p)
         |SELECT n_pairs, n_both, n_neither, n_only_a, n_only_b,
         |  floor(CAST(n_both + n_only_a AS DOUBLE)/CAST(n_pairs AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS acc_a,
         |  floor(CAST(n_both + n_only_b AS DOUBLE)/CAST(n_pairs AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS acc_b,
         |  CASE WHEN n_only_a + n_only_b > 0 THEN
         |    floor(CAST(n_only_a - n_only_b AS DOUBLE)*CAST(n_only_a - n_only_b AS DOUBLE)
         |      /CAST(n_only_a + n_only_b AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS mcnemar_stat,
         |  CASE WHEN n_only_a + n_only_b > 0 THEN
         |    floor(greatest(abs(CAST(n_only_a - n_only_b AS DOUBLE)) - 1.0, 0.0)
         |      *greatest(abs(CAST(n_only_a - n_only_b AS DOUBLE)) - 1.0, 0.0)
         |      /CAST(n_only_a + n_only_b AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS mcnemar_cc
         |FROM c""".stripMargin
    },

    // Brown-Forsythe: per-group 1e-4-rounded quantile_cont medians,
    // |x - med| deviations, then q139's exact fx ANOVA chain verbatim.
    "q245_brown_forsythe" ->
      """WITH s0 AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
        |  FROM events WHERE value IS NOT NULL),
        |md AS (SELECT g, floor(quantile_cont(x, 0.5)*10000.0 + 0.5)/10000.0 AS med
        |       FROM s0 GROUP BY 1),
        |s AS (SELECT s0.g, CAST(floor(abs(s0.x - md.med)*1e4 + 0.5) AS BIGINT) AS x4
        |      FROM s0 JOIN md USING (g)),
        |gr AS (SELECT g, COUNT(*) AS n, SUM(CAST(x4 AS DECIMAL(38,0))) AS s1,
        |       SUM(CAST(x4 AS DECIMAL(38,0))*CAST(x4 AS DECIMAL(38,0))) AS ss FROM s GROUP BY 1),
        |t AS (SELECT n, s1,
        |  CAST(floor((CAST(s1 AS DOUBLE)/1e4)*(CAST(s1 AS DOUBLE)/1e4)/CAST(n AS DOUBLE)*1e6 + 0.5) AS BIGINT) AS bt,
        |  CAST(floor((CAST(ss AS DOUBLE)/1e8 - (CAST(s1 AS DOUBLE)/1e4)*(CAST(s1 AS DOUBLE)/1e4)/CAST(n AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS wt
        |  FROM gr),
        |m AS (SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n,
        |      SUM(CAST(s1 AS DECIMAL(38,0))) AS st,
        |      SUM(CAST(bt AS DECIMAL(38,0))) AS b, SUM(CAST(wt AS DECIMAL(38,0))) AS w FROM t)
        |SELECT k, n, CASE WHEN k > 1 AND n > k AND CAST(w AS DOUBLE)/1e6 > 0 THEN
        |  floor((((CAST(b AS DOUBLE)/1e6 - (CAST(st AS DOUBLE)/1e4)*(CAST(st AS DOUBLE)/1e4)/CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1))
        |       / ((CAST(w AS DOUBLE)/1e6) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))))*10000.0 + 0.5)/10000.0 END AS f_stat
        |FROM m""".stripMargin,

    // Runs test: dense daily grid, nearest-rank lower median on the
    // compressed (type, count) domain, lag-window run scan, pinned
    // mu/sigma assembly mirrored term-for-term.
    "q246_runs_test" ->
      """WITH e AS (SELECT event_type AS t, epoch_us(ts) // 86400000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bo AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(bo.lo, bo.hi)) AS bin FROM bo) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |dom AS (SELECT t, v, CAST(COUNT(*) AS BIGINT) AS c FROM sv GROUP BY 1, 2),
        |tot AS (SELECT t, CAST(SUM(c) AS BIGINT) AS n FROM dom GROUP BY 1),
        |cum AS (SELECT t, v, CAST(SUM(c) OVER (PARTITION BY t ORDER BY v
        |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm FROM dom),
        |md AS (SELECT cum.t, MIN(v) AS med FROM cum JOIN tot ON tot.t = cum.t
        |       WHERE cm >= (n + 1) // 2 GROUP BY 1),
        |sg AS (SELECT sv.t, sv.bin, CASE WHEN sv.v > md.med THEN 1 ELSE 0 END AS s
        |       FROM sv JOIN md ON md.t = sv.t WHERE sv.v <> md.med),
        |r AS (SELECT t, s, lag(s, 1) OVER (PARTITION BY t ORDER BY bin) AS p FROM sg),
        |cc AS (SELECT t,
        |  CAST(SUM(CASE WHEN p IS NULL OR p <> s THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
        |  CAST(SUM(s) AS BIGINT) AS n_above, CAST(SUM(1 - s) AS BIGINT) AS n_below
        |  FROM r GROUP BY 1),
        |zz AS (SELECT t, n_above, n_below, n_runs,
        |  1.0 + 2.0*CAST(n_above AS DOUBLE)*CAST(n_below AS DOUBLE)
        |    /(CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)) AS mu,
        |  (2.0*CAST(n_above AS DOUBLE)*CAST(n_below AS DOUBLE))
        |    *(2.0*CAST(n_above AS DOUBLE)*CAST(n_below AS DOUBLE)
        |      - CAST(n_above AS DOUBLE) - CAST(n_below AS DOUBLE))
        |    /((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
        |      *(CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
        |      *((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)) - 1.0)) AS sig2
        |  FROM cc)
        |SELECT t AS event_type, n_above, n_below, n_runs,
        |  CASE WHEN n_above > 0 AND n_below > 0 AND n_above + n_below > 1 AND sig2 > 0
        |    THEN floor((CAST(n_runs AS DOUBLE) - mu)/sqrt(sig2)*1000000.0 + 0.5)/1000000.0
        |  END AS z
        |FROM zz ORDER BY event_type""".stripMargin,

    // Chao1: identical token counts, exact D/S1/S2/N, one pinned
    // bias-corrected division + Good's coverage.
    "q247_chao1" ->
      """WITH tk AS (SELECT CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |  ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) END AS toks
        |  FROM documents),
        |cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY 1),
        |m AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
        |  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS s2 FROM cnt)
        |SELECT n_tokens, n_distinct, s1, s2,
        |  floor((CAST(n_distinct AS DOUBLE) + CAST(s1 AS DOUBLE)*(CAST(s1 AS DOUBLE)-1.0)
        |    /(2.0*(CAST(s2 AS DOUBLE)+1.0)))*10000.0 + 0.5)/10000.0 AS chao1,
        |  floor((1.0 - CAST(s1 AS DOUBLE)/CAST(n_tokens AS DOUBLE))*1000000.0 + 0.5)/1000000.0 AS coverage
        |FROM m""".stripMargin,

    // Burrows' Delta: identical (count desc, token asc) top-50 term
    // set, 1e-9 share snaps, 1e-12-grid mu/sd, 1e-6 z snaps, pair mean.
    "q248_burrows_delta" ->
      """WITH cg AS (SELECT src, w, CAST(COUNT(*) AS BIGINT) AS c FROM
        |  (SELECT source AS src, unnest(CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |    ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) END) AS w
        |    FROM documents WHERE source IS NOT NULL) GROUP BY 1, 2),
        |tot AS (SELECT src, CAST(SUM(c) AS BIGINT) AS nt FROM cg GROUP BY 1),
        |topw AS (SELECT w FROM (SELECT w, CAST(SUM(c) AS BIGINT) AS cgl
        |  FROM cg GROUP BY 1) ORDER BY cgl DESC, w LIMIT 50),
        |grid AS (SELECT tot.src, tot.nt, topw.w FROM tot CROSS JOIN topw),
        |sh AS (SELECT grid.src, grid.w,
        |  CAST(floor(CAST(COALESCE(cg.c, 0) AS DOUBLE)/CAST(grid.nt AS DOUBLE)*1e9 + 0.5) AS BIGINT) AS f9
        |  FROM grid LEFT JOIN cg ON cg.src = grid.src AND cg.w = grid.w),
        |mo AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS ns,
        |  CAST(SUM(f9) AS HUGEINT) AS sfx, CAST(SUM(f9*f9) AS HUGEINT) AS sff
        |  FROM sh GROUP BY 1),
        |ms AS (SELECT w,
        |  CAST(floor(CAST(sfx AS DOUBLE)/CAST(ns AS DOUBLE)*1e3 + 0.5) AS BIGINT) AS mu12,
        |  CAST(floor(sqrt((CAST(sff AS DOUBLE)
        |    - CAST(ns AS DOUBLE)*(CAST(sfx AS DOUBLE)/CAST(ns AS DOUBLE))*(CAST(sfx AS DOUBLE)/CAST(ns AS DOUBLE)))
        |    /CAST(ns AS DOUBLE))*1e3 + 0.5) AS BIGINT) AS sd12
        |  FROM mo),
        |zt AS (SELECT sh.src, sh.w,
        |  CAST(floor((CAST(sh.f9 AS DOUBLE)*1e3 - CAST(ms.mu12 AS DOUBLE))
        |    /CAST(ms.sd12 AS DOUBLE)*1e6 + 0.5) AS BIGINT) AS z6
        |  FROM sh JOIN ms ON ms.w = sh.w WHERE ms.sd12 > 0)
        |SELECT a.src AS source_a, b.src AS source_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  floor(CAST(SUM(abs(a.z6 - b.z6)) AS DOUBLE)/1e6/CAST(COUNT(*) AS DOUBLE)*10000.0 + 0.5)/10000.0 AS delta
        |FROM zt a JOIN zt b ON a.w = b.w AND a.src < b.src
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,

    // Mann-Kendall: q203's dense grid, exact pair-sign sum, exact tie
    // term, pinned tie-corrected variance + continuity-corrected z.
    "q249_mann_kendall" ->
      """WITH e AS (SELECT event_type AS t, epoch_us(ts) // 86400000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bo AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(bo.lo, bo.hi)) AS bin FROM bo) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |sp AS (SELECT a.t,
        |  CAST(SUM(CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM sv a JOIN sv b ON a.t = b.t AND a.bin < b.bin GROUP BY 1),
        |tie AS (SELECT t,
        |  CAST(SUM(tg * (tg - 1) * (2 * tg + 5)) AS BIGINT) AS tie,
        |  CAST(SUM(tg) AS BIGINT) AS n
        |  FROM (SELECT t, v, CAST(COUNT(*) AS BIGINT) AS tg FROM sv GROUP BY 1, 2)
        |  GROUP BY 1),
        |f AS (SELECT sp.t, tie.n, sp.s_stat,
        |  (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0)*(CAST(n AS DOUBLE)*2.0 + 5.0)
        |    - CAST(tie AS DOUBLE))/18.0 AS vs,
        |  CASE WHEN s_stat > 0 THEN CAST(s_stat AS DOUBLE) - 1.0
        |       WHEN s_stat < 0 THEN CAST(s_stat AS DOUBLE) + 1.0
        |       ELSE 0.0 END AS zn
        |  FROM sp JOIN tie ON tie.t = sp.t)
        |SELECT t AS event_type, n AS n_bins, s_stat,
        |  CASE WHEN n >= 2 AND vs > 0 THEN
        |    floor(zn/sqrt(vs)*1000000.0 + 0.5)/1000000.0 END AS z
        |FROM f ORDER BY event_type""".stripMargin,

    // Wasserstein-1: merged distinct-value CDF steps, exact
    // |ca*nb - cb*na|*gap integer sum, ONE pinned division.
    "q250_wasserstein" ->
      """WITH m AS (SELECT CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v4,
        |  CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS t
        |  FROM events WHERE value IS NOT NULL AND event_type IN ('click', 'view')),
        |dom AS (SELECT v4,
        |  CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM m GROUP BY 1),
        |tot AS (SELECT CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS na,
        |  CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS nb FROM dom),
        |st AS (SELECT v4,
        |  CAST(SUM(ca) OVER w AS BIGINT) AS cum_a,
        |  CAST(SUM(cb) OVER w AS BIGINT) AS cum_b,
        |  lead(v4, 1) OVER (ORDER BY v4) - v4 AS gap4
        |  FROM dom WINDOW w AS (ORDER BY v4 ROWS UNBOUNDED PRECEDING)),
        |s AS (SELECT CAST(SUM(abs(CAST(cum_a AS HUGEINT)*nb - CAST(cum_b AS HUGEINT)*na)*gap4) AS HUGEINT) AS sm
        |  FROM st CROSS JOIN tot WHERE gap4 IS NOT NULL)
        |SELECT na AS n_a, nb AS n_b,
        |  CASE WHEN na > 0 AND nb > 0 THEN
        |    floor(CAST(COALESCE(sm, 0) AS DOUBLE)/(CAST(na AS DOUBLE)*CAST(nb AS DOUBLE)*1e4)*1000000.0 + 0.5)/1000000.0
        |  END AS w1
        |FROM tot CROSS JOIN s""".stripMargin,

    // Gains chart: q229's scoring chain, distinct-score compression,
    // strictly-better bucket rule, <=10-row cumulative finish.
    "q251_gains" -> {
      val w = Similarity.lshPlanes(256, 1, seed = 7)(0)
      s"""WITH wt AS (SELECT ${w.mkString("[", ",", "]")}::DOUBLE[] AS w),
         |t AS (SELECT doc_id,
         |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
         |       ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x))
         |  END AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         |    list_reduce(list_transform(toks, tok ->
         |      wt.w[((list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
         |             (a,b) -> a*16 + b) % 2147483629) % 256) + 1]),
         |      (a,b) -> a + b) END AS raw
         |  FROM t CROSS JOIN wt),
         |cy AS (SELECT s.doc_id,
         |  CAST(floor((floor((raw + -0.05)*10000.0 + 0.5)/10000.0)*10000.0 + 0.5) AS BIGINT) AS s4,
         |  CAST(d.lang = 'en' AS BIGINT) AS y
         |  FROM s JOIN documents d USING (doc_id)),
         |dom AS (SELECT s4, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS np
         |  FROM cy GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(np) AS BIGINT) AS npt FROM dom),
         |pre AS (SELECT s4, n, np,
         |  CAST(COALESCE(SUM(n) OVER (ORDER BY s4 DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pr
         |  FROM dom),
         |bk AS (SELECT (pr * 10) // nt AS bucket,
         |  CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(np) AS BIGINT) AS n_pos
         |  FROM pre CROSS JOIN tot GROUP BY 1),
         |fin AS (SELECT bucket, n, n_pos,
         |  CAST(SUM(n_pos) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumpos
         |  FROM bk)
         |SELECT CAST(bucket AS INT) AS bucket, n, n_pos,
         |  floor(CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS pos_rate,
         |  CASE WHEN npt > 0 THEN
         |    floor(CAST(cumpos AS DOUBLE)/CAST(npt AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS gain,
         |  CASE WHEN npt > 0 THEN
         |    floor((CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE))/(CAST(npt AS DOUBLE)/CAST(nt AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS lift
         |FROM fin CROSS JOIN tot ORDER BY bucket""".stripMargin
    },

    // Welch t / Cohen's d / Hedges' g: exact per-side fixed-point
    // moments from one tagged pass, pinned double assemblies.
    "q252_welch_t" ->
      """WITH m AS (SELECT CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS HUGEINT) AS x,
        |  CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS t
        |  FROM events WHERE value IS NOT NULL AND event_type IN ('click', 'view')),
        |g AS (SELECT
        |  CAST(COUNT(CASE WHEN t = 0 THEN 1 END) AS BIGINT) AS na,
        |  CAST(COUNT(CASE WHEN t = 1 THEN 1 END) AS BIGINT) AS nb,
        |  SUM(CASE WHEN t = 0 THEN x END) AS sa,
        |  SUM(CASE WHEN t = 1 THEN x END) AS sb,
        |  SUM(CASE WHEN t = 0 THEN x*x END) AS ssa,
        |  SUM(CASE WHEN t = 1 THEN x*x END) AS ssb FROM m),
        |d AS (SELECT na, nb,
        |  CAST(sa AS DOUBLE)/1e4/CAST(na AS DOUBLE) AS ma,
        |  CAST(sb AS DOUBLE)/1e4/CAST(nb AS DOUBLE) AS mb,
        |  (CAST(ssa AS DOUBLE)/1e8 - CAST(na AS DOUBLE)*(CAST(sa AS DOUBLE)/1e4/CAST(na AS DOUBLE))*(CAST(sa AS DOUBLE)/1e4/CAST(na AS DOUBLE)))/(CAST(na AS DOUBLE) - 1) AS va,
        |  (CAST(ssb AS DOUBLE)/1e8 - CAST(nb AS DOUBLE)*(CAST(sb AS DOUBLE)/1e4/CAST(nb AS DOUBLE))*(CAST(sb AS DOUBLE)/1e4/CAST(nb AS DOUBLE)))/(CAST(nb AS DOUBLE) - 1) AS vb
        |  FROM g),
        |e AS (SELECT na, nb, ma, mb, va, vb,
        |  va/CAST(na AS DOUBLE) + vb/CAST(nb AS DOUBLE) AS se2,
        |  ((CAST(na AS DOUBLE) - 1)*va + (CAST(nb AS DOUBLE) - 1)*vb)/(CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2) AS pooled
        |  FROM d)
        |SELECT na AS n_a, nb AS n_b,
        |  CASE WHEN na > 0 THEN floor(ma*1000000.0 + 0.5)/1000000.0 END AS mean_a,
        |  CASE WHEN nb > 0 THEN floor(mb*1000000.0 + 0.5)/1000000.0 END AS mean_b,
        |  CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0 THEN
        |    floor((ma - mb)/sqrt(se2)*10000.0 + 0.5)/10000.0 END AS t_stat,
        |  CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0 THEN
        |    floor(se2*se2/((va/CAST(na AS DOUBLE))*(va/CAST(na AS DOUBLE))/(CAST(na AS DOUBLE) - 1)
        |      + (vb/CAST(nb AS DOUBLE))*(vb/CAST(nb AS DOUBLE))/(CAST(nb AS DOUBLE) - 1))*10000.0 + 0.5)/10000.0 END AS dof,
        |  CASE WHEN na >= 2 AND nb >= 2 AND pooled > 0 THEN
        |    floor((ma - mb)/sqrt(pooled)*1000000.0 + 0.5)/1000000.0 END AS cohens_d,
        |  CASE WHEN na >= 2 AND nb >= 2 AND pooled > 0 THEN
        |    floor((ma - mb)/sqrt(pooled)*(1.0 - 3.0/(4.0*(CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) - 9.0))*1000000.0 + 0.5)/1000000.0 END AS hedges_g
        |FROM e""".stripMargin,

    // Kruskal-Wallis: doubled midranks on the distinct-value domain,
    // per-group snapped A_g terms, tie-corrected H, one-row finish.
    "q253_kruskal_wallis" ->
      """WITH cells AS (SELECT CAST(event_type AS VARCHAR) AS g, CAST(value AS DOUBLE) AS v,
        |  CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2),
        |vt AS (SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY 1),
        |rk AS (SELECT v,
        |  CAST(COALESCE(SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)*2 + t + 1 AS BIGINT) AS r2,
        |  CAST(t AS HUGEINT)*t*t - t AS tie FROM vt),
        |ties AS (SELECT SUM(tie) AS ties FROM rk),
        |perg AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n,
        |  SUM(CAST(c AS HUGEINT)*r2) AS r2s
        |  FROM cells JOIN rk USING (v) GROUP BY 1),
        |nt AS (SELECT CAST(SUM(n) AS BIGINT) AS n FROM perg),
        |terms AS (SELECT CAST(floor(
        |    (CAST(r2s AS DOUBLE)/2)*(CAST(r2s AS DOUBLE)/2)
        |    /(CAST(perg.n AS DOUBLE)*CAST(nt.n AS DOUBLE)*(CAST(nt.n AS DOUBLE) + 1))*1e6 + 0.5) AS BIGINT) AS a6
        |  FROM perg CROSS JOIN nt),
        |f AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, SUM(CAST(a6 AS HUGEINT)) AS a6s FROM terms)
        |SELECT k, nt.n AS n, CAST(k - 1 AS BIGINT) AS dof,
        |  CASE WHEN k > 1 AND nt.n > k AND
        |    (1.0 - CAST(ties AS DOUBLE)/CAST(CAST(nt.n AS HUGEINT)*nt.n*nt.n - nt.n AS DOUBLE)) > 0 THEN
        |    floor((CAST(a6s AS DOUBLE)/1e6*12 - 3*(CAST(nt.n AS DOUBLE) + 1))
        |      /(1.0 - CAST(ties AS DOUBLE)/CAST(CAST(nt.n AS HUGEINT)*nt.n*nt.n - nt.n AS DOUBLE))*10000.0 + 0.5)/10000.0
        |  END AS h_stat
        |FROM f CROSS JOIN nt CROSS JOIN ties""".stripMargin,

    // Jarque-Bera per event type: exact power sums, pinned binomial
    // central-moment expansions, per-group one-row assembly.
    "q254_jarque_bera" ->
      """WITH m AS (SELECT CAST(event_type AS VARCHAR) AS g,
        |  CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS HUGEINT) AS x
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS s1,
        |  SUM(x*x) AS s2, SUM(x*x*x) AS s3, SUM(x*x*x*x) AS s4
        |  FROM m GROUP BY 1),
        |b AS (SELECT g, n,
        |  CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE) AS m1,
        |  CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE) AS r2,
        |  CAST(s3 AS DOUBLE)/CAST(n AS DOUBLE) AS r3,
        |  CAST(s4 AS DOUBLE)/CAST(n AS DOUBLE) AS r4 FROM a),
        |c AS (SELECT g, n,
        |  r2 - m1*m1 AS m2,
        |  r3 - 3*m1*r2 + 2*m1*m1*m1 AS m3,
        |  r4 - 4*m1*r3 + 6*m1*m1*r2 - 3*m1*m1*m1*m1 AS m4 FROM b)
        |SELECT g AS event_type, n,
        |  CASE WHEN n >= 2 AND m2 > 0 THEN
        |    floor(m3/(sqrt(m2)*m2)*1000000.0 + 0.5)/1000000.0 END AS skewness,
        |  CASE WHEN n >= 2 AND m2 > 0 THEN
        |    floor(m4/(m2*m2)*1000000.0 + 0.5)/1000000.0 END AS kurtosis,
        |  CASE WHEN n >= 2 AND m2 > 0 THEN
        |    floor(CAST(n AS DOUBLE)/6*(m3/(sqrt(m2)*m2)*(m3/(sqrt(m2)*m2))
        |      + (m4/(m2*m2) - 3)*(m4/(m2*m2) - 3)/4)*10000.0 + 0.5)/10000.0 END AS jb_stat
        |FROM c ORDER BY event_type""".stripMargin,

    // Cramér's V family: q107's densified chi2 chain verbatim, then
    // four pinned single divisions of the ROUNDED chi2.
    "q255_cramers_v" ->
      """WITH cells AS (SELECT CAST(lang AS VARCHAR) r, CAST(source AS VARCHAR) c, COUNT(*) o
        |  FROM documents GROUP BY 1, 2),
        |rt AS (SELECT r, SUM(o) rt FROM cells GROUP BY 1),
        |ct AS (SELECT c, SUM(o) ct FROM cells GROUP BY 1),
        |t AS (SELECT SUM(o) n, COUNT(DISTINCT r) nr, COUNT(DISTINCT c) nc FROM cells),
        |grid AS (SELECT rt.r, ct.c, rt.rt, ct.ct, COALESCE(cells.o, 0) AS o
        |  FROM rt CROSS JOIN ct LEFT JOIN cells ON cells.r = rt.r AND cells.c = ct.c),
        |terms AS (SELECT CAST(floor(
        |    ((CAST(o AS DOUBLE) - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(t.n AS DOUBLE))
        |     *(CAST(o AS DOUBLE) - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(t.n AS DOUBLE))
        |     /(CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(t.n AS DOUBLE)))*1000000.0 + 0.5)
        |   /1000000.0 AS DECIMAL(28,6)) AS term
        |  FROM grid, t),
        |c2 AS (SELECT floor(CAST((SELECT SUM(term) FROM terms) AS DOUBLE)*10000.0 + 0.5)/10000.0 AS chi2)
        |SELECT CAST(n AS BIGINT) AS n, CAST(nr AS BIGINT) AS n_rows, CAST(nc AS BIGINT) AS n_cols, chi2,
        |  CASE WHEN n > 0 AND least(nr, nc) > 1 THEN
        |    floor(sqrt(chi2/(CAST(n AS DOUBLE)*(CAST(least(nr, nc) AS DOUBLE) - 1)))*1000000.0 + 0.5)/1000000.0 END AS cramers_v,
        |  CASE WHEN n > 0 AND least(nr, nc) > 1 THEN
        |    floor(sqrt(chi2/CAST(n AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS phi,
        |  CASE WHEN n > 0 AND least(nr, nc) > 1 THEN
        |    floor(sqrt(chi2/(chi2 + CAST(n AS DOUBLE)))*1000000.0 + 0.5)/1000000.0 END AS contingency_c,
        |  CASE WHEN n > 0 AND least(nr, nc) > 1 THEN
        |    floor(sqrt(chi2/(CAST(n AS DOUBLE)*sqrt((CAST(nr AS DOUBLE) - 1)*(CAST(nc AS DOUBLE) - 1))))*1000000.0 + 0.5)/1000000.0 END AS tschuprow_t
        |FROM t CROSS JOIN c2""".stripMargin,

    // Assortativity: q126's mining chain, directed both ways, exact
    // degree moment sums, one pinned Pearson assembly.
    "q256_assortativity" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |e AS (SELECT item_a, item_b FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |ed AS (SELECT item_a AS src, item_b AS dst FROM e
        |       UNION ALL SELECT item_b, item_a FROM e),
        |dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM ed GROUP BY 1),
        |jk AS (SELECT dj.d AS j, dk.d AS k FROM ed
        |       JOIN dg dj ON dj.src = ed.src JOIN dg dk ON dk.src = ed.dst),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
        |  SUM(CAST(j AS HUGEINT)) AS sj, SUM(CAST(k AS HUGEINT)) AS sk,
        |  SUM(CAST(j AS HUGEINT)*k) AS sjk, SUM(CAST(j AS HUGEINT)*j) AS sjj,
        |  SUM(CAST(k AS HUGEINT)*k) AS skk FROM jk)
        |SELECT m AS n_directed_edges,
        |  CASE WHEN (CAST(m AS DOUBLE)*CAST(sjj AS DOUBLE) - CAST(sj AS DOUBLE)*CAST(sj AS DOUBLE)) > 0
        |        AND (CAST(m AS DOUBLE)*CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE)*CAST(sk AS DOUBLE)) > 0 THEN
        |    floor((CAST(m AS DOUBLE)*CAST(sjk AS DOUBLE) - CAST(sj AS DOUBLE)*CAST(sk AS DOUBLE))
        |      /sqrt((CAST(m AS DOUBLE)*CAST(sjj AS DOUBLE) - CAST(sj AS DOUBLE)*CAST(sj AS DOUBLE))
        |        *(CAST(m AS DOUBLE)*CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE)*CAST(sk AS DOUBLE)))*1000000.0 + 0.5)/1000000.0
        |  END AS assortativity
        |FROM s""".stripMargin,

    // Local clustering: q126's triangle closure credited to all three
    // corners, degree-attached, one pinned division per node.
    "q257_local_clustering" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |e AS (SELECT item_a, item_b FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |tri AS (SELECT e1.item_a AS a, e1.item_b AS bb, e2.item_b AS c
        |  FROM e e1 JOIN e e2 ON e2.item_a = e1.item_b
        |  JOIN e e3 ON e3.item_a = e1.item_a AND e3.item_b = e2.item_b),
        |corner AS (SELECT a AS item FROM tri UNION ALL SELECT bb FROM tri
        |           UNION ALL SELECT c FROM tri),
        |ta AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS nt FROM corner GROUP BY 1),
        |dg AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS degree FROM
        |  (SELECT item_a AS item FROM e UNION ALL SELECT item_b FROM e) GROUP BY 1)
        |SELECT dg.item, degree, COALESCE(nt, 0) AS n_triangles,
        |  CASE WHEN degree >= 2 THEN
        |    floor(CAST(COALESCE(nt, 0) AS DOUBLE)/(CAST(degree*(degree - 1) AS DOUBLE)/2)*1000000.0 + 0.5)/1000000.0
        |  END AS local_cc
        |FROM dg LEFT JOIN ta USING (item) ORDER BY item""".stripMargin,

    // Adamic-Adar: wedge enumeration at bounded-degree centers,
    // 1e-9-snapped 1/ln(d) weights, NOT EXISTS edge filter, top-100.
    "q258_adamic_adar" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |e AS (SELECT item_a, item_b FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |adj AS (SELECT item_a AS w, item_b AS x FROM e
        |        UNION ALL SELECT item_b, item_a FROM e),
        |dg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |cen AS (SELECT w, CAST(floor(1.0/ln(CAST(d AS DOUBLE))*1e9 + 0.5) AS BIGINT) AS w9
        |  FROM dg WHERE d >= 2 AND d <= 1000),
        |wg AS (SELECT a1.x AS x, a2.x AS y, cen.w9 FROM adj a1
        |  JOIN cen ON cen.w = a1.w JOIN adj a2 ON a2.w = a1.w WHERE a1.x < a2.x),
        |sc AS (SELECT x AS item_a, y AS item_b,
        |  CAST(COUNT(*) AS BIGINT) AS common_neighbors,
        |  CAST(SUM(w9) AS BIGINT) AS s9 FROM wg GROUP BY 1, 2),
        |flt AS (SELECT * FROM sc WHERE NOT EXISTS
        |  (SELECT 1 FROM e WHERE e.item_a = sc.item_a AND e.item_b = sc.item_b))
        |SELECT item_a, item_b, common_neighbors,
        |  floor(CAST(s9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS aa_score
        |FROM flt ORDER BY aa_score DESC, item_a, item_b LIMIT 100""".stripMargin,

    // Lexical richness: exact (source, token) multiplicities, pinned
    // K/D/TTR divisions, 1e-9 ln-snapped Herdan C.
    "q259_lexical_richness" ->
      """WITH tok AS (SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS m FROM tok GROUP BY 1, 2),
        |g AS (SELECT source, CAST(SUM(m) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v,
        |  CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |  SUM(CAST(m AS HUGEINT)*m) AS m2, SUM(CAST(m AS HUGEINT)*(m - 1)) AS mm1
        |  FROM c GROUP BY 1)
        |SELECT source, n AS n_tokens, v AS vocab, v1 AS hapax,
        |  CASE WHEN n >= 2 THEN
        |    floor(1e4*(CAST(m2 AS DOUBLE) - CAST(n AS DOUBLE))/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE))*10000.0 + 0.5)/10000.0 END AS yule_k,
        |  CASE WHEN n >= 2 THEN
        |    floor(CAST(mm1 AS DOUBLE)/(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1))*1000000.0 + 0.5)/1000000.0 END AS simpson_d,
        |  CASE WHEN n >= 2 THEN
        |    floor(CAST(CAST(floor(ln(CAST(v AS DOUBLE))*1e9 + 0.5) AS BIGINT) AS DOUBLE)
        |      /CAST(CAST(floor(ln(CAST(n AS DOUBLE))*1e9 + 0.5) AS BIGINT) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS herdan_c,
        |  floor(CAST(v AS DOUBLE)/CAST(n AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS ttr,
        |  floor(CAST(v1 AS DOUBLE)/CAST(v AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS hapax_ratio
        |FROM g ORDER BY source""".stripMargin,

    // Coleman-Liau + ARI: exact letter/char/word/sentence counts
    // (q187's sentence convention), pinned published coefficients.
    "q260_coleman_liau" ->
      """WITH w AS (SELECT doc_id, lower(text) AS lt FROM documents
        |  WHERE length(trim(text)) > 0),
        |c AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(lt, '[a-z]')) AS BIGINT) AS n_letters,
        |  CAST(len(regexp_extract_all(lt, '[a-z0-9]')) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_split_to_array(trim(lt), '\s+')) AS BIGINT) AS n_words,
        |  greatest(1, CAST(len(regexp_extract_all(lt, '[.!?]+')) AS BIGINT)) AS n_sentences
        |  FROM w)
        |SELECT doc_id, n_letters, n_chars, n_words, n_sentences,
        |  floor((0.0588*(CAST(n_letters AS DOUBLE)*100/n_words) - 0.296*(CAST(n_sentences AS DOUBLE)*100/n_words) - 15.8)*10000.0 + 0.5)/10000.0 AS cli,
        |  floor((4.71*(CAST(n_chars AS DOUBLE)/n_words) + 0.5*(CAST(n_words AS DOUBLE)/n_sentences) - 21.43)*10000.0 + 0.5)/10000.0 AS ari
        |FROM c ORDER BY doc_id""".stripMargin,

    // TV/Hellinger/Bhattacharyya: q175's pair chain with three
    // 1e-12-snapped per-term contributions + unshared closed forms.
    "q261_dist_distances" ->
      """WITH st AS (SELECT src, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |  SELECT source AS src,
        |    unnest(list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x))) AS w
        |  FROM documents WHERE source IS NOT NULL AND length(trim(text)) > 0) GROUP BY 1, 2),
        |ns AS (SELECT src, CAST(SUM(c) AS BIGINT) AS n FROM st GROUP BY 1),
        |p AS (SELECT a.src AS src_a, b.src AS src_b, na.n AS na, nb.n AS nb,
        |  CAST(a.c AS DOUBLE)/CAST(na.n AS DOUBLE) AS pa,
        |  CAST(b.c AS DOUBLE)/CAST(nb.n AS DOUBLE) AS pb, a.c AS ca, b.c AS cb
        |  FROM st a JOIN st b ON a.w = b.w AND a.src < b.src
        |  JOIN ns na ON na.src = a.src JOIN ns nb ON nb.src = b.src),
        |tt AS (SELECT src_a, src_b, na, nb, COUNT(*) AS n_shared_terms,
        |  CAST(SUM(ca) AS BIGINT) AS sca, CAST(SUM(cb) AS BIGINT) AS scb,
        |  SUM(CAST(CAST(floor(0.5*abs(pa - pb)*1e12 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS tvs,
        |  SUM(CAST(CAST(floor(0.5*(sqrt(pa) - sqrt(pb))*(sqrt(pa) - sqrt(pb))*1e12 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS hs,
        |  SUM(CAST(CAST(floor(sqrt(pa*pb)*1e12 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS bcs
        |  FROM p GROUP BY 1, 2, 3, 4),
        |f AS (SELECT src_a, src_b, n_shared_terms,
        |  (CAST(na AS DOUBLE) - CAST(sca AS DOUBLE))/CAST(na AS DOUBLE) AS ua,
        |  (CAST(nb AS DOUBLE) - CAST(scb AS DOUBLE))/CAST(nb AS DOUBLE) AS ub,
        |  CAST(tvs AS DOUBLE)/1e12 AS tvd, CAST(hs AS DOUBLE)/1e12 AS hd,
        |  CAST(bcs AS DOUBLE)/1e12 AS bc FROM tt)
        |SELECT src_a, src_b, n_shared_terms,
        |  floor((tvd + 0.5*(ua + ub))*1000000.0 + 0.5)/1000000.0 AS tv,
        |  floor(sqrt(hd + 0.5*(ua + ub))*1000000.0 + 0.5)/1000000.0 AS hellinger,
        |  CASE WHEN bc > 0 THEN floor(-ln(bc)*1000000.0 + 0.5)/1000000.0 END AS bhattacharyya
        |FROM f ORDER BY 1, 2""".stripMargin,

    // Wilson interval: exact per-type n/k, one pinned center/half
    // assembly with the 1.959964 two-sided-95% literal.
    "q262_wilson" ->
      """WITH s AS (SELECT event_type, CAST(value > 50 AS BOOLEAN) AS ok
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM s GROUP BY 1),
        |f AS (SELECT event_type, n, k,
        |  CAST(k AS DOUBLE)/CAST(n AS DOUBLE) AS p,
        |  1.959964*1.959964 AS z2, CAST(n AS DOUBLE) AS nd FROM g)
        |SELECT event_type, n, k,
        |  floor(p*1000000.0 + 0.5)/1000000.0 AS rate,
        |  floor(((p + z2/(nd*2))/(1.0 + z2/nd)
        |    - 1.959964*sqrt(p*(1.0 - p)/nd + z2/(nd*nd*4))/(1.0 + z2/nd))*1000000.0 + 0.5)/1000000.0 AS wilson_lo,
        |  floor(((p + z2/(nd*2))/(1.0 + z2/nd)
        |    + 1.959964*sqrt(p*(1.0 - p)/nd + z2/(nd*nd*4))/(1.0 + z2/nd))*1000000.0 + 0.5)/1000000.0 AS wilson_hi
        |FROM f ORDER BY event_type""".stripMargin,

    // Periodogram: q249's dense grid, exact B·x−S residuals,
    // 1e-9-snapped cos/sin projections, integer-snapped power, share.
    "q263_periodogram" ->
      """WITH e AS (SELECT event_type AS t, epoch_us(ts) // 86400000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bo AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(bo.lo, bo.hi)) AS bin FROM bo) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |st AS (SELECT t, min(bin) AS b0, CAST(COUNT(*) AS BIGINT) AS bb,
        |  CAST(SUM(v) AS BIGINT) AS sx FROM sv GROUP BY 1),
        |base AS (SELECT sv.t, sv.bin - st.b0 AS b, st.bb*sv.v - st.sx AS y, st.bb
        |  FROM sv JOIN st ON st.t = sv.t),
        |pr AS (SELECT t, b, y, bb, unnest(generate_series(2, 14)) AS period FROM base),
        |pj AS (SELECT t, period, bb,
        |  CAST(y AS DECIMAL(38,0)) * CAST(floor(cos(6.283185307179586*CAST(b % period AS DOUBLE)/CAST(period AS DOUBLE))*1e9 + 0.5) AS BIGINT) AS cy,
        |  CAST(y AS DECIMAL(38,0)) * CAST(floor(sin(6.283185307179586*CAST(b % period AS DOUBLE)/CAST(period AS DOUBLE))*1e9 + 0.5) AS BIGINT) AS sy
        |  FROM pr),
        |ag AS (SELECT t, period, bb, SUM(cy) AS cc, SUM(sy) AS ss FROM pj GROUP BY 1, 2, 3),
        |pw AS (SELECT t, period,
        |  CAST(floor((CAST(cc AS DOUBLE)/1e9/CAST(bb AS DOUBLE))*(CAST(cc AS DOUBLE)/1e9/CAST(bb AS DOUBLE))
        |    + (CAST(ss AS DOUBLE)/1e9/CAST(bb AS DOUBLE))*(CAST(ss AS DOUBLE)/1e9/CAST(bb AS DOUBLE)) + 0.5) AS BIGINT) AS power
        |  FROM ag),
        |tt AS (SELECT t, CAST(SUM(power) AS BIGINT) AS tot FROM pw GROUP BY 1)
        |SELECT pw.t AS event_type, CAST(period AS INT) AS period, power,
        |  CASE WHEN tot > 0 THEN
        |    floor(CAST(power AS DOUBLE)/CAST(tot AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS share
        |FROM pw JOIN tt ON tt.t = pw.t ORDER BY event_type, period""".stripMargin,

    // ANN recall: q25's brute chain + q32's IVF chain on the same
    // queries, id-joined, one pinned recall division per query.
    "q264_ann_recall" ->
      """WITH s AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) AS c
        | FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
        | WHERE q.vec_id < 10),
        |r AS (SELECT q_id, n_id,
        |  row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rn FROM s),
        |bf AS (SELECT q_id, n_id FROM r WHERE rn <= 5),
        |cc AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    ((vec_id % 2147483648) * 2654435761) % 4294967296 AS h FROM embeddings),
        |cent AS (SELECT v AS cv, row_number() OVER (ORDER BY h, vec_id) - 1 AS cid
        |         FROM cc ORDER BY h, vec_id LIMIT 16),
        |sc AS (SELECT a.vec_id, a.v, cent.cid, list_cosine_similarity(a.v, cent.cv) AS s
        |       FROM cc a CROSS JOIN cent),
        |assign AS (SELECT vec_id, v, cid AS cluster FROM
        |  (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM sc)
        |  WHERE rn = 1),
        |probes AS (SELECT vec_id AS q_id, v AS qv, cid AS probe FROM
        |  (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
        |   FROM sc WHERE vec_id < 10)
        |  WHERE rn <= 4),
        |cand AS (SELECT p.q_id, p.qv, a.vec_id AS n_id, a.v AS nv
        |         FROM probes p JOIN assign a ON a.cluster = p.probe AND a.vec_id <> p.q_id),
        |r2 AS (SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY c2 DESC, n_id) AS rn FROM
        |  (SELECT q_id, n_id, list_cosine_similarity(qv, nv) AS c2 FROM cand)),
        |iv AS (SELECT q_id, n_id FROM r2 WHERE rn <= 5),
        |tc AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_truth FROM bf GROUP BY 1),
        |h AS (SELECT bf.q_id, CAST(COUNT(*) AS BIGINT) AS nh
        |      FROM bf JOIN iv ON iv.q_id = bf.q_id AND iv.n_id = bf.n_id GROUP BY 1)
        |SELECT tc.q_id, n_truth, COALESCE(nh, 0) AS n_hits,
        |  floor(CAST(COALESCE(nh, 0) AS DOUBLE)/CAST(n_truth AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS recall
        |FROM tc LEFT JOIN h ON h.q_id = tc.q_id ORDER BY tc.q_id""".stripMargin,

    // Fleiss' kappa: q182's langId chain on text and on the 100-char
    // prefix + the declared label, exact integer cell sums, one-row
    // pinned P-bar / P-e / kappa finish.
    "q265_fleiss_kappa" -> {
      val cands = functions.stopwords.toSeq.sortBy(_._1).map { case (l, sw) =>
        s"('$l', [${sw.map(w => s"'$w'").mkString(",")}])"
      }.mkString(", ")
      s"""WITH u(l, sw) AS (SELECT * FROM (VALUES $cands)),
         |ids AS (SELECT doc_id FROM documents WHERE lang IS NOT NULL),
         |fullp AS (SELECT doc_id, cand AS r FROM (
         |  SELECT b.doc_id, u.l AS cand,
         |    row_number() OVER (PARTITION BY b.doc_id
         |      ORDER BY len(list_intersect(b.toks, u.sw)) DESC, u.l DESC) AS rn
         |  FROM (SELECT doc_id,
         |        list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS toks
         |        FROM documents) b, u) WHERE rn = 1),
         |prep AS (SELECT doc_id, cand AS r FROM (
         |  SELECT b.doc_id, u.l AS cand,
         |    row_number() OVER (PARTITION BY b.doc_id
         |      ORDER BY len(list_intersect(b.toks, u.sw)) DESC, u.l DESC) AS rn
         |  FROM (SELECT doc_id,
         |        list_distinct(regexp_split_to_array(trim(lower(substr(text, 1, 100))), '\\s+')) AS toks
         |        FROM documents) b, u) WHERE rn = 1),
         |melted AS (
         |  SELECT d.doc_id AS i, d.lang AS r FROM documents d JOIN ids USING (doc_id)
         |  UNION ALL SELECT fullp.doc_id, fullp.r FROM fullp JOIN ids USING (doc_id)
         |  UNION ALL SELECT prep.doc_id, prep.r FROM prep JOIN ids USING (doc_id)),
         |cells AS (SELECT i, r, CAST(COUNT(*) AS BIGINT) AS nij FROM melted GROUP BY 1, 2),
         |pi AS (SELECT i, SUM(CAST(nij AS HUGEINT)*nij) AS s2 FROM cells GROUP BY 1),
         |a1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items, SUM(s2) AS s FROM pi),
         |ct AS (SELECT r, CAST(SUM(nij) AS BIGINT) AS cj FROM cells GROUP BY 1),
         |a2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_categories,
         |  SUM(CAST(cj AS HUGEINT)*cj) AS c2 FROM ct),
         |f AS (SELECT n_items, n_categories,
         |  (CAST(s AS DOUBLE) - CAST(n_items AS DOUBLE)*3)/(CAST(n_items AS DOUBLE)*3*2) AS pbar,
         |  CAST(c2 AS DOUBLE)/((CAST(n_items AS DOUBLE)*3)*(CAST(n_items AS DOUBLE)*3)) AS pe
         |  FROM a1 CROSS JOIN a2)
         |SELECT n_items, CAST(3 AS INT) AS n_raters, n_categories,
         |  CASE WHEN n_items > 0 THEN floor(pbar*1000000.0 + 0.5)/1000000.0 END AS p_observed,
         |  CASE WHEN n_items > 0 THEN floor(pe*1000000.0 + 0.5)/1000000.0 END AS p_expected,
         |  CASE WHEN n_items > 0 AND pe < 1.0 THEN
         |    floor((pbar - pe)/(1.0 - pe)*10000.0 + 0.5)/10000.0 END AS kappa
         |FROM f""".stripMargin
    },

    // HITS: identical distinct edge list, 2 unrolled auth/hub rounds,
    // exact (s * 1e6) // max integer normalization each half-round.
    "q266_hits" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
        |h0 AS (SELECT DISTINCT src, CAST(1000000 AS BIGINT) AS v FROM e),
        |ar1 AS (SELECT dst, SUM(v) AS s FROM e JOIN h0 USING (src) GROUP BY 1),
        |am1 AS (SELECT MAX(s) AS mx FROM ar1),
        |a1 AS (SELECT dst, (s * 1000000) // mx AS v FROM ar1 CROSS JOIN am1),
        |hr1 AS (SELECT src, SUM(v) AS s FROM e JOIN a1 USING (dst) GROUP BY 1),
        |hm1 AS (SELECT MAX(s) AS mx FROM hr1),
        |h1 AS (SELECT src, (s * 1000000) // mx AS v FROM hr1 CROSS JOIN hm1),
        |ar2 AS (SELECT dst, SUM(v) AS s FROM e JOIN h1 USING (src) GROUP BY 1),
        |am2 AS (SELECT MAX(s) AS mx FROM ar2),
        |a2 AS (SELECT dst, (s * 1000000) // mx AS v FROM ar2 CROSS JOIN am2),
        |hr2 AS (SELECT src, SUM(v) AS s FROM e JOIN a2 USING (dst) GROUP BY 1),
        |hm2 AS (SELECT MAX(s) AS mx FROM hr2),
        |h2 AS (SELECT src, (s * 1000000) // mx AS v FROM hr2 CROSS JOIN hm2)
        |SELECT side, item, CAST(score_fx AS BIGINT) AS score_fx FROM (
        |  SELECT 'auth' AS side, dst AS item, v AS score_fx FROM a2
        |  UNION ALL SELECT 'hub', src, v FROM h2)
        |ORDER BY side, score_fx DESC, item""".stripMargin,

    // Eigenvector centrality: the q119 mined-edge chain + 3 unrolled
    // x' = A x rounds with the same exact integer max-normalization.
    "q267_eigencentrality" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS a, y.item AS bb FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |e0 AS (SELECT a, bb FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |e AS (SELECT a AS src, bb AS dst FROM e0 UNION ALL SELECT bb, a FROM e0),
        |nodes AS (SELECT DISTINCT src AS item FROM e),
        |x0 AS (SELECT item, CAST(1000000 AS BIGINT) AS v FROM nodes),
        |r1 AS (SELECT e.dst, SUM(x0.v) AS s FROM e JOIN x0 ON e.src = x0.item GROUP BY 1),
        |m1 AS (SELECT MAX(s) AS mx FROM r1),
        |x1 AS (SELECT nodes.item, COALESCE((r1.s * 1000000) // m1.mx, 0) AS v
        |       FROM nodes CROSS JOIN m1 LEFT JOIN r1 ON nodes.item = r1.dst),
        |r2 AS (SELECT e.dst, SUM(x1.v) AS s FROM e JOIN x1 ON e.src = x1.item GROUP BY 1),
        |m2 AS (SELECT MAX(s) AS mx FROM r2),
        |x2 AS (SELECT nodes.item, COALESCE((r2.s * 1000000) // m2.mx, 0) AS v
        |       FROM nodes CROSS JOIN m2 LEFT JOIN r2 ON nodes.item = r2.dst),
        |r3 AS (SELECT e.dst, SUM(x2.v) AS s FROM e JOIN x2 ON e.src = x2.item GROUP BY 1),
        |m3 AS (SELECT MAX(s) AS mx FROM r3),
        |x3 AS (SELECT nodes.item, COALESCE((r3.s * 1000000) // m3.mx, 0) AS v
        |       FROM nodes CROSS JOIN m3 LEFT JOIN r3 ON nodes.item = r3.dst)
        |SELECT item, CAST(v AS BIGINT) AS eig_fx FROM x3
        |ORDER BY eig_fx DESC, item""".stripMargin,

    // Ljung-Box: the q218 ACF chain verbatim, each summand r^2/(n-k)
    // snapped to the 1e-12 integer grid before the per-type sum.
    "q268_ljung_box" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |st AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
        |       FROM sv GROUP BY 1),
        |dn AS (SELECT sv.t,
        |  SUM(CAST(st.n*sv.v - st.s AS DECIMAL(38,0)) * CAST(st.n*sv.v - st.s AS DECIMAL(38,0))) AS den
        |  FROM sv JOIN st ON sv.t = st.t GROUP BY 1),
        |pr AS (SELECT a.t, CAST(l.lag AS BIGINT) AS lag, a.v AS v1, bb.v AS v2
        |  FROM sv a CROSS JOIN (SELECT unnest(range(1, 7)) AS lag) l
        |  JOIN sv bb ON bb.t = a.t AND bb.bin = a.bin + l.lag),
        |nm AS (SELECT pr.t, pr.lag,
        |  SUM(CAST(st.n*pr.v1 - st.s AS DECIMAL(38,0)) * CAST(st.n*pr.v2 - st.s AS DECIMAL(38,0))) AS num
        |  FROM pr JOIN st ON pr.t = st.t GROUP BY 1, 2),
        |r AS (SELECT nm.t, nm.lag, st.n,
        |  CASE WHEN den > 0 THEN
        |    floor((CAST(num AS DOUBLE)/CAST(den AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS acf
        |  FROM nm JOIN dn ON nm.t = dn.t JOIN st ON nm.t = st.t),
        |lb AS (SELECT t, MAX(n) AS n_bins, CAST(COUNT(*) AS BIGINT) AS n_lags,
        |  SUM(CAST(floor(acf*acf/CAST(n - lag AS DOUBLE)*1e12 + 0.5) AS BIGINT)) AS s12
        |  FROM r WHERE acf IS NOT NULL AND lag < n GROUP BY 1)
        |SELECT t AS event_type, n_bins, n_lags,
        |  floor(CAST(n_bins AS DOUBLE)*(CAST(n_bins AS DOUBLE) + 2.0)
        |    *(CAST(s12 AS DOUBLE)/1e12)*1000000.0 + 0.5)/1000000.0 AS q_stat
        |FROM lb ORDER BY event_type""".stripMargin,

    // Durbin-Watson: identical (type, bin) mean collapse, DECIMAL
    // moment fit with 1e-9-snapped coefficients, 1e-9-snapped
    // residuals, consecutive-bin differences, one 1e-6 division.
    "q269_durbin_watson" ->
      """WITH e AS (SELECT event_type AS t, epoch_us(ts) // 3600000000 AS bin,
        |  CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v4
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |cells AS (SELECT t, bin,
        |  CAST(floor(CAST(SUM(v4) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS y4
        |  FROM e GROUP BY 1, 2),
        |mins AS (SELECT t, MIN(bin) AS b0 FROM cells GROUP BY 1),
        |mom AS (SELECT c.t, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(c.bin - m.b0 AS DECIMAL(38,0)) * CAST(c.bin - m.b0 AS DECIMAL(38,0))) AS sxx,
        |  SUM(CAST(c.bin - m.b0 AS DECIMAL(38,0)) * CAST(c.y4 AS DECIMAL(38,0))) AS sxy,
        |  SUM(CAST(c.bin - m.b0 AS DECIMAL(38,0))) AS sx,
        |  SUM(CAST(c.y4 AS DECIMAL(38,0))) AS sy
        |  FROM cells c JOIN mins m ON c.t = m.t GROUP BY 1 HAVING COUNT(*) >= 3),
        |fit AS (SELECT t, n,
        |  floor(((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)/1e4
        |          - CAST(sx AS DOUBLE)*(CAST(sy AS DOUBLE)/1e4))
        |    / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)))
        |    *1e9 + 0.5)/1e9 AS beta,
        |  floor(((CAST(sy AS DOUBLE)/1e4
        |      - ((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)/1e4
        |          - CAST(sx AS DOUBLE)*(CAST(sy AS DOUBLE)/1e4))
        |        / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)))
        |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))*1e9 + 0.5)/1e9 AS alpha
        |  FROM mom
        |  WHERE CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) > 0),
        |resid AS (SELECT c.t, c.bin, f.n,
        |  CAST(floor((CAST(c.y4 AS DOUBLE)/1e4
        |    - (f.alpha + f.beta * CAST(c.bin - m.b0 AS DOUBLE)))*1e9 + 0.5) AS BIGINT) AS e9
        |  FROM cells c JOIN mins m ON c.t = m.t JOIN fit f ON c.t = f.t),
        |dnm AS (SELECT t, MAX(n) AS n_bins,
        |  SUM(CAST(e9 AS DECIMAL(38,0)) * CAST(e9 AS DECIMAL(38,0))) AS ss FROM resid GROUP BY 1),
        |nmr AS (SELECT a.t,
        |  SUM(CAST(b2.e9 - a.e9 AS DECIMAL(38,0)) * CAST(b2.e9 - a.e9 AS DECIMAL(38,0))) AS sd,
        |  CAST(COUNT(*) AS BIGINT) AS n_diffs
        |  FROM resid a JOIN resid b2 ON a.t = b2.t AND b2.bin = a.bin + 1 GROUP BY 1)
        |SELECT dnm.t AS event_type, n_bins, n_diffs,
        |  CASE WHEN ss > 0 THEN
        |    floor(CAST(sd AS DOUBLE)/CAST(ss AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS dw
        |FROM dnm JOIN nmr ON dnm.t = nmr.t ORDER BY event_type""".stripMargin,

    // Kendall tau-b: identical cell collapse, upper-triangle cell
    // pairing, margin tie sums carried 2-scaled, one sqrt division.
    "q270_kendall_tau" ->
      """WITH s AS (SELECT CAST(l_quantity AS BIGINT) AS x,
        |  CAST(floor(CAST(l_extendedprice AS DOUBLE)/10000.0) AS BIGINT) AS y
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
        |pr AS (SELECT a.x AS x1, a.y AS y1, a.c AS c1, b2.x AS x2, b2.y AS y2, b2.c AS c2
        |  FROM cells a, cells b2
        |  WHERE a.x < b2.x OR (a.x = b2.x AND a.y < b2.y)),
        |cd AS (SELECT
        |  SUM(CASE WHEN x1 < x2 AND y1 < y2 THEN CAST(c1 AS HUGEINT)*c2 ELSE 0 END) AS nc,
        |  SUM(CASE WHEN x1 < x2 AND y1 > y2 THEN CAST(c1 AS HUGEINT)*c2 ELSE 0 END) AS nd
        |  FROM pr),
        |tx AS (SELECT SUM(CAST(t AS HUGEINT)*(t-1)) AS t2x FROM
        |  (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY x)),
        |ty AS (SELECT SUM(CAST(t AS HUGEINT)*(t-1)) AS t2y FROM
        |  (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY y)),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells)
        |SELECT n, n_cells, CAST(nc AS BIGINT) AS concordant, CAST(nd AS BIGINT) AS discordant,
        |  CASE WHEN (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0)/2.0 - CAST(t2x AS DOUBLE)/2.0) > 0
        |        AND (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0)/2.0 - CAST(t2y AS DOUBLE)/2.0) > 0
        |  THEN floor((CAST(nc AS DOUBLE) - CAST(nd AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0)/2.0 - CAST(t2x AS DOUBLE)/2.0)
        |         * (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0)/2.0 - CAST(t2y AS DOUBLE)/2.0))
        |    *1000000.0 + 0.5)/1000000.0 END AS tau_b
        |FROM tot CROSS JOIN cd CROSS JOIN tx CROSS JOIN ty""".stripMargin,

    // Cochran's Q: identical complete-case flags, exact integer
    // row/column sums, one pinned division.
    "q271_cochran_q" ->
      """WITH f AS (SELECT
        |  CAST(text LIKE '%@%' AS INT) AS f1,
        |  CAST(text LIKE '%http%' AS INT) AS f2,
        |  CAST(length(text) > 200 AS INT) AS f3
        |  FROM documents WHERE text IS NOT NULL),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_subjects,
        |  CAST(SUM(f1 + f2 + f3) AS BIGINT) AS nn,
        |  CAST(SUM((f1 + f2 + f3)*(f1 + f2 + f3)) AS BIGINT) AS r2,
        |  CAST(SUM(f1) AS HUGEINT)*CAST(SUM(f1) AS HUGEINT)
        |    + CAST(SUM(f2) AS HUGEINT)*CAST(SUM(f2) AS HUGEINT)
        |    + CAST(SUM(f3) AS HUGEINT)*CAST(SUM(f3) AS HUGEINT) AS c2
        |  FROM f)
        |SELECT n_subjects, CAST(3 AS INT) AS k, nn AS n_successes,
        |  CASE WHEN 3.0*CAST(nn AS DOUBLE) - CAST(r2 AS DOUBLE) > 0 THEN
        |    floor(2.0*(3.0*CAST(c2 AS DOUBLE) - CAST(nn AS DOUBLE)*CAST(nn AS DOUBLE))
        |      / (3.0*CAST(nn AS DOUBLE) - CAST(r2 AS DOUBLE))*1000000.0 + 0.5)/1000000.0
        |  END AS q_stat
        |FROM a""".stripMargin,

    // Friedman: identical cell-mean snap, complete blocks, 2-scaled
    // average ranks, exact rank-sum squares, one pinned assembly.
    "q272_friedman" ->
      """WITH v AS (SELECT strftime(o_orderdate, '%Y-%m') AS b, o_orderpriority AS tr,
        |  CAST(floor(CAST(o_totalprice AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v4
        |  FROM orders
        |  WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
        |cells AS (SELECT b, tr,
        |  CAST(floor(CAST(SUM(v4) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS m4
        |  FROM v GROUP BY 1, 2),
        |kk AS (SELECT CAST(COUNT(DISTINCT tr) AS BIGINT) AS k FROM cells),
        |complete AS (SELECT b FROM cells GROUP BY b
        |  HAVING COUNT(*) = (SELECT k FROM kk)),
        |ranked AS (SELECT tr,
        |  2*rank() OVER (PARTITION BY c.b ORDER BY m4)
        |    + COUNT(*) OVER (PARTITION BY c.b, m4) - 1 AS ar2
        |  FROM cells c JOIN complete USING (b)),
        |rj AS (SELECT tr, CAST(SUM(ar2) AS BIGINT) AS r2j FROM ranked GROUP BY 1),
        |agg AS (SELECT SUM(CAST(r2j AS HUGEINT)*r2j) AS sr2 FROM rj),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks FROM complete)
        |SELECT n_blocks, k,
        |  CASE WHEN n_blocks > 0 AND k >= 2 THEN
        |    floor((3.0*CAST(sr2 AS DOUBLE)/(CAST(n_blocks AS DOUBLE)*CAST(k AS DOUBLE)*(CAST(k AS DOUBLE)+1.0))
        |      - 3.0*CAST(n_blocks AS DOUBLE)*(CAST(k AS DOUBLE)+1.0))*1000000.0 + 0.5)/1000000.0
        |  END AS chi2_f
        |FROM agg CROSS JOIN nb CROSS JOIN kk""".stripMargin,

    // Linear MMD: identical id-ordered pairing, sequential-fold dots,
    // 1e-6 kernel snap (libm exp ulps absorbed), exact h sums.
    "q273_mmd" -> {
      def dot(u: String, w: String) =
        s"list_reduce([$u[i]*$w[i] FOR i IN range(1,65)], (a,b) -> a+b)"
      def k6(u: String, w: String) =
        s"CAST(floor(exp(-1.0*(${dot(u, u)} - 2.0*${dot(u, w)} + ${dot(w, w)}))*1e6 + 0.5) AS BIGINT)"
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |  CAST(label AS VARCHAR) AS g
         |  FROM embeddings WHERE embedding IS NOT NULL AND label IN (0, 1)),
         |idx AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY vec_id) AS sk
         |  FROM base),
         |odd AS (SELECT g, (sk + 1) // 2 AS j, v AS v1 FROM idx WHERE sk % 2 = 1),
         |evn AS (SELECT g, sk // 2 AS j, v AS v2 FROM idx WHERE sk % 2 = 0),
         |pr AS (SELECT odd.g, odd.j, v1, v2
         |  FROM odd JOIN evn ON odd.g = evn.g AND odd.j = evn.j),
         |pa AS (SELECT j, v1 AS x1, v2 AS x2 FROM pr WHERE g = '0'),
         |pb AS (SELECT j, v1 AS y1, v2 AS y2 FROM pr WHERE g = '1'),
         |hh AS (SELECT ${k6("x1", "x2")} + ${k6("y1", "y2")}
         |    - ${k6("x1", "y2")} - ${k6("x2", "y1")} AS h6
         |  FROM pa JOIN pb USING (j)),
         |counts AS (SELECT
         |  CAST(SUM(CASE WHEN g = '0' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |  CAST(SUM(CASE WHEN g = '1' THEN 1 ELSE 0 END) AS BIGINT) AS n_b FROM base),
         |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(h6) AS BIGINT) AS s6 FROM hh)
         |SELECT n_a, n_b, n_pairs,
         |  CASE WHEN n_pairs > 0 THEN
         |    floor(CAST(s6 AS DOUBLE)/(CAST(n_pairs AS DOUBLE)*1e6)*1000000.0 + 0.5)/1000000.0
         |  END AS mmd2_linear
         |FROM s CROSS JOIN counts""".stripMargin
    },

    // Forecast backtest: the dense-grid chain, one join per lag,
    // exact integer |e| sums, DECIMAL cross-product MASE, 1e-9 sMAPE
    // term snap before the mean.
    "q274_forecast_backtest" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |nv AS (SELECT a.t, CAST(SUM(abs(a.v - p.v)) AS BIGINT) AS sd,
        |       CAST(COUNT(*) AS BIGINT) AS n_naive
        |  FROM sv a JOIN sv p ON a.t = p.t AND p.bin = a.bin - 1 GROUP BY 1),
        |fc AS (SELECT a.t, CAST(SUM(abs(a.v - p.v)) AS BIGINT) AS se,
        |  CAST(COUNT(*) AS BIGINT) AS n_forecasts,
        |  CAST(SUM(CASE WHEN a.v + p.v = 0 THEN 0
        |    ELSE CAST(floor(2.0*CAST(abs(a.v - p.v) AS DOUBLE)
        |      /CAST(a.v + p.v AS DOUBLE)*1e9 + 0.5) AS BIGINT) END) AS BIGINT) AS st9
        |  FROM sv a JOIN sv p ON a.t = p.t AND p.bin = a.bin - 24 GROUP BY 1)
        |SELECT fc.t AS event_type, n_naive, n_forecasts,
        |  floor(CAST(se AS DOUBLE)/CAST(n_forecasts AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS mae,
        |  CASE WHEN sd > 0 THEN
        |    floor(CAST(CAST(se AS DECIMAL(38,0))*CAST(n_naive AS DECIMAL(38,0)) AS DOUBLE)
        |      /CAST(CAST(sd AS DECIMAL(38,0))*CAST(n_forecasts AS DECIMAL(38,0)) AS DOUBLE)
        |      *1000000.0 + 0.5)/1000000.0 END AS mase,
        |  floor(CAST(st9 AS DOUBLE)/1e9/CAST(n_forecasts AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS smape
        |FROM fc JOIN nv ON fc.t = nv.t ORDER BY event_type""".stripMargin,

    // Seasonal strength: identical grid/trend-snap/phase-mean chain,
    // exact integer remainders, DECIMAL population variances.
    "q275_seasonal_strength" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |mins AS (SELECT t, MIN(bin) AS b0 FROM sv GROUP BY 1),
        |mom AS (SELECT s.t, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(s.bin - m.b0 AS DECIMAL(38,0)) * CAST(s.bin - m.b0 AS DECIMAL(38,0))) AS sxx,
        |  SUM(CAST(s.bin - m.b0 AS DECIMAL(38,0)) * CAST(s.v AS DECIMAL(38,0))) AS sxy,
        |  SUM(CAST(s.bin - m.b0 AS DECIMAL(38,0))) AS sx,
        |  SUM(CAST(s.v AS DECIMAL(38,0))) AS sy
        |  FROM sv s JOIN mins m ON s.t = m.t GROUP BY 1 HAVING COUNT(*) >= 3),
        |fit AS (SELECT t, n,
        |  floor(((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)))
        |    *1e9 + 0.5)/1e9 AS beta,
        |  floor(((CAST(sy AS DOUBLE)
        |      - ((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)))
        |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))*1e9 + 0.5)/1e9 AS alpha
        |  FROM mom
        |  WHERE CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) > 0),
        |detr AS (SELECT s.t, f.n, s.bin % 24 AS ph,
        |  CAST(floor((CAST(s.v AS DOUBLE)
        |    - (f.alpha + f.beta * CAST(s.bin - m.b0 AS DOUBLE)))*1e9 + 0.5) AS BIGINT) AS d9
        |  FROM sv s JOIN mins m ON s.t = m.t JOIN fit f ON s.t = f.t),
        |seas AS (SELECT t, ph,
        |  CAST(floor(CAST(SUM(d9) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS m9
        |  FROM detr GROUP BY 1, 2),
        |j AS (SELECT d.t, d.n, d.d9, d.d9 - s.m9 AS r9
        |  FROM detr d JOIN seas s ON d.t = s.t AND d.ph = s.ph),
        |agg AS (SELECT t, MAX(n) AS n_bins,
        |  SUM(CAST(d9 AS DECIMAL(38,0)) * CAST(d9 AS DECIMAL(38,0))) AS dd,
        |  SUM(CAST(d9 AS DECIMAL(38,0))) AS ds,
        |  SUM(CAST(r9 AS DECIMAL(38,0)) * CAST(r9 AS DECIMAL(38,0))) AS rr,
        |  SUM(CAST(r9 AS DECIMAL(38,0))) AS rs,
        |  CAST(COUNT(*) AS BIGINT) AS m FROM j GROUP BY 1)
        |SELECT t AS event_type, n_bins,
        |  CASE WHEN CAST(m AS DOUBLE)*CAST(dd AS DOUBLE) - CAST(ds AS DOUBLE)*CAST(ds AS DOUBLE) > 0 THEN
        |    floor(greatest(0.0, 1.0 -
        |      (CAST(m AS DOUBLE)*CAST(rr AS DOUBLE) - CAST(rs AS DOUBLE)*CAST(rs AS DOUBLE))
        |      /(CAST(m AS DOUBLE)*CAST(dd AS DOUBLE) - CAST(ds AS DOUBLE)*CAST(ds AS DOUBLE)))
        |      *1000000.0 + 0.5)/1000000.0 END AS seasonal_strength
        |FROM agg ORDER BY event_type""".stripMargin,

    // q276_compressibility has NO oracle: zlib deflate has no DuckDB
    // twin — the driver records the rows-only check; FunctionsSpec
    // pins the kernel and OperatorsSpec the profile instead.

    // Capture-recapture: identical hash-split captures, exact distinct
    // counts, DECIMAL cross products, pinned 1e-4/1e-6 assemblies.
    "q277_capture_recapture" ->
      """WITH da AS (SELECT DISTINCT doc_id AS k FROM documents
        |  WHERE doc_id IS NOT NULL AND doc_id % 10 < 6),
        |db AS (SELECT DISTINCT doc_id AS k FROM documents
        |  WHERE doc_id IS NOT NULL AND doc_id % 10 >= 4),
        |c1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1 FROM da),
        |c2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n2 FROM db),
        |cm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM da JOIN db USING (k))
        |SELECT n1, n2, m AS overlap,
        |  CASE WHEN m > 0 THEN
        |    floor(CAST(CAST(n1 AS DECIMAL(38,0))*CAST(n2 AS DECIMAL(38,0)) AS DOUBLE)
        |      /CAST(m AS DOUBLE)*10000.0 + 0.5)/10000.0 END AS lincoln_petersen,
        |  floor((CAST(CAST(n1+1 AS DECIMAL(38,0))*CAST(n2+1 AS DECIMAL(38,0)) AS DOUBLE)
        |    /CAST(m+1 AS DOUBLE) - 1.0)*10000.0 + 0.5)/10000.0 AS chapman,
        |  CASE WHEN n1 > 0 THEN
        |    floor(CAST(m AS DOUBLE)/CAST(n1 AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS overlap_rate_a,
        |  CASE WHEN n2 > 0 THEN
        |    floor(CAST(m AS DOUBLE)/CAST(n2 AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS overlap_rate_b
        |FROM c1 CROSS JOIN c2 CROSS JOIN cm""".stripMargin,

    // t-closeness: identical cell/margin chain, per-class TV as the
    // exact rational (A + (N-B)*cc)/(2*cc*N), 1e-6 snap, summary agg.
    "q278_t_closeness" ->
      """WITH cells AS (SELECT lang, n_chars // 500 AS len_bkt, source AS s,
        |  CAST(COUNT(*) AS BIGINT) AS cv FROM documents
        |  WHERE source IS NOT NULL GROUP BY 1, 2, 3),
        |ct AS (SELECT lang, len_bkt, CAST(SUM(cv) AS BIGINT) AS cc
        |  FROM cells GROUP BY 1, 2),
        |gl AS (SELECT s, CAST(SUM(cv) AS BIGINT) AS gv FROM cells GROUP BY 1),
        |nt AS (SELECT CAST(SUM(gv) AS BIGINT) AS n FROM gl),
        |pc AS (SELECT c.lang, c.len_bkt,
        |  SUM(abs(CAST(c.cv AS DECIMAL(38,0))*nt.n - CAST(g.gv AS DECIMAL(38,0))*q.cc)) AS a,
        |  CAST(SUM(g.gv) AS BIGINT) AS b, MAX(q.cc) AS cc, MAX(nt.n) AS n
        |  FROM cells c JOIN ct q USING (lang, len_bkt) JOIN gl g ON c.s = g.s
        |  CROSS JOIN nt GROUP BY 1, 2),
        |tv AS (SELECT cc AS rws,
        |  floor((CAST(a AS DOUBLE) + CAST(n - b AS DOUBLE)*CAST(cc AS DOUBLE))
        |    /(2.0*CAST(cc AS DOUBLE)*CAST(n AS DOUBLE))*1000000.0 + 0.5)/1000000.0 AS tt
        |  FROM pc)
        |SELECT 'lang,len_bkt' AS quasi_cols, CAST(0.2 AS DOUBLE) AS t,
        |  CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(CASE WHEN tt > CAST(0.2 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |  CAST(SUM(CASE WHEN tt > CAST(0.2 AS DOUBLE) THEN rws ELSE 0 END) AS BIGINT) AS rows_at_risk,
        |  MAX(tt) AS max_t
        |FROM tv""".stripMargin,

    // Phrase blocklist: the naive per-position substring scan is the
    // quadratic oracle twin of the Aho-Corasick pass (identical
    // all-end-positions semantics, overlaps included).
    "q279_phrase_blocklist" ->
      """WITH p(ph) AS (SELECT unnest(['a a','fast key','slow fast','spark',
        |  'table table','window data'])),
        |d AS (SELECT doc_id, lower(text) AS t FROM documents WHERE text IS NOT NULL),
        |m AS (SELECT doc_id, ph,
        |  len([i FOR i IN range(1, len(t) - len(ph) + 2)
        |       IF substr(t, i, len(ph)) = ph]) AS c
        |  FROM d CROSS JOIN p),
        |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_hits,
        |  CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_phrases_matched
        |  FROM m GROUP BY 1)
        |SELECT doc_id, n_hits, n_phrases_matched,
        |  CAST(n_hits > 0 AS INT) AS flagged
        |FROM a ORDER BY doc_id""".stripMargin,

    // Log-rank: the q173 duration chain + parity cohorts, exact risk
    // sets via the same prefix sums, 1e-9-snapped E/V terms, one
    // pinned chi2 assembly.
    "q280_log_rank" ->
      """WITH u AS (SELECT user_id,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS t0,
        |  CAST(floor(epoch(min(CASE WHEN event_type = 'purchase' THEN ts END))) AS BIGINT) AS te,
        |  CAST(floor(epoch(max(ts))) AS BIGINT) AS tl
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
        |d AS (SELECT COALESCE(te, tl) - t0 AS duration, te IS NOT NULL AS e,
        |  CAST(user_id % 2 AS VARCHAR) AS grp FROM u),
        |g AS (SELECT duration,
        |  CAST(SUM(CASE WHEN grp = '0' AND e THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |  CAST(SUM(CASE WHEN grp = '0' AND NOT e THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |  CAST(SUM(CASE WHEN grp = '1' AND e THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |  CAST(SUM(CASE WHEN grp = '1' AND NOT e THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM d WHERE duration >= 0 AND grp IN ('0', '1') GROUP BY 1),
        |n AS (SELECT CAST(SUM(d1 + c1) AS BIGINT) AS n1,
        |      CAST(SUM(d2 + c2) AS BIGINT) AS n2 FROM g),
        |r AS (SELECT duration, d1, d2,
        |  n1 - (CAST(SUM(d1 + c1) OVER (ORDER BY duration) AS BIGINT) - (d1 + c1)) AS n1t,
        |  n2 - (CAST(SUM(d2 + c2) OVER (ORDER BY duration) AS BIGINT) - (d2 + c2)) AS n2t
        |  FROM g CROSS JOIN n),
        |t AS (SELECT duration, d1, d2, n1t, n2t,
        |  CAST(d1 + d2 AS DOUBLE) AS dt,
        |  CAST(n1t AS DOUBLE) AS nn1, CAST(n2t AS DOUBLE) AS nn2
        |  FROM r WHERE d1 + d2 > 0),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_event_times,
        |  CAST(SUM(d1) AS BIGINT) AS o1,
        |  CAST(SUM(CAST(floor(dt*nn1/(nn1+nn2)*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e9,
        |  CAST(SUM(CASE WHEN n1t + n2t > 1 THEN
        |    CAST(floor(dt*(nn1/(nn1+nn2))*(nn2/(nn1+nn2))*((nn1+nn2)-dt)
        |      /((nn1+nn2)-1.0)*1e9 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS v9
        |  FROM t)
        |SELECT n_event_times, o1,
        |  floor(CAST(e9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS e1,
        |  CASE WHEN v9 > 0 THEN
        |    floor((CAST(o1 AS DOUBLE) - CAST(e9 AS DOUBLE)/1e9)
        |      *(CAST(o1 AS DOUBLE) - CAST(e9 AS DOUBLE)/1e9)
        |      /(CAST(v9 AS DOUBLE)/1e9)*1000000.0 + 0.5)/1000000.0 END AS chi2
        |FROM s""".stripMargin,

    // DiD: identical four-cell exact moments, pinned mean/variance/t
    // assemblies (means and variances replayed cell by cell).
    "q281_diff_in_diff" -> {
      val cells = Seq(
        ("t_pre", "t AND NOT p"), ("t_post", "t AND p"),
        ("c_pre", "NOT t AND NOT p"), ("c_post", "NOT t AND p"))
      val sums = cells.map { case (s, c) =>
        s"""CAST(SUM(CASE WHEN $c THEN 1 ELSE 0 END) AS BIGINT) AS n_$s,
           |  CAST(SUM(CASE WHEN $c THEN v ELSE 0 END) AS BIGINT) AS s_$s,
           |  SUM(CASE WHEN $c THEN CAST(v AS DECIMAL(38,0))*v
           |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS q_$s""".stripMargin
      }.mkString(",\n  ")
      def m(s: String) = s"CAST(s_$s AS DOUBLE)/1e4/CAST(n_$s AS DOUBLE)"
      def vn(s: String) =
        s"""(CAST(CAST(n_$s AS DECIMAL(38,0))*q_$s
           | - CAST(s_$s AS DECIMAL(38,0))*CAST(s_$s AS DECIMAL(38,0)) AS DOUBLE)/1e8
           | /(CAST(n_$s AS DOUBLE)*(CAST(n_$s AS DOUBLE)-1.0))/CAST(n_$s AS DOUBLE))""".stripMargin
      val did = s"((${m("t_post")}) - (${m("t_pre")})) - ((${m("c_post")}) - (${m("c_pre")}))"
      val se2 = cells.map(c => vn(c._1)).mkString("(", " + ", ")")
      val allN = cells.map(c => s"n_${c._1} > 0").mkString(" AND ")
      val allV = cells.map(c => s"n_${c._1} >= 2").mkString(" AND ")
      val means = cells.map { case (s, _) =>
        s"CASE WHEN n_$s > 0 THEN floor((${m(s)})*1000000.0 + 0.5)/1000000.0 END AS mean_$s"
      }.mkString(",\n  ")
      s"""WITH b AS (SELECT (user_id % 2 = 1) AS t,
         |  (ts >= TIMESTAMP '2024-01-16 00:00:00') AS p,
         |  CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v
         |  FROM events
         |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
         |a AS (SELECT
         |  $sums
         |  FROM b)
         |SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
         |  $means,
         |  CASE WHEN $allN THEN floor(($did)*1000000.0 + 0.5)/1000000.0 END AS did,
         |  CASE WHEN $allV AND $se2 > 0.0 THEN
         |    floor(sqrt($se2)*1000000.0 + 0.5)/1000000.0 END AS se,
         |  CASE WHEN $allN AND $allV AND $se2 > 0.0 THEN
         |    floor(($did)/sqrt($se2)*1000000.0 + 0.5)/1000000.0 END AS t_stat
         |FROM a""".stripMargin
    },

    // Dispersion: identical grid + exact moments; e^-mean snapped 1e-6.
    "q282_dispersion" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |a AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_bins,
        |  CAST(SUM(v) AS BIGINT) AS s,
        |  SUM(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS q,
        |  CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS z
        |  FROM sv GROUP BY 1)
        |SELECT t AS event_type, n_bins,
        |  floor(CAST(s AS DOUBLE)/CAST(n_bins AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS mean_per_bin,
        |  CASE WHEN n_bins >= 2 AND s > 0 THEN floor(
        |    CAST(CAST(n_bins AS DECIMAL(38,0))*q - CAST(s AS DECIMAL(38,0))*CAST(s AS DECIMAL(38,0)) AS DOUBLE)
        |    /(CAST(n_bins AS DOUBLE)*(CAST(n_bins AS DOUBLE)-1.0))
        |    /(CAST(s AS DOUBLE)/CAST(n_bins AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS dispersion,
        |  CASE WHEN n_bins >= 2 AND s > 0 THEN floor(
        |    (CAST(n_bins AS DOUBLE)-1.0)
        |    *(CAST(CAST(n_bins AS DECIMAL(38,0))*q - CAST(s AS DECIMAL(38,0))*CAST(s AS DECIMAL(38,0)) AS DOUBLE)
        |      /(CAST(n_bins AS DOUBLE)*(CAST(n_bins AS DOUBLE)-1.0))
        |      /(CAST(s AS DOUBLE)/CAST(n_bins AS DOUBLE)))*1000000.0 + 0.5)/1000000.0 END AS chi2,
        |  floor(CAST(z AS DOUBLE)/CAST(n_bins AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS zero_share,
        |  floor(floor(exp(-(CAST(s AS DOUBLE)/CAST(n_bins AS DOUBLE)))*1e6 + 0.5)/1e6*1000000.0 + 0.5)/1000000.0 AS poisson_zero_share,
        |  floor((CAST(z AS DOUBLE)/CAST(n_bins AS DOUBLE)
        |    - floor(exp(-(CAST(s AS DOUBLE)/CAST(n_bins AS DOUBLE)))*1e6 + 0.5)/1e6)*1000000.0 + 0.5)/1000000.0 AS excess_zero_share
        |FROM a ORDER BY event_type""".stripMargin,

    // Dunning G^2: identical bigram table margins, 8-term pinned
    // log-likelihood with CASE-guarded 0*ln0 terms, 1e-4 snap, top-50.
    "q283_collocations" ->
      """WITH t AS (SELECT CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |  ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x))
        |  END AS toks FROM documents),
        |bi AS (SELECT unnest([{'w1': toks[i+1], 'w2': toks[i+2]} FOR i IN range(0, len(toks)-1)]) AS bg
        |       FROM t WHERE len(toks) >= 2),
        |bc AS (SELECT bg.w1 AS w1, bg.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c_bg FROM bi GROUP BY 1, 2),
        |f AS (SELECT w1, CAST(SUM(c_bg) AS BIGINT) AS n1 FROM bc GROUP BY 1),
        |sc AS (SELECT w2, CAST(SUM(c_bg) AS BIGINT) AS c2 FROM bc GROUP BY 1),
        |nt AS (SELECT CAST(SUM(c_bg) AS BIGINT) AS nn FROM bc),
        |j AS (SELECT b.w1, b.w2, b.c_bg, f.n1, sc.c2, nt.nn,
        |  b.c_bg AS k1, sc.c2 - b.c_bg AS k2, nt.nn - f.n1 AS n2,
        |  CAST(sc.c2 AS DOUBLE)/CAST(nt.nn AS DOUBLE) AS p,
        |  CAST(b.c_bg AS DOUBLE)/CAST(f.n1 AS DOUBLE) AS p1,
        |  CASE WHEN nt.nn - f.n1 > 0 THEN
        |    CAST(sc.c2 - b.c_bg AS DOUBLE)/CAST(nt.nn - f.n1 AS DOUBLE) ELSE 0.0 END AS p2
        |  FROM bc b JOIN f USING (w1) JOIN sc USING (w2) CROSS JOIN nt
        |  WHERE b.c_bg >= 5),
        |s AS (SELECT w1, w2, c_bg, 2.0*(
        |  (CASE WHEN k1 > 0 AND p1 > 0.0 THEN CAST(k1 AS DOUBLE)*ln(p1) ELSE 0.0 END
        |   + CASE WHEN n1 - k1 > 0 AND p1 < 1.0 THEN CAST(n1 - k1 AS DOUBLE)*ln(1.0 - p1) ELSE 0.0 END)
        |  + (CASE WHEN k2 > 0 AND p2 > 0.0 THEN CAST(k2 AS DOUBLE)*ln(p2) ELSE 0.0 END
        |   + CASE WHEN n2 - k2 > 0 AND p2 < 1.0 THEN CAST(n2 - k2 AS DOUBLE)*ln(1.0 - p2) ELSE 0.0 END)
        |  - (CASE WHEN k1 > 0 AND p > 0.0 THEN CAST(k1 AS DOUBLE)*ln(p) ELSE 0.0 END
        |   + CASE WHEN n1 - k1 > 0 AND p < 1.0 THEN CAST(n1 - k1 AS DOUBLE)*ln(1.0 - p) ELSE 0.0 END)
        |  - (CASE WHEN k2 > 0 AND p > 0.0 THEN CAST(k2 AS DOUBLE)*ln(p) ELSE 0.0 END
        |   + CASE WHEN n2 - k2 > 0 AND p < 1.0 THEN CAST(n2 - k2 AS DOUBLE)*ln(1.0 - p) ELSE 0.0 END)
        |  ) AS g2raw FROM j)
        |SELECT w1, w2, c_bg, floor(g2raw*10000.0 + 0.5)/10000.0 AS g2
        |FROM s ORDER BY g2 DESC, w1, w2 LIMIT 50""".stripMargin,

    // Nelson-Aalen: the q173 duration/risk-set chain, 1e-9-snapped
    // d/n and d/n^2 increments, window prefix sums, 1e-6 outputs.
    "q284_nelson_aalen" ->
      """WITH u AS (SELECT user_id,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS t0,
        |  CAST(floor(epoch(min(CASE WHEN event_type = 'purchase' THEN ts END))) AS BIGINT) AS te,
        |  CAST(floor(epoch(max(ts))) AS BIGINT) AS tl
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
        |d AS (SELECT COALESCE(te, tl) - t0 AS duration, te IS NOT NULL AS e FROM u),
        |g AS (SELECT duration,
        |  CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS n_event,
        |  CAST(SUM(CASE WHEN e THEN 0 ELSE 1 END) AS BIGINT) AS n_censor
        |  FROM d WHERE duration >= 0 GROUP BY 1),
        |n AS (SELECT CAST(SUM(n_event + n_censor) AS BIGINT) AS nn FROM g),
        |r AS (SELECT duration, n_event, n_censor,
        |  nn - (CAST(SUM(n_event + n_censor) OVER (ORDER BY duration) AS BIGINT)
        |        - (n_event + n_censor)) AS n_risk
        |  FROM g CROSS JOIN n),
        |sj AS (SELECT duration, n_event, n_censor, n_risk,
        |  CAST(floor(CAST(n_event AS DOUBLE)/CAST(n_risk AS DOUBLE)*1e9 + 0.5) AS BIGINT) AS h9,
        |  CAST(floor(CAST(n_event AS DOUBLE)
        |    /(CAST(n_risk AS DOUBLE)*CAST(n_risk AS DOUBLE))*1e9 + 0.5) AS BIGINT) AS v9
        |  FROM r),
        |f AS (SELECT duration, n_risk, n_event, n_censor,
        |  CAST(SUM(h9) OVER (ORDER BY duration) AS BIGINT) AS ch,
        |  CAST(SUM(v9) OVER (ORDER BY duration) AS BIGINT) AS cv FROM sj)
        |SELECT duration, n_risk, n_event, n_censor,
        |  floor(CAST(ch AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS cum_hazard,
        |  floor(CAST(cv AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS hazard_var,
        |  floor(exp(-(CAST(ch AS DOUBLE)/1e9))*1000000.0 + 0.5)/1000000.0 AS fh_survival
        |FROM f ORDER BY duration""".stripMargin,

    // Pairwise Welch contrasts: identical group moments, broadcast
    // upper-triangle pairing, pinned mean/SE/t/df assemblies.
    "q285_pairwise_contrasts" ->
      """WITH v AS (SELECT CAST(o_orderpriority AS VARCHAR) AS g,
        |  CAST(floor(CAST(o_totalprice AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS x
        |  FROM orders WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
        |gs AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s,
        |  SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS q
        |  FROM v GROUP BY 1),
        |p AS (SELECT a.g AS group_a, b.g AS group_b,
        |  a.n AS an, a.s AS as_, a.q AS aq, b.n AS bn, b.s AS bs, b.q AS bq
        |  FROM gs a JOIN gs b ON a.g < b.g),
        |c AS (SELECT group_a, group_b, an AS n_a, bn AS n_b,
        |  CAST(as_ AS DOUBLE)/1e4/CAST(an AS DOUBLE) AS ma,
        |  CAST(bs AS DOUBLE)/1e4/CAST(bn AS DOUBLE) AS mb,
        |  CASE WHEN an >= 2 AND bn >= 2 THEN
        |    CAST(CAST(an AS DECIMAL(38,0))*aq - CAST(as_ AS DECIMAL(38,0))*CAST(as_ AS DECIMAL(38,0)) AS DOUBLE)
        |      /1e8/(CAST(an AS DOUBLE)*(CAST(an AS DOUBLE)-1.0))/CAST(an AS DOUBLE) ELSE 0.0 END AS va,
        |  CASE WHEN an >= 2 AND bn >= 2 THEN
        |    CAST(CAST(bn AS DECIMAL(38,0))*bq - CAST(bs AS DECIMAL(38,0))*CAST(bs AS DECIMAL(38,0)) AS DOUBLE)
        |      /1e8/(CAST(bn AS DOUBLE)*(CAST(bn AS DOUBLE)-1.0))/CAST(bn AS DOUBLE) ELSE 0.0 END AS vb,
        |  an >= 2 AND bn >= 2 AS bv
        |  FROM p)
        |SELECT group_a, group_b, n_a, n_b,
        |  floor(ma*1000000.0 + 0.5)/1000000.0 AS mean_a,
        |  floor(mb*1000000.0 + 0.5)/1000000.0 AS mean_b,
        |  floor((ma - mb)*1000000.0 + 0.5)/1000000.0 AS diff,
        |  CASE WHEN bv AND va + vb > 0.0 THEN
        |    floor(sqrt(va + vb)*1000000.0 + 0.5)/1000000.0 END AS se,
        |  CASE WHEN bv AND va + vb > 0.0 THEN
        |    floor((ma - mb)/sqrt(va + vb)*1000000.0 + 0.5)/1000000.0 END AS t_stat,
        |  CASE WHEN bv AND va + vb > 0.0 THEN
        |    floor((va + vb)*(va + vb)
        |      /(va*va/(CAST(n_a AS DOUBLE)-1.0) + vb*vb/(CAST(n_b AS DOUBLE)-1.0))
        |      *10000.0 + 0.5)/10000.0 END AS welch_df
        |FROM c ORDER BY group_a, group_b""".stripMargin,

    // Aalen-Johansen: per-user competing first outcomes, the q173
    // risk-set chain on ALL-cause events, exclusive-prefix S(s-)
    // snapped 1e-6, per-cause 1e-9 increments, window prefix CIFs.
    "q286_competing_risks" ->
      """WITH u AS (SELECT user_id,
        |  MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS t0,
        |  MIN(CASE WHEN event_type = 'purchase' THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS tp,
        |  MIN(CASE WHEN event_type = 'error' THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS te,
        |  MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS tl
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
        |d AS (SELECT COALESCE(least(tp, te), tl) - t0 AS duration,
        |  CASE WHEN least(tp, te) IS NULL THEN NULL
        |       WHEN te IS NOT NULL AND (tp IS NULL OR te <= tp) THEN 'error'
        |       ELSE 'purchase' END AS cause
        |  FROM u),
        |g AS (SELECT duration,
        |  CAST(SUM(CASE WHEN cause = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS de,
        |  CAST(SUM(CASE WHEN cause = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS dp,
        |  CAST(SUM(CASE WHEN cause IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS cen
        |  FROM d WHERE duration >= 0 GROUP BY 1),
        |n AS (SELECT CAST(SUM(de + dp + cen) AS BIGINT) AS nn FROM g),
        |r AS (SELECT duration, de, dp, de + dp AS dd,
        |  nn - (CAST(SUM(de + dp + cen) OVER (ORDER BY duration) AS BIGINT)
        |        - (de + dp + cen)) AS n_risk
        |  FROM g CROSS JOIN n),
        |sj AS (SELECT duration, de, dp, dd, n_risk,
        |  CASE WHEN dd > 0 AND dd < n_risk THEN
        |    CAST(floor(ln(1.0 - CAST(dd AS DOUBLE)/CAST(n_risk AS DOUBLE))*1e9 + 0.5) AS BIGINT)
        |  ELSE 0 END AS term,
        |  CASE WHEN dd = n_risk THEN 1 ELSE 0 END AS z FROM r),
        |p AS (SELECT duration, de, dp, n_risk,
        |  CAST(SUM(term) OVER (ORDER BY duration) AS BIGINT) - term AS clx,
        |  CAST(SUM(z) OVER (ORDER BY duration) AS BIGINT) - z AS czx FROM sj),
        |s AS (SELECT duration, de, dp, n_risk,
        |  CASE WHEN czx > 0 THEN 0
        |       ELSE CAST(floor(exp(CAST(clx AS DOUBLE)/1e9)*1e6 + 0.5) AS BIGINT)
        |  END AS sm6 FROM p),
        |i AS (SELECT duration, de, dp, n_risk,
        |  CAST(floor(CAST(sm6 AS DOUBLE)/1e6*CAST(de AS DOUBLE)/CAST(n_risk AS DOUBLE)*1e9 + 0.5) AS BIGINT) AS ie,
        |  CAST(floor(CAST(sm6 AS DOUBLE)/1e6*CAST(dp AS DOUBLE)/CAST(n_risk AS DOUBLE)*1e9 + 0.5) AS BIGINT) AS ip
        |  FROM s),
        |f AS (SELECT duration, de, dp, n_risk,
        |  CAST(SUM(ie) OVER (ORDER BY duration) AS BIGINT) AS ce,
        |  CAST(SUM(ip) OVER (ORDER BY duration) AS BIGINT) AS cp FROM i)
        |SELECT duration, cause, n_risk, n_event,
        |  floor(CAST(c9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS cif
        |FROM (
        |  SELECT duration, 'error' AS cause, n_risk, de AS n_event, ce AS c9 FROM f
        |  UNION ALL
        |  SELECT duration, 'purchase', n_risk, dp, cp FROM f)
        |ORDER BY duration, cause""".stripMargin,

    // RMST: the q173 KM chain verbatim + successor gaps, exact
    // k*gap segment contributions, one pinned division.
    "q287_rmst" ->
      """WITH u AS (SELECT user_id,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS t0,
        |  CAST(floor(epoch(min(CASE WHEN event_type = 'purchase' THEN ts END))) AS BIGINT) AS te,
        |  CAST(floor(epoch(max(ts))) AS BIGINT) AS tl
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
        |d AS (SELECT COALESCE(te, tl) - t0 AS duration, te IS NOT NULL AS e FROM u),
        |g AS (SELECT duration,
        |  CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS n_event,
        |  CAST(SUM(CASE WHEN e THEN 0 ELSE 1 END) AS BIGINT) AS n_censor
        |  FROM d WHERE duration >= 0 GROUP BY 1),
        |n AS (SELECT CAST(SUM(n_event + n_censor) AS BIGINT) AS nn FROM g),
        |r AS (SELECT duration, n_event, n_censor,
        |  nn - (CAST(SUM(n_event + n_censor) OVER (ORDER BY duration) AS BIGINT)
        |        - (n_event + n_censor)) AS n_risk
        |  FROM g CROSS JOIN n),
        |sj AS (SELECT duration, n_event, n_risk,
        |  CASE WHEN n_event > 0 AND n_event < n_risk THEN
        |    CAST(floor(ln(1.0 - CAST(n_event AS DOUBLE)/CAST(n_risk AS DOUBLE))*1e9 + 0.5) AS BIGINT)
        |  ELSE 0 END AS term,
        |  CASE WHEN n_event = n_risk THEN 1 ELSE 0 END AS z FROM r),
        |f AS (SELECT duration,
        |  CASE WHEN CAST(SUM(z) OVER (ORDER BY duration) AS BIGINT) > 0 THEN 0.0
        |       ELSE floor(exp(CAST(CAST(SUM(term) OVER (ORDER BY duration) AS BIGINT) AS DOUBLE)/1e9)*1000000.0 + 0.5)/1000000.0
        |  END AS survival FROM sj),
        |w AS (SELECT duration, survival,
        |  lead(duration) OVER (ORDER BY duration) AS nxt FROM f),
        |seg AS (SELECT CASE WHEN duration < 604800 THEN
        |  CAST(floor(survival * CAST(least(COALESCE(nxt, 604800), 604800) - duration AS DOUBLE)*1e6 + 0.5) AS BIGINT)
        |  ELSE 0 END AS c6 FROM w),
        |h AS (SELECT MIN(duration) AS t1, CAST(COUNT(*) AS BIGINT) AS n_times FROM f),
        |sc AS (SELECT CAST(SUM(c6) AS BIGINT) AS c6t FROM seg)
        |SELECT CAST(604800 AS BIGINT) AS tau, n_times,
        |  floor((CAST(least(t1, 604800) AS DOUBLE)*1e6 + CAST(c6t AS DOUBLE))/1e6*1000000.0 + 0.5)/1000000.0 AS rmst
        |FROM h CROSS JOIN sc""".stripMargin,

    // CCF: the q218 grid chain for both series, lag fan-out, exact
    // integer centered products, one sqrt division per lag.
    "q288_ccf" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin
        |       WHERE g.t IN ('error', 'purchase')),
        |xs AS (SELECT bin, v FROM sv WHERE t = 'error'),
        |ys AS (SELECT bin, v FROM sv WHERE t = 'purchase'),
        |stx AS (SELECT CAST(COUNT(*) AS BIGINT) AS nx, CAST(SUM(v) AS BIGINT) AS sx FROM xs),
        |sty AS (SELECT CAST(COUNT(*) AS BIGINT) AS ny, CAST(SUM(v) AS BIGINT) AS sy FROM ys),
        |dnx AS (SELECT SUM(CAST(nx*v - sx AS DECIMAL(38,0)) * CAST(nx*v - sx AS DECIMAL(38,0))) AS dx
        |  FROM xs CROSS JOIN stx),
        |dny AS (SELECT SUM(CAST(ny*v - sy AS DECIMAL(38,0)) * CAST(ny*v - sy AS DECIMAL(38,0))) AS dy
        |  FROM ys CROSS JOIN sty),
        |pr AS (SELECT CAST(l.lag AS BIGINT) AS lag, a.v AS vx, bb.v AS vy
        |  FROM xs a CROSS JOIN (SELECT unnest(range(-6, 7)) AS lag) l
        |  JOIN ys bb ON bb.bin = a.bin + l.lag),
        |nm AS (SELECT lag,
        |  SUM(CAST(nx*vx - sx AS DECIMAL(38,0)) * CAST(ny*vy - sy AS DECIMAL(38,0))) AS num
        |  FROM pr CROSS JOIN stx CROSS JOIN sty GROUP BY 1)
        |SELECT lag, nx AS n_bins,
        |  CASE WHEN dx > 0 AND dy > 0 THEN
        |    floor(CAST(num AS DOUBLE)/sqrt(CAST(dx AS DOUBLE)*CAST(dy AS DOUBLE))*1000000.0 + 0.5)/1000000.0
        |  END AS ccf
        |FROM nm CROSS JOIN dnx CROSS JOIN dny CROSS JOIN stx
        |ORDER BY lag""".stripMargin,

    // Hodges-Lehmann: identical domain collapse, DECIMAL pair weights,
    // lower weighted median over the bounded difference domain.
    "q289_hodges_lehmann" ->
      """WITH da AS (SELECT n_chars AS va, CAST(COUNT(*) AS BIGINT) AS ca
        |  FROM documents WHERE source = 'src1' AND n_chars IS NOT NULL GROUP BY 1),
        |db AS (SELECT n_chars AS vb, CAST(COUNT(*) AS BIGINT) AS cb
        |  FROM documents WHERE source = 'src2' AND n_chars IS NOT NULL GROUP BY 1),
        |d AS (SELECT va - vb AS d, SUM(CAST(ca AS DECIMAL(38,0))*cb) AS w
        |  FROM da CROSS JOIN db GROUP BY 1),
        |m AS (SELECT d, SUM(w) OVER (ORDER BY d) AS cum, SUM(w) OVER () AS tot FROM d),
        |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a FROM documents
        |  WHERE source = 'src1' AND n_chars IS NOT NULL),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b FROM documents
        |  WHERE source = 'src2' AND n_chars IS NOT NULL)
        |SELECT n_a, n_b,
        |  CAST((SELECT MIN(d) FROM m WHERE cum*2 >= tot) AS BIGINT) AS hl_shift
        |FROM na CROSS JOIN nb""".stripMargin,

    // Spectral entropy: the q263 chain + 1e-9-snapped -p ln p terms,
    // dominant by (share desc, period asc), ln(13) literal normalizer.
    "q290_spectral_entropy" ->
      """WITH e AS (SELECT event_type AS t, epoch_us(ts) // 86400000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bo AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(bo.lo, bo.hi)) AS bin FROM bo) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |st AS (SELECT t, min(bin) AS b0, CAST(COUNT(*) AS BIGINT) AS bb,
        |  CAST(SUM(v) AS BIGINT) AS sx FROM sv GROUP BY 1),
        |base AS (SELECT sv.t, sv.bin - st.b0 AS b, st.bb*sv.v - st.sx AS y, st.bb
        |  FROM sv JOIN st ON st.t = sv.t),
        |pr AS (SELECT t, b, y, bb, unnest(generate_series(2, 14)) AS period FROM base),
        |pj AS (SELECT t, period, bb,
        |  CAST(y AS DECIMAL(38,0)) * CAST(floor(cos(6.283185307179586*CAST(b % period AS DOUBLE)/CAST(period AS DOUBLE))*1e9 + 0.5) AS BIGINT) AS cy,
        |  CAST(y AS DECIMAL(38,0)) * CAST(floor(sin(6.283185307179586*CAST(b % period AS DOUBLE)/CAST(period AS DOUBLE))*1e9 + 0.5) AS BIGINT) AS sy
        |  FROM pr),
        |ag AS (SELECT t, period, bb, SUM(cy) AS cc, SUM(sy) AS ss FROM pj GROUP BY 1, 2, 3),
        |pw AS (SELECT t, period,
        |  CAST(floor((CAST(cc AS DOUBLE)/1e9/CAST(bb AS DOUBLE))*(CAST(cc AS DOUBLE)/1e9/CAST(bb AS DOUBLE))
        |    + (CAST(ss AS DOUBLE)/1e9/CAST(bb AS DOUBLE))*(CAST(ss AS DOUBLE)/1e9/CAST(bb AS DOUBLE)) + 0.5) AS BIGINT) AS power
        |  FROM ag),
        |tt AS (SELECT t, CAST(SUM(power) AS BIGINT) AS tot FROM pw GROUP BY 1),
        |sh AS (SELECT pw.t, period, CASE WHEN tot > 0 THEN
        |    floor(CAST(power AS DOUBLE)/CAST(tot AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS share
        |  FROM pw JOIN tt ON tt.t = pw.t),
        |dom AS (SELECT t, period FROM (SELECT t, period,
        |  row_number() OVER (PARTITION BY t ORDER BY share DESC, period) AS rn
        |  FROM sh WHERE share IS NOT NULL) WHERE rn = 1),
        |en AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_periods,
        |  CAST(SUM(CASE WHEN share > 0.0 THEN
        |    CAST(floor(-share*ln(share)*1e9 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS s9
        |  FROM sh GROUP BY 1)
        |SELECT en.t AS event_type, n_periods,
        |  CAST(dom.period AS INT) AS dominant_period,
        |  CASE WHEN dom.period IS NOT NULL THEN
        |    floor(CAST(s9 AS DOUBLE)/1e9/ln(13.0)*1000000.0 + 0.5)/1000000.0 END AS spectral_entropy
        |FROM en LEFT JOIN dom ON en.t = dom.t ORDER BY event_type""".stripMargin,

    // Burstiness: identical (term, doc) collapse, exact rational
    // (N*sq - tf^2)/(N*tf), one division, top-50 tie-deterministic.
    "q291_term_burstiness" ->
      """WITH t AS (SELECT doc_id, CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |  ELSE list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x))
        |  END AS toks FROM documents WHERE text IS NOT NULL),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM t),
        |td AS (SELECT doc_id, unnest(toks) AS w FROM t),
        |c AS (SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM td GROUP BY 1, 2),
        |pt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(cnt) AS BIGINT) AS tf,
        |  SUM(CAST(cnt AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0))) AS sq
        |  FROM c GROUP BY 1 HAVING SUM(cnt) >= 50)
        |SELECT w AS term, df, tf,
        |  floor(CAST(CAST(nn AS DECIMAL(38,0))*sq - CAST(tf AS DECIMAL(38,0))*CAST(tf AS DECIMAL(38,0)) AS DOUBLE)
        |    /CAST(CAST(nn AS DECIMAL(38,0))*CAST(tf AS DECIMAL(38,0)) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS burstiness
        |FROM pt CROSS JOIN n
        |ORDER BY burstiness DESC, term LIMIT 50""".stripMargin,

    // Theil: identical doc token counts, 1e-12-snapped entropy terms
    // for total/between/weighted-within, pinned assemblies.
    "q292_theil" ->
      """WITH d AS (SELECT source AS s,
        |  CAST(CASE WHEN length(trim(text))=0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS x
        |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
        |bs AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS ns, CAST(SUM(x) AS BIGINT) AS xs
        |  FROM d GROUP BY 1),
        |tt AS (SELECT CAST(SUM(ns) AS BIGINT) AS n, CAST(SUM(xs) AS BIGINT) AS xt FROM bs),
        |dt AS (SELECT
        |  CAST(SUM(CASE WHEN x > 0 THEN CAST(floor(
        |    CAST(x AS DOUBLE)/CAST(xt AS DOUBLE)
        |    * ln(CAST(n AS DOUBLE)*CAST(x AS DOUBLE)/CAST(xt AS DOUBLE))*1e12 + 0.5) AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS t12,
        |  CAST(SUM(CASE WHEN x > 0 THEN CAST(floor(
        |    CAST(x AS DOUBLE)/CAST(xt AS DOUBLE)
        |    * ln(CAST(ns AS DOUBLE)*CAST(x AS DOUBLE)/CAST(xs AS DOUBLE))*1e12 + 0.5) AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS w12
        |  FROM d JOIN bs USING (s) CROSS JOIN tt),
        |bt AS (SELECT CAST(SUM(CASE WHEN xs > 0 THEN CAST(floor(
        |    CAST(xs AS DOUBLE)/CAST(xt AS DOUBLE)
        |    * ln((CAST(xs AS DOUBLE)/CAST(xt AS DOUBLE))/(CAST(ns AS DOUBLE)/CAST(n AS DOUBLE)))*1e12 + 0.5) AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS b12,
        |  CAST(COUNT(*) AS BIGINT) AS n_sources FROM bs CROSS JOIN tt)
        |SELECT n AS n_docs, n_sources,
        |  floor(CAST(t12 AS DOUBLE)/1e12*1000000.0 + 0.5)/1000000.0 AS theil_total,
        |  floor(CAST(b12 AS DOUBLE)/1e12*1000000.0 + 0.5)/1000000.0 AS theil_between,
        |  floor(CAST(w12 AS DOUBLE)/1e12*1000000.0 + 0.5)/1000000.0 AS theil_within,
        |  floor(CAST(t12 - b12 - w12 AS DOUBLE)/1e12*1000000.0 + 0.5)/1000000.0 AS residual
        |FROM dt CROSS JOIN bt CROSS JOIN tt""".stripMargin,

    // dim_Airport: the same deterministic staging (nation x region),
    // the notebook's split/cast transform, type filter, and a
    // row_number surrogate ordered by ident (= globalDenseIds' rank).
    "q293_dim_airport" ->
      """WITH staged AS (SELECT
        |  'AP' || lpad(CAST(n_nationkey AS VARCHAR), 3, '0') AS ident,
        |  CASE CAST(n_nationkey % 4 AS INTEGER) WHEN 0 THEN 'heliport'
        |    WHEN 1 THEN 'small_airport' WHEN 2 THEN 'medium_airport'
        |    ELSE 'large_airport' END AS type,
        |  n_name || ' INTL' AS name,
        |  CAST(n_nationkey * 37 % 900 AS VARCHAR) AS elevation_ft,
        |  r_name AS continent,
        |  substr(n_name, 1, 2) || '-' ||
        |    lpad(CAST(n_regionkey AS VARCHAR), 2, '0') AS iso_region,
        |  n_name AS municipality,
        |  'G' || CAST(n_nationkey AS VARCHAR) AS gps_code,
        |  'L' || CAST(n_nationkey AS VARCHAR) AS local_code,
        |  CAST(n_nationkey AS VARCHAR) || '.5, -' ||
        |    CAST(n_regionkey AS VARCHAR) || '.25' AS coordinates
        |  FROM nation JOIN region ON n_regionkey = r_regionkey),
        |dim AS (SELECT ident, type, name,
        |  CAST(elevation_ft AS INTEGER) AS elevation_ft, continent,
        |  municipality, gps_code, local_code,
        |  str_split(iso_region, '-')[1] AS country,
        |  str_split(iso_region, '-')[2] AS state,
        |  CAST(str_split(coordinates, ', ')[1] AS DOUBLE) AS latitude,
        |  CAST(str_split(coordinates, ', ')[2] AS DOUBLE) AS longitude
        |  FROM staged
        |  WHERE type IN ('small_airport', 'medium_airport', 'large_airport'))
        |SELECT ROW_NUMBER() OVER (ORDER BY ident) AS airport_key,
        |  ident, type, name, elevation_ft, continent, municipality,
        |  gps_code, local_code, country, state, latitude, longitude
        |FROM dim ORDER BY airport_key""".stripMargin,

    // Lorenz/Gini: identical (source, token-count) cells, per-source
    // cumulative mass over the value domain, the grouped trapezoid
    // G = (N*M - sum c*(2*cumM - m)) / (N*M), exact integer products.
    "q294_lorenz_gini" ->
      """WITH d AS (SELECT source AS s,
        |  CAST(CASE WHEN length(trim(text))=0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS x
        |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
        |sc AS (SELECT s, x, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
        |ac AS (SELECT '(all)' AS s, x, CAST(SUM(c) AS BIGINT) AS c FROM sc GROUP BY 2),
        |cells AS (SELECT * FROM sc UNION ALL SELECT * FROM ac),
        |cum AS (SELECT s, x, c, CAST(x AS DECIMAL(38,0)) * c AS m,
        |  SUM(CAST(x AS DECIMAL(38,0)) * c) OVER
        |    (PARTITION BY s ORDER BY x) AS cumm
        |  FROM cells),
        |g AS (SELECT s AS source, CAST(SUM(c) AS BIGINT) AS n_docs,
        |  CAST(SUM(m) AS BIGINT) AS total_tokens,
        |  SUM(CAST(c AS DECIMAL(38,0)) * (2 * cumm - m)) AS trap
        |  FROM cum GROUP BY 1)
        |SELECT source, n_docs, total_tokens,
        |  CASE WHEN total_tokens > 0 THEN
        |    floor(CAST(CAST(n_docs AS DECIMAL(38,0)) * total_tokens - trap AS DOUBLE)
        |      / CAST(CAST(n_docs AS DECIMAL(38,0)) * total_tokens AS DOUBLE)
        |      * 1000000.0 + 0.5) / 1000000.0
        |  END AS gini
        |FROM g ORDER BY source""".stripMargin,

    // Spiegelhalter Z: the q120 classifier/sigmoid chain, confidences
    // snapped to the same 1e-4 grid, then exact integer num/den sums
    // and one pinned double assembly.
    "q295_spiegelhalter" -> {
      val w = Similarity.lshPlanes(256, 1, seed = 7)(0)
      s"""WITH wt AS (SELECT ${w.mkString("[", ",", "]")}::DOUBLE[] AS w),
         |t AS (SELECT doc_id,
         |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
         |       ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x))
         |  END AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         |    list_reduce(list_transform(toks, tok ->
         |      wt.w[((list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
         |             (a,b) -> a*16 + b) % 2147483629) % 256) + 1]),
         |      (a,b) -> a + b) END AS raw
         |  FROM t CROSS JOIN wt),
         |cy AS (SELECT s.doc_id,
         |  1.0 / (1.0 + exp(-(floor((raw + -0.05)*10000.0 + 0.5)/10000.0))) AS conf,
         |  CAST(d.lang = 'en' AS BIGINT) AS y
         |  FROM s JOIN documents d USING (doc_id)),
         |pp AS (SELECT CAST(floor(conf*10000.0 + 0.5) AS BIGINT) AS p, y FROM cy),
         |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(y) AS BIGINT) AS n_pos,
         |  SUM(CAST(y*10000 - p AS DECIMAL(38,0)) *
         |      CAST(10000 - 2*p AS DECIMAL(38,0))) AS num,
         |  SUM(CAST(10000 - 2*p AS DECIMAL(38,0)) * CAST(10000 - 2*p AS DECIMAL(38,0)) *
         |      CAST(p AS DECIMAL(38,0)) * CAST(10000 - p AS DECIMAL(38,0))) AS den
         |  FROM pp)
         |SELECT n, n_pos,
         |  CASE WHEN den > 0 THEN
         |    floor((CAST(num AS DOUBLE)/1e8) / sqrt(CAST(den AS DOUBLE)/1e16)
         |      * 1000000.0 + 0.5) / 1000000.0
         |  END AS z
         |FROM agg""".stripMargin
    },

    // Airport radius pairs: the q293 dim chain + the QUADRATIC planar
    // self-join twin of the grid-bucketed path — pure IEEE arithmetic
    // on both sides (no trig), so distances agree bit-for-bit.
    "q296_airport_near" ->
      """WITH staged AS (SELECT
        |  'AP' || lpad(CAST(n_nationkey AS VARCHAR), 3, '0') AS ident,
        |  CASE CAST(n_nationkey % 4 AS INTEGER) WHEN 0 THEN 'heliport'
        |    WHEN 1 THEN 'small_airport' WHEN 2 THEN 'medium_airport'
        |    ELSE 'large_airport' END AS type,
        |  CAST(n_nationkey AS VARCHAR) || '.5, -' ||
        |    CAST(n_regionkey AS VARCHAR) || '.25' AS coordinates
        |  FROM nation JOIN region ON n_regionkey = r_regionkey),
        |dim AS (SELECT ident,
        |  CAST(str_split(coordinates, ', ')[1] AS DOUBLE) AS latitude,
        |  CAST(str_split(coordinates, ', ')[2] AS DOUBLE) AS longitude
        |  FROM staged
        |  WHERE type IN ('small_airport', 'medium_airport', 'large_airport')),
        |keyed AS (SELECT ROW_NUMBER() OVER (ORDER BY ident) AS k,
        |  latitude, longitude FROM dim)
        |SELECT a.k AS id_a, b.k AS id_b,
        |  floor(sqrt((a.latitude - b.latitude) * (a.latitude - b.latitude) +
        |    (a.longitude - b.longitude) * (a.longitude - b.longitude))
        |    * 1000000.0 + 0.5) / 1000000.0 AS dist_deg
        |FROM keyed a JOIN keyed b ON a.k < b.k
        |WHERE (a.latitude - b.latitude) * (a.latitude - b.latitude) +
        |  (a.longitude - b.longitude) * (a.longitude - b.longitude) <= 6.0 * 6.0
        |ORDER BY id_a, id_b""".stripMargin,

    // ABC/Pareto: exact cent fixed-point revenue, descending-rank
    // cumulative window, integer 80/95% class boundaries.
    "q297_abc_pareto" ->
      """WITH per AS (SELECT l_partkey AS k,
        |  CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_partkey IS NOT NULL
        |  GROUP BY 1),
        |cum AS (SELECT k, rev,
        |  CAST(SUM(rev) OVER (ORDER BY -rev, k) AS BIGINT) AS cumrev FROM per),
        |tot AS (SELECT CAST(SUM(rev) AS BIGINT) AS t FROM per)
        |SELECT k AS l_partkey, CAST(rev AS DOUBLE) / 100 AS amount,
        |  floor(CAST(rev AS DOUBLE) / CAST(t AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS share,
        |  floor(CAST(cumrev AS DOUBLE) / CAST(t AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS cum_share,
        |  CASE WHEN CAST(cumrev AS DECIMAL(38,0)) * 5 <= CAST(t AS DECIMAL(38,0)) * 4 THEN 'A'
        |       WHEN CAST(cumrev AS DECIMAL(38,0)) * 20 <= CAST(t AS DECIMAL(38,0)) * 19 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM cum CROSS JOIN tot ORDER BY cum_share, l_partkey""".stripMargin,

    // Hill numbers: identical (source, term) collapse, 1e-12-snapped
    // Shannon terms, exact Simpson rational.
    "q298_hill_diversity" ->
      """WITH d AS (SELECT source,
        |  unnest(list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x))) AS term
        |  FROM documents
        |  WHERE text IS NOT NULL AND source IS NOT NULL AND length(trim(text)) > 0),
        |tc AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
        |tt AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM tc GROUP BY 1),
        |ag AS (SELECT source, CAST(MAX(t) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS richness,
        |  CAST(SUM(CAST(floor(-(CAST(c AS DOUBLE) / t) * ln(CAST(c AS DOUBLE) / t)
        |    * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS h12,
        |  SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS sq
        |  FROM tc JOIN tt USING (source) GROUP BY 1)
        |SELECT source, n_tokens, richness,
        |  floor(exp(CAST(h12 AS DOUBLE) / 1e12) * 1000000.0 + 0.5) / 1000000.0 AS hill_shannon,
        |  floor(CAST(CAST(n_tokens AS DECIMAL(38,0)) * CAST(n_tokens AS DECIMAL(38,0)) AS DOUBLE)
        |    / CAST(sq AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS hill_simpson
        |FROM ag ORDER BY source""".stripMargin,

    // Window funnel: the q84 min-ts chain with the 24h anchored bound
    // as an extra join predicate (epoch_us = unix_micros parity).
    "q299_window_funnel" ->
      """WITH s0 AS (SELECT user_id AS u, min(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (SELECT u, t0, min(ts) AS t FROM events e JOIN s0 ON e.user_id = s0.u
        |  WHERE event_type = 'click' AND ts > t0
        |    AND epoch_us(ts) <= epoch_us(t0) + 86400000000 GROUP BY 1, 2),
        |s2 AS (SELECT u, min(ts) AS t FROM events e JOIN s1 ON e.user_id = s1.u
        |  WHERE event_type = 'purchase' AND ts > s1.t
        |    AND epoch_us(ts) <= epoch_us(t0) + 86400000000 GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS step_idx, 'view' AS step_name,
        |    CAST((SELECT COUNT(*) FROM s0) AS BIGINT) AS n_reached
        |  UNION ALL SELECT CAST(1 AS BIGINT), 'click',
        |    CAST((SELECT COUNT(*) FROM s1) AS BIGINT)
        |  UNION ALL SELECT CAST(2 AS BIGINT), 'purchase',
        |    CAST((SELECT COUNT(*) FROM s2) AS BIGINT))
        |ORDER BY step_idx""".stripMargin,

    // Association rules: quadratic within-basket self-join twin of the
    // HOF pair expansion, identical margins and measure assemblies.
    "q300_association_rules" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |pc AS (SELECT a.item AS ia, b2.item AS ib, CAST(COUNT(*) AS BIGINT) AS c_ab
        |  FROM b a JOIN b b2 ON a.basket = b2.basket AND a.item < b2.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |ci AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1),
        |nb AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n FROM b),
        |und AS (SELECT ia, ib, c_ab, ca.c AS c_a, cb.c AS c_b FROM pc
        |  JOIN ci ca ON pc.ia = ca.item JOIN ci cb ON pc.ib = cb.item),
        |dirr AS (SELECT ia AS ante, ib AS cons, c_ab, c_a AS c_ante, c_b AS c_cons FROM und
        |  UNION ALL SELECT ib, ia, c_ab, c_b, c_a FROM und)
        |SELECT ante, cons, c_ab, c_ante, c_cons,
        |  floor(CAST(c_ab AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS support,
        |  floor(CAST(c_ab AS DOUBLE) / CAST(c_ante AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS confidence,
        |  floor(CAST(n AS DOUBLE) * c_ab / (CAST(c_ante AS DOUBLE) * c_cons) * 1000000.0 + 0.5) / 1000000.0 AS lift,
        |  floor((CAST(c_ab AS DOUBLE) / CAST(n AS DOUBLE)
        |    - (CAST(c_ante AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(c_cons AS DOUBLE) / CAST(n AS DOUBLE)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS leverage,
        |  CASE WHEN c_ab < c_ante THEN
        |    floor((1.0 - CAST(c_cons AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (1.0 - CAST(c_ab AS DOUBLE) / CAST(c_ante AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
        |  END AS conviction
        |FROM dirr CROSS JOIN nb
        |ORDER BY lift DESC, ante, cons LIMIT 100""".stripMargin,

    // RBO: identical 1e-12-snapped depth-weight suffix literals (the
    // lshPlanes embed convention), ROW_NUMBER twin of globalDenseIds.
    "q301_rbo" -> {
      val k = 100
      val p = 0.9
      val w12 = Array.tabulate(k)(i =>
        math.floor((1 - p) * math.pow(p, i) / (i + 1) * 1e12 + 0.5).toLong)
      val suff = new Array[Long](k + 1)
      for (i <- k - 1 to 0 by -1) suff(i) = suff(i + 1) + w12(i)
      val lits = suff.take(k).mkString("[", ",", "]")
      s"""WITH ha AS (SELECT l_partkey,
         |  CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
         |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-06-01'
         |    AND l_extendedprice IS NOT NULL AND l_partkey IS NOT NULL GROUP BY 1),
         |hb AS (SELECT l_partkey,
         |  CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
         |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-06-01'
         |    AND l_extendedprice IS NOT NULL AND l_partkey IS NOT NULL GROUP BY 1),
         |ra AS (SELECT l_partkey AS id, ROW_NUMBER() OVER (ORDER BY -rev, l_partkey) AS r FROM ha),
         |rb AS (SELECT l_partkey AS id, ROW_NUMBER() OVER (ORDER BY -rev, l_partkey) AS r FROM hb),
         |sw AS (SELECT $lits::BIGINT[] AS s),
         |j AS (SELECT greatest(ra.r, rb.r) AS m FROM ra JOIN rb USING (id)
         |  WHERE ra.r <= $k AND rb.r <= $k)
         |SELECT CAST($k AS BIGINT) AS k, CAST($p AS DOUBLE) AS p,
         |  CAST(COUNT(*) AS BIGINT) AS n_common,
         |  floor(CAST(COALESCE(SUM(sw.s[CAST(m AS INTEGER)]), 0) AS DOUBLE) / 1e12
         |    * 1000000.0 + 0.5) / 1000000.0 AS rbo
         |FROM j CROSS JOIN sw""".stripMargin
    },

    // Jonckheere-Terpstra: identical cells, ordered-group broadcast
    // pairing, exact decimal margins, one pinned moment assembly.
    "q302_jonckheere" ->
      """WITH d AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS g,
        |  CAST(floor(CAST(o_totalprice AS DOUBLE) / 1000) AS BIGINT) AS v
        |  FROM orders WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
        |cells AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
        |j2 AS (SELECT SUM(CASE WHEN a.v < b.v THEN CAST(a.c AS DECIMAL(38,0)) * b.c * 2
        |    WHEN a.v = b.v THEN CAST(a.c AS DECIMAL(38,0)) * b.c
        |    ELSE CAST(0 AS DECIMAL(38,0)) END) AS s
        |  FROM cells a JOIN cells b ON a.g < b.g),
        |gmr AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1),
        |vmr AS (SELECT v, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1),
        |gm AS (SELECT SUM(CAST(n AS DECIMAL(38,0))) AS s1g, CAST(COUNT(*) AS BIGINT) AS kg,
        |  SUM(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))) AS s2g,
        |  SUM(CAST(n AS DECIMAL(38,0)) * CAST(n - 1 AS DECIMAL(38,0)) * CAST(n * 2 + 5 AS DECIMAL(38,0))) AS t25g,
        |  SUM(CAST(n AS DECIMAL(38,0)) * CAST(n - 1 AS DECIMAL(38,0))) AS t2g,
        |  SUM(CAST(n AS DECIMAL(38,0)) * CAST(n - 1 AS DECIMAL(38,0)) * CAST(n - 2 AS DECIMAL(38,0))) AS t3g
        |  FROM gmr),
        |vm AS (SELECT
        |  SUM(CAST(n AS DECIMAL(38,0)) * CAST(n - 1 AS DECIMAL(38,0)) * CAST(n * 2 + 5 AS DECIMAL(38,0))) AS t25v,
        |  SUM(CAST(n AS DECIMAL(38,0)) * CAST(n - 1 AS DECIMAL(38,0))) AS t2v,
        |  SUM(CAST(n AS DECIMAL(38,0)) * CAST(n - 1 AS DECIMAL(38,0)) * CAST(n - 2 AS DECIMAL(38,0))) AS t3v
        |  FROM vmr)
        |SELECT CAST(s1g AS BIGINT) AS n, kg AS n_groups,
        |  floor(CAST(s AS DOUBLE) / 2 * 10000.0 + 0.5) / 10000.0 AS j_stat,
        |  floor((CAST(s1g AS DOUBLE) * CAST(s1g AS DOUBLE) - CAST(s2g AS DOUBLE)) / 4
        |    * 10000.0 + 0.5) / 10000.0 AS j_mean,
        |  CASE WHEN kg > 1 AND
        |    (CAST(s1g AS DOUBLE) * (CAST(s1g AS DOUBLE) - 1) * (2 * CAST(s1g AS DOUBLE) + 5)
        |      - CAST(t25g AS DOUBLE) - CAST(t25v AS DOUBLE)) / 72
        |    + CAST(t3g AS DOUBLE) * CAST(t3v AS DOUBLE)
        |      / (36 * CAST(s1g AS DOUBLE) * (CAST(s1g AS DOUBLE) - 1) * (CAST(s1g AS DOUBLE) - 2))
        |    + CAST(t2g AS DOUBLE) * CAST(t2v AS DOUBLE)
        |      / (8 * CAST(s1g AS DOUBLE) * (CAST(s1g AS DOUBLE) - 1)) > 0
        |  THEN floor((CAST(s AS DOUBLE) / 2
        |      - (CAST(s1g AS DOUBLE) * CAST(s1g AS DOUBLE) - CAST(s2g AS DOUBLE)) / 4)
        |    / sqrt(
        |    (CAST(s1g AS DOUBLE) * (CAST(s1g AS DOUBLE) - 1) * (2 * CAST(s1g AS DOUBLE) + 5)
        |      - CAST(t25g AS DOUBLE) - CAST(t25v AS DOUBLE)) / 72
        |    + CAST(t3g AS DOUBLE) * CAST(t3v AS DOUBLE)
        |      / (36 * CAST(s1g AS DOUBLE) * (CAST(s1g AS DOUBLE) - 1) * (CAST(s1g AS DOUBLE) - 2))
        |    + CAST(t2g AS DOUBLE) * CAST(t2v AS DOUBLE)
        |      / (8 * CAST(s1g AS DOUBLE) * (CAST(s1g AS DOUBLE) - 1)))
        |    * 1000000.0 + 0.5) / 1000000.0
        |  END AS z
        |FROM j2 CROSS JOIN gm CROSS JOIN vm""".stripMargin,

    // Granger lag-1: the q130 grid chain for both types, two shifted
    // joins, nine decimal sums, identical Cramer/RSS/F assembly.
    "q303_granger" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |gr AS (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b),
        |ys AS (SELECT gr.bin, COALESCE(c.n, 0) AS v FROM gr
        |  LEFT JOIN c ON c.t = 'purchase' AND c.bin = gr.bin),
        |xs AS (SELECT gr.bin, COALESCE(c.n, 0) AS v FROM gr
        |  LEFT JOIN c ON c.t = 'error' AND c.bin = gr.bin),
        |r AS (SELECT y.v AS y, p.v AS p, q.v AS q FROM ys y
        |  JOIN ys p ON p.bin + 1 = y.bin JOIN xs q ON q.bin + 1 = y.bin),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(y AS DECIMAL(38,0))) AS sy, SUM(CAST(p AS DECIMAL(38,0))) AS sp,
        |  SUM(CAST(q AS DECIMAL(38,0))) AS sq,
        |  SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy,
        |  SUM(CAST(p AS DECIMAL(38,0)) * CAST(p AS DECIMAL(38,0))) AS spp,
        |  SUM(CAST(q AS DECIMAL(38,0)) * CAST(q AS DECIMAL(38,0))) AS sqq,
        |  SUM(CAST(p AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS spy,
        |  SUM(CAST(q AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sqy,
        |  SUM(CAST(p AS DECIMAL(38,0)) * CAST(q AS DECIMAL(38,0))) AS spq
        |  FROM r),
        |m AS (SELECT n, CAST(n AS DOUBLE) AS nd,
        |  CAST(CAST(n AS DECIMAL(38,0)) * spp - sp * sp AS DOUBLE) AS mpp,
        |  CAST(CAST(n AS DECIMAL(38,0)) * sqq - sq * sq AS DOUBLE) AS mqq,
        |  CAST(CAST(n AS DECIMAL(38,0)) * spq - sp * sq AS DOUBLE) AS mpq,
        |  CAST(CAST(n AS DECIMAL(38,0)) * spy - sp * sy AS DOUBLE) AS mpy,
        |  CAST(CAST(n AS DECIMAL(38,0)) * sqy - sq * sy AS DOUBLE) AS mqy,
        |  CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE) AS myy
        |  FROM s),
        |f AS (SELECT n, nd, mpp, mpy, myy,
        |  mpp * mqq - mpq * mpq AS d,
        |  (mpy * mqq - mqy * mpq) / (mpp * mqq - mpq * mpq) AS bp,
        |  (mqy * mpp - mpy * mpq) / (mpp * mqq - mpq * mpq) AS bq,
        |  mqy
        |  FROM m),
        |g AS (SELECT n, nd, d, mpp, bp, bq,
        |  (myy - bp * mpy - bq * mqy) / nd AS rss_u,
        |  (myy - mpy * mpy / mpp) / nd AS rss_r
        |  FROM f)
        |SELECT n AS n_bins,
        |  CASE WHEN n > 3 AND mpp > 0 AND d > 0 AND rss_u > 0
        |    THEN floor(bp * 1000000.0 + 0.5) / 1000000.0 END AS beta_ylag,
        |  CASE WHEN n > 3 AND mpp > 0 AND d > 0 AND rss_u > 0
        |    THEN floor(bq * 1000000.0 + 0.5) / 1000000.0 END AS beta_xlag,
        |  CASE WHEN n > 3 AND mpp > 0 AND d > 0 AND rss_u > 0
        |    THEN floor(rss_r * 10000.0 + 0.5) / 10000.0 END AS rss_r,
        |  CASE WHEN n > 3 AND mpp > 0 AND d > 0 AND rss_u > 0
        |    THEN floor(rss_u * 10000.0 + 0.5) / 10000.0 END AS rss_u,
        |  CASE WHEN n > 3 AND mpp > 0 AND d > 0 AND rss_u > 0
        |    THEN floor((rss_r - rss_u) / (rss_u / (nd - 3)) * 10000.0 + 0.5) / 10000.0 END AS f_stat
        |FROM g""".stripMargin,

    // Self-BLEU: identical bigram cells, leave-one-out clip, 1e-6 doc
    // snaps, pinned per-source averages.
    "q304_self_bleu" ->
      """WITH d AS (SELECT source, doc_id,
        |  regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
        |bg AS (SELECT source, doc_id,
        |  unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS gram
        |  FROM d WHERE len(t) >= 2),
        |pd AS (SELECT source, doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM bg GROUP BY 1, 2, 3),
        |pool AS (SELECT source, gram, CAST(SUM(c) AS BIGINT) AS cs
        |  FROM pd GROUP BY 1, 2),
        |p6 AS (SELECT pd.source, pd.doc_id,
        |  CAST(floor(CAST(SUM(least(c, cs - c)) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
        |    * 1e6 + 0.5) AS BIGINT) AS p6
        |  FROM pd JOIN pool USING (source, gram) GROUP BY 1, 2)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  floor(CAST(SUM(p6) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6
        |    * 1000000.0 + 0.5) / 1000000.0 AS avg_overlap,
        |  floor((1.0 - CAST(SUM(p6) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6)
        |    * 1000000.0 + 0.5) / 1000000.0 AS avg_novelty
        |FROM p6 GROUP BY 1 ORDER BY 1""".stripMargin,

    // Mood's median: exact pooled lower median over the value domain,
    // then the q107 chi2 grid on (group, above) cells.
    "q305_moods_median" ->
      """WITH b AS (SELECT c_mktsegment AS g,
        |  CAST(floor(CAST(c_acctbal AS DOUBLE)) AS BIGINT) AS v
        |  FROM customer WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL),
        |vc AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS w FROM b GROUP BY 1),
        |cum AS (SELECT v, w, SUM(w) OVER (ORDER BY v) AS cw,
        |  (SELECT SUM(w) FROM vc) AS tw FROM vc),
        |med AS (SELECT CAST(min(v) AS BIGINT) AS m FROM cum WHERE cw * 2 >= tw),
        |lab AS (SELECT g, CAST(v > m AS INT) AS a FROM b CROSS JOIN med),
        |cells AS (SELECT CAST(g AS VARCHAR) AS r, CAST(a AS VARCHAR) AS c, COUNT(*) AS o
        |  FROM lab GROUP BY 1, 2),
        |rt AS (SELECT r, SUM(o) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT c, SUM(o) AS ct FROM cells GROUP BY 1),
        |t AS (SELECT SUM(o) AS n, COUNT(DISTINCT r) AS nr FROM cells),
        |grid AS (SELECT rt.r, ct.c, rt.rt, ct.ct, COALESCE(cells.o, 0) AS o
        |  FROM rt CROSS JOIN ct LEFT JOIN cells ON cells.r = rt.r AND cells.c = ct.c),
        |terms AS (SELECT CAST(floor(
        |    ((CAST(o AS DOUBLE) - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(t.n AS DOUBLE))
        |     *(CAST(o AS DOUBLE) - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(t.n AS DOUBLE))
        |     /(CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(t.n AS DOUBLE)))*1000000.0 + 0.5)
        |   /1000000.0 AS DECIMAL(28,6)) AS term
        |  FROM grid, t)
        |SELECT CAST(n AS BIGINT) AS n, CAST(nr AS BIGINT) AS n_groups,
        |  med.m AS pooled_median,
        |  floor(CAST((SELECT SUM(term) FROM terms) AS DOUBLE)*10000.0 + 0.5)/10000.0 AS chi2,
        |  CAST(nr - 1 AS BIGINT) AS dof
        |FROM t CROSS JOIN med""".stripMargin,

    // Turning points: the q130 grid, two bin-shifted self-joins,
    // strict-extrema counting, pinned normal moments.
    "q306_turning_points" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |gr AS (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b),
        |tt AS (SELECT DISTINCT event_type AS t FROM e),
        |s AS (SELECT tt.t, gr.bin, COALESCE(c.n, 0) AS v FROM tt CROSS JOIN gr
        |  LEFT JOIN c ON c.t = tt.t AND c.bin = gr.bin),
        |i AS (SELECT m.t, CASE WHEN (p.v < m.v AND m.v > nx.v)
        |    OR (p.v > m.v AND m.v < nx.v) THEN 1 ELSE 0 END AS tp
        |  FROM s m JOIN s p ON p.t = m.t AND p.bin + 1 = m.bin
        |  JOIN s nx ON nx.t = m.t AND nx.bin - 1 = m.bin),
        |a AS (SELECT t, CAST(SUM(tp) AS BIGINT) AS n_turning FROM i GROUP BY 1),
        |nb AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_bins FROM s GROUP BY 1)
        |SELECT nb.t AS event_type, n_bins,
        |  CAST(COALESCE(n_turning, 0) AS BIGINT) AS n_turning,
        |  CASE WHEN n_bins >= 3 THEN
        |    floor((CAST(n_bins AS DOUBLE) - 2) * 2 / 3 * 10000.0 + 0.5) / 10000.0
        |  END AS expected,
        |  CASE WHEN n_bins >= 3 THEN
        |    floor((CAST(COALESCE(n_turning, 0) AS DOUBLE)
        |      - (CAST(n_bins AS DOUBLE) - 2) * 2 / 3)
        |      / sqrt((CAST(n_bins AS DOUBLE) * 16 - 29) / 90)
        |      * 1000000.0 + 0.5) / 1000000.0
        |  END AS z
        |FROM nb LEFT JOIN a USING (t) ORDER BY 1""".stripMargin,

    // Conditional entropy: the q108 pair extraction, 1e-12-snapped
    // terms, identical margin/total assembly.
    "q307_conditional_entropy" ->
      """WITH p AS (SELECT event_type AS f,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |cells AS (SELECT f, t, CAST(COUNT(*) AS BIGINT) AS n FROM p
        |  WHERE t IS NOT NULL GROUP BY 1, 2),
        |ft AS (SELECT f, CAST(SUM(n) AS BIGINT) AS nf FROM cells GROUP BY 1),
        |tt2 AS (SELECT t, CAST(SUM(n) AS BIGINT) AS nt FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS ntr,
        |  CAST(COUNT(DISTINCT f) AS BIGINT) AS nft FROM cells),
        |hc AS (SELECT CAST(SUM(CAST(floor(
        |    -(CAST(n AS DOUBLE) / ntr) * ln(CAST(n AS DOUBLE) / CAST(nf AS DOUBLE))
        |    * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS hc12
        |  FROM cells JOIN ft USING (f) CROSS JOIN tot),
        |hn AS (SELECT CAST(SUM(CAST(floor(
        |    -(CAST(nt AS DOUBLE) / ntr) * ln(CAST(nt AS DOUBLE) / CAST(ntr AS DOUBLE))
        |    * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS hn12
        |  FROM tt2 CROSS JOIN tot)
        |SELECT ntr AS n_transitions, nft AS n_from_types,
        |  floor(CAST(hn12 AS DOUBLE) / 1e12 * 1000000.0 + 0.5) / 1000000.0 AS h_next,
        |  floor(CAST(hc12 AS DOUBLE) / 1e12 * 1000000.0 + 0.5) / 1000000.0 AS h_next_given_cur,
        |  floor(CAST(hn12 - hc12 AS DOUBLE) / 1e12 * 1000000.0 + 0.5) / 1000000.0 AS info_gain
        |FROM hc CROSS JOIN hn CROSS JOIN tot""".stripMargin,

    // PII audit: identical staging, then the structural detectors as
    // splits/list comprehensions (the kernel's portable definitions).
    "q308_pii_audit" ->
      """WITH staged AS (SELECT c_mktsegment AS source,
        |  'reach ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR) ||
        |  '@mail.example.com on 10.' || CAST(c_custkey % 256 AS VARCHAR) || '.' ||
        |  CAST(c_custkey * 7 % 256 AS VARCHAR) || '.' ||
        |  CAST(c_custkey * 13 % 256 AS VARCHAR) ||
        |  ' phone ' || lpad(CAST(c_custkey * 7919 % 10000000000 AS VARCHAR), 10, '0') ||
        |  ' card ' || lpad(CAST(c_custkey * 1000003 % 10000000000000000 AS VARCHAR), 16, '0')
        |  AS text FROM customer),
        |d AS (SELECT source, regexp_split_to_array(trim(text), '\s+') AS toks,
        |  regexp_extract_all(text, '[0-9]+') AS runs FROM staged),
        |sig AS (SELECT source,
        |  CAST(len([t FOR t IN toks IF len(str_split(t, '@')) = 2
        |    AND len(str_split(t, '@')[1]) >= 1 AND len(str_split(t, '@')[2]) >= 3
        |    AND contains(str_split(t, '@')[2], '.')]) AS BIGINT) AS e,
        |  CAST(len([t FOR t IN toks IF len(str_split(t, '.')) = 4
        |    AND len([p FOR p IN str_split(t, '.') IF len(p) >= 1 AND len(p) <= 3
        |      AND len(regexp_extract_all(p, '[0-9]')) = len(p)
        |      AND TRY_CAST(p AS BIGINT) <= 255]) = 4]) AS BIGINT) AS ip,
        |  CAST(len([r FOR r IN runs IF len(r) = 10]) AS BIGINT) AS ph,
        |  CAST(len([r FOR r IN runs IF len(r) >= 13 AND len(r) <= 16]) AS BIGINT) AS cd,
        |  CAST(len([r FOR r IN runs IF len(r) >= 13 AND len(r) <= 16
        |    AND list_sum([CASE WHEN (len(r) - i) % 2 = 1
        |      THEN CASE WHEN CAST(r[i] AS INT) * 2 > 9 THEN CAST(r[i] AS INT) * 2 - 9
        |        ELSE CAST(r[i] AS INT) * 2 END
        |      ELSE CAST(r[i] AS INT) END FOR i IN range(1, len(r) + 1)]) % 10 = 0])
        |    AS BIGINT) AS lv
        |  FROM d)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(e) AS BIGINT) AS n_email, CAST(SUM(ip) AS BIGINT) AS n_ipv4,
        |  CAST(SUM(ph) AS BIGINT) AS n_phone,
        |  CAST(SUM(cd) AS BIGINT) AS n_card_candidates,
        |  CAST(SUM(lv) AS BIGINT) AS n_luhn_valid,
        |  CAST(SUM(CASE WHEN e + ip + ph + cd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_flagged
        |FROM sig GROUP BY 1 ORDER BY 1""".stripMargin,

    // Ansari-Bradley: identical value cells, midrank scores at 2-scale
    // via the cumulative pass, conditional-permutation moments.
    "q309_ansari_bradley" ->
      """WITH a AS (SELECT CAST(value AS DOUBLE) v FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL),
        |b AS (SELECT CAST(value AS DOUBLE) v FROM events
        |  WHERE event_type = 'view' AND value IS NOT NULL),
        |ca AS (SELECT v, CAST(COUNT(*) AS BIGINT) c FROM a GROUP BY 1),
        |cb AS (SELECT v, CAST(COUNT(*) AS BIGINT) c FROM b GROUP BY 1),
        |m AS (SELECT COALESCE(ca.v, cb.v) AS v, COALESCE(ca.c, 0) AS cca,
        |  COALESCE(cb.c, 0) AS ccb FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |t AS (SELECT CAST(COALESCE(SUM(cca), 0) AS BIGINT) AS mm,
        |  CAST(COALESCE(SUM(ccb), 0) AS BIGINT) AS nn FROM m),
        |sc AS (SELECT cca, cca + ccb AS tt,
        |  least((SUM(cca + ccb) OVER (ORDER BY v) - (cca + ccb)) * 2 + (cca + ccb) + 1,
        |        (mm + nn + 1) * 2
        |          - ((SUM(cca + ccb) OVER (ORDER BY v) - (cca + ccb)) * 2 + (cca + ccb) + 1)) AS s2
        |  FROM m CROSS JOIN t),
        |ag AS (SELECT SUM(CAST(cca AS DECIMAL(38,0)) * s2) AS ab2,
        |  SUM(CAST(tt AS DECIMAL(38,0)) * s2) AS ss2,
        |  SUM(CAST(tt AS DECIMAL(38,0)) * s2 * s2) AS ss4 FROM sc)
        |SELECT mm AS n_a, nn AS n_b,
        |  CASE WHEN mm > 0 AND nn > 0 THEN
        |    floor(CAST(ab2 AS DOUBLE) / 2 * 10000.0 + 0.5) / 10000.0 END AS ab_stat,
        |  CASE WHEN mm > 0 AND nn > 0 THEN
        |    floor(CAST(mm AS DOUBLE) * CAST(ss2 AS DOUBLE)
        |      / (CAST(mm AS DOUBLE) + CAST(nn AS DOUBLE)) / 2 * 10000.0 + 0.5) / 10000.0
        |  END AS ab_mean,
        |  CASE WHEN mm > 0 AND nn > 0 AND
        |    CAST(mm AS DOUBLE) * CAST(nn AS DOUBLE)
        |      * CAST(CAST(mm + nn AS DECIMAL(38,0)) * ss4 - ss2 * ss2 AS DOUBLE)
        |      / ((CAST(mm AS DOUBLE) + CAST(nn AS DOUBLE)) * (CAST(mm AS DOUBLE) + CAST(nn AS DOUBLE))
        |         * (CAST(mm AS DOUBLE) + CAST(nn AS DOUBLE) - 1)) > 0
        |  THEN floor((CAST(ab2 AS DOUBLE)
        |      - CAST(mm AS DOUBLE) * CAST(ss2 AS DOUBLE)
        |        / (CAST(mm AS DOUBLE) + CAST(nn AS DOUBLE)))
        |    / sqrt(CAST(mm AS DOUBLE) * CAST(nn AS DOUBLE)
        |      * CAST(CAST(mm + nn AS DECIMAL(38,0)) * ss4 - ss2 * ss2 AS DOUBLE)
        |      / ((CAST(mm AS DOUBLE) + CAST(nn AS DOUBLE)) * (CAST(mm AS DOUBLE) + CAST(nn AS DOUBLE))
        |         * (CAST(mm AS DOUBLE) + CAST(nn AS DOUBLE) - 1)))
        |    * 1000000.0 + 0.5) / 1000000.0
        |  END AS z
        |FROM ag CROSS JOIN t""".stripMargin,

    // Hosmer-Lemeshow: the q120 bin chain + (O-E)^2/(E(1-E/n)) terms
    // snapped 1e-6, statistic 1e-4, bins-2 df.
    "q310_hosmer_lemeshow" -> {
      val w = Similarity.lshPlanes(256, 1, seed = 7)(0)
      s"""WITH wt AS (SELECT ${w.mkString("[", ",", "]")}::DOUBLE[] AS w),
         |t AS (SELECT doc_id,
         |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
         |       ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x))
         |  END AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         |    list_reduce(list_transform(toks, tok ->
         |      wt.w[((list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
         |             (a,b) -> a*16 + b) % 2147483629) % 256) + 1]),
         |      (a,b) -> a + b) END AS raw
         |  FROM t CROSS JOIN wt),
         |cy AS (SELECT s.doc_id,
         |  1.0 / (1.0 + exp(-(floor((raw + -0.05)*10000.0 + 0.5)/10000.0))) AS conf,
         |  CAST(d.lang = 'en' AS BIGINT) AS y
         |  FROM s JOIN documents d USING (doc_id)),
         |bb AS (SELECT least((CAST(floor(conf*10000.0 + 0.5) AS BIGINT) * 10) // 10000, 9) AS bin,
         |       CAST(floor(conf*10000.0 + 0.5) AS BIGINT) AS c4, y FROM cy),
         |g AS (SELECT bin, COUNT(*) AS n, SUM(c4) AS s_c4,
         |      CAST(SUM(y) AS BIGINT) AS o FROM bb GROUP BY 1),
         |terms AS (SELECT n,
         |  CASE WHEN CAST(s_c4 AS DOUBLE)/1e4 > 0 AND CAST(s_c4 AS DOUBLE)/1e4 < CAST(n AS DOUBLE)
         |  THEN CAST(floor(
         |    (CAST(o AS DOUBLE) - CAST(s_c4 AS DOUBLE)/1e4)
         |    * (CAST(o AS DOUBLE) - CAST(s_c4 AS DOUBLE)/1e4)
         |    / ((CAST(s_c4 AS DOUBLE)/1e4) * (1.0 - CAST(s_c4 AS DOUBLE)/1e4/CAST(n AS DOUBLE)))
         |    * 1000000.0 + 0.5) AS BIGINT)
         |  ELSE 0 END AS t6 FROM g)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_bins, CAST(SUM(n) AS BIGINT) AS n,
         |  floor(CAST(SUM(t6) AS DOUBLE)/1e6*10000.0 + 0.5)/10000.0 AS hl_chi2,
         |  CAST(COUNT(*) - 2 AS BIGINT) AS dof
         |FROM terms""".stripMargin
    },

    // Langid confusion: the q16 chain aggregated to (label, predicted)
    // cells + label margins + one global accuracy.
    "q311_langid_confusion" -> {
      val cands = functions.stopwords.toSeq.sortBy(_._1).map { case (l, sw) =>
        s"('$l', [${sw.map(w => s"'$w'").mkString(",")}])"
      }.mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id, lang AS label_lang,
         |    list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS toks
         |  FROM documents),
         |sc AS (
         |  SELECT b.doc_id, b.label_lang, u.l AS cand,
         |    len(list_intersect(b.toks, u.sw)) AS score
         |  FROM base b, (VALUES $cands) u(l, sw)),
         |r AS (SELECT doc_id, label_lang, cand,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand DESC) AS rn
         |  FROM sc),
         |pred AS (SELECT label_lang, cand AS predicted_lang,
         |  CAST(cand = label_lang AS INT) AS im FROM r WHERE rn = 1),
         |cells AS (SELECT label_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM pred GROUP BY 1, 2),
         |rt AS (SELECT label_lang, CAST(SUM(n) AS BIGINT) AS nl FROM cells GROUP BY 1),
         |acc AS (SELECT CAST(SUM(im) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS a FROM pred)
         |SELECT label_lang, predicted_lang, n,
         |  floor(CAST(n AS DOUBLE) / CAST(nl AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS share,
         |  floor(a * 1000000.0 + 0.5) / 1000000.0 AS accuracy
         |FROM cells JOIN rt USING (label_lang) CROSS JOIN acc
         |ORDER BY label_lang, predicted_lang""".stripMargin
    },

    // Cramer-von Mises: the q109 value cells, one cumulative pass,
    // exact integer grid terms, one pinned division.
    "q312_cvm" ->
      """WITH a AS (SELECT CAST(value AS DOUBLE) v FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL),
        |b AS (SELECT CAST(value AS DOUBLE) v FROM events
        |  WHERE event_type = 'view' AND value IS NOT NULL),
        |ca AS (SELECT v, CAST(COUNT(*) AS BIGINT) c FROM a GROUP BY 1),
        |cb AS (SELECT v, CAST(COUNT(*) AS BIGINT) c FROM b GROUP BY 1),
        |m AS (SELECT COALESCE(ca.v, cb.v) AS v, COALESCE(ca.c, 0) AS cca,
        |  COALESCE(cb.c, 0) AS ccb FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |t AS (SELECT CAST(COALESCE(SUM(cca), 0) AS BIGINT) AS mm,
        |  CAST(COALESCE(SUM(ccb), 0) AS BIGINT) AS nn, CAST(COUNT(*) AS BIGINT) AS nv FROM m),
        |pre AS (SELECT cca + ccb AS tt,
        |  SUM(cca) OVER (ORDER BY v) AS cuma, SUM(ccb) OVER (ORDER BY v) AS cumb
        |  FROM m),
        |num AS (SELECT SUM(CAST(tt AS DECIMAL(38,0)) *
        |  (CAST(cuma AS DECIMAL(38,0)) * nn - CAST(cumb AS DECIMAL(38,0)) * mm) *
        |  (CAST(cuma AS DECIMAL(38,0)) * nn - CAST(cumb AS DECIMAL(38,0)) * mm)) AS s
        |  FROM pre CROSS JOIN t)
        |SELECT mm AS n_a, nn AS n_b, nv AS n_values,
        |  CASE WHEN mm > 0 AND nn > 0 THEN
        |    floor(CAST(s AS DOUBLE)
        |      / (CAST(mm AS DOUBLE) * CAST(nn AS DOUBLE)
        |         * (CAST(mm AS DOUBLE) + CAST(nn AS DOUBLE))
        |         * (CAST(mm AS DOUBLE) + CAST(nn AS DOUBLE)))
        |      * 1000000.0 + 0.5) / 1000000.0
        |  END AS cvm_t
        |FROM num CROSS JOIN t""".stripMargin,

    // Brunner-Munzel: identical cells, three cumulative columns,
    // 2-scale midranks, moment-form rank variances, pinned assembly.
    "q313_brunner_munzel" ->
      """WITH a AS (SELECT CAST(value AS DOUBLE) v FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL),
        |b AS (SELECT CAST(value AS DOUBLE) v FROM events
        |  WHERE event_type = 'view' AND value IS NOT NULL),
        |ca AS (SELECT v, CAST(COUNT(*) AS BIGINT) c FROM a GROUP BY 1),
        |cb AS (SELECT v, CAST(COUNT(*) AS BIGINT) c FROM b GROUP BY 1),
        |m AS (SELECT COALESCE(ca.v, cb.v) AS v, COALESCE(ca.c, 0) AS cca,
        |  COALESCE(cb.c, 0) AS ccb FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |t AS (SELECT CAST(COALESCE(SUM(cca), 0) AS BIGINT) AS mm,
        |  CAST(COALESCE(SUM(ccb), 0) AS BIGINT) AS nn FROM m),
        |pre AS (SELECT cca, ccb, cca + ccb AS tt,
        |  SUM(cca) OVER (ORDER BY v) AS cuma, SUM(ccb) OVER (ORDER BY v) AS cumb,
        |  SUM(cca + ccb) OVER (ORDER BY v) AS cumt FROM m),
        |s2 AS (SELECT cca, ccb,
        |  (cumt - tt) * 2 + tt + 1 AS p2,
        |  (cuma - cca) * 2 + cca + 1 AS a2,
        |  (cumb - ccb) * 2 + ccb + 1 AS b2 FROM pre),
        |ag AS (SELECT
        |  SUM(CAST(cca AS DECIMAL(38,0)) * CAST(p2 AS DECIMAL(38,0))) AS ra2,
        |  SUM(CAST(ccb AS DECIMAL(38,0)) * CAST(p2 AS DECIMAL(38,0))) AS rb2,
        |  SUM(CAST(cca AS DECIMAL(38,0)) * CAST(p2 - a2 AS DECIMAL(38,0))) AS sx1,
        |  SUM(CAST(ccb AS DECIMAL(38,0)) * CAST(p2 - b2 AS DECIMAL(38,0))) AS sx2,
        |  SUM(CAST(cca AS DECIMAL(38,0)) * CAST(p2 - a2 AS DECIMAL(38,0))
        |      * CAST(p2 - a2 AS DECIMAL(38,0))) AS sxx1,
        |  SUM(CAST(ccb AS DECIMAL(38,0)) * CAST(p2 - b2 AS DECIMAL(38,0))
        |      * CAST(p2 - b2 AS DECIMAL(38,0))) AS sxx2
        |  FROM s2),
        |g AS (SELECT mm, nn,
        |  CAST(ra2 AS DOUBLE) / 2 / CAST(mm AS DOUBLE) AS r1,
        |  CAST(rb2 AS DOUBLE) / 2 / CAST(nn AS DOUBLE) AS r2,
        |  (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(mm AS DOUBLE))
        |    / (4 * (CAST(mm AS DOUBLE) - 1)) AS s1,
        |  (CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(nn AS DOUBLE))
        |    / (4 * (CAST(nn AS DOUBLE) - 1)) AS s2v
        |  FROM ag CROSS JOIN t),
        |h AS (SELECT mm, nn, r1, r2,
        |  CAST(mm AS DOUBLE) * s1 AS v1, CAST(nn AS DOUBLE) * s2v AS v2 FROM g)
        |SELECT mm AS n_a, nn AS n_b,
        |  CASE WHEN mm > 0 AND nn > 0 THEN
        |    floor((r2 - (CAST(nn AS DOUBLE) + 1) / 2) / CAST(mm AS DOUBLE)
        |      * 1000000.0 + 0.5) / 1000000.0
        |  END AS p_hat,
        |  CASE WHEN mm > 1 AND nn > 1 AND (v1 + v2) > 0 THEN
        |    floor(CAST(mm AS DOUBLE) * CAST(nn AS DOUBLE) * (r2 - r1)
        |      / ((CAST(mm AS DOUBLE) + CAST(nn AS DOUBLE)) * sqrt(v1 + v2))
        |      * 1000000.0 + 0.5) / 1000000.0
        |  END AS w_stat,
        |  CASE WHEN mm > 1 AND nn > 1 AND (v1 + v2) > 0 THEN
        |    floor((v1 + v2) * (v1 + v2)
        |      / (v1 * v1 / (CAST(mm AS DOUBLE) - 1) + v2 * v2 / (CAST(nn AS DOUBLE) - 1))
        |      * 10000.0 + 0.5) / 10000.0
        |  END AS df
        |FROM h""".stripMargin,

    // Ordinal datasheet: the q270 cell chain + distinct-margin counts,
    // then gamma / Somers' D both directions / tau-c as pinned
    // assemblies of the same exact nc/nd/tie integers.
    "q314_ordinal_assoc" ->
      """WITH s AS (SELECT CAST(l_quantity AS BIGINT) AS x,
        |  CAST(floor(CAST(l_extendedprice AS DOUBLE)/10000.0) AS BIGINT) AS y
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
        |pr AS (SELECT a.x AS x1, a.y AS y1, a.c AS c1, b2.x AS x2, b2.y AS y2, b2.c AS c2
        |  FROM cells a, cells b2
        |  WHERE a.x < b2.x OR (a.x = b2.x AND a.y < b2.y)),
        |cd AS (SELECT
        |  SUM(CASE WHEN x1 < x2 AND y1 < y2 THEN CAST(c1 AS HUGEINT)*c2 ELSE 0 END) AS nc,
        |  SUM(CASE WHEN x1 < x2 AND y1 > y2 THEN CAST(c1 AS HUGEINT)*c2 ELSE 0 END) AS nd
        |  FROM pr),
        |tx AS (SELECT CAST(COUNT(*) AS BIGINT) AS dx,
        |  SUM(CAST(t AS HUGEINT)*(t-1)) AS t2x FROM
        |  (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY x)),
        |ty AS (SELECT CAST(COUNT(*) AS BIGINT) AS dy,
        |  SUM(CAST(t AS HUGEINT)*(t-1)) AS t2y FROM
        |  (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY y)),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells),
        |f AS (SELECT n, n_cells, CAST(nc AS BIGINT) AS nci, CAST(nd AS BIGINT) AS ndi,
        |  CAST(nc AS DOUBLE) - CAST(nd AS DOUBLE) AS ncd,
        |  CAST(nc AS DOUBLE) + CAST(nd AS DOUBLE) AS sumcd,
        |  CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0)/2.0 - CAST(t2x AS DOUBLE)/2.0 AS dxx,
        |  CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0)/2.0 - CAST(t2y AS DOUBLE)/2.0 AS dyy,
        |  CAST(least(dx, dy) AS DOUBLE) AS m, CAST(n AS DOUBLE) AS nD
        |  FROM tot CROSS JOIN cd CROSS JOIN tx CROSS JOIN ty)
        |SELECT n, n_cells, nci AS concordant, ndi AS discordant,
        |  CASE WHEN sumcd > 0 THEN floor(ncd/sumcd*1000000.0 + 0.5)/1000000.0 END AS gamma,
        |  CASE WHEN dxx > 0 THEN floor(ncd/dxx*1000000.0 + 0.5)/1000000.0 END AS somers_d_yx,
        |  CASE WHEN dyy > 0 THEN floor(ncd/dyy*1000000.0 + 0.5)/1000000.0 END AS somers_d_xy,
        |  CASE WHEN m > 1 THEN
        |    floor(ncd*2.0*m/(nD*nD*(m - 1.0))*1000000.0 + 0.5)/1000000.0 END AS tau_c
        |FROM f""".stripMargin,

    // D'Agostino-Pearson K2: the q254 exact moment chain, then the
    // 1970/1983 skew/kurtosis transformations as one pinned assembly
    // (asinh expanded to ln(y+sqrt(y*y+1)), IEEE cbrt).
    "q315_dagostino_k2" ->
      """WITH m AS (SELECT CAST(event_type AS VARCHAR) AS g,
        |  CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS HUGEINT) AS x
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS s1,
        |  SUM(x*x) AS s2, SUM(x*x*x) AS s3, SUM(x*x*x*x) AS s4
        |  FROM m GROUP BY 1),
        |b AS (SELECT g, n,
        |  CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE) AS m1,
        |  CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE) AS r2,
        |  CAST(s3 AS DOUBLE)/CAST(n AS DOUBLE) AS r3,
        |  CAST(s4 AS DOUBLE)/CAST(n AS DOUBLE) AS r4 FROM a),
        |c AS (SELECT g, n, CAST(n AS DOUBLE) AS nd,
        |  r2 - m1*m1 AS m2,
        |  r3 - m1*3*r2 + m1*2*m1*m1 AS m3,
        |  r4 - m1*4*r3 + m1*6*m1*r2 - m1*3*m1*m1*m1 AS m4 FROM b),
        |e AS (SELECT g, n, nd, m2,
        |  m3/(sqrt(m2)*m2) AS g1, m4/(m2*m2) AS b2 FROM c),
        |f AS (SELECT g, n, nd, m2, b2,
        |  g1*sqrt((nd+1)*(nd+3)/((nd-2)*6)) AS y,
        |  (nd*nd + nd*27 - 70)*3*(nd+1)*(nd+3)
        |    /((nd-2)*(nd+5)*(nd+7)*(nd+9)) AS beta2 FROM e),
        |h AS (SELECT g, n, nd, m2, b2, y,
        |  sqrt((beta2 - 1)*2) - 1 AS w2 FROM f),
        |i AS (SELECT g, n, nd, m2, b2,
        |  y/sqrt(2.0/(w2 - 1)) AS ya, 1.0/sqrt(ln(w2)/2) AS delta FROM h),
        |j AS (SELECT g, n, nd, m2, b2,
        |  delta*ln(ya + sqrt(ya*ya + 1)) AS z1 FROM i),
        |k AS (SELECT g, n, nd, m2, b2, z1,
        |  (nd-1)*3/(nd+1) AS eb2,
        |  nd*24*(nd-2)*(nd-3)/((nd+1)*(nd+1)*(nd+3)*(nd+5)) AS vb2,
        |  (nd*nd - nd*5 + 2)*6/((nd+7)*(nd+9))
        |    *sqrt((nd+3)*6*(nd+5)/(nd*(nd-2)*(nd-3))) AS sb1 FROM j),
        |l AS (SELECT g, n, m2, z1,
        |  (b2 - eb2)/sqrt(vb2) AS xk,
        |  6.0 + 8.0/sb1*(2.0/sb1 + sqrt(1.0 + 4.0/(sb1*sb1))) AS aa FROM k),
        |o AS (SELECT g, n, m2, z1, aa,
        |  1.0 + xk*sqrt(2.0/(aa - 4)) AS denk FROM l),
        |p AS (SELECT g, n, m2, z1, denk,
        |  ((1.0 - 2.0/(aa*9)) - cbrt((1.0 - 2.0/aa)/denk))/sqrt(2.0/(aa*9)) AS z2
        |  FROM o)
        |SELECT g AS event_type, n,
        |  CASE WHEN n >= 9 AND m2 > 0 THEN
        |    floor(z1*1000000.0 + 0.5)/1000000.0 END AS z_skew,
        |  CASE WHEN n >= 9 AND m2 > 0 AND denk <> 0 THEN
        |    floor(z2*1000000.0 + 0.5)/1000000.0 END AS z_kurt,
        |  CASE WHEN n >= 9 AND m2 > 0 AND denk <> 0 THEN
        |    floor((z1*z1 + z2*z2)*10000.0 + 0.5)/10000.0 END AS k2_stat
        |FROM p ORDER BY event_type""".stripMargin,

    // Anderson-Darling A2akN: the q312 cells + a three-column prefix,
    // 2-scaled midrank counts, exact integer gap/denominator cells,
    // per-value rational snapped 1e-12 before the sum.
    "q316_anderson_darling" ->
      """WITH a AS (SELECT CAST(value AS DOUBLE) v FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL),
        |b AS (SELECT CAST(value AS DOUBLE) v FROM events
        |  WHERE event_type = 'view' AND value IS NOT NULL),
        |ca AS (SELECT v, CAST(COUNT(*) AS BIGINT) c FROM a GROUP BY 1),
        |cb AS (SELECT v, CAST(COUNT(*) AS BIGINT) c FROM b GROUP BY 1),
        |m AS (SELECT COALESCE(ca.v, cb.v) AS v, COALESCE(ca.c, 0) AS cca,
        |  COALESCE(cb.c, 0) AS ccb FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |t AS (SELECT CAST(COALESCE(SUM(cca), 0) AS BIGINT) AS mm,
        |  CAST(COALESCE(SUM(ccb), 0) AS BIGINT) AS nn, CAST(COUNT(*) AS BIGINT) AS nv FROM m),
        |pre AS (SELECT cca, ccb, cca + ccb AS tt,
        |  SUM(cca) OVER (ORDER BY v) AS cuma, SUM(ccb) OVER (ORDER BY v) AS cumb,
        |  SUM(cca + ccb) OVER (ORDER BY v) AS cumt FROM m),
        |g AS (SELECT tt,
        |  CAST(cumt AS DECIMAL(38,0))*2 - tt AS b2,
        |  CAST(cuma AS DECIMAL(38,0))*2 - cca AS ma2,
        |  CAST(cumb AS DECIMAL(38,0))*2 - ccb AS mb2,
        |  CAST(mm + nn AS DECIMAL(38,0)) AS bn, mm, nn FROM pre CROSS JOIN t),
        |h AS (SELECT tt, mm, nn, bn,
        |  bn*ma2 - b2*CAST(mm AS DECIMAL(38,0)) AS gapa,
        |  bn*mb2 - b2*CAST(nn AS DECIMAL(38,0)) AS gapb,
        |  b2*(bn*2 - b2) - bn*tt AS den4 FROM g),
        |terms AS (SELECT CASE WHEN mm > 0 AND nn > 0 AND den4 > 0 THEN CAST(floor(
        |  (CAST(tt AS DOUBLE)*CAST(gapa AS DOUBLE)/CAST(den4 AS DOUBLE)
        |     *CAST(gapa AS DOUBLE)/CAST(mm + nn AS DOUBLE)/CAST(mm AS DOUBLE)
        |   + CAST(tt AS DOUBLE)*CAST(gapb AS DOUBLE)/CAST(den4 AS DOUBLE)
        |     *CAST(gapb AS DOUBLE)/CAST(mm + nn AS DOUBLE)/CAST(nn AS DOUBLE))
        |  *1000000000000.0 + 0.5) AS HUGEINT) END AS t12 FROM h),
        |s AS (SELECT SUM(t12) AS s12 FROM terms)
        |SELECT mm AS n_a, nn AS n_b, nv AS n_values,
        |  CASE WHEN mm > 0 AND nn > 0 AND s12 IS NOT NULL THEN
        |    floor(CAST(s12 AS DOUBLE)/1000000000000.0
        |      *(CAST(mm + nn AS DOUBLE) - 1)/CAST(mm + nn AS DOUBLE)
        |      *1000000.0 + 0.5)/1000000.0
        |  END AS ad_stat
        |FROM s CROSS JOIN t""".stripMargin,

    // Krippendorff alpha: the q265 rater staging with the prefix rater
    // abstaining below 100 chars; per-item pair-disagreement rationals
    // snapped 1e-12, pairable-margin expected disagreement.
    "q317_krippendorff" -> {
      val cands = functions.stopwords.toSeq.sortBy(_._1).map { case (l, sw) =>
        s"('$l', [${sw.map(w => s"'$w'").mkString(",")}])"
      }.mkString(", ")
      s"""WITH u(l, sw) AS (SELECT * FROM (VALUES $cands)),
         |fullp AS (SELECT doc_id, cand AS r FROM (
         |  SELECT b.doc_id, u.l AS cand,
         |    row_number() OVER (PARTITION BY b.doc_id
         |      ORDER BY len(list_intersect(b.toks, u.sw)) DESC, u.l DESC) AS rn
         |  FROM (SELECT doc_id,
         |        list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS toks
         |        FROM documents) b, u) WHERE rn = 1),
         |prep AS (SELECT doc_id, cand AS r FROM (
         |  SELECT b.doc_id, u.l AS cand,
         |    row_number() OVER (PARTITION BY b.doc_id
         |      ORDER BY len(list_intersect(b.toks, u.sw)) DESC, u.l DESC) AS rn
         |  FROM (SELECT doc_id,
         |        list_distinct(regexp_split_to_array(trim(lower(substr(text, 1, 100))), '\\s+')) AS toks
         |        FROM documents WHERE length(text) >= 100) b, u) WHERE rn = 1),
         |melted AS (
         |  SELECT doc_id AS i, lang AS r FROM documents WHERE lang IS NOT NULL
         |  UNION ALL SELECT doc_id, r FROM fullp
         |  UNION ALL SELECT doc_id, r FROM prep),
         |cells AS (SELECT i, r, CAST(COUNT(*) AS BIGINT) AS nij FROM melted GROUP BY 1, 2),
         |pi AS (SELECT i, CAST(SUM(nij) AS BIGINT) AS mi,
         |  SUM(CAST(nij AS HUGEINT)*nij) AS s2 FROM cells GROUP BY 1),
         |items AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
         |  CAST(SUM(mi) AS BIGINT) AS np,
         |  SUM(CAST(floor(CAST(CAST(mi AS HUGEINT)*mi - s2 AS DOUBLE)
         |    /(CAST(mi AS DOUBLE) - 1.0)*1000000000000.0 + 0.5) AS HUGEINT)) AS do12
         |  FROM pi WHERE mi >= 2),
         |cats AS (SELECT r, CAST(SUM(nij) AS BIGINT) AS tc FROM cells
         |  JOIN (SELECT i FROM pi WHERE mi >= 2) p2 USING (i) GROUP BY r),
         |a2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_categories,
         |  SUM(CAST(tc AS HUGEINT)*tc) AS c2 FROM cats),
         |f AS (SELECT n_items, np, n_categories,
         |  CAST(do12 AS DOUBLE)/1000000000000.0/CAST(np AS DOUBLE) AS dobs,
         |  (CAST(np AS DOUBLE)*CAST(np AS DOUBLE) - CAST(c2 AS DOUBLE))
         |    /(CAST(np AS DOUBLE)*(CAST(np AS DOUBLE) - 1.0)) AS dexp
         |  FROM items CROSS JOIN a2)
         |SELECT n_items, np AS n_pairable, n_categories,
         |  CASE WHEN np >= 2 THEN floor(dobs*1000000.0 + 0.5)/1000000.0 END AS d_observed,
         |  CASE WHEN np >= 2 THEN floor(dexp*1000000.0 + 0.5)/1000000.0 END AS d_expected,
         |  CASE WHEN np >= 2 AND dexp > 0 THEN
         |    floor((1.0 - dobs/dexp)*10000.0 + 0.5)/10000.0 END AS alpha
         |FROM f""".stripMargin
    },

    // Two-proportion effects: exact arm counts, pooled z, Katz/Woolf
    // log CIs as the identical pinned ln/exp assemblies.
    "q318_two_proportion" ->
      """WITH s AS (SELECT event_type AS g, CAST(value AS DOUBLE) > 50.0 AS ok
        |  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |arms AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(ok AS BIGINT)) AS BIGINT) AS k FROM s GROUP BY 1),
        |wch AS (SELECT MIN(g) AS ga, MAX(g) AS gb, CAST(COUNT(*) AS BIGINT) AS ng FROM arms),
        |j AS (SELECT ga, gb, ng, a.n AS n_a, a.k AS k_a, b2.n AS n_b, b2.k AS k_b
        |  FROM wch JOIN arms a ON a.g = wch.ga JOIN arms b2 ON b2.g = wch.gb),
        |f AS (SELECT *,
        |  CAST(k_a AS DOUBLE)/CAST(n_a AS DOUBLE) AS pa,
        |  CAST(k_b AS DOUBLE)/CAST(n_b AS DOUBLE) AS pb,
        |  (CAST(k_a AS DOUBLE) + CAST(k_b AS DOUBLE))
        |    /(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pool,
        |  sqrt(1.0/CAST(k_a AS DOUBLE) - 1.0/CAST(n_a AS DOUBLE)
        |     + 1.0/CAST(k_b AS DOUBLE) - 1.0/CAST(n_b AS DOUBLE)) AS serr,
        |  (CAST(k_a AS DOUBLE)*(CAST(n_b AS DOUBLE) - CAST(k_b AS DOUBLE)))
        |    /(CAST(k_b AS DOUBLE)*(CAST(n_a AS DOUBLE) - CAST(k_a AS DOUBLE))) AS orr,
        |  sqrt(1.0/CAST(k_a AS DOUBLE) + 1.0/(CAST(n_a AS DOUBLE) - CAST(k_a AS DOUBLE))
        |     + 1.0/CAST(k_b AS DOUBLE) + 1.0/(CAST(n_b AS DOUBLE) - CAST(k_b AS DOUBLE))) AS seor
        |  FROM j),
        |h AS (SELECT *, sqrt(pool*(1.0 - pool)*(1.0/CAST(n_a AS DOUBLE) + 1.0/CAST(n_b AS DOUBLE))) AS se0,
        |  pa/pb AS rr,
        |  k_a > 0 AND k_b > 0 AND k_a < n_a AND k_b < n_b AS allpos FROM f)
        |SELECT ga AS group_a, gb AS group_b, n_a, k_a, n_b, k_b,
        |  CASE WHEN ng = 2 THEN floor(pa*1000000.0 + 0.5)/1000000.0 END AS p_a,
        |  CASE WHEN ng = 2 THEN floor(pb*1000000.0 + 0.5)/1000000.0 END AS p_b,
        |  CASE WHEN ng = 2 THEN floor((pa - pb)*1000000.0 + 0.5)/1000000.0 END AS risk_diff,
        |  CASE WHEN ng = 2 AND se0 > 0 THEN
        |    floor((pa - pb)/se0*1000000.0 + 0.5)/1000000.0 END AS z_pooled,
        |  CASE WHEN ng = 2 AND k_b > 0 THEN
        |    floor(rr*1000000.0 + 0.5)/1000000.0 END AS risk_ratio,
        |  CASE WHEN ng = 2 AND k_a > 0 AND k_b > 0 THEN
        |    floor(exp(ln(rr) - 1.959964*serr)*1000000.0 + 0.5)/1000000.0 END AS rr_lo,
        |  CASE WHEN ng = 2 AND k_a > 0 AND k_b > 0 THEN
        |    floor(exp(ln(rr) + 1.959964*serr)*1000000.0 + 0.5)/1000000.0 END AS rr_hi,
        |  CASE WHEN ng = 2 AND allpos THEN
        |    floor(orr*1000000.0 + 0.5)/1000000.0 END AS odds_ratio,
        |  CASE WHEN ng = 2 AND allpos THEN
        |    floor(exp(ln(orr) - 1.959964*seor)*1000000.0 + 0.5)/1000000.0 END AS or_lo,
        |  CASE WHEN ng = 2 AND allpos THEN
        |    floor(exp(ln(orr) + 1.959964*seor)*1000000.0 + 0.5)/1000000.0 END AS or_hi
        |FROM h""".stripMargin,

    // Rich club: the q256 funnel + degree attach, two degree-domain
    // histograms, ascending prefix -> ">k" tails, one pinned phi per
    // degree row.
    "q319_rich_club" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |e AS (SELECT item_a, item_b FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |dg AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS deg FROM
        |  (SELECT item_a AS item FROM e UNION ALL SELECT item_b FROM e) GROUP BY 1),
        |nh AS (SELECT deg, CAST(COUNT(*) AS BIGINT) AS nn FROM dg GROUP BY 1),
        |eh AS (SELECT least(da.deg, db.deg) AS deg, CAST(COUNT(*) AS BIGINT) AS ne
        |  FROM e JOIN dg da ON da.item = e.item_a
        |         JOIN dg db ON db.item = e.item_b GROUP BY 1),
        |h AS (SELECT COALESCE(nh.deg, eh.deg) AS deg, COALESCE(nn, 0) AS nn,
        |  COALESCE(ne, 0) AS ne FROM nh FULL OUTER JOIN eh ON nh.deg = eh.deg),
        |t AS (SELECT CAST(SUM(nn) AS BIGINT) AS tn, CAST(SUM(ne) AS BIGINT) AS te FROM h),
        |pre AS (SELECT deg, SUM(nn) OVER (ORDER BY deg) AS cn,
        |  SUM(ne) OVER (ORDER BY deg) AS ce FROM h)
        |SELECT deg AS k, CAST(tn - cn AS BIGINT) AS n_nodes_gt,
        |  CAST(te - ce AS BIGINT) AS n_edges_gt,
        |  CASE WHEN tn - cn >= 2 THEN
        |    floor(CAST(te - ce AS DOUBLE)*2.0
        |      /(CAST(tn - cn AS DOUBLE)*(CAST(tn - cn AS DOUBLE) - 1.0))
        |      *1000000.0 + 0.5)/1000000.0 END AS phi
        |FROM pre CROSS JOIN t ORDER BY k""".stripMargin,

    // Burstiness: exact micro gaps from the (ts, id)-ordered per-
    // (user, type) stream, lead-chained gap pairs, one 8-cell rollup,
    // pinned B / M / mean assemblies.
    "q320_burstiness" ->
      """WITH g0 AS (SELECT event_type, user_id, ts, event_id,
        |  epoch_us(CAST(ts AS TIMESTAMP))
        |    - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS g
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)),
        |g1 AS (SELECT event_type, g, lead(g) OVER
        |  (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gn FROM g0),
        |a AS (SELECT event_type, CAST(COUNT(g) AS BIGINT) AS n_gaps,
        |  SUM(CAST(g AS HUGEINT)) AS s1, SUM(CAST(g AS HUGEINT)*g) AS s2,
        |  CAST(COUNT(CASE WHEN gn IS NOT NULL THEN 1 END) AS BIGINT) AS n_pairs,
        |  SUM(CASE WHEN gn IS NOT NULL THEN CAST(g AS HUGEINT) END) AS p1,
        |  SUM(CASE WHEN gn IS NOT NULL THEN CAST(gn AS HUGEINT) END) AS p2,
        |  SUM(CASE WHEN gn IS NOT NULL THEN CAST(g AS HUGEINT)*gn END) AS p11,
        |  SUM(CASE WHEN gn IS NOT NULL THEN CAST(g AS HUGEINT)*g END) AS pxx,
        |  SUM(CASE WHEN gn IS NOT NULL THEN CAST(gn AS HUGEINT)*gn END) AS pyy
        |  FROM g1 WHERE g IS NOT NULL GROUP BY 1),
        |f AS (SELECT event_type, n_gaps, n_pairs,
        |  CAST(s1 AS DOUBLE)/CAST(n_gaps AS DOUBLE) AS mu,
        |  sqrt(CAST(s2 AS DOUBLE)/CAST(n_gaps AS DOUBLE)
        |    - CAST(s1 AS DOUBLE)/CAST(n_gaps AS DOUBLE)
        |      *(CAST(s1 AS DOUBLE)/CAST(n_gaps AS DOUBLE))) AS sd,
        |  CAST(n_pairs AS DOUBLE)*CAST(p11 AS DOUBLE)
        |    - CAST(p1 AS DOUBLE)*CAST(p2 AS DOUBLE) AS num,
        |  CAST(n_pairs AS DOUBLE)*CAST(pxx AS DOUBLE)
        |    - CAST(p1 AS DOUBLE)*CAST(p1 AS DOUBLE) AS dx,
        |  CAST(n_pairs AS DOUBLE)*CAST(pyy AS DOUBLE)
        |    - CAST(p2 AS DOUBLE)*CAST(p2 AS DOUBLE) AS dy
        |  FROM a)
        |SELECT event_type, n_gaps, n_pairs,
        |  CASE WHEN n_gaps >= 1 THEN
        |    floor(mu/1000000.0*10000.0 + 0.5)/10000.0 END AS mean_gap_s,
        |  CASE WHEN n_gaps >= 2 AND (sd + mu) > 0 THEN
        |    floor((sd - mu)/(sd + mu)*1000000.0 + 0.5)/1000000.0 END AS b_coef,
        |  CASE WHEN n_pairs >= 2 AND dx > 0 AND dy > 0 THEN
        |    floor(num/sqrt(dx*dy)*1000000.0 + 0.5)/1000000.0 END AS memory_coef
        |FROM f ORDER BY event_type""".stripMargin,

    // PACF: the q218 ACF chain at maxLag=3 (rounded r1..r3), then the
    // Durbin-Levinson closed forms as identical pinned assemblies of
    // the rounded literals.
    "q321_pacf" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |st AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
        |       FROM sv GROUP BY 1),
        |dn AS (SELECT sv.t,
        |  SUM(CAST(st.n*sv.v - st.s AS DECIMAL(38,0)) * CAST(st.n*sv.v - st.s AS DECIMAL(38,0))) AS den
        |  FROM sv JOIN st ON sv.t = st.t GROUP BY 1),
        |pr AS (SELECT a.t, CAST(l.lag AS BIGINT) AS lag, a.v AS v1, bb.v AS v2
        |  FROM sv a CROSS JOIN (SELECT unnest(range(1, 4)) AS lag) l
        |  JOIN sv bb ON bb.t = a.t AND bb.bin = a.bin + l.lag),
        |nm AS (SELECT pr.t, pr.lag,
        |  SUM(CAST(st.n*pr.v1 - st.s AS DECIMAL(38,0)) * CAST(st.n*pr.v2 - st.s AS DECIMAL(38,0))) AS num
        |  FROM pr JOIN st ON pr.t = st.t GROUP BY 1, 2),
        |ac AS (SELECT nm.t, nm.lag, st.n AS n_bins,
        |  CASE WHEN den > 0 THEN
        |    floor((CAST(num AS DOUBLE)/CAST(den AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS acf
        |  FROM nm JOIN dn ON nm.t = dn.t JOIN st ON nm.t = st.t),
        |p AS (SELECT t AS event_type, MAX(n_bins) AS n_bins,
        |  MAX(CASE WHEN lag = 1 THEN acf END) AS r1,
        |  MAX(CASE WHEN lag = 2 THEN acf END) AS r2,
        |  MAX(CASE WHEN lag = 3 THEN acf END) AS r3 FROM ac GROUP BY 1),
        |q AS (SELECT event_type, n_bins, r1, r2, r3,
        |  1.0 - r1*r1 AS d2, (r2 - r1*r1)/(1.0 - r1*r1) AS p2 FROM p),
        |s AS (SELECT *, r1 - p2*r1 AS f21 FROM q),
        |z AS (SELECT *, 1.0 - f21*r1 - p2*r2 AS d3 FROM s)
        |SELECT event_type, n_bins, r1 AS pacf_1,
        |  CASE WHEN d2 <> 0 THEN floor(p2*1000000.0 + 0.5)/1000000.0 END AS pacf_2,
        |  CASE WHEN d2 <> 0 AND d3 <> 0 THEN
        |    floor((r3 - f21*r2 - p2*r1)/d3*1000000.0 + 0.5)/1000000.0 END AS pacf_3
        |FROM z ORDER BY event_type""".stripMargin,

    // ICC(1): the q139 snapped group terms + an exact sum(n^2); k0 /
    // MSB / MSW / ICC as one identical pinned assembly.
    "q322_icc" ->
      """WITH g AS (SELECT o_custkey AS gg,
        |  CAST(floor(CAST(o_totalprice AS DOUBLE)*1e4 + 0.5) AS HUGEINT) AS x
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL),
        |a AS (SELECT gg, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS s, SUM(x*x) AS ss
        |  FROM g GROUP BY 1),
        |b AS (SELECT n, s,
        |  CAST(floor((CAST(s AS DOUBLE)/1e4)*(CAST(s AS DOUBLE)/1e4)/CAST(n AS DOUBLE)
        |    *1000000.0 + 0.5) AS HUGEINT) AS bt,
        |  CAST(floor((CAST(ss AS DOUBLE)/1e8
        |      - (CAST(s AS DOUBLE)/1e4)*(CAST(s AS DOUBLE)/1e4)/CAST(n AS DOUBLE))
        |    *1000000.0 + 0.5) AS HUGEINT) AS wt
        |  FROM a),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS n,
        |  CAST(SUM(n*n) AS BIGINT) AS n2, SUM(CAST(s AS HUGEINT)) AS st,
        |  SUM(bt) AS bb, SUM(wt) AS ww FROM b),
        |f AS (SELECT k, n,
        |  (CAST(bb AS DOUBLE)/1000000.0
        |    - (CAST(st AS DOUBLE)/1e4)*(CAST(st AS DOUBLE)/1e4)/CAST(n AS DOUBLE))
        |    /(CAST(k AS DOUBLE) - 1) AS msb,
        |  CAST(ww AS DOUBLE)/1000000.0/(CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) AS msw,
        |  (CAST(n AS DOUBLE) - CAST(n2 AS DOUBLE)/CAST(n AS DOUBLE))
        |    /(CAST(k AS DOUBLE) - 1) AS k0
        |  FROM t)
        |SELECT k AS n_groups, n,
        |  CASE WHEN k > 1 AND n > k THEN floor(k0*10000.0 + 0.5)/10000.0 END AS k0,
        |  CASE WHEN k > 1 AND n > k THEN floor(msb*10000.0 + 0.5)/10000.0 END AS ms_between,
        |  CASE WHEN k > 1 AND n > k THEN floor(msw*10000.0 + 0.5)/10000.0 END AS ms_within,
        |  CASE WHEN k > 1 AND n > k AND msb + (k0 - 1)*msw <> 0 THEN
        |    floor((msb - msw)/(msb + (k0 - 1)*msw)*1000000.0 + 0.5)/1000000.0
        |  END AS icc1
        |FROM f""".stripMargin,

    // Lin's CCC: exact 1e-4 grid moment sums, population moments, one
    // pinned ccc / r / bias-factor assembly.
    "q323_lins_ccc" ->
      """WITH s AS (SELECT
        |  CAST(floor(CAST(l_quantity AS DOUBLE)*1e4 + 0.5) AS HUGEINT) AS x,
        |  CAST(floor(CAST(l_extendedprice AS DOUBLE)/10000.0*1e4 + 0.5) AS HUGEINT) AS y
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |  SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy FROM s),
        |f AS (SELECT n,
        |  CAST(sxx AS DOUBLE)/CAST(n AS DOUBLE)
        |    - CAST(sx AS DOUBLE)/CAST(n AS DOUBLE)*(CAST(sx AS DOUBLE)/CAST(n AS DOUBLE)) AS vx,
        |  CAST(syy AS DOUBLE)/CAST(n AS DOUBLE)
        |    - CAST(sy AS DOUBLE)/CAST(n AS DOUBLE)*(CAST(sy AS DOUBLE)/CAST(n AS DOUBLE)) AS vy,
        |  CAST(sxy AS DOUBLE)/CAST(n AS DOUBLE)
        |    - CAST(sx AS DOUBLE)/CAST(n AS DOUBLE)*(CAST(sy AS DOUBLE)/CAST(n AS DOUBLE)) AS cxy,
        |  CAST(sx AS DOUBLE)/CAST(n AS DOUBLE) - CAST(sy AS DOUBLE)/CAST(n AS DOUBLE) AS dm
        |  FROM a),
        |h AS (SELECT n, vx, vy, cxy, vx + vy + dm*dm AS den,
        |  cxy/sqrt(vx*vy) AS r FROM f)
        |SELECT n,
        |  CASE WHEN n >= 2 AND den > 0 THEN
        |    floor(cxy*2/den*1000000.0 + 0.5)/1000000.0 END AS ccc,
        |  CASE WHEN n >= 2 AND vx > 0 AND vy > 0 THEN
        |    floor(r*1000000.0 + 0.5)/1000000.0 END AS pearson_r,
        |  CASE WHEN n >= 2 AND den > 0 AND vx > 0 AND vy > 0 AND r <> 0 THEN
        |    floor(cxy*2/den/r*1000000.0 + 0.5)/1000000.0 END AS bias_factor
        |FROM h""".stripMargin,

    // Weighted kappa: exact integer penalties on the cell domain,
    // margin-grid expected penalty, one pinned division.
    "q324_weighted_kappa" ->
      """WITH s AS (SELECT least(CAST(l_quantity AS BIGINT)//10, 4) AS a,
        |  least(CAST(floor(CAST(l_extendedprice AS DOUBLE)/15000.0) AS BIGINT), 4) AS b
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |cells AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
        |o AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |  SUM(CAST(c AS HUGEINT)*CAST((a - b)*(a - b) AS HUGEINT)) AS op FROM cells),
        |ra AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ca FROM cells GROUP BY 1),
        |cb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cc FROM cells GROUP BY 1),
        |e AS (SELECT SUM(CAST(ca AS HUGEINT)*CAST(cc AS HUGEINT)
        |  *CAST((a - b)*(a - b) AS HUGEINT)) AS ep FROM ra CROSS JOIN cb)
        |SELECT n, CAST(op AS BIGINT) AS obs_penalty,
        |  CASE WHEN ep > 0 THEN
        |    floor((1.0 - CAST(n AS DOUBLE)*CAST(op AS DOUBLE)/CAST(ep AS DOUBLE))
        |      *1000000.0 + 0.5)/1000000.0 END AS kappa_w
        |FROM o CROSS JOIN e""".stripMargin,

    // Boilerplate prefixes: one canonical 2-token prefix per doc,
    // exact integer share-threshold (phi4 = 500), pinned share.
    "q325_boilerplate" ->
      """WITH base AS (SELECT source,
        |  array_to_string(list_slice(regexp_split_to_array(trim(lower(text)), '\s+'), 1, 2), ' ') AS prefix
        |  FROM documents WHERE source IS NOT NULL AND length(trim(text)) > 0),
        |t AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_source_docs FROM base GROUP BY 1),
        |c AS (SELECT source, prefix, CAST(COUNT(*) AS BIGINT) AS n_docs FROM base GROUP BY 1, 2)
        |SELECT c.source, prefix, n_docs, n_source_docs,
        |  floor(CAST(n_docs AS DOUBLE)/CAST(n_source_docs AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS share
        |FROM c JOIN t ON c.source = t.source
        |WHERE n_docs >= 2 AND n_docs*10000 >= 500*n_source_docs
        |ORDER BY c.source, n_docs DESC, prefix""".stripMargin,

    // Anisotropy: left-fold norms (the q26 dot convention), 1e-9
    // component snap, exact per-dim sums, mean-vector identity.
    "q326_anisotropy" ->
      """WITH base AS (SELECT CAST(label AS VARCHAR) AS lbl, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |n0 AS (SELECT lbl, v, sqrt(list_reduce([x*x FOR x IN v], (a, b) -> a + b)) AS nrm
        |  FROM base),
        |u AS (SELECT lbl, CAST(floor(nrm*10000.0 + 0.5) AS BIGINT) AS n4,
        |  [CAST(floor(x/nrm*1000000000.0 + 0.5) AS BIGINT) FOR x IN v] AS uv
        |  FROM n0 WHERE nrm > 0),
        |pl AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST(SUM(n4) AS BIGINT) AS sn4 FROM u GROUP BY 1),
        |ex AS (SELECT lbl, e.dim AS dim, e.ufx AS ufx FROM
        |  (SELECT lbl, unnest([{'dim': i, 'ufx': uv[i+1]} FOR i IN range(0, len(uv))]) AS e
        |   FROM u)),
        |pd AS (SELECT lbl, dim, SUM(CAST(ufx AS HUGEINT)) AS sd,
        |  SUM(CAST(ufx AS HUGEINT)*ufx) AS snd FROM ex GROUP BY 1, 2),
        |bl AS (SELECT lbl, SUM(sd*sd) AS ssq, SUM(snd) AS sn FROM pd GROUP BY 1),
        |al AS (SELECT SUM(d*d) AS ssq, SUM(nd2) AS sn FROM
        |  (SELECT dim, SUM(sd) AS d, SUM(snd) AS nd2 FROM pd GROUP BY 1)),
        |ap AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS n_vectors,
        |  CAST(SUM(sn4) AS BIGINT) AS sn4 FROM pl),
        |unioned AS (
        |  SELECT bl.lbl, pl.n_vectors, pl.sn4, bl.ssq, bl.sn FROM bl JOIN pl USING (lbl)
        |  UNION ALL SELECT '(all)', ap.n_vectors, ap.sn4, al.ssq, al.sn
        |  FROM al CROSS JOIN ap)
        |SELECT lbl AS label, n_vectors,
        |  floor(CAST(sn4 AS DOUBLE)/10000.0/CAST(n_vectors AS DOUBLE)*10000.0 + 0.5)/10000.0 AS mean_norm,
        |  CASE WHEN n_vectors >= 2 THEN
        |    floor(CAST(ssq - sn AS DOUBLE)/1e18
        |      /(CAST(n_vectors AS DOUBLE)*(CAST(n_vectors AS DOUBLE) - 1.0))
        |      *1000000.0 + 0.5)/1000000.0 END AS mean_cos
        |FROM unioned ORDER BY label""".stripMargin,

    // RFM: exact micro recency, 1e-4 monetary, ROW_NUMBER rank twins
    // of the three globalDenseIds passes, identical code arithmetic.
    "q327_rfm" ->
      """WITH p AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  CASE WHEN value IS NOT NULL THEN
        |    CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) END AS v4
        |  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
        |    AND ts IS NOT NULL),
        |mx AS (SELECT MAX(us) AS mxus FROM p),
        |per AS (SELECT user_id AS u,
        |  CAST((mxus - MAX(us)) // 86400000000 AS BIGINT) AS recency_days,
        |  CAST(COUNT(*) AS BIGINT) AS frequency,
        |  COALESCE(SUM(CAST(v4 AS HUGEINT)), 0) AS m4
        |  FROM p CROSS JOIN mx GROUP BY user_id, mxus),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM per),
        |rr AS (SELECT u, row_number() OVER (ORDER BY recency_days, u) AS rk FROM per),
        |rf AS (SELECT u, row_number() OVER (ORDER BY frequency, u) AS rk FROM per),
        |rm AS (SELECT u, row_number() OVER (ORDER BY m4, u) AS rk FROM per),
        |f AS (SELECT per.u, recency_days, frequency, m4,
        |  6 - ((rr.rk - 1)*5 // nn + 1) AS rc,
        |  (rf.rk - 1)*5 // nn + 1 AS fc,
        |  (rm.rk - 1)*5 // nn + 1 AS mc
        |  FROM per JOIN rr ON rr.u = per.u JOIN rf ON rf.u = per.u
        |       JOIN rm ON rm.u = per.u CROSS JOIN n)
        |SELECT u AS user_id, recency_days, frequency,
        |  floor(CAST(m4 AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS monetary,
        |  CAST(rc AS INT) AS r_code, CAST(fc AS INT) AS f_code,
        |  CAST(mc AS INT) AS m_code,
        |  CAST(rc AS VARCHAR) || CAST(fc AS VARCHAR) || CAST(mc AS VARCHAR) AS segment
        |FROM f ORDER BY user_id""".stripMargin,

    // Katz: the q267 funnel at minPairCount=3, three unrolled
    // x = (sum_in x) // 8 + 1e6 rounds, isolated-in-degree nodes at
    // the beta floor each round.
    "q328_katz" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |e AS (SELECT item_a, item_b FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |ed AS (SELECT item_a AS src, item_b AS dst FROM e
        |       UNION ALL SELECT item_b, item_a FROM e),
        |nodes AS (SELECT DISTINCT src AS item FROM ed),
        |x0 AS (SELECT item, CAST(1000000 AS BIGINT) AS v FROM nodes),
        |r1 AS (SELECT dst, SUM(v) AS s FROM ed JOIN x0 ON x0.item = ed.src GROUP BY 1),
        |x1 AS (SELECT nodes.item, COALESCE(s // 8, 0) + 1000000 AS v
        |       FROM nodes LEFT JOIN r1 ON r1.dst = nodes.item),
        |r2 AS (SELECT dst, SUM(v) AS s FROM ed JOIN x1 ON x1.item = ed.src GROUP BY 1),
        |x2 AS (SELECT nodes.item, COALESCE(s // 8, 0) + 1000000 AS v
        |       FROM nodes LEFT JOIN r2 ON r2.dst = nodes.item),
        |r3 AS (SELECT dst, SUM(v) AS s FROM ed JOIN x2 ON x2.item = ed.src GROUP BY 1),
        |x3 AS (SELECT nodes.item, COALESCE(s // 8, 0) + 1000000 AS v
        |       FROM nodes LEFT JOIN r3 ON r3.dst = nodes.item)
        |SELECT item, CAST(v AS BIGINT) AS katz_fx FROM x3
        |ORDER BY katz_fx DESC, item""".stripMargin,

    // Brand mixing: the q256 funnel + part-brand attach on both
    // endpoints, exact mixing cells/margins, one pinned division.
    "q329_brand_mixing" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |e AS (SELECT item_a, item_b FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |ed AS (SELECT item_a AS src, item_b AS dst FROM e
        |       UNION ALL SELECT item_b, item_a FROM e),
        |lab AS (SELECT DISTINCT p_partkey AS node, CAST(p_brand AS VARCHAR) AS lbl
        |        FROM part WHERE p_brand IS NOT NULL),
        |cells AS (SELECT la.lbl AS a, lb.lbl AS bb, CAST(COUNT(*) AS BIGINT) AS m
        |  FROM ed JOIN lab la ON la.node = ed.src JOIN lab lb ON lb.node = ed.dst
        |  GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(m) AS BIGINT) AS me,
        |  CAST(SUM(CASE WHEN a = bb THEN m ELSE 0 END) AS BIGINT) AS mii,
        |  CAST(COUNT(DISTINCT a) AS BIGINT) AS nl FROM cells),
        |rm AS (SELECT a, CAST(SUM(m) AS BIGINT) AS r FROM cells GROUP BY 1),
        |cm AS (SELECT bb, CAST(SUM(m) AS BIGINT) AS c FROM cells GROUP BY 1),
        |ab AS (SELECT SUM(CAST(COALESCE(r, 0) AS DECIMAL(38,0))
        |  * CAST(COALESCE(c, 0) AS DECIMAL(38,0))) AS s
        |  FROM rm FULL OUTER JOIN cm ON rm.a = cm.bb)
        |SELECT me AS n_directed_edges, nl AS n_labels,
        |  CASE WHEN CAST(CAST(me AS DECIMAL(38,0))*me - s AS DOUBLE) <> 0 THEN
        |    floor(CAST(CAST(me AS DECIMAL(38,0))*mii - s AS DOUBLE)
        |      /CAST(CAST(me AS DECIMAL(38,0))*me - s AS DOUBLE)*1000000.0 + 0.5)/1000000.0
        |  END AS assortativity
        |FROM t CROSS JOIN ab""".stripMargin,

    // Bland-Altman: exact d4 value-domain collapse, sample-SD limits,
    // outside share against the pinned double bounds.
    "q330_bland_altman" ->
      """WITH s AS (SELECT
        |  CAST(floor(CAST(l_quantity AS DOUBLE)*1e4 + 0.5) AS BIGINT)
        |    - CAST(floor(CAST(l_extendedprice AS DOUBLE)/10000.0*1e4 + 0.5) AS BIGINT) AS d4
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |dom AS (SELECT d4, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY 1),
        |m AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |  SUM(CAST(d4 AS HUGEINT)*c) AS s1,
        |  SUM(CAST(d4 AS HUGEINT)*d4*c) AS s2 FROM dom),
        |f AS (SELECT n,
        |  CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE)/1e4 AS mean,
        |  sqrt((CAST(s2 AS DOUBLE)/1e8
        |    - (CAST(s1 AS DOUBLE)/1e4)*(CAST(s1 AS DOUBLE)/1e4)/CAST(n AS DOUBLE))
        |    /(CAST(n AS DOUBLE) - 1.0)) AS sd FROM m),
        |g AS (SELECT n, mean, sd, mean - 1.959964*sd AS lo,
        |  mean + 1.959964*sd AS hi FROM f),
        |o AS (SELECT CAST(SUM(CASE WHEN CAST(d4 AS DOUBLE)/1e4 < lo
        |  OR CAST(d4 AS DOUBLE)/1e4 > hi THEN c ELSE 0 END) AS BIGINT) AS nout
        |  FROM dom CROSS JOIN g)
        |SELECT n, floor(mean*10000.0 + 0.5)/10000.0 AS mean_diff,
        |  CASE WHEN n >= 2 AND sd > 0 THEN floor(sd*10000.0 + 0.5)/10000.0 END AS sd_diff,
        |  CASE WHEN n >= 2 AND sd > 0 THEN floor(lo*10000.0 + 0.5)/10000.0 END AS loa_lo,
        |  CASE WHEN n >= 2 AND sd > 0 THEN floor(hi*10000.0 + 0.5)/10000.0 END AS loa_hi,
        |  floor(CAST(nout AS DOUBLE)/CAST(n AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS share_outside
        |FROM g CROSS JOIN o""".stripMargin,

    // Gwet AC1: the q182 langid staging, union-margin pi's, 1e-12-
    // snapped chance terms, pinned assembly.
    "q331_gwet_ac1" -> {
      val cands = functions.stopwords.toSeq.sortBy(_._1).map { case (l, sw) =>
        s"('$l', [${sw.map(w => s"'$w'").mkString(",")}])"
      }.mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id, lang AS label_lang,
         |    list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS toks
         |  FROM documents),
         |sc AS (
         |  SELECT b.doc_id, b.label_lang, u.l AS cand,
         |    len(list_intersect(b.toks, u.sw)) AS score
         |  FROM base b, (VALUES $cands) u(l, sw)),
         |pred AS (SELECT doc_id, label_lang, cand AS predicted_lang FROM (
         |  SELECT doc_id, label_lang, cand,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand DESC) AS rn
         |  FROM sc) WHERE rn = 1),
         |cells AS (SELECT predicted_lang AS a, label_lang AS bb,
         |  CAST(COUNT(*) AS BIGINT) AS c FROM pred
         |  WHERE predicted_lang IS NOT NULL AND label_lang IS NOT NULL GROUP BY 1, 2),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
         |  CAST(SUM(CASE WHEN a = bb THEN c ELSE 0 END) AS BIGINT) AS agree FROM cells),
         |cats AS (SELECT cat, CAST(SUM(c) AS BIGINT) AS m FROM (
         |  SELECT a AS cat, c FROM cells UNION ALL SELECT bb, c FROM cells) GROUP BY 1),
         |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_categories FROM cats),
         |terms AS (SELECT SUM(CASE WHEN n_categories >= 2 THEN
         |    CAST(floor(CAST(m AS DOUBLE)/(CAST(n AS DOUBLE)*2)
         |      *(1.0 - CAST(m AS DOUBLE)/(CAST(n AS DOUBLE)*2))
         |      /(CAST(n_categories AS DOUBLE) - 1)*1000000000000.0 + 0.5) AS BIGINT)
         |  END) AS pe12 FROM cats CROSS JOIN tot CROSS JOIN nc)
         |SELECT n, n_categories,
         |  floor(CAST(agree AS DOUBLE)/CAST(n AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS p_observed,
         |  CASE WHEN n_categories >= 2 THEN
         |    floor(CAST(pe12 AS DOUBLE)/1000000000000.0*1000000.0 + 0.5)/1000000.0 END AS p_chance,
         |  CASE WHEN n_categories >= 2 AND CAST(pe12 AS DOUBLE)/1000000000000.0 < 1.0 THEN
         |    floor((CAST(agree AS DOUBLE)/CAST(n AS DOUBLE)
         |        - CAST(pe12 AS DOUBLE)/1000000000000.0)
         |      /(1.0 - CAST(pe12 AS DOUBLE)/1000000000000.0)*10000.0 + 0.5)/10000.0
         |  END AS ac1
         |FROM tot CROSS JOIN nc CROSS JOIN terms""".stripMargin
    },

    // Breslow-Day: q228 cells with the all-positive-margin filter,
    // 1e-6-rounded MH psi, identical quadratic root + harmonic-variance
    // terms snapped 1e-6.
    "q332_breslow_day" ->
      """WITH base AS (SELECT event_type AS k,
        |  (((user_id % 2147483648) * 2654435761) % 4294967296) % 10000 < 5000 AS ga,
        |  value >= 50.0 AS sc
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |cells AS (SELECT k,
        |  CAST(SUM(CASE WHEN ga AND sc THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(SUM(CASE WHEN ga AND NOT sc THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |  CAST(SUM(CASE WHEN NOT ga AND sc THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |  CAST(SUM(CASE WHEN NOT ga AND NOT sc THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM base GROUP BY 1),
        |w AS (SELECT a, b, c, d, a+b+c+d AS n FROM cells
        |  WHERE a+b > 0 AND c+d > 0 AND a+c > 0 AND b+d > 0),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata, CAST(SUM(n) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(floor(CAST(a*d AS DOUBLE)/CAST(n AS DOUBLE)*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS son,
        |  CAST(SUM(CAST(floor(CAST(b*c AS DOUBLE)/CAST(n AS DOUBLE)*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sod
        |  FROM w),
        |ps AS (SELECT n_strata, n_rows,
        |  CASE WHEN sod > 0 THEN floor(CAST(son AS DOUBLE)/CAST(sod AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS psi
        |  FROM s),
        |tr AS (SELECT
        |  CAST(floor((CAST(a AS DOUBLE) - atil)*(CAST(a AS DOUBLE) - atil)
        |    *(1.0/atil + 1.0/(n1d - atil) + 1.0/(m1d - atil) + 1.0/(n0d - m1d + atil))
        |    *1e6 + 0.5) AS BIGINT) AS t6
        |  FROM (SELECT a,
        |    CASE WHEN abs(qa) < 1e-12 THEN n1d*m1d/nd
        |         WHEN (-qb + sqrt(qb*qb - qa*4*qc))/(qa*2) >= greatest(0.0, m1d - n0d)
        |          AND (-qb + sqrt(qb*qb - qa*4*qc))/(qa*2) <= least(n1d, m1d)
        |         THEN (-qb + sqrt(qb*qb - qa*4*qc))/(qa*2)
        |         ELSE (-qb - sqrt(qb*qb - qa*4*qc))/(qa*2) END AS atil,
        |    n1d, n0d, m1d, nd
        |    FROM (SELECT a,
        |      1.0 - psi AS qa,
        |      (n0d - m1d) + psi*(n1d + m1d) AS qb,
        |      -psi*n1d*m1d AS qc, n1d, n0d, m1d, nd
        |      FROM (SELECT a,
        |        CAST(a + b AS DOUBLE) AS n1d, CAST(c + d AS DOUBLE) AS n0d,
        |        CAST(a + c AS DOUBLE) AS m1d, CAST(n AS DOUBLE) AS nd
        |        FROM w) CROSS JOIN ps))),
        |bd AS (SELECT CAST(SUM(t6) AS BIGINT) AS sbd FROM tr)
        |SELECT n_strata, n_rows, psi AS mh_odds_ratio,
        |  CASE WHEN psi IS NOT NULL AND n_strata > 1 THEN
        |    floor(CAST(sbd AS DOUBLE)/1e6*10000.0 + 0.5)/10000.0 END AS bd_stat,
        |  CAST(n_strata - 1 AS BIGINT) AS dof
        |FROM ps CROSS JOIN bd""".stripMargin,

    // Welch ANOVA: q254 exact group moments, 1e-9-snapped weights and
    // A-terms, 1e-12-snapped B-terms, pinned F*/df2.
    "q333_welch_anova" ->
      """WITH m AS (SELECT event_type AS g,
        |  CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS HUGEINT) AS x
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS s, SUM(x*x) AS ss
        |  FROM m GROUP BY 1),
        |b AS (SELECT n, CAST(s AS DOUBLE)/1e4/CAST(n AS DOUBLE) AS mean,
        |  (CAST(ss AS DOUBLE)/1e8
        |    - (CAST(s AS DOUBLE)/1e4)*(CAST(s AS DOUBLE)/1e4)/CAST(n AS DOUBLE))
        |    /(CAST(n AS DOUBLE) - 1.0) AS vari FROM a),
        |g AS (SELECT n, mean,
        |  CAST(floor(CAST(n AS DOUBLE)/vari*1000000000.0 + 0.5) AS BIGINT) AS w9
        |  FROM b WHERE n >= 2 AND vari > 0),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS nn,
        |  CAST(SUM(w9) AS BIGINT) AS sw9,
        |  CAST(SUM(CAST(floor(CAST(w9 AS DOUBLE)/1e9*mean*1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS swx9
        |  FROM g),
        |tr AS (SELECT
        |  CAST(floor(CAST(w9 AS DOUBLE)/1e9
        |    *(mean - CAST(swx9 AS DOUBLE)/CAST(sw9 AS DOUBLE))
        |    *(mean - CAST(swx9 AS DOUBLE)/CAST(sw9 AS DOUBLE))*1000000000.0 + 0.5) AS BIGINT) AS ta9,
        |  CAST(floor((1.0 - CAST(w9 AS DOUBLE)/CAST(sw9 AS DOUBLE))
        |    *(1.0 - CAST(w9 AS DOUBLE)/CAST(sw9 AS DOUBLE))
        |    /(CAST(n AS DOUBLE) - 1.0)*1000000000000.0 + 0.5) AS BIGINT) AS tb12
        |  FROM g CROSS JOIN t),
        |s2 AS (SELECT CAST(SUM(ta9) AS BIGINT) AS sa9, CAST(SUM(tb12) AS BIGINT) AS sb12 FROM tr)
        |SELECT k, nn AS n,
        |  CASE WHEN k >= 2 THEN floor(
        |    (CAST(sa9 AS DOUBLE)/1e9/(CAST(k AS DOUBLE) - 1.0))
        |    /(1.0 + CAST(sb12 AS DOUBLE)/1e12*2*(CAST(k AS DOUBLE) - 2)
        |      /(CAST(k AS DOUBLE)*CAST(k AS DOUBLE) - 1.0))*10000.0 + 0.5)/10000.0
        |  END AS f_welch,
        |  CASE WHEN k >= 2 AND CAST(sb12 AS DOUBLE)/1e12 > 0 THEN
        |    floor((CAST(k AS DOUBLE)*CAST(k AS DOUBLE) - 1.0)
        |      /(CAST(sb12 AS DOUBLE)/1e12*3)*10000.0 + 0.5)/10000.0
        |  END AS df2
        |FROM t CROSS JOIN s2""".stripMargin,

    // Cronbach: three integer size items on the exact 1e-4 grid, one
    // moment pass incl. row-sum moments, fixed-fold variance sum.
    "q334_cronbach" ->
      """WITH it AS (SELECT
        |  CAST(length(text) AS BIGINT)*10000 AS x0,
        |  CAST((CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END)*6 AS BIGINT)*10000 AS x1,
        |  CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT)*10000 AS x2
        |  FROM documents WHERE text IS NOT NULL),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(x0 AS HUGEINT)) AS s0, SUM(CAST(x0 AS HUGEINT)*x0) AS ss0,
        |  SUM(CAST(x1 AS HUGEINT)) AS s1, SUM(CAST(x1 AS HUGEINT)*x1) AS ss1,
        |  SUM(CAST(x2 AS HUGEINT)) AS s2, SUM(CAST(x2 AS HUGEINT)*x2) AS ss2,
        |  SUM(CAST(x0 + x1 + x2 AS HUGEINT)) AS st,
        |  SUM(CAST(x0 + x1 + x2 AS HUGEINT)*(x0 + x1 + x2)) AS sst
        |  FROM it),
        |f AS (SELECT n,
        |  ((CAST(ss0 AS DOUBLE)/1e8 - (CAST(s0 AS DOUBLE)/1e4)*(CAST(s0 AS DOUBLE)/1e4)/CAST(n AS DOUBLE))/(CAST(n AS DOUBLE) - 1.0))
        |  + ((CAST(ss1 AS DOUBLE)/1e8 - (CAST(s1 AS DOUBLE)/1e4)*(CAST(s1 AS DOUBLE)/1e4)/CAST(n AS DOUBLE))/(CAST(n AS DOUBLE) - 1.0))
        |  + ((CAST(ss2 AS DOUBLE)/1e8 - (CAST(s2 AS DOUBLE)/1e4)*(CAST(s2 AS DOUBLE)/1e4)/CAST(n AS DOUBLE))/(CAST(n AS DOUBLE) - 1.0)) AS vs,
        |  (CAST(sst AS DOUBLE)/1e8 - (CAST(st AS DOUBLE)/1e4)*(CAST(st AS DOUBLE)/1e4)/CAST(n AS DOUBLE))/(CAST(n AS DOUBLE) - 1.0) AS vt
        |  FROM a)
        |SELECT n, CAST(3 AS INT) AS k_items,
        |  CASE WHEN n >= 2 THEN floor(vs*10000.0 + 0.5)/10000.0 END AS var_items_sum,
        |  CASE WHEN n >= 2 THEN floor(vt*10000.0 + 0.5)/10000.0 END AS var_total,
        |  CASE WHEN n >= 2 AND vt > 0 THEN
        |    floor(1.5*(1.0 - vs/vt)*10000.0 + 0.5)/10000.0 END AS alpha
        |FROM f""".stripMargin,

    // GPD tail: exact type-1 p95 threshold on the (group, value)
    // domain, 2-scaled rank-weighted PWM sums, pinned xi/sigma.
    "q335_gpd_tail" ->
      """WITH m AS (SELECT CAST(event_type AS VARCHAR) AS g,
        |  CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |dom AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM m GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM dom GROUP BY 1),
        |wc AS (SELECT g, v, c, SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum FROM dom),
        |thr AS (SELECT wc.g, MIN(v) AS u FROM wc JOIN tot ON tot.g = wc.g
        |  WHERE cum*10000 >= 9500*n GROUP BY 1),
        |exc AS (SELECT dom.g, dom.v - u AS y, c FROM dom
        |  JOIN thr ON thr.g = dom.g WHERE dom.v > u),
        |ec AS (SELECT g, y, c, SUM(c) OVER (PARTITION BY g ORDER BY y) AS cume FROM exc),
        |fits AS (SELECT g, CAST(SUM(c) AS BIGINT) AS ne,
        |  SUM(CAST(c AS HUGEINT)*y) AS s0,
        |  SUM((CAST(c AS HUGEINT)*cume*2 - CAST(c AS HUGEINT)*(c - 1)
        |       - CAST(c AS HUGEINT)*2)*y) AS s12
        |  FROM ec GROUP BY 1),
        |f AS (SELECT tot.g, n, u, ne,
        |  CAST(s0 AS DOUBLE)/CAST(ne AS DOUBLE)/1e4 AS b0,
        |  CAST(s12 AS DOUBLE)/2/1e4/(CAST(ne AS DOUBLE) - 1.0)/CAST(ne AS DOUBLE) AS b1
        |  FROM tot JOIN thr ON thr.g = tot.g LEFT JOIN fits ON fits.g = tot.g)
        |SELECT g AS event_type, n,
        |  floor(CAST(u AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS threshold,
        |  COALESCE(ne, 0) AS n_exceed,
        |  CASE WHEN ne >= 1 THEN floor(b0*10000.0 + 0.5)/10000.0 END AS mean_excess,
        |  CASE WHEN ne >= 2 AND (b0 - b1*2) <> 0 THEN
        |    floor((2.0 - b0/(b0 - b1*2))*1000000.0 + 0.5)/1000000.0 END AS xi,
        |  CASE WHEN ne >= 2 AND (b0 - b1*2) <> 0 THEN
        |    floor(b0*2*b1/(b0 - b1*2)*10000.0 + 0.5)/10000.0 END AS sigma
        |FROM f ORDER BY event_type""".stripMargin,

    // Yuen: per-side exact domain trim/Winsorize via rank overlaps and
    // order-statistic clamps, pinned t/df.
    "q336_yuen_t" ->
      """WITH a0 AS (SELECT CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'click' AND value IS NOT NULL),
        |b0 AS (SELECT CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'view' AND value IS NOT NULL),
        |da AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM a0 GROUP BY 1),
        |db AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM b0 GROUP BY 1),
        |ca AS (SELECT v, c, SUM(c) OVER (ORDER BY v) AS cum FROM da),
        |cb AS (SELECT v, c, SUM(c) OVER (ORDER BY v) AS cum FROM db),
        |ta AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |  (2000*CAST(SUM(c) AS BIGINT)) // 10000 AS g FROM da),
        |tb AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |  (2000*CAST(SUM(c) AS BIGINT)) // 10000 AS g FROM db),
        |la AS (SELECT MIN(v) AS lo FROM ca CROSS JOIN ta WHERE cum >= g + 1),
        |ha AS (SELECT MIN(v) AS hi FROM ca CROSS JOIN ta WHERE cum >= n - g),
        |lb AS (SELECT MIN(v) AS lo FROM cb CROSS JOIN tb WHERE cum >= g + 1),
        |hb AS (SELECT MIN(v) AS hi FROM cb CROSS JOIN tb WHERE cum >= n - g),
        |aa AS (SELECT ta.n AS n_a, ta.n - ta.g*2 AS h_a,
        |  SUM(CAST(greatest(0, least(cum, ta.n - ta.g) - greatest(cum - c, ta.g)) AS HUGEINT)*v) AS tsa,
        |  SUM(CAST(c AS HUGEINT)*least(greatest(v, la.lo), ha.hi)) AS wsa,
        |  SUM(CAST(c AS HUGEINT)*least(greatest(v, la.lo), ha.hi)
        |      *least(greatest(v, la.lo), ha.hi)) AS wssa
        |  FROM ca CROSS JOIN ta CROSS JOIN la CROSS JOIN ha GROUP BY 1, 2),
        |bb AS (SELECT tb.n AS n_b, tb.n - tb.g*2 AS h_b,
        |  SUM(CAST(greatest(0, least(cum, tb.n - tb.g) - greatest(cum - c, tb.g)) AS HUGEINT)*v) AS tsb,
        |  SUM(CAST(c AS HUGEINT)*least(greatest(v, lb.lo), hb.hi)) AS wsb,
        |  SUM(CAST(c AS HUGEINT)*least(greatest(v, lb.lo), hb.hi)
        |      *least(greatest(v, lb.lo), hb.hi)) AS wssb
        |  FROM cb CROSS JOIN tb CROSS JOIN lb CROSS JOIN hb GROUP BY 1, 2),
        |f AS (SELECT n_a, n_b, h_a, h_b,
        |  CAST(tsa AS DOUBLE)/CAST(h_a AS DOUBLE)/1e4 AS tma,
        |  CAST(tsb AS DOUBLE)/CAST(h_b AS DOUBLE)/1e4 AS tmb,
        |  (CAST(wssa AS DOUBLE)/1e8
        |   - (CAST(wsa AS DOUBLE)/1e4)*(CAST(wsa AS DOUBLE)/1e4)/CAST(n_a AS DOUBLE))
        |   /(CAST(n_a AS DOUBLE) - 1.0)
        |   *(CAST(n_a AS DOUBLE) - 1.0)/(CAST(h_a AS DOUBLE)*(CAST(h_a AS DOUBLE) - 1.0)) AS dda,
        |  (CAST(wssb AS DOUBLE)/1e8
        |   - (CAST(wsb AS DOUBLE)/1e4)*(CAST(wsb AS DOUBLE)/1e4)/CAST(n_b AS DOUBLE))
        |   /(CAST(n_b AS DOUBLE) - 1.0)
        |   *(CAST(n_b AS DOUBLE) - 1.0)/(CAST(h_b AS DOUBLE)*(CAST(h_b AS DOUBLE) - 1.0)) AS ddb
        |  FROM aa CROSS JOIN bb)
        |SELECT n_a, n_b, h_a, h_b,
        |  CASE WHEN h_a >= 1 THEN floor(tma*10000.0 + 0.5)/10000.0 END AS tmean_a,
        |  CASE WHEN h_b >= 1 THEN floor(tmb*10000.0 + 0.5)/10000.0 END AS tmean_b,
        |  CASE WHEN h_a >= 2 AND h_b >= 2 AND (dda + ddb) > 0 THEN
        |    floor((tma - tmb)/sqrt(dda + ddb)*1000000.0 + 0.5)/1000000.0 END AS t_yuen,
        |  CASE WHEN h_a >= 2 AND h_b >= 2 AND (dda + ddb) > 0 THEN
        |    floor((dda + ddb)*(dda + ddb)
        |      /(dda*dda/(CAST(h_a AS DOUBLE) - 1.0) + ddb*ddb/(CAST(h_b AS DOUBLE) - 1.0))
        |      *10000.0 + 0.5)/10000.0 END AS df
        |FROM f""".stripMargin,

    // k-truss: the q126 canonical triangle join per peel round, 3-way
    // edge credit, support >= k-2 filter, 2 rounds + final support.
    "q337_ktruss" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |e0 AS (SELECT item_a, item_b FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |t0 AS (SELECT e1.item_a AS a, e1.item_b AS bb, e2.item_b AS c
        |  FROM e0 e1 JOIN e0 e2 ON e2.item_a = e1.item_b
        |  JOIN e0 e3 ON e3.item_a = e1.item_a AND e3.item_b = e2.item_b),
        |s0 AS (SELECT x AS item_a, y AS item_b, CAST(COUNT(*) AS BIGINT) AS s FROM (
        |  SELECT a AS x, bb AS y FROM t0 UNION ALL SELECT a, c FROM t0
        |  UNION ALL SELECT bb, c FROM t0) GROUP BY 1, 2),
        |e1r AS (SELECT e0.item_a, e0.item_b FROM e0 LEFT JOIN s0 USING (item_a, item_b)
        |  WHERE COALESCE(s, 0) >= 1),
        |t1 AS (SELECT e1.item_a AS a, e1.item_b AS bb, e2.item_b AS c
        |  FROM e1r e1 JOIN e1r e2 ON e2.item_a = e1.item_b
        |  JOIN e1r e3 ON e3.item_a = e1.item_a AND e3.item_b = e2.item_b),
        |s1 AS (SELECT x AS item_a, y AS item_b, CAST(COUNT(*) AS BIGINT) AS s FROM (
        |  SELECT a AS x, bb AS y FROM t1 UNION ALL SELECT a, c FROM t1
        |  UNION ALL SELECT bb, c FROM t1) GROUP BY 1, 2),
        |e2r AS (SELECT e1r.item_a, e1r.item_b FROM e1r LEFT JOIN s1 USING (item_a, item_b)
        |  WHERE COALESCE(s, 0) >= 1),
        |t2 AS (SELECT e1.item_a AS a, e1.item_b AS bb, e2.item_b AS c
        |  FROM e2r e1 JOIN e2r e2 ON e2.item_a = e1.item_b
        |  JOIN e2r e3 ON e3.item_a = e1.item_a AND e3.item_b = e2.item_b),
        |s2 AS (SELECT x AS item_a, y AS item_b, CAST(COUNT(*) AS BIGINT) AS s FROM (
        |  SELECT a AS x, bb AS y FROM t2 UNION ALL SELECT a, c FROM t2
        |  UNION ALL SELECT bb, c FROM t2) GROUP BY 1, 2)
        |SELECT e2r.item_a, e2r.item_b, COALESCE(s, 0) AS support
        |FROM e2r LEFT JOIN s2 USING (item_a, item_b)
        |ORDER BY item_a, item_b""".stripMargin,

    // Energy distance: identical grid cells, one window prefix pass
    // over four columns, exact below-identities, pinned assembly.
    "q338_energy_distance" ->
      """WITH a AS (SELECT CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) v
        |  FROM events WHERE event_type = 'click' AND value IS NOT NULL),
        |b AS (SELECT CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) v
        |  FROM events WHERE event_type = 'view' AND value IS NOT NULL),
        |ca AS (SELECT v, CAST(COUNT(*) AS BIGINT) c FROM a GROUP BY 1),
        |cb AS (SELECT v, CAST(COUNT(*) AS BIGINT) c FROM b GROUP BY 1),
        |m AS (SELECT COALESCE(ca.v, cb.v) AS v, COALESCE(ca.c, 0) AS cca,
        |  COALESCE(cb.c, 0) AS ccb FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |t AS (SELECT CAST(COALESCE(SUM(cca), 0) AS BIGINT) AS mm,
        |  CAST(COALESCE(SUM(ccb), 0) AS BIGINT) AS nn FROM m),
        |pre AS (SELECT v, cca, ccb,
        |  SUM(cca) OVER (ORDER BY v) AS pca, SUM(ccb) OVER (ORDER BY v) AS pcb,
        |  SUM(CAST(v AS HUGEINT)*cca) OVER (ORDER BY v) AS psa,
        |  SUM(CAST(v AS HUGEINT)*ccb) OVER (ORDER BY v) AS psb FROM m),
        |s AS (SELECT
        |  SUM(CAST(cca AS HUGEINT)*(CAST(v AS HUGEINT)*pcb - psb)
        |    + CAST(ccb AS HUGEINT)*(CAST(v AS HUGEINT)*pca - psa)) AS sxy,
        |  SUM(CAST(cca AS HUGEINT)*(CAST(v AS HUGEINT)*pca - psa)) AS sxx,
        |  SUM(CAST(ccb AS HUGEINT)*(CAST(v AS HUGEINT)*pcb - psb)) AS syy
        |  FROM pre),
        |f AS (SELECT mm, nn,
        |  CAST(sxy AS DOUBLE)/(CAST(mm AS DOUBLE)*CAST(nn AS DOUBLE))/1e4 AS exy,
        |  CAST(sxx AS DOUBLE)*2/(CAST(mm AS DOUBLE)*CAST(mm AS DOUBLE))/1e4 AS exx,
        |  CAST(syy AS DOUBLE)*2/(CAST(nn AS DOUBLE)*CAST(nn AS DOUBLE))/1e4 AS eyy
        |  FROM s CROSS JOIN t)
        |SELECT mm AS n_a, nn AS n_b,
        |  CASE WHEN mm > 0 AND nn > 0 THEN floor(exy*10000.0 + 0.5)/10000.0 END AS e_xy,
        |  CASE WHEN mm > 0 AND nn > 0 THEN floor(exx*10000.0 + 0.5)/10000.0 END AS e_xx,
        |  CASE WHEN mm > 0 AND nn > 0 THEN floor(eyy*10000.0 + 0.5)/10000.0 END AS e_yy,
        |  CASE WHEN mm > 0 AND nn > 0 THEN
        |    floor((exy*2 - exx - eyy)*1000000.0 + 0.5)/1000000.0 END AS energy_dist
        |FROM f""".stripMargin,

    // Component sizes: the q33 recursive-closure min-label twin on the
    // minPairCount=3 funnel, then the size histogram + share.
    "q339_component_sizes" ->
      """WITH RECURSIVE b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS a, y.item AS bb FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |pr AS (SELECT a, bb FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |e AS (SELECT a AS s, bb AS d FROM pr UNION SELECT bb, a FROM pr),
        |reach AS (SELECT s, d FROM e
        |          UNION SELECT r.s, ee.d FROM reach r JOIN e ee ON r.d = ee.s),
        |lbl AS (SELECT s AS id, LEAST(s, MIN(d)) AS cluster FROM reach GROUP BY s),
        |sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS szz FROM lbl GROUP BY 1),
        |t AS (SELECT CAST(SUM(szz) AS BIGINT) AS tn FROM sz)
        |SELECT szz AS component_size, CAST(COUNT(*) AS BIGINT) AS n_components,
        |  CAST(szz*COUNT(*) AS BIGINT) AS n_nodes,
        |  floor(CAST(szz*COUNT(*) AS DOUBLE)/CAST(tn AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS node_share
        |FROM sz CROSS JOIN t GROUP BY szz, tn ORDER BY 1""".stripMargin,

    // Qini: per-user score/conversion rollup, hash split, ROW_NUMBER
    // rank twin, decile arithmetic, cumulative window, pinned Qini.
    "q340_qini" ->
      """WITH per AS (SELECT user_id AS u,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS score,
        |  CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |pg AS (SELECT u, score, conv,
        |  (((u % 2147483648) * 2654435761) % 4294967296) % 10000 < 5000 AS t FROM per),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM pg),
        |rk AS (SELECT u, row_number() OVER (ORDER BY -score, u) AS r FROM pg),
        |dc AS (SELECT pg.u, conv, t, CAST(((r - 1)*10) // nn + 1 AS INT) AS decile
        |  FROM pg JOIN rk ON rk.u = pg.u CROSS JOIN n),
        |g AS (SELECT decile,
        |  CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_treated,
        |  CAST(SUM(CASE WHEN t THEN conv ELSE 0 END) AS BIGINT) AS ct,
        |  CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
        |  CAST(SUM(CASE WHEN NOT t THEN conv ELSE 0 END) AS BIGINT) AS cc
        |  FROM dc GROUP BY 1),
        |c AS (SELECT decile, n_treated, ct, n_control, cc,
        |  SUM(n_treated) OVER (ORDER BY decile) AS cnt,
        |  SUM(ct) OVER (ORDER BY decile) AS cct,
        |  SUM(n_control) OVER (ORDER BY decile) AS cnc,
        |  SUM(cc) OVER (ORDER BY decile) AS ccc FROM g)
        |SELECT decile, n_treated, n_control,
        |  CASE WHEN n_treated > 0 THEN
        |    floor(CAST(ct AS DOUBLE)/CAST(n_treated AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS rate_treated,
        |  CASE WHEN n_control > 0 THEN
        |    floor(CAST(cc AS DOUBLE)/CAST(n_control AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS rate_control,
        |  CASE WHEN n_treated > 0 AND n_control > 0 THEN
        |    floor((CAST(ct AS DOUBLE)/CAST(n_treated AS DOUBLE)
        |         - CAST(cc AS DOUBLE)/CAST(n_control AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS uplift,
        |  CASE WHEN cnc > 0 THEN
        |    floor((CAST(cct AS DOUBLE)
        |         - CAST(ccc AS DOUBLE)*CAST(cnt AS DOUBLE)/CAST(cnc AS DOUBLE))*10000.0 + 0.5)/10000.0 END AS qini
        |FROM c ORDER BY decile""".stripMargin,

    // ESS: the q122 fingerprint chain, exact 1e6 fixed-point weights
    // (scale cancels in both ratios), pinned divisions.
    "q349_ess" ->
      """WITH f AS (SELECT source,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |g AS (SELECT fp, COUNT(*) AS gs FROM f GROUP BY 1),
        |wts AS (SELECT source, 1000000 // gs AS w FROM f JOIN g USING (fp)),
        |per AS (SELECT CAST(source AS VARCHAR) AS source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  SUM(CAST(w AS HUGEINT)) AS s1, SUM(CAST(w AS HUGEINT)*w) AS s2
        |  FROM wts GROUP BY 1),
        |al AS (SELECT '(all)' AS source, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        |  SUM(s1) AS s1, SUM(s2) AS s2 FROM per),
        |u AS (SELECT * FROM per UNION ALL SELECT * FROM al)
        |SELECT source, n_docs,
        |  floor(CAST(s1 AS DOUBLE)/1e6*10000.0 + 0.5)/10000.0 AS sum_weight,
        |  floor(CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/CAST(s2 AS DOUBLE)*10000.0 + 0.5)/10000.0 AS ess,
        |  floor(CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/CAST(s2 AS DOUBLE)/CAST(n_docs AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS ess_ratio,
        |  floor(CAST(n_docs AS DOUBLE)/(CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/CAST(s2 AS DOUBLE))*1000000.0 + 0.5)/1000000.0 AS deff
        |FROM u ORDER BY source""".stripMargin,

    // Composed curation funnel: every stage is the EXACT SQL twin of
    // its standalone oracle (q88 normalize, q43 scrub, q67 gate shape
    // at frac 0.5 on avg token length, q20 exact-dedup grouping, q45
    // exact-Jaccard + recursive-reach near dedup, q56 8-gram
    // decontamination vs the doc_id%10=0 benchmark, q60 budgets, q78
    // split), stitched through one WITH chain.
    "q350_curation_e2e" ->
      """WITH RECURSIVE raw AS (
        |  SELECT doc_id, source, text FROM documents WHERE doc_id % 10 <> 0),
        |norm AS (SELECT doc_id, source,
        |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |    '\t', ' ', 'g'), '  +', ' ', 'g'), ' *\n *', chr(10), 'g'),
        |    '\n\n\n+', chr(10) || chr(10), 'g')) AS text
        |  FROM raw),
        |scrub AS (SELECT doc_id, source,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text
        |  FROM norm),
        |q AS (SELECT doc_id, source, text,
        |  floor((CASE WHEN (CASE WHEN length(trim(text))=0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END)=0 THEN 0.0
        |    ELSE CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |      / (CASE WHEN length(trim(text))=0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
        |    END)*10000.0 + 0.5)/10000.0 AS score
        |  FROM scrub),
        |dist AS (SELECT source, score, COUNT(*) AS cnt FROM q GROUP BY 1, 2),
        |cum AS (SELECT source, score,
        |  SUM(cnt) OVER (PARTITION BY source ORDER BY score DESC) AS cum,
        |  SUM(cnt) OVER (PARTITION BY source) AS n FROM dist),
        |thr AS (SELECT source, MAX(score) AS t FROM cum
        |        WHERE cum >= ceil(n * 0.5) GROUP BY source),
        |gated AS (SELECT q.doc_id, q.source, q.text
        |  FROM q JOIN thr ON q.source = thr.source AND q.score >= thr.t),
        |ex AS (SELECT doc_id, source, text FROM gated
        |  WHERE doc_id IN (SELECT MIN(doc_id) FROM gated GROUP BY md5(text))),
        |tok AS (SELECT doc_id,
        |  list_distinct(regexp_split_to_array(trim(text), '\s+')) AS ws FROM ex),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  floor((CASE WHEN len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws)) = 0
        |      THEN 1.0
        |    ELSE CAST(len(list_intersect(a.ws,b.ws)) AS DOUBLE)
        |      / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) END)
        |    *10000.0 + 0.5)/10000.0 AS j
        |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id),
        |pr AS (SELECT a_id, b_id FROM p WHERE j >= 0.9),
        |e AS (SELECT a_id AS s, b_id AS d FROM pr UNION SELECT b_id, a_id FROM pr),
        |reach AS (SELECT s, d FROM e
        |          UNION SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s),
        |losers AS (SELECT s AS doc_id FROM reach GROUP BY s
        |           HAVING LEAST(s, MIN(d)) <> s),
        |near AS (SELECT * FROM ex
        |  WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
        |bws AS (SELECT CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents WHERE doc_id % 10 = 0),
        |bg AS (SELECT DISTINCT unnest(CASE WHEN len(t) < 8
        |    THEN [array_to_string(t, ' ')]
        |    ELSE list_distinct([array_to_string(t[i:i+7], ' ')
        |                        FOR i IN range(1, len(t)-6)]) END) AS g
        |  FROM bws),
        |nws AS (SELECT doc_id, CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS t FROM near),
        |ng AS (SELECT doc_id, unnest(CASE WHEN len(t) < 8
        |    THEN [array_to_string(t, ' ')]
        |    ELSE list_distinct([array_to_string(t[i:i+7], ' ')
        |                        FOR i IN range(1, len(t)-6)]) END) AS g
        |  FROM nws),
        |contaminated AS (SELECT DISTINCT doc_id FROM ng JOIN bg USING (g)),
        |clean AS (SELECT * FROM near
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |w AS (SELECT doc_id, source,
        |  CAST(CASE WHEN length(trim(text))=0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
        |    AS n_tokens
        |  FROM clean),
        |tt AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS total
        |  FROM w GROUP BY 1),
        |bgt AS (SELECT w.doc_id, w.source, w.n_tokens,
        |  CAST(CASE w.source WHEN 'src0' THEN 400 WHEN 'src1' THEN 10000000
        |    WHEN 'src2' THEN 0 ELSE 600 END AS BIGINT) AS budget,
        |  tt.total FROM w JOIN tt USING (source)),
        |mixed AS (SELECT doc_id, source, n_tokens FROM bgt
        |  WHERE ((doc_id % 2147483648) * 2654435761) % 4294967296 % 10000
        |    < CASE WHEN total <= 0
        |        THEN (CASE WHEN budget > 0 THEN 10000 ELSE 0 END)
        |        ELSE LEAST(10000, (budget * 10000) // total) END),
        |sp AS (SELECT source, n_tokens,
        |  CASE WHEN ((doc_id % 2147483648)*2654435761) % 4294967296 % 10000 < 8000
        |         THEN 'train'
        |       WHEN ((doc_id % 2147483648)*2654435761) % 4294967296 % 10000 < 9000
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM mixed)
        |SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Seasonal decomposition: q275's pinned chain (1e-9 OLS, d9 grid,
    // phase means) emitted per bin instead of collapsed to F_s.
    "q351_seasonal_decompose" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |mins AS (SELECT t, MIN(bin) AS b0 FROM sv GROUP BY 1),
        |mom AS (SELECT s.t, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(s.bin - m.b0 AS DECIMAL(38,0)) * CAST(s.bin - m.b0 AS DECIMAL(38,0))) AS sxx,
        |  SUM(CAST(s.bin - m.b0 AS DECIMAL(38,0)) * CAST(s.v AS DECIMAL(38,0))) AS sxy,
        |  SUM(CAST(s.bin - m.b0 AS DECIMAL(38,0))) AS sx,
        |  SUM(CAST(s.v AS DECIMAL(38,0))) AS sy
        |  FROM sv s JOIN mins m ON s.t = m.t GROUP BY 1 HAVING COUNT(*) >= 3),
        |fit AS (SELECT t,
        |  floor(((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)))
        |    *1e9 + 0.5)/1e9 AS beta,
        |  floor(((CAST(sy AS DOUBLE)
        |      - ((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)))
        |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))*1e9 + 0.5)/1e9 AS alpha
        |  FROM mom
        |  WHERE CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) > 0),
        |detr AS (SELECT s.t, s.bin, s.v, s.bin % 24 AS ph,
        |  f.alpha + f.beta * CAST(s.bin - m.b0 AS DOUBLE) AS tr,
        |  CAST(floor((CAST(s.v AS DOUBLE)
        |    - (f.alpha + f.beta * CAST(s.bin - m.b0 AS DOUBLE)))*1e9 + 0.5) AS BIGINT) AS d9
        |  FROM sv s JOIN mins m ON s.t = m.t JOIN fit f ON s.t = f.t),
        |seas AS (SELECT t, ph,
        |  CAST(floor(CAST(SUM(d9) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS m9
        |  FROM detr GROUP BY 1, 2)
        |SELECT d.t AS event_type, d.bin, d.v AS n_events,
        |  floor(d.tr*1000000.0 + 0.5)/1000000.0 AS trend,
        |  floor(CAST(s.m9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS seasonal,
        |  floor(CAST(d.d9 - s.m9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS remainder
        |FROM detr d JOIN seas s ON d.t = s.t AND d.ph = s.ph
        |ORDER BY event_type, bin""".stripMargin,

    // Page's L: friedman's cells/midranks + k-row order attach,
    // 2-scaled exact L, classical no-ties moments.
    "q352_page_trend" ->
      """WITH v AS (SELECT user_id % 20 AS b, hour(CAST(ts AS TIMESTAMP)) // 6 AS tr,
        |  CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v4
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |cells AS (SELECT b, tr,
        |  CAST(floor(CAST(SUM(v4) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS m4
        |  FROM v GROUP BY 1, 2),
        |kk AS (SELECT CAST(COUNT(DISTINCT tr) AS BIGINT) AS k FROM cells),
        |complete AS (SELECT b FROM cells GROUP BY b
        |  HAVING COUNT(*) = (SELECT k FROM kk)),
        |ranked AS (SELECT tr,
        |  2*rank() OVER (PARTITION BY c.b ORDER BY m4)
        |    + COUNT(*) OVER (PARTITION BY c.b, m4) - 1 AS ar2
        |  FROM cells c JOIN complete USING (b)),
        |rj AS (SELECT tr, CAST(SUM(ar2) AS BIGINT) AS r2j FROM ranked GROUP BY 1),
        |cj AS (SELECT a.tr, CAST(COUNT(*) AS BIGINT) AS cj
        |  FROM (SELECT DISTINCT tr FROM cells) a
        |  JOIN (SELECT DISTINCT tr FROM cells) b2 ON b2.tr <= a.tr GROUP BY 1),
        |agg AS (SELECT SUM(CAST(cj AS HUGEINT)*r2j) AS l2 FROM rj JOIN cj USING (tr)),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks FROM complete)
        |SELECT n_blocks, k,
        |  floor(CAST(l2 AS DOUBLE)/2.0*10000.0 + 0.5)/10000.0 AS l_stat,
        |  CASE WHEN n_blocks > 0 AND k >= 3 THEN
        |    floor((CAST(l2 AS DOUBLE)/2.0
        |      - CAST(n_blocks AS DOUBLE)*CAST(k AS DOUBLE)*(CAST(k AS DOUBLE)+1.0)*(CAST(k AS DOUBLE)+1.0)/4.0)
        |      / sqrt(CAST(n_blocks AS DOUBLE)*CAST(k AS DOUBLE)*CAST(k AS DOUBLE)
        |        *(CAST(k AS DOUBLE)+1.0)*(CAST(k AS DOUBLE)+1.0)*(CAST(k AS DOUBLE)-1.0)/144.0)
        |      *1000000.0 + 0.5)/1000000.0
        |  END AS z_trend
        |FROM agg CROSS JOIN nb CROSS JOIN kk""".stripMargin,

    // Siegel: q203's grid + snapped slopes, nearest-rank lower median
    // at BOTH levels (per point, then across points).
    "q353_siegel_trend" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, COUNT(*) AS n FROM e GROUP BY 1, 2),
        |bo AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(bo.lo, bo.hi)) AS bin FROM bo) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |p AS (SELECT a.t, a.bin AS ba,
        |  CAST(floor(CAST(b.v - a.v AS DOUBLE)/CAST(b.bin - a.bin AS DOUBLE)*1e6 + 0.5) AS BIGINT) AS s6
        | FROM sv a JOIN sv b ON a.t = b.t AND a.bin <> b.bin),
        |icg AS (SELECT t, ba, s6, COUNT(*) AS c FROM p GROUP BY 1, 2, 3),
        |icum AS (SELECT t, ba, s6,
        |  CAST(SUM(c) OVER (PARTITION BY t, ba ORDER BY s6 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |  CAST(SUM(c) OVER (PARTITION BY t, ba) AS BIGINT) AS n FROM icg),
        |inner_med AS (SELECT t, ba, MIN(s6) AS m6 FROM icum
        |  WHERE cum >= (n + 1) // 2 GROUP BY t, ba),
        |ocg AS (SELECT t, m6, COUNT(*) AS c FROM inner_med GROUP BY 1, 2),
        |ocum AS (SELECT t, m6,
        |  CAST(SUM(c) OVER (PARTITION BY t ORDER BY m6 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |  CAST(SUM(c) OVER (PARTITION BY t) AS BIGINT) AS n FROM ocg)
        |SELECT t AS event_type, n AS n_bins,
        |  floor((CAST(MIN(m6) AS DOUBLE)/1e6)*10000.0 + 0.5)/10000.0 AS siegel_slope_per_day
        |FROM ocum WHERE cum >= (n + 1) // 2
        |GROUP BY t, n ORDER BY event_type""".stripMargin,

    // Boilerplate strip: q325's detection + token-canonical removal
    // (list_slice is begin..end INCLUSIVE in DuckDB).
    "q354_strip_boilerplate" ->
      """WITH base AS (SELECT source,
        |  array_to_string(list_slice(regexp_split_to_array(trim(lower(text)), '\s+'), 1, 2), ' ') AS prefix
        |  FROM documents WHERE source IS NOT NULL AND length(trim(text)) > 0),
        |t AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_source_docs FROM base GROUP BY 1),
        |c AS (SELECT source, prefix, CAST(COUNT(*) AS BIGINT) AS n_docs FROM base GROUP BY 1, 2),
        |flg AS (SELECT c.source, prefix FROM c JOIN t ON c.source = t.source
        |  WHERE n_docs >= 2 AND n_docs*10000 >= 500*n_source_docs),
        |d AS (SELECT doc_id, source, text,
        |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(trim(text), '\s+') END AS tk,
        |  array_to_string(list_slice(regexp_split_to_array(trim(lower(text)), '\s+'), 1, 2), ' ') AS pfx
        |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
        |j AS (SELECT d.doc_id, d.source, d.text, d.tk,
        |  (f.prefix IS NOT NULL) AS hit
        |  FROM d LEFT JOIN flg f ON d.source = f.source AND d.pfx = f.prefix)
        |SELECT doc_id, source, hit AS was_stripped,
        |  CAST(length(text) AS BIGINT) AS n_chars_before,
        |  CAST(length(CASE WHEN hit THEN array_to_string(list_slice(tk, 3, len(tk)), ' ')
        |       ELSE text END) AS BIGINT) AS n_chars_after,
        |  CASE WHEN hit THEN array_to_string(list_slice(tk, 3, len(tk)), ' ')
        |       ELSE text END AS text
        |FROM j ORDER BY doc_id""".stripMargin,

    // Frequent itemsets: exact distinct-(basket,item) supports, L1
    // pruning before expansion, direct pair/triple counts.
    "q355_frequent_itemsets" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS bk,
        |    CAST(l_partkey AS VARCHAR) AS it FROM lineitem),
        |l1 AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS c FROM b
        |  GROUP BY 1 HAVING COUNT(*) >= 3),
        |bp AS (SELECT bk, b.it FROM b JOIN l1 ON b.it = l1.it),
        |pb AS (SELECT a.bk, a.it AS ia, b2.it AS ib
        |  FROM bp a JOIN bp b2 ON a.bk = b2.bk AND a.it < b2.it),
        |p AS (SELECT ia, ib, CAST(COUNT(*) AS BIGINT) AS c FROM pb
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |t AS (SELECT pb.ia, pb.ib, c2.it AS ic,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM pb JOIN bp c2 ON pb.bk = c2.bk AND pb.ib < c2.it
        |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 3)
        |SELECT * FROM (
        |  SELECT 1 AS size, it AS item_a, CAST(NULL AS VARCHAR) AS item_b,
        |    CAST(NULL AS VARCHAR) AS item_c, c AS support FROM l1
        |  UNION ALL
        |  SELECT 2, ia, ib, CAST(NULL AS VARCHAR), c FROM p
        |  UNION ALL
        |  SELECT 3, ia, ib, ic, c FROM t)
        |ORDER BY size, item_a, item_b, item_c""".stripMargin,

    // ARI: q234's LPA contingency chain + doubled-binomial pair
    // counting, one double assembly.
    "q357_adjusted_rand" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS a, y.item AS bb FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |e0 AS (SELECT a, bb FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |e AS (SELECT a AS src, bb AS dst FROM e0 UNION ALL SELECT bb, a FROM e0),
        |l0 AS (SELECT DISTINCT src AS item, src AS lbl FROM e),
        |v1 AS (SELECT e.src, l.lbl, COUNT(*) AS c FROM e JOIN l0 l ON e.dst = l.item GROUP BY 1, 2),
        |l1 AS (SELECT src AS item, lbl FROM (SELECT src, lbl,
        |       row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn FROM v1) WHERE rn = 1),
        |v2 AS (SELECT e.src, l.lbl, COUNT(*) AS c FROM e JOIN l1 l ON e.dst = l.item GROUP BY 1, 2),
        |l2 AS (SELECT src AS item, lbl FROM (SELECT src, lbl,
        |       row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn FROM v2) WHERE rn = 1),
        |v3 AS (SELECT e.src, l.lbl, COUNT(*) AS c FROM e JOIN l2 l ON e.dst = l.item GROUP BY 1, 2),
        |l3 AS (SELECT src AS item, lbl FROM (SELECT src, lbl,
        |       row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn FROM v3) WHERE rn = 1),
        |cl AS (SELECT l3.item, l3.lbl AS community, p.p_brand AS cls
        |  FROM l3 JOIN part p ON p.p_partkey = l3.item),
        |cells AS MATERIALIZED (SELECT community, cls, CAST(COUNT(*) AS BIGINT) AS n_ck
        |  FROM cl GROUP BY 1, 2),
        |idx AS (SELECT SUM(CAST(n_ck AS HUGEINT)*(n_ck - 1)) AS i2,
        |  CAST(SUM(n_ck) AS BIGINT) AS n_items FROM cells),
        |sa AS (SELECT SUM(CAST(a AS HUGEINT)*(a - 1)) AS sa2,
        |  CAST(COUNT(*) AS BIGINT) AS n_clusters
        |  FROM (SELECT CAST(SUM(n_ck) AS BIGINT) AS a FROM cells GROUP BY community)),
        |sb AS (SELECT SUM(CAST(bb AS HUGEINT)*(bb - 1)) AS sb2,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes
        |  FROM (SELECT CAST(SUM(n_ck) AS BIGINT) AS bb FROM cells GROUP BY cls))
        |SELECT n_items, n_clusters, n_classes,
        |  CASE WHEN CAST(n_items AS DOUBLE)*(CAST(n_items AS DOUBLE) - 1.0)
        |           *(CAST(sa2 AS DOUBLE) + CAST(sb2 AS DOUBLE))/2.0
        |         - CAST(sa2 AS DOUBLE)*CAST(sb2 AS DOUBLE) <> 0 THEN
        |    floor((CAST(n_items AS DOUBLE)*(CAST(n_items AS DOUBLE) - 1.0)*CAST(i2 AS DOUBLE)
        |        - CAST(sa2 AS DOUBLE)*CAST(sb2 AS DOUBLE))
        |      / (CAST(n_items AS DOUBLE)*(CAST(n_items AS DOUBLE) - 1.0)
        |           *(CAST(sa2 AS DOUBLE) + CAST(sb2 AS DOUBLE))/2.0
        |         - CAST(sa2 AS DOUBLE)*CAST(sb2 AS DOUBLE))
        |      *1000000.0 + 0.5)/1000000.0
        |  END AS ari
        |FROM idx CROSS JOIN sa CROSS JOIN sb""".stripMargin,

    // Homoglyph dedup: identical staging + the pinned 14-char
    // confusable fold, group on the skeleton.
    "q356_homoglyph_dedup" ->
      """WITH staged AS (SELECT c_custkey AS doc_id,
        |  CASE WHEN c_custkey % 7 = 0 THEN
        |    CASE WHEN c_custkey % 3 = 0 THEN 'login to pаypal portal'
        |         WHEN c_custkey % 3 = 1 THEN 'microѕoft account login'
        |         ELSE 'vіsa card support' END
        |  ELSE
        |    CASE WHEN c_custkey % 3 = 0 THEN 'login to paypal portal'
        |         WHEN c_custkey % 3 = 1 THEN 'microsoft account login'
        |         ELSE 'visa card support' END
        |  END AS text
        |  FROM customer),
        |sk AS (SELECT doc_id, lower(text) AS lt,
        |  translate(lower(text), 'аеорсухіјѕёαον', 'aeopcyxijseaov') AS skel
        |  FROM staged)
        |SELECT CAST(MIN(doc_id) AS BIGINT) AS rep_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies,
        |  CAST(SUM(CASE WHEN lt <> skel THEN 1 ELSE 0 END) AS BIGINT) AS n_spoofed
        |FROM sk GROUP BY skel ORDER BY rep_id""".stripMargin,

    // CA trend: exact integer score sums, pinned T/Var/z.
    "q347_ca_trend" ->
      """WITH s AS (SELECT hour(CAST(ts AS TIMESTAMP)) // 6 AS sc,
        |  CAST(value >= 50.0 AS BIGINT) AS y
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(y) AS BIGINT) AS aa,
        |  CAST(COUNT(DISTINCT sc) AS BIGINT) AS n_groups,
        |  SUM(CAST(sc AS HUGEINT)*y) AS sa,
        |  SUM(CAST(sc AS HUGEINT)) AS sn,
        |  SUM(CAST(sc AS HUGEINT)*sc) AS ssn FROM s),
        |f AS (SELECT n, n_groups, aa,
        |  CAST(aa AS DOUBLE)/CAST(n AS DOUBLE) AS pbar,
        |  CAST(sa AS DOUBLE)
        |    - CAST(aa AS DOUBLE)/CAST(n AS DOUBLE)*CAST(sn AS DOUBLE) AS t,
        |  CAST(ssn AS DOUBLE)
        |    - CAST(sn AS DOUBLE)*CAST(sn AS DOUBLE)/CAST(n AS DOUBLE) AS vs
        |  FROM a)
        |SELECT n, n_groups, aa AS n_success,
        |  floor(pbar*1000000.0 + 0.5)/1000000.0 AS rate_overall,
        |  CASE WHEN n_groups >= 2 AND aa > 0 AND aa < n
        |    AND pbar*(1.0 - pbar)*vs > 0 THEN
        |    floor(t/sqrt(pbar*(1.0 - pbar)*vs)*1000000.0 + 0.5)/1000000.0
        |  END AS z_trend
        |FROM f""".stripMargin,

    // Rate test: exact arm counts/exposures, conditional binomial z.
    "q348_rate_test" ->
      """WITH s AS (SELECT
        |  (((user_id % 2147483648) * 2654435761) % 4294967296) % 10000 < 5000 AS a,
        |  CAST(event_type = 'error' AS BIGINT) AS e
        |  FROM events WHERE user_id IS NOT NULL),
        |g AS (SELECT
        |  CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS t_a,
        |  CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS t_b,
        |  CAST(SUM(CASE WHEN a THEN e ELSE 0 END) AS BIGINT) AS k_a,
        |  CAST(SUM(CASE WHEN NOT a THEN e ELSE 0 END) AS BIGINT) AS k_b
        |  FROM s),
        |f AS (SELECT t_a, t_b, k_a, k_b,
        |  CAST(t_a AS DOUBLE) AS ta, CAST(t_b AS DOUBLE) AS tb,
        |  CAST(k_a AS DOUBLE) AS ka, CAST(k_b AS DOUBLE) AS kb FROM g)
        |SELECT t_a, t_b, k_a, k_b,
        |  CASE WHEN t_a > 0 THEN floor(ka/ta*1000000.0 + 0.5)/1000000.0 END AS rate_a,
        |  CASE WHEN t_b > 0 THEN floor(kb/tb*1000000.0 + 0.5)/1000000.0 END AS rate_b,
        |  CASE WHEN t_a > 0 AND t_b > 0 AND k_b > 0 THEN
        |    floor(ka/ta/(kb/tb)*1000000.0 + 0.5)/1000000.0 END AS rate_ratio,
        |  CASE WHEN k_a + k_b > 0 AND t_a > 0 AND t_b > 0 THEN
        |    floor((ka - (ka + kb)*(ta/(ta + tb)))
        |      /sqrt((ka + kb)*(ta/(ta + tb))*(1.0 - ta/(ta + tb)))
        |      *1000000.0 + 0.5)/1000000.0 END AS z_stat
        |FROM f""".stripMargin,

    // Backbone: weighted funnel, strength/degree rollup, pinned pow
    // snapped 1e-9, membership on the snapped grid.
    "q345_backbone" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |e AS (SELECT item_a, item_b, CAST(COUNT(*) AS BIGINT) AS c_ab
        |      FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |nodes AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS k,
        |  CAST(SUM(c_ab) AS BIGINT) AS s FROM
        |  (SELECT item_a AS node, c_ab FROM e
        |   UNION ALL SELECT item_b AS node, c_ab FROM e)
        |  GROUP BY 1),
        |j AS (SELECT e.item_a, e.item_b, e.c_ab, na.k AS ka, na.s AS sa,
        |  nb.k AS kb, nb.s AS sb
        |  FROM e JOIN nodes na ON na.node = e.item_a
        |         JOIN nodes nb ON nb.node = e.item_b),
        |f AS (SELECT item_a, item_b, c_ab, ka, kb,
        |  CAST(floor(pow(1.0 - CAST(c_ab AS DOUBLE)/CAST(sa AS DOUBLE),
        |    CAST(ka AS DOUBLE) - 1.0)*1000000000.0 + 0.5) AS BIGINT) AS aa,
        |  CAST(floor(pow(1.0 - CAST(c_ab AS DOUBLE)/CAST(sb AS DOUBLE),
        |    CAST(kb AS DOUBLE) - 1.0)*1000000000.0 + 0.5) AS BIGINT) AS ab2
        |  FROM j)
        |SELECT item_a, item_b, c_ab,
        |  floor(CAST(least(aa, ab2) AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS alpha_min
        |FROM f WHERE (ka > 1 AND aa < 300000000) OR (kb > 1 AND ab2 < 300000000)
        |ORDER BY item_a, item_b""".stripMargin,

    // Dedup savings: the q33 recursive cluster labels + exact token
    // counts, keep-first removal charge, pinned share.
    "q346_dedup_savings" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) ws
        |  FROM documents),
        |pj AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  floor((CASE WHEN len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws)) = 0 THEN 1.0
        |    ELSE CAST(len(list_intersect(a.ws,b.ws)) AS DOUBLE)
        |         / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) END)*10000.0 + 0.5)/10000.0 AS jaccard
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id),
        |pr AS (SELECT a_id, b_id FROM pj WHERE jaccard >= 0.9),
        |ee AS (SELECT a_id AS s, b_id AS d FROM pr UNION SELECT b_id, a_id FROM pr),
        |reach AS (SELECT s, d FROM ee
        |          UNION SELECT r.s, e2.d FROM reach r JOIN ee e2 ON r.d = e2.s),
        |lbl AS (SELECT s AS doc_id, CAST(LEAST(s, MIN(d)) AS BIGINT) AS cluster_id
        |        FROM reach GROUP BY s),
        |m AS (SELECT d.source,
        |  CAST(CASE WHEN length(trim(d.text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(d.text), '\s+')) END AS BIGINT) AS tok,
        |  CASE WHEN l.cluster_id IS NOT NULL AND l.cluster_id <> d.doc_id
        |    THEN 1 ELSE 0 END AS rm
        |  FROM documents d LEFT JOIN lbl l ON l.doc_id = d.doc_id)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS n_tokens,
        |  CAST(SUM(rm) AS BIGINT) AS docs_removed,
        |  CAST(SUM(tok*rm) AS BIGINT) AS tokens_removed,
        |  floor(CAST(SUM(tok*rm) AS DOUBLE)/CAST(SUM(tok) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS token_savings_share
        |FROM m GROUP BY source ORDER BY source""".stripMargin,

    // Quade: the q272 cells/midranks, block ranges, range-domain
    // 2-scale block midranks, 4-scaled S products, pinned F.
    "q344_quade" ->
      """WITH v AS (SELECT strftime(o_orderdate, '%Y-%m') AS b, o_orderpriority AS tr,
        |  CAST(floor(CAST(o_totalprice AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v4
        |  FROM orders
        |  WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
        |cells AS (SELECT b, tr,
        |  CAST(floor(CAST(SUM(v4) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS m4
        |  FROM v GROUP BY 1, 2),
        |kk AS (SELECT CAST(COUNT(DISTINCT tr) AS BIGINT) AS k FROM cells),
        |complete AS (SELECT b FROM cells GROUP BY b
        |  HAVING COUNT(*) = (SELECT k FROM kk)),
        |cc AS (SELECT c.b, tr, m4 FROM cells c JOIN complete USING (b)),
        |ranked AS (SELECT b, tr,
        |  2*rank() OVER (PARTITION BY b ORDER BY m4)
        |    + COUNT(*) OVER (PARTITION BY b, m4) - 1 AS r2 FROM cc),
        |rng AS (SELECT b, MAX(m4) - MIN(m4) AS rg FROM cc GROUP BY 1),
        |rdom AS (SELECT rg, CAST(COUNT(*) AS BIGINT) AS c FROM rng GROUP BY 1),
        |rmid AS (SELECT rg,
        |  COALESCE(SUM(c) OVER (ORDER BY rg ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)*2
        |    + c + 1 AS q2 FROM rdom),
        |s AS (SELECT tr, CAST(q2 AS HUGEINT)*(r2 - (k + 1)) AS s4
        |  FROM ranked JOIN rng USING (b) JOIN rmid USING (rg) CROSS JOIN kk),
        |aa AS (SELECT SUM(s4*s4) AS a16 FROM s),
        |bb AS (SELECT SUM(CAST(si AS HUGEINT)*si) AS b16s FROM
        |  (SELECT tr, CAST(SUM(s4) AS HUGEINT) AS si FROM s GROUP BY 1)),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks FROM complete)
        |SELECT n_blocks, k,
        |  CASE WHEN n_blocks > 1 AND k >= 2
        |    AND (CAST(a16 AS DOUBLE)/16 - CAST(b16s AS DOUBLE)/16/CAST(n_blocks AS DOUBLE)) > 0 THEN
        |    floor((CAST(n_blocks AS DOUBLE) - 1)*(CAST(b16s AS DOUBLE)/16/CAST(n_blocks AS DOUBLE))
        |      /(CAST(a16 AS DOUBLE)/16 - CAST(b16s AS DOUBLE)/16/CAST(n_blocks AS DOUBLE))
        |      *10000.0 + 0.5)/10000.0
        |  END AS f_quade,
        |  CAST(k - 1 AS BIGINT) AS df1,
        |  CAST((n_blocks - 1)*(k - 1) AS BIGINT) AS df2
        |FROM aa CROSS JOIN bb CROSS JOIN nb CROSS JOIN kk""".stripMargin,

    // Script mixing: identical staging (homoglyph injections keyed on
    // custkey), portable character-class range tests over tokens.
    "q343_script_mixing" ->
      """WITH staged AS (SELECT 'src' || CAST(c_custkey % 4 AS VARCHAR) AS source,
        |  'login to ' ||
        |  (CASE WHEN c_custkey % 7 = 0 THEN 'pаypal portal' ELSE 'paypal portal' END) ||
        |  ' account ' || c_name ||
        |  (CASE WHEN c_custkey % 11 = 0 THEN ' αlpha' ELSE ' alpha' END) AS text
        |  FROM customer),
        |m AS (SELECT source,
        |  len(list_filter(
        |    CASE WHEN length(trim(lower(text))) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END,
        |    t -> (regexp_matches(t, '[A-Za-z]') AND regexp_matches(t, '[Ѐ-ӿ]'))
        |      OR (regexp_matches(t, '[A-Za-z]') AND regexp_matches(t, '[α-ωΑ-Ω]')))) AS mx
        |  FROM staged WHERE source IS NOT NULL AND text IS NOT NULL)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN mx > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_flagged,
        |  CAST(SUM(mx) AS BIGINT) AS mixed_tokens,
        |  floor(CAST(SUM(CASE WHEN mx > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    /CAST(COUNT(*) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS flagged_share
        |FROM m GROUP BY source ORDER BY source""".stripMargin,

    // MIPS: left-fold dots (list_reduce = the zip_with/aggregate fold),
    // (dot desc, id) window-rank twin.
    "q342_mips" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |  list_reduce([q.v[i]*n.v[i] FOR i IN range(1, len(q.v)+1)], (a, b) -> a + b) AS d
        | FROM base q JOIN base n ON n.vec_id <> q.vec_id
        | WHERE q.vec_id < 10),
        |r AS (SELECT q_id, n_id, d,
        |  row_number() OVER (PARTITION BY q_id ORDER BY d DESC, n_id) AS rn FROM s)
        |SELECT q_id, CAST(rn AS INT) AS "rank", n_id,
        |  floor(d*10000.0 + 0.5)/10000.0 AS dot
        |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

    // Platt: the q229 raw-score staging collapsed to (f4, y) cells,
    // then 4 unrolled Newton CTE rounds — identical z clamp, 1e-9
    // per-cell snaps, integer Cramer, 1e-9 (a, b) trajectory pins.
    "q341_platt" -> {
      val w = Similarity.lshPlanes(256, 1, seed = 7)(0)
      def p(ab: String) =
        s"1.0/(1.0 + exp(-greatest(least((CAST($ab.a9 AS DOUBLE)/1e9)*(CAST(f4 AS DOUBLE)/1e4) + CAST($ab.b9 AS DOUBLE)/1e9, 30.0), -30.0)))"
      val rounds = (1 to 4).map { i =>
        val prev = s"ab${i - 1}"
        val pp = p(prev)
        s"""s$i AS (SELECT
           |  SUM(CAST(floor(CAST(c AS DOUBLE)*(($pp*(1.0 - $pp))*(CAST(f4 AS DOUBLE)/1e4)*(CAST(f4 AS DOUBLE)/1e4))*1000000000.0 + 0.5) AS HUGEINT)) AS sxx,
           |  SUM(CAST(floor(CAST(c AS DOUBLE)*(($pp*(1.0 - $pp))*(CAST(f4 AS DOUBLE)/1e4))*1000000000.0 + 0.5) AS HUGEINT)) AS sx,
           |  SUM(CAST(floor(CAST(c AS DOUBLE)*($pp*(1.0 - $pp))*1000000000.0 + 0.5) AS HUGEINT)) AS s0,
           |  SUM(CAST(floor(CAST(c AS DOUBLE)*(($pp - CAST(y AS DOUBLE))*(CAST(f4 AS DOUBLE)/1e4))*1000000000.0 + 0.5) AS HUGEINT)) AS gx,
           |  SUM(CAST(floor(CAST(c AS DOUBLE)*($pp - CAST(y AS DOUBLE))*1000000000.0 + 0.5) AS HUGEINT)) AS g0,
           |  MAX($prev.a9) AS a9, MAX($prev.b9) AS b9
           |  FROM cells CROSS JOIN $prev),
           |ab$i AS (SELECT
           |  CASE WHEN sxx*s0 - sx*sx <> 0 THEN
           |    a9 - CAST(floor(CAST(gx*s0 - g0*sx AS DOUBLE)/CAST(sxx*s0 - sx*sx AS DOUBLE)*1000000000.0 + 0.5) AS BIGINT) END AS a9,
           |  CASE WHEN sxx*s0 - sx*sx <> 0 THEN
           |    b9 - CAST(floor(CAST(sxx*g0 - sx*gx AS DOUBLE)/CAST(sxx*s0 - sx*sx AS DOUBLE)*1000000000.0 + 0.5) AS BIGINT) END AS b9
           |  FROM s$i)""".stripMargin
      }.mkString(",\n")
      def nllExpr(pe: String) =
        s"SUM(CAST(floor(CAST(c AS DOUBLE)*(-(CAST(y AS DOUBLE)*ln($pe) + (1.0 - CAST(y AS DOUBLE))*ln(1.0 - $pe)))*1000000000.0 + 0.5) AS HUGEINT))"
      val pid =
        "1.0/(1.0 + exp(-greatest(least(1.0*(CAST(f4 AS DOUBLE)/1e4) + 0.0, 30.0), -30.0)))"
      s"""WITH wt AS (SELECT ${w.mkString("[", ",", "]")}::DOUBLE[] AS w),
         |t AS (SELECT doc_id,
         |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
         |       ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x))
         |  END AS toks FROM documents),
         |sraw AS (SELECT doc_id,
         |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         |    list_reduce(list_transform(toks, tok ->
         |      wt.w[((list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
         |             (a,b) -> a*16 + b) % 2147483629) % 256) + 1]),
         |      (a,b) -> a + b) END AS raw
         |  FROM t CROSS JOIN wt),
         |sc AS (SELECT s2.doc_id,
         |  CAST(floor((floor((raw + -0.05)*10000.0 + 0.5)/10000.0)*10000.0 + 0.5) AS BIGINT) AS f4,
         |  CAST(d.lang = 'en' AS BIGINT) AS y
         |  FROM sraw s2 JOIN documents d USING (doc_id)),
         |cells AS (SELECT f4, y, CAST(COUNT(*) AS BIGINT) AS c FROM sc GROUP BY 1, 2),
         |ab0 AS (SELECT CAST(1000000000 AS BIGINT) AS a9, CAST(0 AS BIGINT) AS b9),
         |$rounds,
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
         |  CAST(SUM(y*c) AS BIGINT) AS pos, ${nllExpr(pid)} AS nb9 FROM cells),
         |aft AS (SELECT ${nllExpr(p("ab4"))} AS na9, MAX(ab4.a9) AS a9, MAX(ab4.b9) AS b9
         |  FROM cells CROSS JOIN ab4)
         |SELECT n,
         |  CASE WHEN pos > 0 AND pos < n AND a9 IS NOT NULL THEN
         |    floor(CAST(a9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 END AS a,
         |  CASE WHEN pos > 0 AND pos < n AND a9 IS NOT NULL THEN
         |    floor(CAST(b9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 END AS b,
         |  floor(CAST(nb9 AS DOUBLE)/1e9/CAST(n AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS nll_before,
         |  CASE WHEN pos > 0 AND pos < n AND a9 IS NOT NULL THEN
         |    floor(CAST(na9 AS DOUBLE)/1e9/CAST(n AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS nll_after
         |FROM tot CROSS JOIN aft""".stripMargin
    },

    // Signed rank: exact 1e-4 per-user condition means, |d|-domain
    // 2-scaled midranks, tie-corrected normal approximation.
    "q358_signed_rank" ->
      """WITH v AS (SELECT user_id AS s, event_type AS cond,
        |  CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v4
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IN ('click', 'view')),
        |cells AS (SELECT s, cond,
        |  CAST(floor(CAST(SUM(v4) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS m4
        |  FROM v GROUP BY 1, 2),
        |p AS (SELECT a.m4 - b.m4 AS d4 FROM cells a JOIN cells b ON a.s = b.s
        |  WHERE a.cond = 'click' AND b.cond = 'view'),
        |zz AS (SELECT CAST(COUNT(*) FILTER (WHERE d4 = 0) AS BIGINT) AS n_zero FROM p),
        |dom AS (SELECT abs(d4) AS av, CAST(COUNT(*) AS BIGINT) AS ct,
        |  CAST(COUNT(*) FILTER (WHERE d4 > 0) AS BIGINT) AS cp
        |  FROM p WHERE d4 <> 0 GROUP BY 1),
        |cum AS (SELECT av, ct, cp, COALESCE(SUM(ct) OVER
        |  (ORDER BY av ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM dom),
        |agg AS (SELECT SUM(CAST(cp AS HUGEINT)*(2*cb + ct + 1)) AS w2s,
        |  SUM(CAST(ct AS HUGEINT)*ct*ct - ct) AS ties,
        |  CAST(SUM(ct) AS BIGINT) AS n FROM cum)
        |SELECT COALESCE(n, 0) AS n_pairs, COALESCE(n_zero, 0) AS n_zero,
        |  floor(CAST(w2s AS DOUBLE)/2*10000.0 + 0.5)/10000.0 AS w_plus,
        |  CASE WHEN n > 0 AND
        |    CAST(n AS DOUBLE)*(n+1)*(n*2+1)/24 - CAST(ties AS DOUBLE)/48 > 0 THEN
        |    floor((CAST(w2s AS DOUBLE)/2 - CAST(n AS DOUBLE)*(n+1)/4)
        |      / sqrt(CAST(n AS DOUBLE)*(n+1)*(n*2+1)/24 - CAST(ties AS DOUBLE)/48)
        |      *1000000.0 + 0.5)/1000000.0 END AS z
        |FROM agg CROSS JOIN zz""".stripMargin,

    // Bartlett: exact integer n*Q - S^2 per group, 1e-9-snapped log
    // and reciprocal terms summed exactly, one pinned T/C assembly.
    "q359_bartlett" ->
      """WITH v AS (SELECT event_type AS g,
        |  CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |st AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(v AS HUGEINT)) AS s, SUM(CAST(v AS HUGEINT)*v) AS q
        |  FROM v GROUP BY 1 HAVING COUNT(*) >= 2),
        |pg AS (SELECT n, n*q - s*s AS num,
        |  CAST(floor(CAST(n*q - s*s AS DOUBLE)/CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS pool,
        |  CASE WHEN n*q - s*s > 0 THEN
        |    CAST(floor(ln(CAST(n*q - s*s AS DOUBLE)
        |      /(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1))/1e8)*1e9 + 0.5) AS BIGINT)
        |  END AS ln9,
        |  CAST(floor(1e9/(CAST(n AS DOUBLE)-1) + 0.5) AS BIGINT) AS inv9
        |  FROM st),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS n_total,
        |  SUM(CAST(pool AS HUGEINT)) AS pools, SUM(CAST(n-1 AS HUGEINT)*ln9) AS lns,
        |  SUM(CAST(inv9 AS HUGEINT)) AS invs,
        |  MAX(CASE WHEN num = 0 THEN 1 ELSE 0 END) AS anyzero FROM pg)
        |SELECT k, n_total,
        |  CASE WHEN k >= 2 AND anyzero = 0 THEN
        |    floor((((CAST(n_total AS DOUBLE)-k)
        |        *ln(CAST(pools AS DOUBLE)/(CAST(n_total AS DOUBLE)-k)/1e8)
        |        - CAST(lns AS DOUBLE)/1e9)
        |      / (1.0 + (CAST(invs AS DOUBLE)/1e9 - 1.0/(CAST(n_total AS DOUBLE)-k))
        |        /((CAST(k AS DOUBLE)-1)*3)))*1000000.0 + 0.5)/1000000.0
        |  END AS chi2_bartlett,
        |  k - 1 AS df
        |FROM agg""".stripMargin,

    // Kuiper: q106's cross-multiplied integer ECDF gaps, both
    // one-sided maxima, Stephens standardization on the unrounded V.
    "q360_kuiper" ->
      """WITH a AS (SELECT CAST(value AS DOUBLE) AS v, COUNT(*) AS ca FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1),
        |b AS (SELECT CAST(value AS DOUBLE) AS v, COUNT(*) AS cb FROM events
        |  WHERE event_type = 'signup' AND value IS NOT NULL GROUP BY 1),
        |m AS (SELECT COALESCE(a.v, b.v) AS v, COALESCE(ca, 0) AS ca,
        |  COALESCE(cb, 0) AS cb FROM a FULL OUTER JOIN b ON a.v = b.v),
        |t AS (SELECT CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS na,
        |  CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS nb FROM m),
        |c AS (SELECT CAST(SUM(ca) OVER w AS BIGINT) AS cuma,
        |  CAST(SUM(cb) OVER w AS BIGINT) AS cumb FROM m
        |  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (SELECT MAX(cuma*t.nb - cumb*t.na) AS dp,
        |  MAX(cumb*t.na - cuma*t.nb) AS dm FROM c CROSS JOIN t)
        |SELECT na AS n_a, nb AS n_b,
        |  CASE WHEN na > 0 AND nb > 0 THEN
        |    floor(CAST(GREATEST(dp, 0) + GREATEST(dm, 0) AS DOUBLE)
        |      /(CAST(na AS DOUBLE)*nb)*1000000.0 + 0.5)/1000000.0 END AS v_stat,
        |  CASE WHEN na > 0 AND nb > 0 THEN
        |    floor((sqrt(CAST(na AS DOUBLE)*nb/(na+nb)) + 0.155
        |        + 0.24/sqrt(CAST(na AS DOUBLE)*nb/(na+nb)))
        |      *(CAST(GREATEST(dp, 0) + GREATEST(dm, 0) AS DOUBLE)/(CAST(na AS DOUBLE)*nb))
        |      *10000.0 + 0.5)/10000.0 END AS lambda_stat
        |FROM g CROSS JOIN t""".stripMargin,

    // Tukey HSD: exact per-group (n, S, Q), integer-snapped SSW pool,
    // cross-multiplied mean diffs, one pinned q assembly per pair.
    "q361_tukey_hsd" ->
      """WITH v AS (SELECT event_type AS g,
        |  CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |st AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(v AS HUGEINT)) AS s, SUM(CAST(v AS HUGEINT)*v) AS q
        |  FROM v GROUP BY 1),
        |st2 AS (SELECT *,
        |  CAST(floor(CAST(n*q - s*s AS DOUBLE)/CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS ssw
        |  FROM st),
        |mse AS (SELECT SUM(CAST(ssw AS HUGEINT)) AS ssws,
        |  CAST(SUM(n) AS BIGINT) AS ntot, CAST(COUNT(*) AS BIGINT) AS k FROM st2)
        |SELECT a.g AS g_a, b.g AS g_b, a.n AS n_a, b.n AS n_b,
        |  floor(CAST(a.s*b.n - b.s*a.n AS DOUBLE)/(CAST(a.n AS DOUBLE)*b.n)/1e4
        |    *1000000.0 + 0.5)/1000000.0 AS mean_diff,
        |  CASE WHEN ntot > k AND CAST(ssws AS DOUBLE)/CAST(ntot - k AS DOUBLE)/1e8 > 0 THEN
        |    floor(abs(CAST(a.s*b.n - b.s*a.n AS DOUBLE)/(CAST(a.n AS DOUBLE)*b.n)/1e4)
        |      / sqrt(CAST(ssws AS DOUBLE)/CAST(ntot - k AS DOUBLE)/1e8/2
        |        *(1.0/a.n + 1.0/b.n))*10000.0 + 0.5)/10000.0
        |  END AS q_stat
        |FROM st2 a JOIN st2 b ON a.g < b.g CROSS JOIN mse
        |ORDER BY g_a, g_b""".stripMargin,

    // Grubbs: exact integer deviation argmax with value tie-break,
    // one pinned G assembly (the 1e4 scale cancels).
    "q362_grubbs" ->
      """WITH v AS (SELECT o_orderpriority AS g,
        |  CAST(floor(CAST(o_totalprice AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v
        |  FROM orders WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
        |st AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(v AS HUGEINT)) AS s, SUM(CAST(v AS HUGEINT)*v) AS q
        |  FROM v GROUP BY 1),
        |d AS (SELECT v.g, v.v, st.n, st.s, st.q,
        |  abs(CAST(st.n AS HUGEINT)*v.v - st.s) AS dev,
        |  row_number() OVER (PARTITION BY v.g ORDER BY abs(CAST(st.n AS HUGEINT)*v.v - st.s) DESC, v.v DESC) AS rn
        |  FROM v JOIN st ON v.g = st.g)
        |SELECT g AS o_orderpriority, n,
        |  floor(CAST(v AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS extreme_value,
        |  CASE WHEN n >= 3 AND CAST(n*q - s*s AS DOUBLE) > 0 THEN
        |    floor(CAST(dev AS DOUBLE)/CAST(n AS DOUBLE)
        |      / sqrt(CAST(n*q - s*s AS DOUBLE)/(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1)))
        |      *1000000.0 + 0.5)/1000000.0 END AS g_stat
        |FROM d WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin,

    // Hurst: q130's hourly grid, exact s-scaled cumulative deviations,
    // integer range / sqrt(integer variance), snapped log-log OLS.
    "q363_hurst" ->
      """WITH e AS (SELECT event_type AS t, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bo AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT t FROM e) tt
        |  CROSS JOIN (SELECT unnest(generate_series(bo.lo, bo.hi)) AS bin FROM bo) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |  FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |blocks AS (SELECT sv.t, sv.bin, sv.v, sz.sz, bo.lo,
        |  (sv.bin - bo.lo) // sz.sz AS blk
        |  FROM sv CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS sz) sz CROSS JOIN bo
        |  WHERE (sv.bin - bo.lo) // sz.sz < (bo.hi - bo.lo + 1) // sz.sz),
        |dev AS (SELECT t, sz, blk,
        |  sz*SUM(v) OVER (PARTITION BY t, sz, blk ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  - (bin - lo - blk*sz + 1)*SUM(v) OVER (PARTITION BY t, sz, blk) AS d,
        |  SUM(v) OVER (PARTITION BY t, sz, blk) AS s1,
        |  SUM(CAST(v AS HUGEINT)*v) OVER (PARTITION BY t, sz, blk) AS s2
        |  FROM blocks),
        |pb AS (SELECT t, sz, blk, MAX(d) - MIN(d) AS rsnum,
        |  CAST(MAX(sz) AS HUGEINT)*MAX(s2) - CAST(MAX(s1) AS HUGEINT)*MAX(s1) AS den
        |  FROM dev GROUP BY 1, 2, 3),
        |rs AS (SELECT t, sz,
        |  CAST(floor(CAST(rsnum AS DOUBLE)/sqrt(CAST(den AS DOUBLE))*1e9 + 0.5) AS BIGINT) AS rs9
        |  FROM pb WHERE den > 0),
        |ps AS (SELECT t, sz, CAST(COUNT(*) AS BIGINT) AS nb,
        |  CAST(floor(ln(CAST(floor(CAST(SUM(rs9) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) + 0.5)
        |    AS DOUBLE)/1e9)*1e9 + 0.5) AS BIGINT) AS y9,
        |  CAST(floor(ln(CAST(sz AS DOUBLE))*1e9 + 0.5) AS BIGINT) AS x9
        |  FROM rs GROUP BY 1, 2),
        |fin AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_sizes,
        |  CAST(SUM(nb) AS BIGINT) AS n_blocks,
        |  SUM(CAST(x9 AS HUGEINT)) AS sx, SUM(CAST(y9 AS HUGEINT)) AS sy,
        |  SUM(CAST(x9 AS HUGEINT)*y9) AS sxy, SUM(CAST(x9 AS HUGEINT)*x9) AS sxx
        |  FROM ps GROUP BY 1)
        |SELECT t AS event_type, n_sizes, n_blocks,
        |  CASE WHEN n_sizes >= 2 AND
        |    CAST(n_sizes AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx > 0 THEN
        |    floor((CAST(n_sizes AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
        |      / (CAST(n_sizes AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)
        |      *1000000.0 + 0.5)/1000000.0 END AS hurst
        |FROM fin ORDER BY event_type""".stripMargin,

    // Theil's U: exact cell/margin counts, 1e-9-snapped c*ln(c) terms
    // summed exactly, one pinned entropy/MI/ratio assembly.
    "q364_uncertainty" ->
      """WITH cells AS (SELECT lang AS x, source AS y, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |j AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |  SUM(CAST(c AS HUGEINT)*CAST(floor(ln(CAST(c AS DOUBLE))*1e9 + 0.5) AS BIGINT)) AS sxy
        |  FROM cells),
        |mx AS (SELECT SUM(CAST(cx AS HUGEINT)
        |    *CAST(floor(ln(CAST(cx AS DOUBLE))*1e9 + 0.5) AS BIGINT)) AS sx
        |  FROM (SELECT CAST(SUM(c) AS BIGINT) AS cx FROM cells GROUP BY x)),
        |my AS (SELECT SUM(CAST(cy AS HUGEINT)
        |    *CAST(floor(ln(CAST(cy AS DOUBLE))*1e9 + 0.5) AS BIGINT)) AS sy
        |  FROM (SELECT CAST(SUM(c) AS BIGINT) AS cy FROM cells GROUP BY y))
        |SELECT n,
        |  floor((ln(CAST(n AS DOUBLE)) - CAST(sx AS DOUBLE)/1e9/n)*1000000.0 + 0.5)/1000000.0 AS h_x,
        |  floor((ln(CAST(n AS DOUBLE)) - CAST(sy AS DOUBLE)/1e9/n)*1000000.0 + 0.5)/1000000.0 AS h_y,
        |  floor(((ln(CAST(n AS DOUBLE)) - CAST(sx AS DOUBLE)/1e9/n)
        |    + (ln(CAST(n AS DOUBLE)) - CAST(sy AS DOUBLE)/1e9/n)
        |    - (ln(CAST(n AS DOUBLE)) - CAST(sxy AS DOUBLE)/1e9/n))*1000000.0 + 0.5)/1000000.0 AS mutual_info,
        |  CASE WHEN ln(CAST(n AS DOUBLE)) - CAST(sx AS DOUBLE)/1e9/n > 0 THEN
        |    floor((((ln(CAST(n AS DOUBLE)) - CAST(sx AS DOUBLE)/1e9/n)
        |      + (ln(CAST(n AS DOUBLE)) - CAST(sy AS DOUBLE)/1e9/n)
        |      - (ln(CAST(n AS DOUBLE)) - CAST(sxy AS DOUBLE)/1e9/n))
        |      / (ln(CAST(n AS DOUBLE)) - CAST(sx AS DOUBLE)/1e9/n))*1000000.0 + 0.5)/1000000.0
        |  END AS u_x_given_y,
        |  CASE WHEN ln(CAST(n AS DOUBLE)) - CAST(sy AS DOUBLE)/1e9/n > 0 THEN
        |    floor((((ln(CAST(n AS DOUBLE)) - CAST(sx AS DOUBLE)/1e9/n)
        |      + (ln(CAST(n AS DOUBLE)) - CAST(sy AS DOUBLE)/1e9/n)
        |      - (ln(CAST(n AS DOUBLE)) - CAST(sxy AS DOUBLE)/1e9/n))
        |      / (ln(CAST(n AS DOUBLE)) - CAST(sy AS DOUBLE)/1e9/n))*1000000.0 + 0.5)/1000000.0
        |  END AS u_y_given_x,
        |  CASE WHEN (ln(CAST(n AS DOUBLE)) - CAST(sx AS DOUBLE)/1e9/n)
        |      + (ln(CAST(n AS DOUBLE)) - CAST(sy AS DOUBLE)/1e9/n) > 0 THEN
        |    floor((((ln(CAST(n AS DOUBLE)) - CAST(sx AS DOUBLE)/1e9/n)
        |      + (ln(CAST(n AS DOUBLE)) - CAST(sy AS DOUBLE)/1e9/n)
        |      - (ln(CAST(n AS DOUBLE)) - CAST(sxy AS DOUBLE)/1e9/n))*2
        |      / ((ln(CAST(n AS DOUBLE)) - CAST(sx AS DOUBLE)/1e9/n)
        |        + (ln(CAST(n AS DOUBLE)) - CAST(sy AS DOUBLE)/1e9/n)))*1000000.0 + 0.5)/1000000.0
        |  END AS u_symmetric
        |FROM j CROSS JOIN mx CROSS JOIN my""".stripMargin,

    // OLS2: exact 1e-4 grid, eight exact raw sums, Cramer's rule on
    // the n-scaled centered moments, one pinned beta/SE/R2 assembly.
    "q365_ols2" ->
      """WITH li AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  SUM(l_quantity) AS sum_qty FROM lineitem GROUP BY 1),
        |d AS (SELECT CAST(floor(CAST(o_totalprice AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS y,
        |  CAST(floor(CAST(n_items AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS x1,
        |  CAST(floor(CAST(sum_qty AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS x2
        |  FROM orders JOIN li ON o_orderkey = l_orderkey
        |  WHERE o_totalprice IS NOT NULL AND sum_qty IS NOT NULL),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(x1 AS HUGEINT)) AS s1, SUM(CAST(x2 AS HUGEINT)) AS s2,
        |  SUM(CAST(y AS HUGEINT)) AS sy,
        |  SUM(CAST(x1 AS HUGEINT)*x1) AS s11, SUM(CAST(x2 AS HUGEINT)*x2) AS s22,
        |  SUM(CAST(x1 AS HUGEINT)*x2) AS s12, SUM(CAST(x1 AS HUGEINT)*y) AS s1y,
        |  SUM(CAST(x2 AS HUGEINT)*y) AS s2y, SUM(CAST(y AS HUGEINT)*y) AS syy
        |  FROM d),
        |m AS (SELECT n,
        |  CAST(n*s11 - s1*s1 AS DOUBLE) AS c11, CAST(n*s22 - s2*s2 AS DOUBLE) AS c22,
        |  CAST(n*s12 - s1*s2 AS DOUBLE) AS c12, CAST(n*s1y - s1*sy AS DOUBLE) AS c1y,
        |  CAST(n*s2y - s2*sy AS DOUBLE) AS c2y, CAST(n*syy - sy*sy AS DOUBLE) AS cyy,
        |  CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d, CAST(sy AS DOUBLE) AS syd
        |  FROM a),
        |f AS (SELECT n, c1y, c2y, cyy, c11, c22, c12,
        |  c11*c22 - c12*c12 AS det,
        |  (c22*c1y - c12*c2y)/(c11*c22 - c12*c12) AS b1,
        |  (c11*c2y - c12*c1y)/(c11*c22 - c12*c12) AS b2, s1d, s2d, syd
        |  FROM m)
        |SELECT n,
        |  CASE WHEN n >= 4 AND det > 0 AND cyy > 0 THEN
        |    floor((syd - b1*s1d - b2*s2d)/CAST(n AS DOUBLE)/1e4*1000000.0 + 0.5)/1000000.0 END AS b0,
        |  CASE WHEN n >= 4 AND det > 0 AND cyy > 0 THEN
        |    floor(b1*1000000.0 + 0.5)/1000000.0 END AS b1,
        |  CASE WHEN n >= 4 AND det > 0 AND cyy > 0 THEN
        |    floor(b2*1000000.0 + 0.5)/1000000.0 END AS b2,
        |  CASE WHEN n >= 4 AND det > 0 AND cyy > 0
        |      AND (cyy - b1*c1y - b2*c2y)/CAST(n AS DOUBLE)/(CAST(n AS DOUBLE)-3) >= 0 THEN
        |    floor(sqrt((cyy - b1*c1y - b2*c2y)/CAST(n AS DOUBLE)/(CAST(n AS DOUBLE)-3)
        |      *CAST(n AS DOUBLE)*c22/det)*1000000.0 + 0.5)/1000000.0 END AS se_b1,
        |  CASE WHEN n >= 4 AND det > 0 AND cyy > 0
        |      AND (cyy - b1*c1y - b2*c2y)/CAST(n AS DOUBLE)/(CAST(n AS DOUBLE)-3) >= 0 THEN
        |    floor(sqrt((cyy - b1*c1y - b2*c2y)/CAST(n AS DOUBLE)/(CAST(n AS DOUBLE)-3)
        |      *CAST(n AS DOUBLE)*c11/det)*1000000.0 + 0.5)/1000000.0 END AS se_b2,
        |  CASE WHEN n >= 4 AND det > 0 AND cyy > 0 THEN
        |    floor((b1*c1y + b2*c2y)/cyy*1000000.0 + 0.5)/1000000.0 END AS r2,
        |  CASE WHEN n >= 4 AND det > 0 AND cyy > 0 THEN
        |    floor((1.0 - (1.0 - (b1*c1y + b2*c2y)/cyy)*(CAST(n AS DOUBLE)-1)
        |      /(CAST(n AS DOUBLE)-3))*1000000.0 + 0.5)/1000000.0 END AS adj_r2
        |FROM f""".stripMargin,

    // Hoeffding's D: cell collapse, 2-scaled midranks and 4-scaled
    // bivariate ranks from domain prefixes, 16-scaled exact D sums.
    "q366_hoeffding" ->
      """WITH cells AS (SELECT l_quantity AS x,
        |  CAST(floor(l_extendedprice/1000) AS BIGINT) AS y,
        |  CAST(COUNT(*) AS BIGINT) AS c FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL GROUP BY 1, 2),
        |mx AS (SELECT x, 2*COALESCE(SUM(t) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2x
        |  FROM (SELECT x, CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY 1)),
        |my AS (SELECT y, 2*COALESCE(SUM(t) OVER (ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2y
        |  FROM (SELECT y, CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY 1)),
        |tx AS (SELECT x, y, COALESCE(SUM(c) OVER (PARTITION BY x ORDER BY y
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tx FROM cells),
        |ty AS (SELECT x, y, COALESCE(SUM(c) OVER (PARTITION BY y ORDER BY x
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ty FROM cells),
        |bb AS (SELECT a.x, a.y, CAST(SUM(b2.c) AS BIGINT) AS b FROM cells a
        |  JOIN cells b2 ON b2.x < a.x AND b2.y < a.y GROUP BY 1, 2),
        |ff AS (SELECT cells.c,
        |  4*COALESCE(bb.b, 0) + 2*(tx.tx + ty.ty) + cells.c + 3 AS q4,
        |  mx.r2x, my.r2y
        |  FROM cells JOIN tx USING (x, y) JOIN ty USING (x, y)
        |  LEFT JOIN bb USING (x, y) JOIN mx USING (x) JOIN my USING (y)),
        |s AS (SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_cells,
        |  SUM(CAST(c AS HUGEINT)*(q4-4)*(q4-8)) AS d1,
        |  SUM(CAST(c AS HUGEINT)*(r2x-2)*(r2x-4)*(r2y-2)*(r2y-4)) AS d2,
        |  SUM(CAST(c AS HUGEINT)*(r2x-4)*(r2y-4)*(q4-4)) AS d3 FROM ff)
        |SELECT n, n_cells,
        |  CASE WHEN n >= 5 THEN
        |    floor(((CAST(n AS DOUBLE)-2)*(CAST(n AS DOUBLE)-3)*(CAST(d1 AS DOUBLE)/16)
        |      + CAST(d2 AS DOUBLE)/16 - (CAST(n AS DOUBLE)-2)*(CAST(d3 AS DOUBLE)/16)*2)*30
        |      / (CAST(n AS DOUBLE)*(n-1)*(n-2)*(n-3)*(n-4))*1000000.0 + 0.5)/1000000.0
        |  END AS d_stat
        |FROM s""".stripMargin,

    // Markup strip: identical staged corpus, tag regex, fixed-order
    // entity decode (&amp; last), whitespace collapse.
    "q367_strip_markup" ->
      """WITH staged AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN '<div class="a">' ELSE '' END
        |    || '<p>' || text || '</p>' ||
        |  CASE WHEN doc_id % 5 = 0 THEN ' R&amp;D &lt;tag&gt;&nbsp;ok' ELSE '' END AS t
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |s1 AS (SELECT doc_id, t, regexp_replace(t, '<[^>]*>', ' ', 'g') AS nt
        |  FROM staged),
        |s2 AS (SELECT doc_id, t,
        |  replace(replace(replace(replace(replace(replace(nt,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
        |    '&nbsp;', ' '), '&amp;', '&') AS dt
        |  FROM s1)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '<[^>]*>')) AS BIGINT) AS n_tags,
        |  CAST(length(t) AS BIGINT) AS n_chars_before,
        |  CAST(length(trim(regexp_replace(dt, '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_after,
        |  trim(regexp_replace(dt, '\s+', ' ', 'g')) AS text
        |FROM s2 ORDER BY doc_id""".stripMargin,

    // CUSUM chart: grid moments -> snapped mu/sigma/k/h, reset
    // recursion as prefix-sum minus running-extremum, exact alarms.
    "q368_cusum_chart" ->
      """WITH e AS (SELECT event_type AS t, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bo AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT t FROM e) tt
        |  CROSS JOIN (SELECT unnest(generate_series(bo.lo, bo.hi)) AS bin FROM bo) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |  FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |mom AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s1,
        |  SUM(CAST(v AS HUGEINT)*v) AS s2 FROM sv GROUP BY 1),
        |ms AS (SELECT t,
        |  CAST(floor(CAST(s1 AS DOUBLE)/n*1e9 + 0.5) AS BIGINT) AS mu9,
        |  CAST(floor(sqrt(CAST(n*s2 - CAST(s1 AS HUGEINT)*s1 AS DOUBLE))
        |    /n*1e9 + 0.5) AS BIGINT) AS sig9
        |  FROM mom),
        |ks AS (SELECT t, mu9, sig9,
        |  CAST(floor(0.5*sig9 + 0.5) AS BIGINT) AS k9,
        |  CAST(floor(4.0*sig9 + 0.5) AS BIGINT) AS h9 FROM ms),
        |d AS (SELECT sv.t, bin, v,
        |  CAST(v AS HUGEINT)*1000000000 - mu9 - k9 AS dp,
        |  CAST(v AS HUGEINT)*1000000000 - mu9 + k9 AS dm, sig9, h9
        |  FROM sv JOIN ks ON sv.t = ks.t),
        |p AS (SELECT t, bin, v, sig9, h9, SUM(dp) OVER w AS pp, SUM(dm) OVER w AS pm
        |  FROM d WINDOW w AS (PARTITION BY t ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (SELECT t, bin, v, sig9, h9,
        |  pp - LEAST(CAST(0 AS HUGEINT), MIN(pp) OVER w) AS sp,
        |  GREATEST(CAST(0 AS HUGEINT), MAX(pm) OVER w) - pm AS sm
        |  FROM p WINDOW w AS (PARTITION BY t ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT t AS event_type, bin, v AS n_events,
        |  floor(CAST(sp AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS cusum_pos,
        |  floor(CAST(sm AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS cusum_neg,
        |  CASE WHEN sig9 > 0 THEN
        |    floor(CAST(h9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 END AS threshold,
        |  CAST(sig9 > 0 AND sp > h9 AS INT) AS alarm_up,
        |  CAST(sig9 > 0 AND sm > h9 AS INT) AS alarm_down
        |FROM s ORDER BY event_type, bin""".stripMargin,

    // Holt: the SAME driver-computed 1e-9 matrix-power weights
    // embedded as literals; exact integer dot products.
    "q369_holt" -> {
      val vals = operators.EventOps.holtWeights(0.5, 0.3, 64)
        .map { case (l, wl, wb) => s"($l, $wl, $wb)" }.mkString(", ")
      s"""WITH e AS (SELECT event_type AS t, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bo AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT t FROM e) tt
        |  CROSS JOIN (SELECT unnest(generate_series(bo.lo, bo.hi)) AS bin FROM bo) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |  FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |w AS (SELECT * FROM (VALUES $vals) t(l, wl9, wb9)),
        |f AS (SELECT sv.t, sv.bin, sv.v, w.l, w.wl9, w.wb9, sv2.v AS vl
        |  FROM sv CROSS JOIN w
        |  JOIN sv sv2 ON sv2.t = sv.t AND sv2.bin = sv.bin - w.l),
        |a AS (SELECT t, bin, COUNT(*) AS nav, CAST(MIN(v) AS BIGINT) AS v,
        |  SUM(CAST(wl9 AS HUGEINT)*vl) AS lev9, SUM(CAST(wb9 AS HUGEINT)*vl) AS tr9
        |  FROM f GROUP BY 1, 2)
        |SELECT t AS event_type, bin, v AS n_events,
        |  floor(CAST(lev9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS level,
        |  floor(CAST(tr9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS trend,
        |  floor(CAST(lev9 + tr9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS forecast_next
        |FROM a WHERE nav = 64 ORDER BY event_type, bin""".stripMargin
    },

    "q370_readability2" ->
      """WITH w AS (SELECT doc_id, lower(text) AS lt,
        |  regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (SELECT doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_words,
        |  greatest(1, CAST(len(regexp_extract_all(lt, '[.!?]+')) AS BIGINT)) AS n_sentences,
        |  CAST(len([x FOR x IN ws IF len(regexp_extract_all(x, '[aeiouy]+')) >= 3]) AS BIGINT) AS n_complex,
        |  CAST(len([x FOR x IN ws IF len(x) > 6]) AS BIGINT) AS n_long
        | FROM w)
        |SELECT doc_id, n_words, n_sentences, n_complex, n_long,
        |  floor((0.4 * (CAST(n_words AS DOUBLE)/n_sentences + 100.0*CAST(n_complex AS DOUBLE)/n_words))*10000.0 + 0.5)/10000.0 AS fog,
        |  floor((1.0430 * sqrt(CAST(n_complex AS DOUBLE)*30.0/n_sentences) + 3.1291)*10000.0 + 0.5)/10000.0 AS smog,
        |  floor((CAST(n_words AS DOUBLE)/n_sentences + 100.0*CAST(n_long AS DOUBLE)/n_words)*10000.0 + 0.5)/10000.0 AS lix,
        |  floor((CAST(n_long AS DOUBLE)/n_sentences)*10000.0 + 0.5)/10000.0 AS rix
        |FROM c ORDER BY doc_id""".stripMargin,

    "q371_link_prediction" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |e AS (SELECT item_a, item_b FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |adj AS (SELECT item_a AS w, item_b AS x FROM e
        |        UNION ALL SELECT item_b, item_a FROM e),
        |dg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |cen AS (SELECT w, CAST(floor(1.0/ln(CAST(d AS DOUBLE))*1e9 + 0.5) AS BIGINT) AS a9,
        |  CAST(1000000000 // d AS BIGINT) AS r9
        |  FROM dg WHERE d >= 2 AND d <= 1000),
        |wg AS (SELECT a1.x AS x, a2.x AS y, cen.a9, cen.r9 FROM adj a1
        |  JOIN cen ON cen.w = a1.w JOIN adj a2 ON a2.w = a1.w WHERE a1.x < a2.x),
        |sc AS (SELECT x AS item_a, y AS item_b,
        |  CAST(COUNT(*) AS BIGINT) AS common_neighbors,
        |  CAST(SUM(a9) AS BIGINT) AS s9, CAST(SUM(r9) AS BIGINT) AS t9
        |  FROM wg GROUP BY 1, 2),
        |flt AS (SELECT sc.*, da.d AS da, db.d AS db FROM sc
        |  JOIN dg da ON da.w = sc.item_a JOIN dg db ON db.w = sc.item_b
        |  WHERE NOT EXISTS
        |  (SELECT 1 FROM e WHERE e.item_a = sc.item_a AND e.item_b = sc.item_b))
        |SELECT item_a, item_b, common_neighbors,
        |  floor(CAST(common_neighbors AS DOUBLE)/CAST(da + db - common_neighbors AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS jaccard,
        |  floor(CAST(s9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS aa_score,
        |  floor(CAST(t9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS ra_score,
        |  CAST(da * db AS BIGINT) AS pa_score
        |FROM flt ORDER BY aa_score DESC, item_a, item_b LIMIT 100""".stripMargin,

    "q372_closeness" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |cab AS (SELECT item_a, item_b FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS (SELECT item_a AS src, item_b AS dst FROM cab
        |      UNION ALL SELECT item_b, item_a FROM cab),
        |s0 AS (SELECT DISTINCT src AS seed, src AS item, CAST(0 AS BIGINT) AS dist
        |       FROM e WHERE src % 100 = 0),
        |r1 AS (SELECT s.seed, e.dst AS item, MIN(s.dist + 1) AS dist
        |       FROM e JOIN s0 s ON e.src = s.item GROUP BY 1, 2),
        |s1 AS (SELECT seed, item, MIN(dist) AS dist FROM
        |       (SELECT * FROM s0 UNION ALL SELECT * FROM r1) GROUP BY 1, 2),
        |r2 AS (SELECT s.seed, e.dst AS item, MIN(s.dist + 1) AS dist
        |       FROM e JOIN s1 s ON e.src = s.item GROUP BY 1, 2),
        |s2 AS (SELECT seed, item, MIN(dist) AS dist FROM
        |       (SELECT * FROM s1 UNION ALL SELECT * FROM r2) GROUP BY 1, 2),
        |r3 AS (SELECT s.seed, e.dst AS item, MIN(s.dist + 1) AS dist
        |       FROM e JOIN s2 s ON e.src = s.item GROUP BY 1, 2),
        |s3 AS (SELECT seed, item, MIN(dist) AS dist FROM
        |       (SELECT * FROM s2 UNION ALL SELECT * FROM r3) GROUP BY 1, 2)
        |SELECT seed AS item, CAST(COUNT(*) AS BIGINT) AS n_reached,
        |  CAST(SUM(dist) AS BIGINT) AS sum_dist,
        |  floor(CAST(COUNT(*) AS DOUBLE)/CAST(SUM(dist) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS closeness,
        |  floor(CAST(SUM(1000000000 // dist) AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS harmonic
        |FROM s3 WHERE item <> seed GROUP BY seed ORDER BY item""".stripMargin,

    "q373_perm_entropy" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |tr AS (SELECT a.t, a.v AS a, b1.v AS bb, c2.v AS cc
        |  FROM sv a JOIN sv b1 ON b1.t = a.t AND b1.bin = a.bin + 1
        |  JOIN sv c2 ON c2.t = a.t AND c2.bin = a.bin + 2),
        |pat AS (SELECT t, CASE WHEN a <= bb AND bb <= cc THEN '012'
        |  WHEN a <= bb AND a <= cc THEN '021' WHEN a <= bb THEN '201'
        |  WHEN a <= cc THEN '102' WHEN bb <= cc THEN '120' ELSE '210' END AS p
        |  FROM tr),
        |ce AS (SELECT t, p, CAST(COUNT(*) AS BIGINT) AS c FROM pat GROUP BY 1, 2),
        |ag AS (SELECT t, CAST(SUM(c) AS BIGINT) AS nw, CAST(COUNT(*) AS BIGINT) AS np,
        |  SUM(CAST(c AS DECIMAL(38,0)) *
        |      CAST(floor(ln(CAST(c AS DOUBLE))*1e9 + 0.5) AS DECIMAL(38,0))) AS clnc
        |  FROM ce GROUP BY 1)
        |SELECT t AS event_type, nw AS n_windows, np AS n_patterns,
        |  floor(CAST(CAST(nw AS DECIMAL(38,0)) *
        |    CAST(floor(ln(CAST(nw AS DOUBLE))*1e9 + 0.5) AS DECIMAL(38,0)) - clnc AS DOUBLE)
        |    /(CAST(nw AS DOUBLE)*1e9)*1000000.0 + 0.5)/1000000.0 AS perm_entropy,
        |  floor(CAST(CAST(nw AS DECIMAL(38,0)) *
        |    CAST(floor(ln(CAST(nw AS DOUBLE))*1e9 + 0.5) AS DECIMAL(38,0)) - clnc AS DOUBLE)
        |    /(CAST(nw AS DOUBLE)*1791759469.0)*1000000.0 + 0.5)/1000000.0 AS perm_entropy_norm
        |FROM ag ORDER BY event_type""".stripMargin,

    "q374_hjorth" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |jo AS (SELECT a.t, a.v, b1.v AS v1, c2.v AS v2
        |  FROM sv a LEFT JOIN sv b1 ON b1.t = a.t AND b1.bin = a.bin + 1
        |  LEFT JOIN sv c2 ON c2.t = a.t AND c2.bin = a.bin + 2),
        |m AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s,
        |  SUM(CAST(v AS DECIMAL(38,0))*CAST(v AS DECIMAL(38,0))) AS q,
        |  CAST(COUNT(v1) AS BIGINT) AS nd, CAST(SUM(v1 - v) AS BIGINT) AS sd,
        |  SUM(CASE WHEN v1 IS NOT NULL THEN
        |    CAST(v1 - v AS DECIMAL(38,0))*CAST(v1 - v AS DECIMAL(38,0)) END) AS qd,
        |  CAST(COUNT(v2) AS BIGINT) AS ndd, CAST(SUM(v2 - 2*v1 + v) AS BIGINT) AS sdd,
        |  SUM(CASE WHEN v2 IS NOT NULL THEN
        |    CAST(v2 - 2*v1 + v AS DECIMAL(38,0))*CAST(v2 - 2*v1 + v AS DECIMAL(38,0)) END) AS qdd
        |  FROM jo GROUP BY 1),
        |f AS (SELECT t, n, nd, ndd,
        |  n*q - CAST(s AS DECIMAL(38,0))*CAST(s AS DECIMAL(38,0)) AS va,
        |  nd*qd - CAST(sd AS DECIMAL(38,0))*CAST(sd AS DECIMAL(38,0)) AS vad,
        |  ndd*qdd - CAST(sdd AS DECIMAL(38,0))*CAST(sdd AS DECIMAL(38,0)) AS vadd
        |  FROM m)
        |SELECT t AS event_type, n AS n_bins,
        |  floor(CAST(va AS DOUBLE)/CAST(n*n AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS activity,
        |  CASE WHEN va > 0 AND nd >= 2 THEN
        |    floor(sqrt(CAST(vad*n*n AS DOUBLE)/CAST(va*nd*nd AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS mobility,
        |  CASE WHEN va > 0 AND vad > 0 AND ndd >= 2 THEN
        |    floor(sqrt(CAST(vadd*nd*nd AS DOUBLE)/CAST(vad*ndd*ndd AS DOUBLE))
        |      /sqrt(CAST(vad*n*n AS DOUBLE)/CAST(va*nd*nd AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS complexity
        |FROM f ORDER BY event_type""".stripMargin,

    "q375_ar2" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |st AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
        |       FROM sv GROUP BY 1),
        |dn AS (SELECT sv.t,
        |  SUM(CAST(st.n*sv.v - st.s AS DECIMAL(38,0)) * CAST(st.n*sv.v - st.s AS DECIMAL(38,0))) AS den
        |  FROM sv JOIN st ON sv.t = st.t GROUP BY 1),
        |pr AS (SELECT a.t, CAST(l.lag AS BIGINT) AS lag, a.v AS v1, bb.v AS v2
        |  FROM sv a CROSS JOIN (SELECT unnest(range(1, 3)) AS lag) l
        |  JOIN sv bb ON bb.t = a.t AND bb.bin = a.bin + l.lag),
        |nm AS (SELECT pr.t,
        |  SUM(CASE WHEN lag = 1 THEN
        |    CAST(st.n*pr.v1 - st.s AS DECIMAL(38,0)) * CAST(st.n*pr.v2 - st.s AS DECIMAL(38,0)) END) AS num1,
        |  SUM(CASE WHEN lag = 2 THEN
        |    CAST(st.n*pr.v1 - st.s AS DECIMAL(38,0)) * CAST(st.n*pr.v2 - st.s AS DECIMAL(38,0)) END) AS num2
        |  FROM pr JOIN st ON pr.t = st.t GROUP BY 1),
        |asm AS (SELECT nm.t, st.n, dn.den,
        |  CAST(num1 AS DOUBLE)/CAST(den AS DOUBLE) AS r1,
        |  CAST(num2 AS DOUBLE)/CAST(den AS DOUBLE) AS r2
        |  FROM nm JOIN dn ON nm.t = dn.t JOIN st ON nm.t = st.t)
        |SELECT t AS event_type, n AS n_bins,
        |  CASE WHEN den > 0 THEN floor(r1*1000000.0 + 0.5)/1000000.0 END AS r1,
        |  CASE WHEN den > 0 THEN floor(r2*1000000.0 + 0.5)/1000000.0 END AS r2,
        |  CASE WHEN den > 0 AND 1.0 - r1*r1 <> 0.0 THEN
        |    floor(r1*(1.0 - r2)/(1.0 - r1*r1)*1000000.0 + 0.5)/1000000.0 END AS phi1,
        |  CASE WHEN den > 0 AND 1.0 - r1*r1 <> 0.0 THEN
        |    floor((r2 - r1*r1)/(1.0 - r1*r1)*1000000.0 + 0.5)/1000000.0 END AS phi2,
        |  CASE WHEN den > 0 AND 1.0 - r1*r1 <> 0.0 THEN
        |    floor((1.0 - r1*(1.0 - r2)/(1.0 - r1*r1)*r1 - (r2 - r1*r1)/(1.0 - r1*r1)*r2)*1000000.0 + 0.5)/1000000.0 END AS innovation_ratio
        |FROM asm ORDER BY event_type""".stripMargin,

    "q376_variance_ratio" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |st AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
        |       FROM sv GROUP BY 1),
        |bs AS (SELECT sv.t,
        |  SUM(CAST(st.n*sv.v - st.s AS DECIMAL(38,0)) * CAST(st.n*sv.v - st.s AS DECIMAL(38,0))) AS bsum
        |  FROM sv JOIN st ON sv.t = st.t GROUP BY 1),
        |wn AS (SELECT a.t, a.bin, CAST(COUNT(*) AS BIGINT) AS avail,
        |  CAST(SUM(CASE WHEN l.l < 2 THEN bb.v END) AS BIGINT) AS w2,
        |  CAST(SUM(CASE WHEN l.l < 4 THEN bb.v END) AS BIGINT) AS w4,
        |  CAST(SUM(CASE WHEN l.l < 8 THEN bb.v END) AS BIGINT) AS w8
        |  FROM sv a CROSS JOIN (SELECT unnest(range(0, 8)) AS l) l
        |  JOIN sv bb ON bb.t = a.t AND bb.bin = a.bin + l.l
        |  GROUP BY 1, 2),
        |aq AS (SELECT wn.t,
        |  SUM(CASE WHEN avail >= 2 THEN
        |    CAST(st.n*w2 - 2*st.s AS DECIMAL(38,0)) * CAST(st.n*w2 - 2*st.s AS DECIMAL(38,0)) END) AS a2,
        |  SUM(CASE WHEN avail >= 4 THEN
        |    CAST(st.n*w4 - 4*st.s AS DECIMAL(38,0)) * CAST(st.n*w4 - 4*st.s AS DECIMAL(38,0)) END) AS a4,
        |  SUM(CASE WHEN avail >= 8 THEN
        |    CAST(st.n*w8 - 8*st.s AS DECIMAL(38,0)) * CAST(st.n*w8 - 8*st.s AS DECIMAL(38,0)) END) AS a8
        |  FROM wn JOIN st ON wn.t = st.t GROUP BY 1)
        |SELECT aq.t AS event_type, st.n AS n_bins,
        |  CASE WHEN bsum > 0 AND st.n > 2 THEN
        |    floor(CAST(a2*st.n AS DOUBLE)/CAST((st.n - 2 + 1)*2*bsum AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS vr2,
        |  CASE WHEN bsum > 0 AND st.n > 4 THEN
        |    floor(CAST(a4*st.n AS DOUBLE)/CAST((st.n - 4 + 1)*4*bsum AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS vr4,
        |  CASE WHEN bsum > 0 AND st.n > 8 THEN
        |    floor(CAST(a8*st.n AS DOUBLE)/CAST((st.n - 8 + 1)*8*bsum AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS vr8
        |FROM aq JOIN bs ON aq.t = bs.t JOIN st ON aq.t = st.t
        |ORDER BY event_type""".stripMargin,

    "q377_fisher_exact" ->
      """WITH s AS (SELECT event_type AS arm, CAST(value AS DOUBLE) > 50.0 AS ok
        |  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |cl AS (SELECT arm, ok, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
        |tb AS (SELECT
        |  CAST(COALESCE(SUM(CASE WHEN arm = 'click' AND ok THEN c END), 0) AS BIGINT) AS a,
        |  CAST(COALESCE(SUM(CASE WHEN arm = 'click' AND NOT ok THEN c END), 0) AS BIGINT) AS b,
        |  CAST(COALESCE(SUM(CASE WHEN arm = 'view' AND ok THEN c END), 0) AS BIGINT) AS c,
        |  CAST(COALESCE(SUM(CASE WHEN arm = 'view' AND NOT ok THEN c END), 0) AS BIGINT) AS d
        |  FROM cl),
        |mg AS (SELECT a, b, c, d, a + b AS r1, c + d AS r2, a + c AS c1,
        |  a + b + c + d AS n FROM tb),
        |lf0 AS (SELECT gs.j,
        |  CAST(floor(ln(CAST(gs.j AS DOUBLE))*1e9 + 0.5) AS BIGINT) AS lnj
        |  FROM mg, (SELECT unnest(generate_series(1, (SELECT n FROM mg))) AS j) gs),
        |lf AS (SELECT j, CAST(SUM(lnj) OVER (ORDER BY j) AS BIGINT) AS f FROM lf0
        |  UNION ALL SELECT 0, 0),
        |lc AS (SELECT
        |  (SELECT f FROM lf WHERE j = mg.r1) + (SELECT f FROM lf WHERE j = mg.r2)
        |  + (SELECT f FROM lf WHERE j = mg.c1) + (SELECT f FROM lf WHERE j = mg.n - mg.c1)
        |  - (SELECT f FROM lf WHERE j = mg.n) AS lnconst FROM mg),
        |ks AS (SELECT unnest(generate_series(greatest(0, mg.c1 - mg.r2),
        |  least(mg.r1, mg.c1))) AS k FROM mg),
        |lp AS MATERIALIZED (SELECT ks.k,
        |  lc.lnconst - f1.f - f2.f - f3.f - f4.f AS lnp9
        |  FROM ks CROSS JOIN mg CROSS JOIN lc
        |  JOIN lf f1 ON f1.j = ks.k
        |  JOIN lf f2 ON f2.j = mg.r1 - ks.k
        |  JOIN lf f3 ON f3.j = mg.c1 - ks.k
        |  JOIN lf f4 ON f4.j = mg.r2 - mg.c1 + ks.k),
        |ob AS (SELECT lp.lnp9 AS lo FROM lp JOIN mg ON lp.k = mg.a),
        |obg AS (SELECT MAX(lp.lnp9) AS lg FROM lp CROSS JOIN mg WHERE lp.k >= mg.a),
        |tl AS (SELECT
        |  SUM(CASE WHEN lp.lnp9 <= ob.lo THEN
        |    CAST(floor(exp(CAST(lp.lnp9 - ob.lo AS DOUBLE)/1e9)*1e15 + 0.5) AS DECIMAL(38,0)) END) AS t2,
        |  SUM(CASE WHEN lp.k >= mg.a THEN
        |    CAST(floor(exp(CAST(lp.lnp9 - obg.lg AS DOUBLE)/1e9)*1e15 + 0.5) AS DECIMAL(38,0)) END) AS tg
        |  FROM lp CROSS JOIN ob CROSS JOIN obg CROSS JOIN mg)
        |SELECT mg.n AS n, mg.a AS a, mg.b AS b, mg.c AS c, mg.d AS d,
        |  floor(exp(CAST(ob.lo AS DOUBLE)/1e9)*(CAST(tl.t2 AS DOUBLE)/1e15)*1000000.0 + 0.5)/1000000.0 AS p_two_sided,
        |  floor(exp(CAST(obg.lg AS DOUBLE)/1e9)*(CAST(tl.tg AS DOUBLE)/1e15)*1000000.0 + 0.5)/1000000.0 AS p_greater,
        |  floor(CAST(ob.lo AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS ln_p_observed,
        |  CASE WHEN mg.b*mg.c > 0 THEN
        |    floor(CAST(mg.a AS DOUBLE)*CAST(mg.d AS DOUBLE)
        |      /(CAST(mg.b AS DOUBLE)*CAST(mg.c AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS odds_ratio
        |FROM mg CROSS JOIN ob CROSS JOIN obg CROSS JOIN tl""".stripMargin,

    "q378_g_test" ->
      """WITH s AS (SELECT CAST(lang AS VARCHAR) AS x, CAST(source AS VARCHAR) AS y
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL),
        |ce AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
        |jt AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |  SUM(CAST(c AS DECIMAL(38,0)) *
        |      CAST(floor(ln(CAST(c AS DOUBLE))*1e9 + 0.5) AS DECIMAL(38,0))) AS sxy,
        |  CAST(COUNT(*) AS BIGINT) AS n_cells FROM ce),
        |mx AS (SELECT SUM(CAST(cx AS DECIMAL(38,0)) *
        |    CAST(floor(ln(CAST(cx AS DOUBLE))*1e9 + 0.5) AS DECIMAL(38,0))) AS sx,
        |  CAST(COUNT(*) AS BIGINT) AS nrx
        |  FROM (SELECT x, CAST(SUM(c) AS BIGINT) AS cx FROM ce GROUP BY 1)),
        |my AS (SELECT SUM(CAST(cy AS DECIMAL(38,0)) *
        |    CAST(floor(ln(CAST(cy AS DOUBLE))*1e9 + 0.5) AS DECIMAL(38,0))) AS sy,
        |  CAST(COUNT(*) AS BIGINT) AS ncy
        |  FROM (SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM ce GROUP BY 1))
        |SELECT n, nrx AS n_rows_x, ncy AS n_cols_y,
        |  floor(CAST(sxy + CAST(n AS DECIMAL(38,0)) *
        |      CAST(floor(ln(CAST(n AS DOUBLE))*1e9 + 0.5) AS DECIMAL(38,0))
        |      - sx - sy AS DOUBLE)*2.0/1e9*1000000.0 + 0.5)/1000000.0 AS g_statistic,
        |  CAST((nrx - 1)*(ncy - 1) AS BIGINT) AS df
        |FROM jt CROSS JOIN mx CROSS JOIN my""".stripMargin,

    "q379_gk_lambda" ->
      """WITH s AS (SELECT CAST(lang AS VARCHAR) AS x, CAST(source AS VARCHAR) AS y
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL),
        |ce AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
        |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ce),
        |sx AS (SELECT CAST(SUM(mx) AS BIGINT) AS smyx, CAST(MAX(cx) AS BIGINT) AS maxx
        |  FROM (SELECT x, MAX(c) AS mx, CAST(SUM(c) AS BIGINT) AS cx FROM ce GROUP BY 1)),
        |sy AS (SELECT CAST(SUM(my) AS BIGINT) AS smxy, CAST(MAX(cy) AS BIGINT) AS maxy
        |  FROM (SELECT y, MAX(c) AS my, CAST(SUM(c) AS BIGINT) AS cy FROM ce GROUP BY 1))
        |SELECT n,
        |  CASE WHEN n - maxy > 0 THEN
        |    floor(CAST(smyx - maxy AS DOUBLE)/CAST(n - maxy AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS lambda_y_given_x,
        |  CASE WHEN n - maxx > 0 THEN
        |    floor(CAST(smxy - maxx AS DOUBLE)/CAST(n - maxx AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS lambda_x_given_y,
        |  CASE WHEN n*2 - maxy - maxx > 0 THEN
        |    floor(CAST(smyx + smxy - maxy - maxx AS DOUBLE)/CAST(n*2 - maxy - maxx AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS lambda_symmetric
        |FROM nn CROSS JOIN sx CROSS JOIN sy""".stripMargin,

    "q380_clustering_agreement" -> {
      lpaOracleChain + """,
        |cl AS (SELECT l3.item, l3.lbl AS community, p.p_brand AS cls
        |  FROM l3 JOIN part p ON p.p_partkey = l3.item),
        |cells AS MATERIALIZED (SELECT community, cls, CAST(COUNT(*) AS BIGINT) AS n_ck
        |  FROM cl GROUP BY 1, 2),
        |idx AS (SELECT SUM(CAST(n_ck AS DECIMAL(38,0))*(n_ck - 1)) AS i2,
        |  SUM(CAST(n_ck AS DECIMAL(38,0)) *
        |      CAST(floor(ln(CAST(n_ck AS DOUBLE))*1e9 + 0.5) AS DECIMAL(38,0))) AS lc,
        |  CAST(SUM(n_ck) AS BIGINT) AS n_items FROM cells),
        |sa AS (SELECT SUM(CAST(a AS DECIMAL(38,0))*(a - 1)) AS sa2,
        |  SUM(CAST(a AS DECIMAL(38,0)) *
        |      CAST(floor(ln(CAST(a AS DOUBLE))*1e9 + 0.5) AS DECIMAL(38,0))) AS la,
        |  CAST(COUNT(*) AS BIGINT) AS n_clusters
        |  FROM (SELECT CAST(SUM(n_ck) AS BIGINT) AS a FROM cells GROUP BY community)),
        |sb AS (SELECT SUM(CAST(bb AS DECIMAL(38,0))*(bb - 1)) AS sb2,
        |  SUM(CAST(bb AS DECIMAL(38,0)) *
        |      CAST(floor(ln(CAST(bb AS DOUBLE))*1e9 + 0.5) AS DECIMAL(38,0))) AS lb,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes
        |  FROM (SELECT CAST(SUM(n_ck) AS BIGINT) AS bb FROM cells GROUP BY cls))
        |SELECT n_items, n_clusters, n_classes,
        |  CASE WHEN sa2 > 0 AND sb2 > 0 THEN
        |    floor(CAST(i2 AS DOUBLE)/sqrt(CAST(sa2 AS DOUBLE)*CAST(sb2 AS DOUBLE))*1000000.0 + 0.5)/1000000.0
        |  END AS fowlkes_mallows,
        |  floor(CAST(la + lb - 2*lc AS DOUBLE)/(CAST(n_items AS DOUBLE)*1e9)*1000000.0 + 0.5)/1000000.0 AS variation_of_information
        |FROM idx CROSS JOIN sa CROSS JOIN sb""".stripMargin
    },

    "q381_mode_per_group" ->
      """WITH s AS (SELECT l_partkey AS k, CAST(l_returnflag AS VARCHAR) AS v
        |  FROM lineitem WHERE l_partkey IS NOT NULL AND l_returnflag IS NOT NULL),
        |ce AS (SELECT k, v, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
        |md AS (SELECT k, v AS mode_value, c AS mode_count FROM
        |  (SELECT k, v, c, row_number() OVER (PARTITION BY k ORDER BY c DESC, v) AS rn
        |   FROM ce) WHERE rn = 1),
        |ag AS (SELECT k, CAST(SUM(c) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct FROM ce GROUP BY 1)
        |SELECT ag.k AS l_partkey, md.mode_value, md.mode_count, ag.n_rows,
        |  ag.n_distinct,
        |  floor(CAST(md.mode_count AS DOUBLE)/CAST(ag.n_rows AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS mode_share
        |FROM ag JOIN md ON ag.k = md.k ORDER BY l_partkey""".stripMargin,

    "q382_topn_other" ->
      """WITH j AS (SELECT p.p_brand AS member,
        |  CAST(floor(CAST(l.l_extendedprice AS DOUBLE)*100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_brand IS NOT NULL),
        |per AS (SELECT member, CAST(SUM(cents) AS BIGINT) AS amt FROM j GROUP BY 1),
        |tot AS (SELECT CAST(SUM(amt) AS BIGINT) AS tt FROM per),
        |tp AS (SELECT member, amt, CAST(rn AS BIGINT) AS rank FROM
        |  (SELECT member, amt, row_number() OVER (ORDER BY amt DESC, member) AS rn
        |   FROM per) WHERE rn <= 5),
        |oth AS (SELECT CAST(COALESCE(SUM(amt), 0) AS BIGINT) AS amt,
        |  CAST(COUNT(*) AS BIGINT) AS cnt FROM per
        |  WHERE member NOT IN (SELECT member FROM tp)),
        |u AS (SELECT rank, member, amt FROM tp
        |  UNION ALL SELECT CAST(6 AS BIGINT), '(other)', amt FROM oth WHERE cnt > 0)
        |SELECT rank, member,
        |  floor(CAST(amt AS DOUBLE)/100*100.0 + 0.5)/100.0 AS amount,
        |  CASE WHEN tt > 0 THEN
        |    floor(CAST(amt AS DOUBLE)/CAST(tt AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS share
        |FROM u CROSS JOIN tot ORDER BY rank""".stripMargin,

    "q383_period_over_period" ->
      """WITH m AS (SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
        |  CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE)*100 + 0.5) AS BIGINT)) AS BIGINT) AS amt
        |  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1)
        |SELECT m.month,
        |  floor(CAST(m.amt AS DOUBLE)/100*100.0 + 0.5)/100.0 AS revenue,
        |  floor(CAST(m.amt - p.amt AS DOUBLE)/100*100.0 + 0.5)/100.0 AS mom_delta,
        |  CASE WHEN p.amt <> 0 THEN
        |    floor(CAST(m.amt - p.amt AS DOUBLE)/CAST(abs(p.amt) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS mom_pct,
        |  floor(CAST(m.amt - y.amt AS DOUBLE)/100*100.0 + 0.5)/100.0 AS yoy_delta,
        |  CASE WHEN y.amt <> 0 THEN
        |    floor(CAST(m.amt - y.amt AS DOUBLE)/CAST(abs(y.amt) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS yoy_pct
        |FROM m
        |LEFT JOIN m p ON strftime(CAST(p.month || '-01' AS DATE) + INTERVAL 1 MONTH, '%Y-%m') = m.month
        |LEFT JOIN m y ON strftime(CAST(y.month || '-01' AS DATE) + INTERVAL 12 MONTH, '%Y-%m') = m.month
        |ORDER BY m.month""".stripMargin,

    "q384_time_decay_attribution" ->
      """WITH t AS (SELECT user_id, epoch_us(ts) AS t_ts, event_type AS channel,
        |  epoch_us(ts) // 86400000000 AS t_bin
        |  FROM events WHERE event_type IN ('click', 'view')),
        |c AS (SELECT user_id, event_id AS conv_id, epoch_us(ts) AS c_ts,
        |      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents
        |      FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT c.conv_id, c.value_cents, t.channel,
        |      CAST(1000000000 // (CAST(1 AS BIGINT) << CAST((c.c_ts // 86400000000) - t.t_bin AS INT)) AS BIGINT) AS w9
        |      FROM c JOIN t ON c.user_id = t.user_id
        |      AND t.t_ts >= c.c_ts - 259200000000 AND t.t_ts <= c.c_ts),
        |n AS (SELECT conv_id, CAST(SUM(w9) AS BIGINT) AS sw9 FROM m GROUP BY 1),
        |tc AS (SELECT m.channel,
        |       CAST((CAST(m.value_cents AS HUGEINT) * 1000000 * m.w9) // n.sw9 AS BIGINT) AS credit_fx
        |       FROM m JOIN n USING (conv_id)),
        |dc AS (SELECT 'direct' AS channel, value_cents * 1000000 AS credit_fx
        |       FROM c WHERE conv_id NOT IN (SELECT conv_id FROM n)),
        |u AS (SELECT * FROM tc UNION ALL SELECT * FROM dc)
        |SELECT channel, COUNT(*) AS n_attributions,
        |  floor((CAST(SUM(credit_fx) AS DOUBLE) / 1e8) * 100.0 + 0.5) / 100.0 AS credit
        |FROM u GROUP BY channel ORDER BY channel""".stripMargin,

    "q385_dl_join" ->
      """WITH t AS (SELECT doc_id, substr(lower(trim(text)), 1, 16) AS s FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(damerau_levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE damerau_levenshtein(a.s, b.s) <= 1
        |ORDER BY a_id, b_id""".stripMargin,

    "q386_monthly_balance" ->
      """WITH e AS (SELECT user_id AS u,
        |  (year(ts)*12 + month(ts) - 1) AS mi, epoch_us(ts) AS us, event_id,
        |  CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v4
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL),
        |cl AS (SELECT u, mi, v4 FROM
        |  (SELECT u, mi, v4, row_number() OVER
        |     (PARTITION BY u, mi ORDER BY us DESC, event_id DESC) AS rn FROM e)
        |  WHERE rn = 1),
        |hi AS (SELECT max(mi) AS h FROM cl),
        |g AS (SELECT f.u, gs.mi FROM (SELECT u, min(mi) AS lo FROM cl GROUP BY 1) f
        |  CROSS JOIN hi, unnest(generate_series(f.lo, hi.h)) gs(mi)),
        |ff AS (SELECT g.u, g.mi,
        |  last_value(cl.v4 IGNORE NULLS) OVER
        |    (PARTITION BY g.u ORDER BY g.mi ROWS UNBOUNDED PRECEDING) AS bal
        |  FROM g LEFT JOIN cl ON g.u = cl.u AND g.mi = cl.mi),
        |agg AS (SELECT mi, CAST(COUNT(bal) AS BIGINT) AS n_accounts,
        |  CAST(SUM(bal) AS BIGINT) AS t4 FROM ff GROUP BY 1)
        |SELECT CAST(mi // 12 AS VARCHAR) || '-' || lpad(CAST(mi % 12 + 1 AS VARCHAR), 2, '0') AS month,
        |  n_accounts,
        |  floor(CAST(t4 AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS total_balance,
        |  CASE WHEN n_accounts > 0 THEN
        |    floor(CAST(t4 AS DOUBLE)/1e4/CAST(n_accounts AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS avg_balance
        |FROM agg ORDER BY month""".stripMargin,

    "q387_candidate_keys" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val combos = cols.map(Seq(_)) ++
        (for (i <- cols.indices; j <- i + 1 until cols.size)
          yield Seq(cols(i), cols(j)))
      val selects = combos.map { cs =>
        val k = cs.map(c => s"COALESCE(CAST($c AS VARCHAR), chr(2))")
          .mkString(" || chr(1) || ")
        s"SELECT '${cs.mkString(",")}' AS key_cols, " +
          s"CAST(COUNT(DISTINCT $k) AS BIGINT) AS n_distinct, " +
          "(SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows FROM orders"
      }.mkString(" UNION ALL ")
      s"""WITH per AS ($selects)
         |SELECT key_cols, n_distinct, n_rows, n_distinct = n_rows AS is_unique,
         |  CASE WHEN n_rows > 0 THEN
         |    floor(CAST(n_distinct AS DOUBLE)/CAST(n_rows AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS uniqueness
         |FROM per ORDER BY key_cols""".stripMargin
    },

    "q388_gesd" -> {
      def round(r: Int): String =
        s""",
           |st$r AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n,
           |  SUM(CAST(cnt AS HUGEINT)*v) AS s, SUM(CAST(cnt AS HUGEINT)*v*v) AS q
           |  FROM v${r - 1} GROUP BY 1),
           |t$r AS (SELECT g, v, n, s, q, dev FROM (SELECT c.g, c.v, st$r.n, st$r.s, st$r.q,
           |  abs(CAST(st$r.n AS HUGEINT)*c.v - st$r.s) AS dev,
           |  row_number() OVER (PARTITION BY c.g
           |    ORDER BY abs(CAST(st$r.n AS HUGEINT)*c.v - st$r.s) DESC, c.v DESC) AS rn
           |  FROM v${r - 1} c JOIN st$r ON c.g = st$r.g) WHERE rn = 1),
           |o$r AS (SELECT g, CAST($r AS BIGINT) AS round, n,
           |  floor(CAST(v AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS removed_value,
           |  CASE WHEN n >= 3 AND CAST(n*q - s*s AS DOUBLE) > 0 THEN
           |    floor(CAST(dev AS DOUBLE)/CAST(n AS DOUBLE)
           |      / sqrt(CAST(n*q - s*s AS DOUBLE)/(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1)))
           |      *1000000.0 + 0.5)/1000000.0 END AS r_stat
           |  FROM t$r),
           |v$r AS (SELECT g, v, cnt FROM (SELECT c.g, c.v,
           |  CASE WHEN c.v = t$r.v THEN c.cnt - 1 ELSE c.cnt END AS cnt
           |  FROM v${r - 1} c JOIN t$r ON c.g = t$r.g) WHERE cnt > 0)""".stripMargin
      """WITH v0 AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM
        |  (SELECT o_orderpriority AS g,
        |   CAST(floor(CAST(o_totalprice AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v
        |   FROM orders WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL)
        |  GROUP BY 1, 2)""".stripMargin +
        (1 to 3).map(round).mkString +
        """
          |SELECT g AS o_orderpriority, round, n, removed_value, r_stat
          |FROM (SELECT * FROM o1 UNION ALL SELECT * FROM o2 UNION ALL SELECT * FROM o3)
          |ORDER BY o_orderpriority, round""".stripMargin
    },

    "q389_interarrival_fit" ->
      """WITH e AS (SELECT event_type AS t, user_id AS u, epoch_us(ts) AS us, event_id
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |gp AS (SELECT t, us - lag(us) OVER (PARTITION BY u, t ORDER BY us, event_id) AS g
        |  FROM e),
        |g2 AS (SELECT t, g FROM gp WHERE g IS NOT NULL),
        |ce AS (SELECT t, g, CAST(COUNT(*) AS BIGINT) AS c FROM g2 GROUP BY 1, 2),
        |tt AS (SELECT t, CAST(SUM(c) AS BIGINT) AS n, SUM(CAST(c AS HUGEINT)*g) AS sg
        |  FROM ce GROUP BY 1),
        |tf AS (SELECT * FROM tt WHERE sg > 0),
        |cu AS (SELECT t, g, c,
        |  SUM(c) OVER (PARTITION BY t ORDER BY g ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM ce),
        |sc AS (SELECT cu.t, cu.g, tf.n, tf.sg, greatest(
        |  abs(CAST(cum AS DOUBLE)/CAST(n AS DOUBLE)
        |    - (1.0 - exp(-CAST(CAST(n AS HUGEINT)*cu.g AS DOUBLE)/CAST(sg AS DOUBLE)))),
        |  abs((1.0 - exp(-CAST(CAST(n AS HUGEINT)*cu.g AS DOUBLE)/CAST(sg AS DOUBLE)))
        |    - CAST(cum - c AS DOUBLE)/CAST(n AS DOUBLE))) AS d
        |  FROM cu JOIN tf ON cu.t = tf.t),
        |mx AS (SELECT t, n, sg, d, g FROM (SELECT *,
        |  row_number() OVER (PARTITION BY t ORDER BY d DESC, g) AS rn FROM sc)
        |  WHERE rn = 1)
        |SELECT t AS event_type, n AS n_gaps,
        |  floor(CAST(sg AS DOUBLE)/(CAST(n AS DOUBLE)*1e6)*1000000.0 + 0.5)/1000000.0 AS mean_gap_sec,
        |  floor(CAST(n AS DOUBLE)*3.6e9/CAST(sg AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS lambda_per_hour,
        |  floor(d*1000000.0 + 0.5)/1000000.0 AS ks_stat,
        |  floor(CAST(g AS DOUBLE)/1e6*1000000.0 + 0.5)/1000000.0 AS ks_at_sec
        |FROM mx ORDER BY event_type""".stripMargin,

    "q390_cka" -> {
      pcaOracleChain(0) + """,
        |bb AS (SELECT CAST(SUM(m*m) AS HUGEINT) AS b FROM mq),
        |a16 AS (SELECT CAST(SUM(m*m) AS HUGEINT) AS a FROM mq WHERE j <= 16),
        |c16 AS (SELECT CAST(SUM(m*m) AS HUGEINT) AS c FROM mq WHERE i <= 16 AND j <= 16),
        |a32 AS (SELECT CAST(SUM(m*m) AS HUGEINT) AS a FROM mq WHERE j <= 32),
        |c32 AS (SELECT CAST(SUM(m*m) AS HUGEINT) AS c FROM mq WHERE i <= 32 AND j <= 32)
        |SELECT * FROM (
        |  SELECT CAST(16 AS BIGINT) AS prefix_dims, cnt.n AS n_rows,
        |    cnt.n_all - cnt.n AS n_excluded,
        |    CASE WHEN b > 0 AND c16.c > 0 THEN
        |      floor(CAST(a16.a AS DOUBLE)/(sqrt(CAST(b AS DOUBLE))*sqrt(CAST(c16.c AS DOUBLE)))*1000000.0 + 0.5)/1000000.0
        |    ELSE 0.0 END AS cka
        |  FROM a16 CROSS JOIN c16 CROSS JOIN bb CROSS JOIN cnt
        |  UNION ALL
        |  SELECT CAST(32 AS BIGINT), cnt.n, cnt.n_all - cnt.n,
        |    CASE WHEN b > 0 AND c32.c > 0 THEN
        |      floor(CAST(a32.a AS DOUBLE)/(sqrt(CAST(b AS DOUBLE))*sqrt(CAST(c32.c AS DOUBLE)))*1000000.0 + 0.5)/1000000.0
        |    ELSE 0.0 END
        |  FROM a32 CROSS JOIN c32 CROSS JOIN bb CROSS JOIN cnt)
        |ORDER BY prefix_dims""".stripMargin
    },

    "q391_morans_i" ->
      """WITH staged AS (SELECT
        |  'AP' || lpad(CAST(n_nationkey AS VARCHAR), 3, '0') AS ident,
        |  CASE CAST(n_nationkey % 4 AS INTEGER) WHEN 0 THEN 'heliport'
        |    WHEN 1 THEN 'small_airport' WHEN 2 THEN 'medium_airport'
        |    ELSE 'large_airport' END AS type,
        |  CAST(n_nationkey*37 % 900 AS INTEGER) AS elevation_ft,
        |  CAST(n_nationkey AS VARCHAR) || '.5, -' ||
        |    CAST(n_regionkey AS VARCHAR) || '.25' AS coordinates
        |  FROM nation JOIN region ON n_regionkey = r_regionkey),
        |pts AS (SELECT CAST(str_split(coordinates, ', ')[1] AS DOUBLE) AS lat,
        |  CAST(str_split(coordinates, ', ')[2] AS DOUBLE) AS lon,
        |  CAST(floor(CAST(elevation_ft AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v,
        |  row_number() OVER (ORDER BY ident) AS k
        |  FROM staged
        |  WHERE type IN ('small_airport', 'medium_airport', 'large_airport')),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s FROM pts),
        |bb AS (SELECT SUM(CAST(st.n*pts.v - st.s AS HUGEINT)
        |  * CAST(st.n*pts.v - st.s AS HUGEINT)) AS b FROM pts CROSS JOIN st),
        |pr AS (SELECT CAST(COUNT(*) AS BIGINT) AS p,
        |  SUM(CAST(st.n*a.v - st.s AS HUGEINT) * CAST(st.n*b2.v - st.s AS HUGEINT)) AS u
        |  FROM pts a JOIN pts b2 ON a.k < b2.k
        |  CROSS JOIN st
        |  WHERE (a.lat - b2.lat)*(a.lat - b2.lat) + (a.lon - b2.lon)*(a.lon - b2.lon) <= 6.0*6.0)
        |SELECT st.n AS n_points, pr.p AS n_neighbor_pairs,
        |  CASE WHEN pr.p > 0 AND bb.b > 0 THEN
        |    floor(CAST(st.n*pr.u AS DOUBLE)/CAST(pr.p*bb.b AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS morans_i,
        |  CASE WHEN st.n > 1 THEN
        |    floor(-1.0/CAST(st.n - 1 AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS expected_i
        |FROM st CROSS JOIN bb CROSS JOIN pr""".stripMargin,

    "q392_bowker" ->
      """WITH e AS (SELECT user_id, ts,
        |  CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v4
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL),
        |t1 AS (SELECT user_id, least(3, CAST(floor(CAST(SUM(v4) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) // 250000) AS ra
        |  FROM e WHERE ts < TIMESTAMP '2024-01-08 00:00:00' GROUP BY 1),
        |t2 AS (SELECT user_id, least(3, CAST(floor(CAST(SUM(v4) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) // 250000) AS rb
        |  FROM e WHERE ts >= TIMESTAMP '2024-01-08 00:00:00' GROUP BY 1),
        |p AS (SELECT CAST(t1.ra AS VARCHAR) AS a, CAST(t2.rb AS VARCHAR) AS b
        |  FROM t1 JOIN t2 USING (user_id)),
        |ce AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM p GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ce),
        |kk AS (SELECT CAST(COUNT(DISTINCT l) AS BIGINT) AS k FROM
        |  (SELECT a AS l FROM ce UNION ALL SELECT b FROM ce)),
        |up AS (SELECT a AS i, b AS j, c AS nij FROM ce WHERE a < b),
        |dn AS (SELECT b AS i, a AS j, c AS nji FROM ce WHERE a > b),
        |tm AS (SELECT COALESCE(nij, 0) - COALESCE(nji, 0) AS d,
        |  COALESCE(nij, 0) + COALESCE(nji, 0) AS s
        |  FROM up FULL OUTER JOIN dn USING (i, j)),
        |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS df,
        |  CAST(COALESCE(SUM(CAST(floor(CAST(d*d AS DOUBLE)/CAST(s AS DOUBLE)*1e9 + 0.5) AS BIGINT)), 0) AS BIGINT) AS chi9
        |  FROM tm WHERE s > 0)
        |SELECT n, k AS n_categories, df,
        |  floor(CAST(chi9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS bowker_chi2
        |FROM tot CROSS JOIN kk CROSS JOIN ag""".stripMargin,

    "q393_kendall_w" ->
      """WITH v AS (SELECT strftime(o_orderdate, '%Y-%m') AS b, o_orderpriority AS tr,
        |  CAST(floor(CAST(o_totalprice AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v4
        |  FROM orders
        |  WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
        |cells AS (SELECT b, tr,
        |  CAST(floor(CAST(SUM(v4) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS m4
        |  FROM v GROUP BY 1, 2),
        |kk AS (SELECT CAST(COUNT(DISTINCT tr) AS BIGINT) AS k FROM cells),
        |complete AS (SELECT b FROM cells GROUP BY b
        |  HAVING COUNT(*) = (SELECT k FROM kk)),
        |ranked AS (SELECT tr,
        |  2*rank() OVER (PARTITION BY c.b ORDER BY m4)
        |    + COUNT(*) OVER (PARTITION BY c.b, m4) - 1 AS ar2
        |  FROM cells c JOIN complete USING (b)),
        |rj AS (SELECT tr, CAST(SUM(ar2) AS BIGINT) AS r2j FROM ranked GROUP BY 1),
        |agg AS (SELECT SUM(CAST(r2j AS HUGEINT)*r2j) AS sr2 FROM rj),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks FROM complete),
        |f AS (SELECT n_blocks, k,
        |  3.0*CAST(sr2 AS DOUBLE)/(CAST(n_blocks AS DOUBLE)*CAST(k AS DOUBLE)*(CAST(k AS DOUBLE)+1.0))
        |    - 3.0*CAST(n_blocks AS DOUBLE)*(CAST(k AS DOUBLE)+1.0) AS chi
        |  FROM agg CROSS JOIN nb CROSS JOIN kk)
        |SELECT n_blocks, k,
        |  CASE WHEN n_blocks > 0 AND k >= 2 THEN
        |    floor(chi*1000000.0 + 0.5)/1000000.0 END AS chi2_f,
        |  CASE WHEN n_blocks > 0 AND k >= 2 THEN
        |    floor(chi/(CAST(n_blocks AS DOUBLE)*(CAST(k AS DOUBLE)-1.0))*1000000.0 + 0.5)/1000000.0 END AS kendall_w,
        |  CASE WHEN n_blocks > 1 AND k >= 2 THEN
        |    floor((CAST(n_blocks AS DOUBLE)*(chi/(CAST(n_blocks AS DOUBLE)*(CAST(k AS DOUBLE)-1.0))) - 1.0)
        |      /(CAST(n_blocks AS DOUBLE) - 1.0)*1000000.0 + 0.5)/1000000.0 END AS mean_spearman_rho
        |FROM f""".stripMargin,

    "q394_unicode_audit" ->
      """WITH st AS (SELECT source,
        |  CASE WHEN doc_id % 7 = 0 THEN text || 'a' || chr(769) || chr(8203) || 'b'
        |       WHEN doc_id % 13 = 0 THEN text || chr(1) || 'x'
        |       ELSE text END AS t
        |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
        |per AS (SELECT source, CAST(length(t) AS BIGINT) AS ch,
        |  CAST(strlen(t) AS BIGINT) AS by,
        |  CAST(len(regexp_extract_all(t, '[\x{0300}-\x{036F}]')) AS BIGINT) AS comb,
        |  CAST(len(regexp_extract_all(t, '[\x{200B}-\x{200D}\x{FEFF}]')) AS BIGINT) AS zw,
        |  CAST(len(regexp_extract_all(t, '[\x{0001}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}]')) AS BIGINT) AS ctl
        |  FROM st),
        |ag AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(ch) AS BIGINT) AS n_chars, CAST(SUM(by) AS BIGINT) AS n_bytes,
        |  CAST(SUM(comb) AS BIGINT) AS c, CAST(SUM(zw) AS BIGINT) AS z,
        |  CAST(SUM(ctl) AS BIGINT) AS k FROM per GROUP BY 1)
        |SELECT source, n_docs, n_chars,
        |  CASE WHEN n_chars > 0 THEN
        |    floor(CAST(n_bytes AS DOUBLE)/CAST(n_chars AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS bytes_per_char,
        |  CASE WHEN n_chars > 0 THEN
        |    floor(CAST(c AS DOUBLE)*1e4/CAST(n_chars AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS combining_per_10k,
        |  CASE WHEN n_chars > 0 THEN
        |    floor(CAST(z AS DOUBLE)*1e4/CAST(n_chars AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS zero_width_per_10k,
        |  CASE WHEN n_chars > 0 THEN
        |    floor(CAST(k AS DOUBLE)*1e4/CAST(n_chars AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS control_per_10k
        |FROM ag ORDER BY source""".stripMargin,

    "q395_markdown_profile" ->
      """WITH st AS (SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN
        |    '# Title' || chr(10) || '- item one' || chr(10) || '```' || chr(10) ||
        |    'code {x;}' || chr(10) || '```' || chr(10) || '[l](u)' || chr(10) || text
        |  ELSE text END AS t
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(t, '(?m)^#{1,6} ')) AS BIGINT) AS n_headers,
        |  CAST(len(regexp_extract_all(t, '```')) AS BIGINT) AS n_fence_marks,
        |  CAST(len(regexp_extract_all(t, '(?m)^[ \t]*[-*+] ')) AS BIGINT) AS n_list_items,
        |  CAST(len(regexp_extract_all(t, '\[[^\]]*\]\([^)]*\)')) AS BIGINT) AS n_links,
        |  CASE WHEN length(t) > 0 THEN
        |    floor(CAST(len(regexp_extract_all(t, '[{};]')) AS DOUBLE)/CAST(length(t) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS code_punct_density,
        |  (len(regexp_extract_all(t, '```')) > 0 OR
        |   (length(t) > 0 AND len(regexp_extract_all(t, '[{};]'))*50 > length(t))) AS looks_like_code
        |FROM st ORDER BY doc_id""".stripMargin,

    "q396_runs_updown" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |sg AS (SELECT a.t, a.bin,
        |  CASE WHEN b1.v > a.v THEN 1 WHEN b1.v < a.v THEN -1 ELSE 0 END AS s
        |  FROM sv a JOIN sv b1 ON b1.t = a.t AND b1.bin = a.bin + 1),
        |nz AS (SELECT t, bin, s FROM sg WHERE s <> 0),
        |rn AS (SELECT t, CASE WHEN lag(s) OVER (PARTITION BY t ORDER BY bin)
        |  IS DISTINCT FROM s THEN 1 ELSE 0 END AS nw FROM nz),
        |ag AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS m,
        |  CAST(SUM(nw) AS BIGINT) AS n_runs FROM rn GROUP BY 1)
        |SELECT t AS event_type, m AS n_diffs, n_runs,
        |  floor((2.0*CAST(m AS DOUBLE) + 1.0)/3.0*1000000.0 + 0.5)/1000000.0 AS expected_runs,
        |  CASE WHEN m >= 2 THEN
        |    floor((CAST(n_runs AS DOUBLE) - (2.0*CAST(m AS DOUBLE) + 1.0)/3.0)
        |      /sqrt((16.0*CAST(m AS DOUBLE) - 29.0)/90.0)*1000000.0 + 0.5)/1000000.0 END AS z
        |FROM ag ORDER BY event_type""".stripMargin,

    "q397_partial_corr" ->
      """WITH li AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  SUM(l_quantity) AS sum_qty FROM lineitem GROUP BY 1),
        |j AS (SELECT
        |  CAST(floor(CAST(o_totalprice AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS x,
        |  CAST(floor(CAST(n_items AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS y,
        |  CAST(floor(CAST(sum_qty AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS z
        |  FROM orders JOIN li ON o_orderkey = l_orderkey
        |  WHERE o_totalprice IS NOT NULL AND n_items IS NOT NULL AND sum_qty IS NOT NULL),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |  SUM(CAST(z AS HUGEINT)) AS sz,
        |  SUM(CAST(x AS HUGEINT)*x) AS sxx, SUM(CAST(y AS HUGEINT)*y) AS syy,
        |  SUM(CAST(z AS HUGEINT)*z) AS szz,
        |  SUM(CAST(x AS HUGEINT)*y) AS sxy, SUM(CAST(x AS HUGEINT)*z) AS sxz,
        |  SUM(CAST(y AS HUGEINT)*z) AS syz FROM j),
        |f AS (SELECT n,
        |  n*sxx - sx*sx AS cxx, n*syy - sy*sy AS cyy, n*szz - sz*sz AS czz,
        |  n*sxy - sx*sy AS cxy, n*sxz - sx*sz AS cxz, n*syz - sy*sz AS cyz
        |  FROM m),
        |r AS (SELECT n, cxx, cyy, czz,
        |  CAST(cxy AS DOUBLE)/(sqrt(CAST(cxx AS DOUBLE))*sqrt(CAST(cyy AS DOUBLE))) AS rxy,
        |  CAST(cxz AS DOUBLE)/(sqrt(CAST(cxx AS DOUBLE))*sqrt(CAST(czz AS DOUBLE))) AS rxz,
        |  CAST(cyz AS DOUBLE)/(sqrt(CAST(cyy AS DOUBLE))*sqrt(CAST(czz AS DOUBLE))) AS ryz
        |  FROM f)
        |SELECT n,
        |  CASE WHEN n >= 3 AND cxx > 0 AND cyy > 0 AND czz > 0 THEN
        |    floor(rxy*1000000.0 + 0.5)/1000000.0 END AS r_xy,
        |  CASE WHEN n >= 3 AND cxx > 0 AND cyy > 0 AND czz > 0 THEN
        |    floor(rxz*1000000.0 + 0.5)/1000000.0 END AS r_xz,
        |  CASE WHEN n >= 3 AND cxx > 0 AND cyy > 0 AND czz > 0 THEN
        |    floor(ryz*1000000.0 + 0.5)/1000000.0 END AS r_yz,
        |  CASE WHEN n >= 3 AND cxx > 0 AND cyy > 0 AND czz > 0
        |    AND (1.0 - rxz*rxz)*(1.0 - ryz*ryz) > 0.0 THEN
        |    floor((rxy - rxz*ryz)/sqrt((1.0 - rxz*rxz)*(1.0 - ryz*ryz))*1000000.0 + 0.5)/1000000.0 END AS partial_r_xy_given_z
        |FROM r""".stripMargin,

    "q398_neyman" ->
      """WITH v AS (SELECT CAST(source AS VARCHAR) AS stratum,
        |  CAST(floor(CAST(n_chars AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |per AS (SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  SUM(CAST(v AS HUGEINT)) AS s, SUM(CAST(v AS HUGEINT)*v) AS q
        |  FROM v GROUP BY 1),
        |w AS (SELECT stratum, n_rows,
        |  CASE WHEN CAST(n_rows*q - s*s AS DOUBLE) > 0 THEN
        |    CAST(floor(CAST(n_rows AS DOUBLE) *
        |      sqrt(CAST(n_rows*q - s*s AS DOUBLE)/(CAST(n_rows AS DOUBLE)*CAST(n_rows AS DOUBLE)))
        |      /100.0 + 0.5) AS BIGINT)
        |  ELSE 0 END AS w2 FROM per),
        |tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS nn,
        |  CAST(SUM(w2) AS BIGINT) AS wt FROM w)
        |SELECT stratum, n_rows,
        |  floor(CAST(w2 AS DOUBLE)/CAST(n_rows AS DOUBLE)/100.0*10000.0 + 0.5)/10000.0 AS stratum_sd,
        |  floor(CAST(n_rows AS DOUBLE)/CAST(nn AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS prop_share,
        |  CASE WHEN wt > 0 THEN
        |    floor(CAST(w2 AS DOUBLE)/CAST(wt AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS neyman_share,
        |  CAST((1000 * n_rows) // nn AS BIGINT) AS n_prop,
        |  CASE WHEN wt > 0 THEN CAST((1000 * w2) // wt AS BIGINT)
        |  ELSE 0 END AS n_neyman
        |FROM w CROSS JOIN tot ORDER BY stratum""".stripMargin,

    "q399_elasticity" ->
      """WITH r AS (SELECT CAST(l_returnflag AS VARCHAR) AS g,
        |  CAST(floor(ln(CAST(l_extendedprice AS DOUBLE))*1e9 + 0.5) AS BIGINT) AS x,
        |  CAST(floor(ln(CAST(l_quantity AS DOUBLE))*1e9 + 0.5) AS BIGINT) AS y
        |  FROM lineitem WHERE l_returnflag IS NOT NULL
        |    AND CAST(l_extendedprice AS DOUBLE) > 0 AND CAST(l_quantity AS DOUBLE) > 0),
        |m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |  SUM(CAST(x AS HUGEINT)*x) AS sxx, SUM(CAST(y AS HUGEINT)*y) AS syy,
        |  SUM(CAST(x AS HUGEINT)*y) AS sxy FROM r GROUP BY 1),
        |f AS (SELECT g, n, sx, sy,
        |  n*sxx - sx*sx AS cxx, n*syy - sy*sy AS cyy, n*sxy - sx*sy AS cxy
        |  FROM m)
        |SELECT g AS l_returnflag, n,
        |  CASE WHEN n >= 3 AND cxx > 0 THEN
        |    floor(CAST(cxy AS DOUBLE)/CAST(cxx AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS elasticity,
        |  CASE WHEN n >= 3 AND cxx > 0 THEN
        |    floor(exp((CAST(sy AS DOUBLE) - CAST(cxy AS DOUBLE)/CAST(cxx AS DOUBLE)*CAST(sx AS DOUBLE))
        |      /CAST(n AS DOUBLE)/1e9)*1000000.0 + 0.5)/1000000.0 END AS intercept,
        |  CASE WHEN n >= 3 AND cxx > 0 AND cyy > 0 THEN
        |    floor(CAST(cxy AS DOUBLE)*CAST(cxy AS DOUBLE)/(CAST(cxx AS DOUBLE)*CAST(cyy AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS r2
        |FROM f ORDER BY l_returnflag""".stripMargin,

    "q400_gumbel" -> {
      val c = math.sqrt(6.0) / math.Pi
      val eg = 0.5772156649015329
      val c7 = math.log(-math.log(1.0 - 1.0 / 7))
      val c30 = math.log(-math.log(1.0 - 1.0 / 30))
      s"""WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(b.lo, b.hi)) AS bin FROM b) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |mx AS (SELECT t, bin // 24 AS blk, MAX(v) AS m FROM sv GROUP BY 1, 2),
        |ag AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |  SUM(CAST(m AS HUGEINT)) AS s, SUM(CAST(m AS HUGEINT)*m) AS q
        |  FROM mx GROUP BY 1),
        |f AS (SELECT t, n_blocks,
        |  CAST(s AS DOUBLE)/CAST(n_blocks AS DOUBLE) AS mean,
        |  CAST(n_blocks*q - s*s AS DOUBLE) AS num FROM ag)
        |SELECT t AS event_type, n_blocks,
        |  floor(mean*1000000.0 + 0.5)/1000000.0 AS mean_block_max,
        |  CASE WHEN n_blocks >= 2 AND num > 0 THEN
        |    floor((mean - $eg*(sqrt(num/(CAST(n_blocks AS DOUBLE)*CAST(n_blocks AS DOUBLE)))*$c))*1000000.0 + 0.5)/1000000.0 END AS gumbel_mu,
        |  CASE WHEN n_blocks >= 2 AND num > 0 THEN
        |    floor(sqrt(num/(CAST(n_blocks AS DOUBLE)*CAST(n_blocks AS DOUBLE)))*$c*1000000.0 + 0.5)/1000000.0 END AS gumbel_beta,
        |  CASE WHEN n_blocks >= 2 AND num > 0 THEN
        |    floor((mean - $eg*(sqrt(num/(CAST(n_blocks AS DOUBLE)*CAST(n_blocks AS DOUBLE)))*$c)
        |      - sqrt(num/(CAST(n_blocks AS DOUBLE)*CAST(n_blocks AS DOUBLE)))*$c*($c7))*1000000.0 + 0.5)/1000000.0 END AS return_level_7,
        |  CASE WHEN n_blocks >= 2 AND num > 0 THEN
        |    floor((mean - $eg*(sqrt(num/(CAST(n_blocks AS DOUBLE)*CAST(n_blocks AS DOUBLE)))*$c)
        |      - sqrt(num/(CAST(n_blocks AS DOUBLE)*CAST(n_blocks AS DOUBLE)))*$c*($c30))*1000000.0 + 0.5)/1000000.0 END AS return_level_30
        |FROM f ORDER BY event_type""".stripMargin
    },

    "q401_session_stats" ->
      """WITH o AS (SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
        |       THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS sess FROM o),
        |se AS (SELECT user_id, sess, COUNT(*) AS n_events,
        |  CAST(epoch_us(MAX(CAST(ts AS TIMESTAMP))) // 1000000
        |      - epoch_us(MIN(CAST(ts AS TIMESTAMP))) // 1000000 AS BIGINT) AS duration_sec
        |  FROM s GROUP BY 1, 2),
        |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
        |  CAST(SUM(n_events) AS BIGINT) AS ev, CAST(SUM(duration_sec) AS BIGINT) AS dur
        |  FROM se)
        |SELECT n_sessions, n_users, n_bounces,
        |  CASE WHEN n_sessions > 0 THEN
        |    floor(CAST(n_bounces AS DOUBLE)/CAST(n_sessions AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS bounce_rate,
        |  CASE WHEN n_sessions > 0 THEN
        |    floor(CAST(ev AS DOUBLE)/CAST(n_sessions AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS avg_events_per_session,
        |  CASE WHEN n_sessions > 0 THEN
        |    floor(CAST(dur AS DOUBLE)/CAST(n_sessions AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS avg_duration_sec,
        |  CASE WHEN n_users > 0 THEN
        |    floor(CAST(n_sessions AS DOUBLE)/CAST(n_users AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS sessions_per_user
        |FROM ag""".stripMargin,

    "q402_eccentricity" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |cab AS (SELECT item_a, item_b FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS (SELECT item_a AS src, item_b AS dst FROM cab
        |      UNION ALL SELECT item_b, item_a FROM cab),
        |s0 AS (SELECT DISTINCT src AS seed, src AS item, CAST(0 AS BIGINT) AS dist
        |       FROM e WHERE src % 100 = 0),
        |r1 AS (SELECT s.seed, e.dst AS item, MIN(s.dist + 1) AS dist
        |       FROM e JOIN s0 s ON e.src = s.item GROUP BY 1, 2),
        |s1 AS (SELECT seed, item, MIN(dist) AS dist FROM
        |       (SELECT * FROM s0 UNION ALL SELECT * FROM r1) GROUP BY 1, 2),
        |r2 AS (SELECT s.seed, e.dst AS item, MIN(s.dist + 1) AS dist
        |       FROM e JOIN s1 s ON e.src = s.item GROUP BY 1, 2),
        |s2 AS (SELECT seed, item, MIN(dist) AS dist FROM
        |       (SELECT * FROM s1 UNION ALL SELECT * FROM r2) GROUP BY 1, 2),
        |r3 AS (SELECT s.seed, e.dst AS item, MIN(s.dist + 1) AS dist
        |       FROM e JOIN s2 s ON e.src = s.item GROUP BY 1, 2),
        |s3 AS (SELECT seed, item, MIN(dist) AS dist FROM
        |       (SELECT * FROM s2 UNION ALL SELECT * FROM r3) GROUP BY 1, 2)
        |SELECT seed AS item, CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
        |  CAST(MAX(dist) AS BIGINT) AS eccentricity
        |FROM s3 GROUP BY seed ORDER BY item""".stripMargin,

    "q403_regression_influence" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bo AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(bo.lo, bo.hi)) AS bin FROM bo) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |st AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(bin AS HUGEINT)) AS sx, SUM(CAST(v AS HUGEINT)) AS sy,
        |  SUM(CAST(bin AS HUGEINT)*bin) AS sxx, SUM(CAST(bin AS HUGEINT)*v) AS sxy
        |  FROM sv GROUP BY 1),
        |rr AS (SELECT sv.t, sv.bin, sv.v, st.n, st.sx, st.sxx,
        |  ((CAST(st.sy AS DOUBLE)
        |    - CAST(st.n*st.sxy - st.sx*st.sy AS DOUBLE)/CAST(st.n*st.sxx - st.sx*st.sx AS DOUBLE)*CAST(st.sx AS DOUBLE))
        |   /CAST(st.n AS DOUBLE)
        |   + CAST(st.n*st.sxy - st.sx*st.sy AS DOUBLE)/CAST(st.n*st.sxx - st.sx*st.sx AS DOUBLE)*CAST(sv.bin AS DOUBLE)) AS fit
        |  FROM sv JOIN st ON sv.t = st.t),
        |re AS (SELECT *, CAST(floor((CAST(v AS DOUBLE) - fit)*1e6 + 0.5) AS BIGINT) AS e6 FROM rr),
        |ss AS (SELECT t AS st, SUM(CAST(e6 AS HUGEINT)*e6) AS sse FROM re GROUP BY 1)
        |SELECT re.t AS event_type, re.bin, re.v AS n_events,
        |  floor(fit*1000000.0 + 0.5)/1000000.0 AS fitted,
        |  floor(CAST(e6 AS DOUBLE)/1e6*1000000.0 + 0.5)/1000000.0 AS residual,
        |  CASE WHEN n >= 4 AND sse > 0 THEN
        |    floor((1.0/CAST(n AS DOUBLE)
        |      + CAST((n*bin - sx)*(n*bin - sx) AS DOUBLE)/CAST(n*(n*sxx - sx*sx) AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS leverage,
        |  CASE WHEN n >= 4 AND sse > 0 AND
        |    1.0/CAST(n AS DOUBLE) + CAST((n*bin - sx)*(n*bin - sx) AS DOUBLE)/CAST(n*(n*sxx - sx*sx) AS DOUBLE) < 1.0 THEN
        |    floor(CAST(e6 AS DOUBLE)/1e6
        |      /(sqrt(CAST(sse AS DOUBLE)/(CAST(n AS DOUBLE) - 2.0))/1e6
        |        *sqrt(1.0 - (1.0/CAST(n AS DOUBLE) + CAST((n*bin - sx)*(n*bin - sx) AS DOUBLE)/CAST(n*(n*sxx - sx*sx) AS DOUBLE))))*1000000.0 + 0.5)/1000000.0 END AS std_residual,
        |  CASE WHEN n >= 4 AND sse > 0 AND
        |    1.0/CAST(n AS DOUBLE) + CAST((n*bin - sx)*(n*bin - sx) AS DOUBLE)/CAST(n*(n*sxx - sx*sx) AS DOUBLE) < 1.0 THEN
        |    floor((CAST(e6 AS DOUBLE)/1e6
        |      /(sqrt(CAST(sse AS DOUBLE)/(CAST(n AS DOUBLE) - 2.0))/1e6
        |        *sqrt(1.0 - (1.0/CAST(n AS DOUBLE) + CAST((n*bin - sx)*(n*bin - sx) AS DOUBLE)/CAST(n*(n*sxx - sx*sx) AS DOUBLE)))))
        |      *(CAST(e6 AS DOUBLE)/1e6
        |      /(sqrt(CAST(sse AS DOUBLE)/(CAST(n AS DOUBLE) - 2.0))/1e6
        |        *sqrt(1.0 - (1.0/CAST(n AS DOUBLE) + CAST((n*bin - sx)*(n*bin - sx) AS DOUBLE)/CAST(n*(n*sxx - sx*sx) AS DOUBLE)))))
        |      *(1.0/CAST(n AS DOUBLE) + CAST((n*bin - sx)*(n*bin - sx) AS DOUBLE)/CAST(n*(n*sxx - sx*sx) AS DOUBLE))
        |      /(2.0*(1.0 - (1.0/CAST(n AS DOUBLE) + CAST((n*bin - sx)*(n*bin - sx) AS DOUBLE)/CAST(n*(n*sxx - sx*sx) AS DOUBLE))))*1000000.0 + 0.5)/1000000.0 END AS cooks_d
        |FROM re JOIN ss ON re.t = ss.st
        |ORDER BY event_type, bin""".stripMargin,

    "q404_breusch_pagan" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bo AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(bo.lo, bo.hi)) AS bin FROM bo) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |st AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(bin AS HUGEINT)) AS sx, SUM(CAST(v AS HUGEINT)) AS sy,
        |  SUM(CAST(bin AS HUGEINT)*bin) AS sxx, SUM(CAST(bin AS HUGEINT)*v) AS sxy
        |  FROM sv GROUP BY 1),
        |rr AS (SELECT sv.t, sv.bin,
        |  ((CAST(st.sy AS DOUBLE)
        |    - CAST(st.n*st.sxy - st.sx*st.sy AS DOUBLE)/CAST(st.n*st.sxx - st.sx*st.sx AS DOUBLE)*CAST(st.sx AS DOUBLE))
        |   /CAST(st.n AS DOUBLE)
        |   + CAST(st.n*st.sxy - st.sx*st.sy AS DOUBLE)/CAST(st.n*st.sxx - st.sx*st.sx AS DOUBLE)*CAST(sv.bin AS DOUBLE)) AS fit,
        |  sv.v
        |  FROM sv JOIN st ON sv.t = st.t),
        |re AS (SELECT t, bin,
        |  CAST(floor((CAST(v AS DOUBLE) - fit)*1e3 + 0.5) AS BIGINT) AS e3 FROM rr),
        |gg AS (SELECT t, bin, CAST(e3 AS HUGEINT)*e3 AS g FROM re),
        |m AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(bin AS HUGEINT)) AS sx, SUM(g) AS sg,
        |  SUM(CAST(bin AS HUGEINT)*bin) AS sxx, SUM(g*g) AS sgg,
        |  SUM(CAST(bin AS HUGEINT)*g) AS sxg FROM gg GROUP BY 1),
        |f AS (SELECT t, n,
        |  n*sxx - sx*sx AS cxx, n*sgg - sg*sg AS cgg, n*sxg - sx*sg AS cxg
        |  FROM m)
        |SELECT t AS event_type, n AS n_bins,
        |  CASE WHEN n >= 4 AND cxx > 0 AND cgg > 0 THEN
        |    floor(CAST(n AS DOUBLE)*(CAST(cxg AS DOUBLE)*CAST(cxg AS DOUBLE)/(CAST(cxx AS DOUBLE)*CAST(cgg AS DOUBLE)))*1000000.0 + 0.5)/1000000.0 END AS bp_stat,
        |  CASE WHEN n >= 4 AND cxx > 0 AND cgg > 0 THEN
        |    floor(CAST(cxg AS DOUBLE)/CAST(cxx AS DOUBLE)/1e6*1000000.0 + 0.5)/1000000.0 END AS aux_slope
        |FROM f ORDER BY event_type""".stripMargin,

    "q405_seasonal_mk" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bo AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(bo.lo, bo.hi)) AS bin FROM bo) gs),
        |sv AS (SELECT g.t, g.bin, g.bin % 24 AS m, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |s AS (SELECT a.t,
        |  CAST(SUM(CASE WHEN b2.v > a.v THEN 1 WHEN b2.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM sv a JOIN sv b2 ON a.t = b2.t AND a.m = b2.m AND a.bin < b2.bin
        |  GROUP BY 1),
        |tg AS (SELECT t, m, v, CAST(COUNT(*) AS BIGINT) AS tg FROM sv GROUP BY 1, 2, 3),
        |ps AS (SELECT t, m, CAST(SUM(tg*(tg - 1)*(2*tg + 5)) AS BIGINT) AS tie,
        |  CAST(SUM(tg) AS BIGINT) AS nm FROM tg GROUP BY 1, 2),
        |ts AS (SELECT t, CAST(SUM(nm*(nm - 1)*(2*nm + 5) - tie) AS BIGINT) AS var18,
        |  CAST(SUM(nm) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_seasons
        |  FROM ps GROUP BY 1)
        |SELECT s.t AS event_type, ts.n AS n_bins, ts.n_seasons, s.s_stat,
        |  CASE WHEN ts.n >= 2 AND CAST(var18 AS DOUBLE)/18.0 > 0 THEN
        |    floor((CASE WHEN s_stat > 0 THEN CAST(s_stat AS DOUBLE) - 1.0
        |           WHEN s_stat < 0 THEN CAST(s_stat AS DOUBLE) + 1.0 ELSE 0.0 END)
        |      /sqrt(CAST(var18 AS DOUBLE)/18.0)*1000000.0 + 0.5)/1000000.0 END AS z
        |FROM s JOIN ts ON s.t = ts.t ORDER BY event_type""".stripMargin,

    "q406_price_indices" ->
      """WITH r AS (SELECT l_partkey AS item, epoch_us(l_shipdate) AS us,
        |  CAST(floor(CAST(l_quantity AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS q4,
        |  CAST(floor(CAST(l_extendedprice AS DOUBLE)*100 + 0.5) AS BIGINT) AS p2c
        |  FROM lineitem WHERE l_shipdate IS NOT NULL AND l_partkey IS NOT NULL
        |    AND CAST(l_quantity AS DOUBLE) > 0 AND l_extendedprice IS NOT NULL),
        |ct AS (SELECT CAST((min(us) + max(us)) // 2 AS BIGINT) AS cut FROM r),
        |per AS (SELECT item, CASE WHEN us >= ct.cut THEN 1 ELSE 0 END AS p,
        |  CAST(SUM(p2c) AS HUGEINT) AS pv, CAST(SUM(q4) AS HUGEINT) AS qv
        |  FROM r CROSS JOIN ct GROUP BY 1, 2),
        |mt AS (SELECT a.item, a.pv AS pv1, a.qv AS qv1, b.pv AS pv2, b.qv AS qv2
        |  FROM per a JOIN per b ON a.item = b.item AND a.p = 0 AND b.p = 1),
        |tm AS (SELECT
        |  CAST(floor(CAST(pv2 AS DOUBLE)/100.0/(CAST(qv2 AS DOUBLE)/1e4)*(CAST(qv1 AS DOUBLE)/1e4)*100 + 0.5) AS BIGINT) AS l2,
        |  CAST(floor(CAST(pv1 AS DOUBLE)/100.0/(CAST(qv1 AS DOUBLE)/1e4)*(CAST(qv1 AS DOUBLE)/1e4)*100 + 0.5) AS BIGINT) AS l1,
        |  CAST(floor(CAST(pv2 AS DOUBLE)/100.0/(CAST(qv2 AS DOUBLE)/1e4)*(CAST(qv2 AS DOUBLE)/1e4)*100 + 0.5) AS BIGINT) AS pa2,
        |  CAST(floor(CAST(pv1 AS DOUBLE)/100.0/(CAST(qv1 AS DOUBLE)/1e4)*(CAST(qv2 AS DOUBLE)/1e4)*100 + 0.5) AS BIGINT) AS pa1
        |  FROM mt),
        |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_matched_items,
        |  CAST(SUM(l2) AS HUGEINT) AS l2, CAST(SUM(l1) AS HUGEINT) AS l1,
        |  CAST(SUM(pa2) AS HUGEINT) AS pa2, CAST(SUM(pa1) AS HUGEINT) AS pa1
        |  FROM tm)
        |SELECT n_matched_items,
        |  CASE WHEN n_matched_items > 0 AND l1 > 0 AND pa1 > 0 THEN
        |    floor(CAST(l2 AS DOUBLE)/CAST(l1 AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS laspeyres,
        |  CASE WHEN n_matched_items > 0 AND l1 > 0 AND pa1 > 0 THEN
        |    floor(CAST(pa2 AS DOUBLE)/CAST(pa1 AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS paasche,
        |  CASE WHEN n_matched_items > 0 AND l1 > 0 AND pa1 > 0 THEN
        |    floor(sqrt(CAST(l2 AS DOUBLE)/CAST(l1 AS DOUBLE)*(CAST(pa2 AS DOUBLE)/CAST(pa1 AS DOUBLE)))*1000000.0 + 0.5)/1000000.0 END AS fisher
        |FROM ag""".stripMargin,

    "q407_negbin" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bo AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(bo.lo, bo.hi)) AS bin FROM bo) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |       FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |ag AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(v) AS HUGEINT) AS s, SUM(CAST(v AS HUGEINT)*v) AS q,
        |  CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros
        |  FROM sv GROUP BY 1),
        |f AS (SELECT t, n, zeros,
        |  CAST(s AS DOUBLE)/CAST(n AS DOUBLE) AS m,
        |  CAST(n*q - s*s AS DOUBLE)/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE)) AS vv
        |  FROM ag)
        |SELECT t AS event_type, n AS n_bins,
        |  floor(m*1000000.0 + 0.5)/1000000.0 AS mean,
        |  CASE WHEN n >= 2 THEN floor(vv*1000000.0 + 0.5)/1000000.0 END AS variance,
        |  CASE WHEN n >= 2 AND vv > m THEN
        |    floor(m*m/(vv - m)*1000000.0 + 0.5)/1000000.0 END AS nb_r,
        |  CASE WHEN n >= 2 AND vv > m THEN
        |    floor(m/vv*1000000.0 + 0.5)/1000000.0 END AS nb_p,
        |  floor(CAST(zeros AS DOUBLE)/CAST(n AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS zero_frac_observed,
        |  CASE WHEN n >= 2 AND vv > m AND m > 0 THEN
        |    floor(exp(m*m/(vv - m)*ln(m/vv))*1000000.0 + 0.5)/1000000.0 END AS zero_frac_nb
        |FROM f ORDER BY event_type""".stripMargin,

    "q408_hash_uniformity" ->
      """WITH k AS (SELECT DISTINCT user_id AS k FROM events WHERE user_id IS NOT NULL),
        |bkt AS (SELECT ((((k % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296 % 10000 AS b FROM k),
        |ce AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM bkt GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ce),
        |rk AS (SELECT b, c, n,
        |  SUM(c) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) - c + 1 AS i
        |  FROM ce CROSS JOIN tot),
        |tm AS (SELECT n, b, c, i,
        |  i + c - 1 AS hij,
        |  c*i + (c*(c - 1)) // 2 AS sj,
        |  (hij*(hij + 1)*(hij*2 + 1)) // 6 - ((i - 1)*i*((i - 1)*2 + 1)) // 6 AS sj2,
        |  c*(i*2 + c - 2) AS sa
        |  FROM rk),
        |tt AS (SELECT n,
        |  SUM(CAST(c AS HUGEINT)*(b*2 + 1)*(b*2 + 1)*n*n*4
        |    - CAST(n AS HUGEINT)*(b*2 + 1)*sa*80000
        |    + CAST(sj2*4 - sj*4 + c AS HUGEINT)*400000000) AS t
        |  FROM tm GROUP BY 1)
        |SELECT n AS n_keys,
        |  floor((1.0/(12.0*CAST(n AS DOUBLE))
        |    + CAST(t AS DOUBLE)/(16.0e8*CAST(n AS DOUBLE)*CAST(n AS DOUBLE)))*1e9 + 0.5)/1e9 AS cvm_w2
        |FROM tt""".stripMargin,

    "q409_simpsons" ->
      """WITH s AS (SELECT event_type AS st,
        |  ((((user_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296 % 10000 < 5000 AS t,
        |  value >= 50.0 AS o
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL),
        |ce AS (SELECT st,
        |  CAST(SUM(CASE WHEN t AND o THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(SUM(CASE WHEN t AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |  CAST(SUM(CASE WHEN NOT t AND o THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |  CAST(SUM(CASE WHEN NOT t AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM s GROUP BY 1),
        |cn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
        |  CAST(SUM(CASE WHEN NOT (a+b = 0 OR c+d = 0 OR a+c = 0 OR b+d = 0)
        |    AND CAST(a AS HUGEINT)*d - CAST(b AS HUGEINT)*c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
        |  CAST(SUM(CASE WHEN NOT (a+b = 0 OR c+d = 0 OR a+c = 0 OR b+d = 0)
        |    AND CAST(a AS HUGEINT)*d - CAST(b AS HUGEINT)*c < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
        |  CAST(SUM(CASE WHEN a+b = 0 OR c+d = 0 OR a+c = 0 OR b+d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate
        |  FROM ce),
        |po AS (SELECT CAST(SUM(a) AS BIGINT) AS pa, CAST(SUM(b) AS BIGINT) AS pb,
        |  CAST(SUM(c) AS BIGINT) AS pc, CAST(SUM(d) AS BIGINT) AS pd FROM ce)
        |SELECT n_strata, n_positive, n_negative, n_degenerate,
        |  CASE WHEN pb*pc > 0 THEN
        |    floor(CAST(pa AS DOUBLE)*CAST(pd AS DOUBLE)/(CAST(pb AS DOUBLE)*CAST(pc AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS pooled_or,
        |  CAST(CASE WHEN CAST(pa AS HUGEINT)*pd - CAST(pb AS HUGEINT)*pc > 0 THEN 1
        |       WHEN CAST(pa AS HUGEINT)*pd - CAST(pb AS HUGEINT)*pc < 0 THEN -1
        |       ELSE 0 END AS INTEGER) AS pooled_sign,
        |  (n_positive + n_negative > 0 AND
        |   ((CAST(pa AS HUGEINT)*pd - CAST(pb AS HUGEINT)*pc > 0 AND n_positive = 0) OR
        |    (CAST(pa AS HUGEINT)*pd - CAST(pb AS HUGEINT)*pc < 0 AND n_negative = 0))) AS paradox
        |FROM cn CROSS JOIN po""".stripMargin,

    "q410_classification_panel" -> {
      val w = Similarity.lshPlanes(256, 1, seed = 7)(0)
      s"""WITH wt AS (SELECT ${w.mkString("[", ",", "]")}::DOUBLE[] AS w),
         |t AS (SELECT doc_id,
         |  CASE WHEN length(trim(text))=0 THEN []::VARCHAR[]
         |       ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x))
         |  END AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         |    list_reduce(list_transform(toks, tok ->
         |      wt.w[((list_reduce([strpos('0123456789abcdef', substr(md5(tok), i, 1))-1 FOR i IN range(1,16)],
         |             (a,b) -> a*16 + b) % 2147483629) % 256) + 1]),
         |      (a,b) -> a + b) END AS raw
         |  FROM t CROSS JOIN wt),
         |sc AS (SELECT floor((raw + -0.05)*10000.0 + 0.5)/10000.0 AS score,
         |  CAST(d.lang = 'en' AS BIGINT) AS y
         |  FROM s JOIN documents d USING (doc_id)),
         |cf AS (SELECT
         |  CAST(SUM(CASE WHEN score > 0.0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(SUM(CASE WHEN score > 0.0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(SUM(CASE WHEN NOT score > 0.0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |  CAST(SUM(CASE WHEN NOT score > 0.0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM sc)
         |SELECT tp, fp, tn, fn,
         |  CASE WHEN tp+fp+tn+fn > 0 THEN
         |    floor(CAST(tp+tn AS DOUBLE)/CAST(tp+fp+tn+fn AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS accuracy,
         |  CASE WHEN tp+fp > 0 THEN
         |    floor(CAST(tp AS DOUBLE)/CAST(tp+fp AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS precision,
         |  CASE WHEN tp+fn > 0 THEN
         |    floor(CAST(tp AS DOUBLE)/CAST(tp+fn AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS recall,
         |  CASE WHEN tn+fp > 0 THEN
         |    floor(CAST(tn AS DOUBLE)/CAST(tn+fp AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS specificity,
         |  CASE WHEN tp*2+fp+fn > 0 THEN
         |    floor(CAST(tp*2 AS DOUBLE)/CAST(tp*2+fp+fn AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS f1,
         |  CASE WHEN tp+fn > 0 AND tn+fp > 0 THEN
         |    floor((CAST(tp AS DOUBLE)/CAST(tp+fn AS DOUBLE) + CAST(tn AS DOUBLE)/CAST(tn+fp AS DOUBLE))/2.0*1000000.0 + 0.5)/1000000.0 END AS balanced_accuracy,
         |  CASE WHEN tp+fn > 0 AND tn+fp > 0 THEN
         |    floor((CAST(tp AS DOUBLE)/CAST(tp+fn AS DOUBLE) + CAST(tn AS DOUBLE)/CAST(tn+fp AS DOUBLE) - 1.0)*1000000.0 + 0.5)/1000000.0 END AS youden_j,
         |  CASE WHEN tp+fp > 0 AND tp+fn > 0 AND tn+fp > 0 AND tn+fn > 0 THEN
         |    floor(CAST(CAST(tp AS HUGEINT)*tn - CAST(fp AS HUGEINT)*fn AS DOUBLE)
         |      /sqrt(CAST(CAST(tp+fp AS HUGEINT)*(tp+fn)*(tn+fp)*(tn+fn) AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS mcc
         |FROM cf""".stripMargin
    },

    "q411_anova_effects" ->
      """WITH v AS (SELECT event_type AS g,
        |  CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL),
        |pg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(x AS HUGEINT)) AS s,
        |  SUM(CAST(x AS HUGEINT)*x) AS ss FROM v GROUP BY 1),
        |tm AS (SELECT n, s,
        |  CAST(floor((CAST(s AS DOUBLE)/1e4)*(CAST(s AS DOUBLE)/1e4)/CAST(n AS DOUBLE)*1e6 + 0.5) AS BIGINT) AS bt,
        |  CAST(floor((CAST(ss AS DOUBLE)/1e8 - (CAST(s AS DOUBLE)/1e4)*(CAST(s AS DOUBLE)/1e4)/CAST(n AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS wt
        |  FROM pg),
        |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS n,
        |  CAST(SUM(s) AS HUGEINT) AS st, CAST(SUM(bt) AS HUGEINT) AS b,
        |  CAST(SUM(wt) AS HUGEINT) AS w FROM tm),
        |f AS (SELECT k, n,
        |  CAST(b AS DOUBLE)/1e6 - (CAST(st AS DOUBLE)/1e4)*(CAST(st AS DOUBLE)/1e4)/CAST(n AS DOUBLE) AS ssb,
        |  CAST(w AS DOUBLE)/1e6 AS ssw FROM ag)
        |SELECT k, n,
        |  CASE WHEN k > 1 AND n > k AND ssb + ssw > 0 AND ssw > 0 THEN
        |    floor(ssb/(ssb + ssw)*1000000.0 + 0.5)/1000000.0 END AS eta_squared,
        |  CASE WHEN k > 1 AND n > k AND ssb + ssw > 0 AND ssw > 0 THEN
        |    floor((ssb - (CAST(k AS DOUBLE) - 1.0)*(ssw/(CAST(n AS DOUBLE) - CAST(k AS DOUBLE))))
        |      /(ssb + ssw + ssw/(CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))*1000000.0 + 0.5)/1000000.0 END AS omega_squared,
        |  CASE WHEN k > 1 AND n > k AND ssb + ssw > 0 AND ssw > 0
        |    AND ssb/(ssb + ssw) < 1.0 THEN
        |    floor(ssb/(ssb + ssw)/(1.0 - ssb/(ssb + ssw))*1000000.0 + 0.5)/1000000.0 END AS cohens_f2
        |FROM f""".stripMargin,

    "q412_five_number" ->
      """WITH v AS (SELECT o_orderpriority AS g,
        |  CAST(floor(CAST(o_totalprice AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v
        |  FROM orders WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
        |ce AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY 1, 2),
        |tt AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM ce GROUP BY 1),
        |cu AS (SELECT ce.g, ce.v, tt.n,
        |  SUM(c) OVER (PARTITION BY ce.g ORDER BY ce.v ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM ce JOIN tt ON ce.g = tt.g),
        |ag AS (SELECT g, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MIN(v) AS BIGINT) AS mn, CAST(MAX(v) AS BIGINT) AS mx,
        |  CAST(MIN(CASE WHEN cum*4 >= n THEN v END) AS BIGINT) AS q1,
        |  CAST(MIN(CASE WHEN cum*2 >= n THEN v END) AS BIGINT) AS q2,
        |  CAST(MIN(CASE WHEN cum*4 >= n*3 THEN v END) AS BIGINT) AS q3
        |  FROM cu GROUP BY 1)
        |SELECT g AS o_orderpriority, n,
        |  floor(CAST(mn AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS min_v,
        |  floor(CAST(q1 AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS q1,
        |  floor(CAST(q2 AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS median,
        |  floor(CAST(q3 AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS q3,
        |  floor(CAST(mx AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS max_v,
        |  floor(CAST(q3 - q1 AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS iqr,
        |  floor(CAST(q1 + q2*2 + q3 AS DOUBLE)/4e4*10000.0 + 0.5)/10000.0 AS trimean,
        |  floor(CAST(q1 + q3 AS DOUBLE)/2e4*10000.0 + 0.5)/10000.0 AS midhinge
        |FROM ag ORDER BY o_orderpriority""".stripMargin,

    "q413_load_concentration" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c0 AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bo AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |      CROSS JOIN (SELECT unnest(generate_series(bo.lo, bo.hi)) AS bin FROM bo) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c0.n, 0) AS v
        |       FROM g LEFT JOIN c0 ON g.t = c0.t AND g.bin = c0.bin),
        |ce AS (SELECT t, v, CAST(COUNT(*) AS BIGINT) AS c FROM sv GROUP BY 1, 2),
        |tt AS (SELECT t, CAST(SUM(c) AS BIGINT) AS n,
        |  SUM(CAST(c AS HUGEINT)*v) AS s, CAST(MAX(v) AS BIGINT) AS peak
        |  FROM ce GROUP BY 1),
        |cu AS (SELECT ce.t, ce.v, ce.c, tt.n, tt.s, tt.peak,
        |  SUM(c) OVER (PARTITION BY ce.t ORDER BY ce.v ROWS UNBOUNDED PRECEDING) AS cuma,
        |  SUM(c) OVER (PARTITION BY ce.t ORDER BY ce.v DESC ROWS UNBOUNDED PRECEDING) AS cumd
        |  FROM ce JOIN tt ON ce.t = tt.t),
        |tm AS (SELECT t, n, s, peak,
        |  CAST(c*(cuma - c + 1) + (c*(c - 1)) // 2 AS HUGEINT)*v AS gt,
        |  CAST(greatest(0, least(c, (n + 9) // 10 - (cumd - c))) AS HUGEINT)*v AS tp
        |  FROM cu),
        |ag AS (SELECT t, CAST(MAX(n) AS BIGINT) AS n_bins,
        |  CAST(MAX(peak) AS BIGINT) AS peak, MAX(s) AS s,
        |  SUM(gt) AS g2, SUM(tp) AS top FROM tm GROUP BY 1)
        |SELECT t AS event_type, n_bins, peak,
        |  floor(CAST(s AS DOUBLE)/CAST(n_bins AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS mean_per_bin,
        |  CASE WHEN s > 0 THEN
        |    floor(CAST(peak AS DOUBLE)/(CAST(s AS DOUBLE)/CAST(n_bins AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS peak_to_avg,
        |  CASE WHEN s > 0 THEN
        |    floor(CAST(top AS DOUBLE)/CAST(s AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS top_decile_share,
        |  CASE WHEN s > 0 THEN
        |    floor((2.0*CAST(g2 AS DOUBLE) - (CAST(n_bins AS DOUBLE) + 1.0)*CAST(s AS DOUBLE))
        |      /(CAST(n_bins AS DOUBLE)*CAST(s AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS gini
        |FROM ag ORDER BY event_type""".stripMargin,

    "q414_weekly_heat" ->
      """WITH ce AS (SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hour,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |tt AS (SELECT CAST(SUM(n_events) AS BIGINT) AS tot FROM ce),
        |dy AS (SELECT dow, CAST(SUM(n_events) AS BIGINT) AS day FROM ce GROUP BY 1)
        |SELECT ce.dow, ce.hour, ce.n_events,
        |  CASE WHEN tot > 0 THEN
        |    floor(CAST(n_events AS DOUBLE)/CAST(tot AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS share_of_week,
        |  CASE WHEN day > 0 THEN
        |    floor(CAST(n_events AS DOUBLE)/CAST(day AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS share_of_day
        |FROM ce JOIN dy ON ce.dow = dy.dow CROSS JOIN tt
        |ORDER BY ce.dow, ce.hour""".stripMargin,

    "q415_churn_stats" ->
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS us, event_id
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |h AS (SELECT max(us) AS hz FROM e),
        |gp AS (SELECT u, us,
        |  us - lag(us) OVER (PARTITION BY u ORDER BY us, event_id) AS g FROM e),
        |per AS (SELECT u, MAX(us) AS last,
        |  CAST(SUM(CASE WHEN g > 604800000000 THEN 1 ELSE 0 END) AS BIGINT) AS res
        |  FROM gp GROUP BY 1),
        |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(CASE WHEN hz - last > 604800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
        |  CAST(COALESCE(SUM(res), 0) AS BIGINT) AS n_resurrections,
        |  CAST(SUM(CASE WHEN res > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected_users
        |  FROM per CROSS JOIN h)
        |SELECT n_users, n_churned,
        |  CASE WHEN n_users > 0 THEN
        |    floor(CAST(n_churned AS DOUBLE)/CAST(n_users AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS churn_rate,
        |  n_resurrections, n_resurrected_users,
        |  CASE WHEN n_users > 0 THEN
        |    floor(CAST(n_resurrected_users AS DOUBLE)/CAST(n_users AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS resurrection_rate
        |FROM ag""".stripMargin,

    "q416_shouting" ->
      """WITH st AS (SELECT source,
        |  CASE WHEN doc_id % 4 = 0 THEN text || ' BREAKING NEWS!!! really... wow'
        |  ELSE text END AS t
        |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
        |per AS (SELECT source,
        |  CASE WHEN length(trim(t)) = 0 THEN 0
        |    ELSE CAST(len(regexp_split_to_array(trim(t), '\s+')) AS BIGINT) END AS w,
        |  CAST(len(regexp_extract_all(t, '\b[A-Z]{2,}\b')) AS BIGINT) AS caps,
        |  CAST(len(regexp_extract_all(t, '[!?]{2,}')) AS BIGINT) AS brst,
        |  CAST(len(regexp_extract_all(t, '\.\.\.')) AS BIGINT) AS ell
        |  FROM st),
        |ag AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(w) AS BIGINT) AS n_words, CAST(SUM(caps) AS BIGINT) AS c,
        |  CAST(SUM(brst) AS BIGINT) AS b, CAST(SUM(ell) AS BIGINT) AS e
        |  FROM per GROUP BY 1)
        |SELECT source, n_docs, n_words,
        |  CASE WHEN n_words > 0 THEN
        |    floor(CAST(c AS DOUBLE)/CAST(n_words AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS caps_word_share,
        |  CASE WHEN n_words > 0 THEN
        |    floor(CAST(b AS DOUBLE)*1e4/CAST(n_words AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS punct_bursts_per_10k,
        |  CASE WHEN n_words > 0 THEN
        |    floor(CAST(e AS DOUBLE)*1e4/CAST(n_words AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS ellipses_per_10k
        |FROM ag ORDER BY source""".stripMargin,

    "q417_backlog" ->
      """WITH op AS (SELECT o_orderkey AS k,
        |  epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS open_d
        |  FROM orders WHERE o_orderdate IS NOT NULL),
        |cl AS (SELECT l_orderkey AS k,
        |  max(epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000) AS close_d
        |  FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1),
        |dl AS (SELECT day, CAST(SUM(op) AS BIGINT) AS n_opened,
        |  CAST(SUM(c) AS BIGINT) AS n_closed FROM (
        |  SELECT open_d AS day, 1 AS op, 0 AS c FROM op
        |  UNION ALL SELECT cl.close_d, 0, 1 FROM op JOIN cl USING (k)) GROUP BY 1),
        |bo AS (SELECT min(day) AS lo, max(day) AS hi FROM dl),
        |g AS (SELECT unnest(generate_series(bo.lo, bo.hi)) AS day FROM bo),
        |j AS (SELECT g.day, COALESCE(n_opened, 0) AS n_opened,
        |  COALESCE(n_closed, 0) AS n_closed FROM g LEFT JOIN dl USING (day)),
        |f AS (SELECT day, CAST(n_opened AS BIGINT) AS n_opened,
        |  CAST(n_closed AS BIGINT) AS n_closed,
        |  CAST(SUM(n_opened - n_closed) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS backlog
        |  FROM j)
        |SELECT strftime(make_timestamp(day * 86400000000), '%Y-%m-%d') AS date,
        |  n_opened, n_closed, backlog
        |FROM f ORDER BY date""".stripMargin,

    "q418_weighted_pagerank" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |cab AS (SELECT item_a, item_b, CAST(COUNT(*) AS BIGINT) AS w
        |  FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |e AS (SELECT item_a AS src, item_b AS dst, w FROM cab
        |      UNION ALL SELECT item_b, item_a, w FROM cab),
        |wo AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM e GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS item FROM e),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |r0 AS (SELECT item, 1000000000000 // n AS rank_fx FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT e.dst AS dst, SUM((CAST(r0.rank_fx AS HUGEINT) * e.w) // wo.wout) AS s
        |       FROM e JOIN wo USING (src) JOIN r0 ON e.src = r0.item GROUP BY 1),
        |r1 AS (SELECT item, (15000000000000 // (100 * n)) + (85 * COALESCE(s, 0)) // 100 AS rank_fx
        |       FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.item = c1.dst),
        |c2 AS (SELECT e.dst AS dst, SUM((CAST(r1.rank_fx AS HUGEINT) * e.w) // wo.wout) AS s
        |       FROM e JOIN wo USING (src) JOIN r1 ON e.src = r1.item GROUP BY 1),
        |r2 AS (SELECT item, (15000000000000 // (100 * n)) + (85 * COALESCE(s, 0)) // 100 AS rank_fx
        |       FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.item = c2.dst),
        |c3 AS (SELECT e.dst AS dst, SUM((CAST(r2.rank_fx AS HUGEINT) * e.w) // wo.wout) AS s
        |       FROM e JOIN wo USING (src) JOIN r2 ON e.src = r2.item GROUP BY 1),
        |r3 AS (SELECT item, (15000000000000 // (100 * n)) + (85 * COALESCE(s, 0)) // 100 AS rank_fx
        |       FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.item = c3.dst)
        |SELECT item, CAST(rank_fx AS BIGINT) AS rank_fx
        |FROM r3 ORDER BY rank_fx DESC, item""".stripMargin,

    "q419_label_margin" ->
      """WITH a AS (SELECT vec_id AS a_id, CAST(embedding AS DOUBLE[]) AS av,
        |  CAST(label AS VARCHAR) AS al
        |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id < 30),
        |p AS (SELECT a.a_id, a.al,
        |  CAST(b.label AS VARCHAR) = a.al AS same,
        |  floor(list_cosine_similarity(a.av, CAST(b.embedding AS DOUBLE[]))*1000000.0 + 0.5)/1000000.0 AS cos
        |  FROM a JOIN embeddings b ON b.vec_id <> a.a_id
        |  WHERE b.embedding IS NOT NULL),
        |g AS (SELECT a_id, MAX(al) AS label,
        |  MAX(CASE WHEN same THEN cos END) AS best_same,
        |  MAX(CASE WHEN NOT same THEN cos END) AS best_other FROM p GROUP BY 1)
        |SELECT a_id AS vec_id, label, best_same, best_other,
        |  floor((best_same - best_other)*1000000.0 + 0.5)/1000000.0 AS margin,
        |  best_other > best_same AS violated
        |FROM g ORDER BY vec_id""".stripMargin,

    "q420_sample_size" -> {
      val za = 1.959963984540054
      val zb = 0.8416212335729143
      val m1 = 1.0 + 0.10
      s"""WITH per AS (SELECT user_id,
        |  MAX(CASE WHEN COALESCE(event_type = 'purchase' AND value >= 90.0, false)
        |      THEN 1 ELSE 0 END) AS c
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(c) AS BIGINT) AS n_converting FROM per),
        |f AS (SELECT n_users, n_converting,
        |  CAST(n_converting AS DOUBLE)/CAST(n_users AS DOUBLE) AS p0 FROM ag),
        |f2 AS (SELECT *, p0*$m1 AS p1, (p0 + p0*$m1)/2.0 AS pbar FROM f),
        |f3 AS (SELECT *, CASE WHEN p1 < 1.0 THEN
        |  $za*sqrt(2.0*pbar*(1.0 - pbar)) + $zb*sqrt(p0*(1.0 - p0) + p1*(1.0 - p1)) END AS num
        |  FROM f2)
        |SELECT n_users, n_converting,
        |  CASE WHEN n_users > 0 THEN floor(p0*1000000.0 + 0.5)/1000000.0 END AS p0,
        |  CASE WHEN n_users > 0 AND n_converting > 0 AND p1 < 1.0 THEN
        |    floor(p1*1000000.0 + 0.5)/1000000.0 END AS p1,
        |  CASE WHEN n_users > 0 AND n_converting > 0 AND p1 < 1.0 THEN
        |    CAST(ceil(num*num/((p1 - p0)*(p1 - p0))) AS BIGINT) END AS n_per_arm,
        |  CASE WHEN n_users > 0 AND n_converting > 0 AND p1 < 1.0 THEN
        |    floor(CAST(CAST(ceil(num*num/((p1 - p0)*(p1 - p0))) AS BIGINT) AS DOUBLE)*2.0
        |      /CAST(n_users AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS runway_multiple
        |FROM f3""".stripMargin
    },

    "q421_dup_transactions" ->
      """WITH r AS (SELECT o_custkey AS entity,
        |  epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS day,
        |  CAST(floor(CAST(o_totalprice AS DOUBLE)*100 + 0.5) AS BIGINT) AS cents,
        |  o_orderkey AS id
        |  FROM orders WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_totalprice IS NOT NULL),
        |g AS (SELECT entity, day, cents, CAST(COUNT(*) AS BIGINT) AS n_records,
        |  MIN(id) AS first_id, MAX(id) AS last_id
        |  FROM r GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2)
        |SELECT entity,
        |  strftime(make_timestamp(day * 86400000000), '%Y-%m-%d') AS date,
        |  floor(CAST(cents AS DOUBLE)/100*100.0 + 0.5)/100.0 AS amount,
        |  n_records, first_id, last_id
        |FROM g ORDER BY entity, date, amount""".stripMargin,

    "q422_paired_t" ->
      """WITH per AS (SELECT user_id AS k, event_type AS c,
        |  SUM(CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT)) AS s,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IN ('click', 'view') GROUP BY 1, 2),
        |m AS (SELECT k, c, CAST(s AS DOUBLE)/CAST(n AS DOUBLE)/1e4 AS m FROM per),
        |pd AS (SELECT CAST(floor((a.m - b.m)*1e6 + 0.5) AS BIGINT) AS d6
        |  FROM m a JOIN m b ON a.k = b.k AND a.c = 'click' AND b.c = 'view'),
        |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  SUM(CAST(d6 AS HUGEINT)) AS sd, SUM(CAST(d6 AS HUGEINT)*d6) AS qd
        |  FROM pd)
        |SELECT n_pairs,
        |  CASE WHEN n_pairs > 0 THEN
        |    floor(CAST(sd AS DOUBLE)/CAST(n_pairs AS DOUBLE)/1e6*1000000.0 + 0.5)/1000000.0 END AS mean_diff,
        |  CASE WHEN n_pairs >= 2 AND CAST(n_pairs*qd - sd*sd AS DOUBLE) > 0 THEN
        |    floor(CAST(sd AS DOUBLE)/CAST(n_pairs AS DOUBLE)/1e6
        |      /(sqrt(CAST(n_pairs*qd - sd*sd AS DOUBLE)/(CAST(n_pairs AS DOUBLE)*(CAST(n_pairs AS DOUBLE) - 1.0)))/1e6
        |        /sqrt(CAST(n_pairs AS DOUBLE)))*1000000.0 + 0.5)/1000000.0 END AS t_stat,
        |  CASE WHEN n_pairs >= 2 AND CAST(n_pairs*qd - sd*sd AS DOUBLE) > 0 THEN
        |    floor(CAST(sd AS DOUBLE)/CAST(n_pairs AS DOUBLE)/1e6
        |      /(sqrt(CAST(n_pairs*qd - sd*sd AS DOUBLE)/(CAST(n_pairs AS DOUBLE)*(CAST(n_pairs AS DOUBLE) - 1.0)))/1e6)*1000000.0 + 0.5)/1000000.0 END AS cohens_dz
        |FROM ag""".stripMargin,

    "q423_lead_time" ->
      """WITH op AS (SELECT o_orderkey, o_orderpriority,
        |  epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS od
        |  FROM orders WHERE o_orderdate IS NOT NULL),
        |cl AS (SELECT l_orderkey,
        |  max(epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000) AS cd
        |  FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1),
        |ld AS (SELECT o_orderpriority AS g,
        |  CAST(floor(CAST(cd - od AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v
        |  FROM op JOIN cl ON o_orderkey = l_orderkey),
        |ce AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM ld GROUP BY 1, 2),
        |tt AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM ce GROUP BY 1),
        |cu AS (SELECT ce.g, ce.v, tt.n,
        |  SUM(c) OVER (PARTITION BY ce.g ORDER BY ce.v ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM ce JOIN tt ON ce.g = tt.g),
        |ag AS (SELECT g, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MIN(v) AS BIGINT) AS mn, CAST(MAX(v) AS BIGINT) AS mx,
        |  CAST(MIN(CASE WHEN cum*4 >= n THEN v END) AS BIGINT) AS q1,
        |  CAST(MIN(CASE WHEN cum*2 >= n THEN v END) AS BIGINT) AS q2,
        |  CAST(MIN(CASE WHEN cum*4 >= n*3 THEN v END) AS BIGINT) AS q3
        |  FROM cu GROUP BY 1)
        |SELECT g AS o_orderpriority, n,
        |  floor(CAST(mn AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS min_v,
        |  floor(CAST(q1 AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS q1,
        |  floor(CAST(q2 AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS median,
        |  floor(CAST(q3 AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS q3,
        |  floor(CAST(mx AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS max_v,
        |  floor(CAST(q3 - q1 AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS iqr,
        |  floor(CAST(q1 + q2*2 + q3 AS DOUBLE)/4e4*10000.0 + 0.5)/10000.0 AS trimean,
        |  floor(CAST(q1 + q3 AS DOUBLE)/2e4*10000.0 + 0.5)/10000.0 AS midhinge
        |FROM ag ORDER BY o_orderpriority""".stripMargin,

    "q424_growth_accounting" ->
      """WITH uw AS (SELECT DISTINCT user_id AS u, epoch_us(ts) // 604800000000 AS w
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |fw AS (SELECT u, min(w) AS fwk FROM uw GROUP BY 1),
        |cl AS (SELECT uw.w, uw.w = fw.fwk AS isnew, p.u IS NOT NULL AS ret
        |  FROM uw JOIN fw USING (u)
        |  LEFT JOIN uw p ON p.u = uw.u AND p.w = uw.w - 1),
        |bw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS actives,
        |  CAST(SUM(CASE WHEN isnew THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
        |  CAST(SUM(CASE WHEN NOT isnew AND ret THEN 1 ELSE 0 END) AS BIGINT) AS retained,
        |  CAST(SUM(CASE WHEN NOT isnew AND NOT ret THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
        |  FROM cl GROUP BY 1),
        |lw AS (SELECT w + 1 AS w, actives AS preva FROM bw)
        |SELECT bw.w AS epoch_week, actives, new_users, retained, resurrected,
        |  COALESCE(preva, 0) - retained AS churned,
        |  CASE WHEN COALESCE(preva, 0) - retained > 0 THEN
        |    floor(CAST(new_users + resurrected AS DOUBLE)
        |      /CAST(COALESCE(preva, 0) - retained AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS quick_ratio
        |FROM bw LEFT JOIN lw ON bw.w = lw.w
        |ORDER BY epoch_week""".stripMargin,

    "q425_case_collisions" ->
      """WITH st AS (SELECT CASE WHEN doc_id % 3 = 0 THEN
        |  'Apple APPLE apple Banana banana ' || text ELSE text END AS t
        |  FROM documents WHERE text IS NOT NULL),
        |tok AS (SELECT unnest(regexp_split_to_array(trim(t), '\s+')) AS form
        |  FROM st WHERE length(trim(t)) > 0),
        |flt AS (SELECT form FROM tok WHERE regexp_matches(form, '^[A-Za-z]+$')),
        |sur AS (SELECT lower(form) AS token, form, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM flt GROUP BY 1, 2),
        |ag AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_forms,
        |  CAST(SUM(c) AS BIGINT) AS n_occurrences FROM sur GROUP BY 1),
        |dm AS (SELECT token, form AS dominant_form, c AS mc FROM
        |  (SELECT token, form, c,
        |     row_number() OVER (PARTITION BY token ORDER BY c DESC, form DESC) AS rn
        |   FROM sur) WHERE rn = 1)
        |SELECT ag.token, n_forms, n_occurrences, dominant_form,
        |  floor(CAST(mc AS DOUBLE)/CAST(n_occurrences AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS dominant_share
        |FROM ag JOIN dm ON ag.token = dm.token
        |WHERE n_forms >= 2
        |ORDER BY n_occurrences DESC, ag.token LIMIT 100""".stripMargin,

    "q426_price_assortativity" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |cab AS (SELECT item_a, item_b FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |e AS (SELECT item_a AS src, item_b AS dst FROM cab
        |      UNION ALL SELECT item_b, item_a FROM cab),
        |vals AS (SELECT DISTINCT p_partkey AS node,
        |  CAST(floor(CAST(p_retailprice AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v
        |  FROM part WHERE p_retailprice IS NOT NULL),
        |j AS (SELECT a.v AS x, c.v AS y FROM e
        |  JOIN vals a ON e.src = a.node JOIN vals c ON e.dst = c.node),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |  SUM(CAST(x AS HUGEINT)*x) AS sxx, SUM(CAST(y AS HUGEINT)*y) AS syy,
        |  SUM(CAST(x AS HUGEINT)*y) AS sxy FROM j)
        |SELECT n AS n_directed_edges,
        |  CASE WHEN n > 1 AND CAST(n*sxx - sx*sx AS DOUBLE) > 0
        |    AND CAST(n*syy - sy*sy AS DOUBLE) > 0 THEN
        |    floor(CAST(n*sxy - sx*sy AS DOUBLE)
        |      /(sqrt(CAST(n*sxx - sx*sx AS DOUBLE))*sqrt(CAST(n*syy - sy*sy AS DOUBLE)))*1000000.0 + 0.5)/1000000.0 END AS assortativity
        |FROM m""".stripMargin,

    "q427_supplier_hhi" ->
      """WITH r AS (SELECT l_partkey, l_suppkey,
        |  CAST(floor(CAST(l_quantity AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS q
        |  FROM lineitem WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
        |    AND l_quantity IS NOT NULL),
        |per AS (SELECT l_partkey, l_suppkey, CAST(SUM(q) AS HUGEINT) AS sq
        |  FROM r GROUP BY 1, 2),
        |ag AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
        |  SUM(sq) AS tot, SUM(sq*sq) AS hh, MAX(sq) AS top FROM per GROUP BY 1)
        |SELECT l_partkey, n_suppliers,
        |  floor(CAST(tot AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS total_qty,
        |  CASE WHEN tot > 0 THEN
        |    floor(CAST(hh AS DOUBLE)/CAST(tot*tot AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS hhi,
        |  CASE WHEN tot > 0 THEN
        |    floor(CAST(top AS DOUBLE)/CAST(tot AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS top_supplier_share,
        |  n_suppliers = 1 AS single_source
        |FROM ag ORDER BY l_partkey""".stripMargin,

    "q428_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id AS u, event_type AS t
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |tot AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY 1),
        |bo AS (SELECT a.t AS type_a, b.t AS type_b, CAST(COUNT(*) AS BIGINT) AS n_both
        |  FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t GROUP BY 1, 2)
        |SELECT type_a, type_b, ta.n AS n_a, tb.n AS n_b, n_both,
        |  floor(CAST(n_both AS DOUBLE)/CAST(ta.n + tb.n - n_both AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS jaccard,
        |  floor(CAST(n_both AS DOUBLE)/CAST(ta.n AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS share_of_a,
        |  floor(CAST(n_both AS DOUBLE)/CAST(tb.n AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS share_of_b
        |FROM bo JOIN tot ta ON bo.type_a = ta.t JOIN tot tb ON bo.type_b = tb.t
        |ORDER BY type_a, type_b""".stripMargin,

    "q429_cohort_ltv" ->
      """WITH b AS (SELECT user_id AS u,
        |  CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS w,
        |  event_type, value FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT u, MIN(w) AS cohort FROM b GROUP BY 1),
        |sz AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users FROM f GROUP BY 1),
        |mx AS (SELECT MAX(w) AS maxwk FROM b),
        |rv AS (SELECT f.cohort,
        |    CAST(date_diff('day', f.cohort, b.w) // 7 AS INT) AS week_offset,
        |    SUM(CAST(CAST(CAST(b.value AS DECIMAL(18,2)) * 100 AS BIGINT) AS DECIMAL(38,0))) AS rc
        |  FROM b JOIN f ON b.u = f.u
        |  WHERE b.event_type = 'purchase' AND b.value IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT sz.cohort, sz.cohort_users,
        |    unnest([i FOR i IN range(0, CAST(date_diff('day', sz.cohort, mx.maxwk) // 7 AS INT) + 1)]) AS week_offset
        |  FROM sz CROSS JOIN mx),
        |j AS (SELECT g.cohort, g.week_offset, g.cohort_users,
        |    COALESCE(rv.rc, 0) AS rc0
        |  FROM g LEFT JOIN rv ON g.cohort = rv.cohort AND g.week_offset = rv.week_offset),
        |c AS (SELECT cohort, week_offset, cohort_users, rc0,
        |    SUM(rc0) OVER (PARTITION BY cohort ORDER BY week_offset) AS cum FROM j)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week, week_offset, cohort_users,
        |  floor(CAST(rc0 AS DOUBLE)/100*100.0 + 0.5)/100.0 AS revenue,
        |  floor(CAST(cum AS DOUBLE)/100*100.0 + 0.5)/100.0 AS cum_revenue,
        |  floor(CAST(cum AS DOUBLE)/(CAST(cohort_users AS DOUBLE)*100.0)*1000000.0 + 0.5)/1000000.0 AS cum_ltv_per_user
        |FROM c ORDER BY cohort_week, week_offset""".stripMargin,

    "q430_price_volume" ->
      """WITH r AS (SELECT CAST(p.p_brand AS VARCHAR) AS grp,
        |    epoch_us(CAST(l.l_shipdate AS TIMESTAMP)) AS us,
        |    CAST(floor(CAST(l.l_quantity AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS q4,
        |    CAST(floor(CAST(l.l_extendedprice AS DOUBLE)*100 + 0.5) AS BIGINT) AS r2c
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE l.l_shipdate IS NOT NULL AND p.p_brand IS NOT NULL
        |    AND CAST(l.l_quantity AS DOUBLE) > 0 AND l.l_extendedprice IS NOT NULL),
        |ct AS (SELECT (min(us) + max(us)) // 2 AS cut FROM r),
        |per AS (SELECT grp, CASE WHEN us >= ct.cut THEN 1 ELSE 0 END AS p,
        |    CAST(SUM(CAST(r2c AS DECIMAL(38,0))) AS BIGINT) AS rv,
        |    CAST(SUM(CAST(q4 AS DECIMAL(38,0))) AS BIGINT) AS qv
        |  FROM r CROSS JOIN ct GROUP BY 1, 2),
        |bb AS (SELECT COALESCE(a.grp, c.grp) AS grp,
        |    COALESCE(a.rv, 0) AS r0, COALESCE(a.qv, 0) AS q0,
        |    COALESCE(c.rv, 0) AS r1, COALESCE(c.qv, 0) AS q1
        |  FROM (SELECT * FROM per WHERE p = 0) a
        |  FULL OUTER JOIN (SELECT * FROM per WHERE p = 1) c ON a.grp = c.grp)
        |SELECT grp AS p_brand,
        |  floor(CAST(r0 AS DOUBLE)/100*100.0 + 0.5)/100.0 AS revenue_p0,
        |  floor(CAST(r1 AS DOUBLE)/100*100.0 + 0.5)/100.0 AS revenue_p1,
        |  floor(CAST(r1 - r0 AS DOUBLE)/100*100.0 + 0.5)/100.0 AS delta_revenue,
        |  CASE WHEN q0 > 0 AND q1 > 0 THEN
        |    floor(((CAST(r1 AS DOUBLE)/100.0)/(CAST(q1 AS DOUBLE)/1e4)
        |         - (CAST(r0 AS DOUBLE)/100.0)/(CAST(q0 AS DOUBLE)/1e4))
        |      * (CAST(q0 AS DOUBLE)/1e4) * 10000.0 + 0.5)/10000.0 END AS price_effect,
        |  CASE WHEN q0 > 0 AND q1 > 0 THEN
        |    floor((CAST(r0 AS DOUBLE)/100.0)/(CAST(q0 AS DOUBLE)/1e4)
        |      * (CAST(q1 - q0 AS DOUBLE)/1e4) * 10000.0 + 0.5)/10000.0 END AS volume_effect,
        |  CASE WHEN q0 > 0 AND q1 > 0 THEN
        |    floor(((CAST(r1 AS DOUBLE)/100.0)/(CAST(q1 AS DOUBLE)/1e4)
        |         - (CAST(r0 AS DOUBLE)/100.0)/(CAST(q0 AS DOUBLE)/1e4))
        |      * (CAST(q1 - q0 AS DOUBLE)/1e4) * 10000.0 + 0.5)/10000.0 END AS cross_effect
        |FROM bb ORDER BY p_brand""".stripMargin,

    "q431_shewhart" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bd AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |  CROSS JOIN (SELECT unnest(generate_series(bd.lo, bd.hi)) AS bin FROM bd) gs),
        |v AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |  FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |lg AS (SELECT t, bin, v, lag(v) OVER (PARTITION BY t ORDER BY bin) AS pv FROM v),
        |st AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s,
        |    CAST(COALESCE(SUM(CASE WHEN pv IS NOT NULL THEN abs(v - pv) END), 0) AS BIGINT) AS mr,
        |    CAST(SUM(CASE WHEN pv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS m
        |  FROM lg GROUP BY 1),
        |pt AS (SELECT v.t, v.bin, st.n, st.s, st.mr, st.m,
        |    CAST(v.v AS HUGEINT) * st.n - st.s AS d
        |  FROM v JOIN st ON v.t = st.t),
        |z AS (SELECT t, bin,
        |    CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 ELSE 0 END AS side,
        |    CASE WHEN abs(d) * 1128 * m > 3000 * CAST(mr AS HUGEINT) * n THEN 1 ELSE 0 END AS b3,
        |    CASE WHEN abs(d) * 1128 * m > 2000 * CAST(mr AS HUGEINT) * n THEN 1 ELSE 0 END AS b2,
        |    CASE WHEN abs(d) * 1128 * m > 1000 * CAST(mr AS HUGEINT) * n THEN 1 ELSE 0 END AS b1
        |  FROM pt),
        |zz AS (SELECT t, bin, side, b3,
        |    CASE WHEN b2 = 1 AND side <> 0 THEN side ELSE 0 END AS z2,
        |    CASE WHEN b1 = 1 AND side <> 0 THEN side ELSE 0 END AS z1
        |  FROM z),
        |rl AS (SELECT t, b3 AS r1,
        |    CASE WHEN z2 = side AND side <> 0 AND
        |      (lag(z2, 1, 0) OVER w = side OR lag(z2, 2, 0) OVER w = side)
        |      THEN 1 ELSE 0 END AS r2,
        |    CASE WHEN z1 = side AND side <> 0 AND
        |      ((CASE WHEN lag(z1, 1, 0) OVER w = side THEN 1 ELSE 0 END) +
        |       (CASE WHEN lag(z1, 2, 0) OVER w = side THEN 1 ELSE 0 END) +
        |       (CASE WHEN lag(z1, 3, 0) OVER w = side THEN 1 ELSE 0 END) +
        |       (CASE WHEN lag(z1, 4, 0) OVER w = side THEN 1 ELSE 0 END)) >= 3
        |      THEN 1 ELSE 0 END AS r3,
        |    CASE WHEN side <> 0 AND lag(side, 1, 0) OVER w = side
        |      AND lag(side, 2, 0) OVER w = side AND lag(side, 3, 0) OVER w = side
        |      AND lag(side, 4, 0) OVER w = side AND lag(side, 5, 0) OVER w = side
        |      AND lag(side, 6, 0) OVER w = side AND lag(side, 7, 0) OVER w = side
        |      THEN 1 ELSE 0 END AS r4
        |  FROM zz WINDOW w AS (PARTITION BY t ORDER BY bin)),
        |rc AS (SELECT t, CAST(SUM(r1) AS BIGINT) AS r1, CAST(SUM(r2) AS BIGINT) AS r2,
        |    CAST(SUM(r3) AS BIGINT) AS r3, CAST(SUM(r4) AS BIGINT) AS r4,
        |    CAST(SUM(greatest(r1, r2, r3, r4)) AS BIGINT) AS nf
        |  FROM rl GROUP BY 1)
        |SELECT st.t AS event_type, st.n AS n_bins,
        |  floor(CAST(st.s AS DOUBLE)/CAST(st.n AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS mean,
        |  CASE WHEN st.m > 0 THEN
        |    floor(CAST(st.mr AS DOUBLE)/CAST(st.m AS DOUBLE)/1.128*1000000.0 + 0.5)/1000000.0 END AS sigma_hat,
        |  CASE WHEN st.m > 0 THEN
        |    floor((CAST(st.s AS DOUBLE)/CAST(st.n AS DOUBLE)
        |      + 3.0*(CAST(st.mr AS DOUBLE)/CAST(st.m AS DOUBLE)/1.128))*1000000.0 + 0.5)/1000000.0 END AS ucl,
        |  CASE WHEN st.m > 0 THEN
        |    floor((CAST(st.s AS DOUBLE)/CAST(st.n AS DOUBLE)
        |      - 3.0*(CAST(st.mr AS DOUBLE)/CAST(st.m AS DOUBLE)/1.128))*1000000.0 + 0.5)/1000000.0 END AS lcl,
        |  rc.r1 AS r1_beyond_3sigma, rc.r2 AS r2_2of3_beyond_2sigma,
        |  rc.r3 AS r3_4of5_beyond_1sigma, rc.r4 AS r4_8_same_side,
        |  rc.nf AS n_flagged
        |FROM st JOIN rc ON st.t = rc.t
        |ORDER BY event_type""".stripMargin,

    "q432_sign_test" ->
      """WITH per AS (SELECT user_id AS k, event_type AS c,
        |    SUM(CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT)) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IN ('click', 'view') GROUP BY 1, 2),
        |mm AS (SELECT k, c, CAST(s AS DOUBLE)/CAST(n AS DOUBLE)/1e4 AS m FROM per),
        |pd AS (SELECT CAST(floor((a.m - b.m)*1e6 + 0.5) AS BIGINT) AS d6
        |  FROM mm a JOIN mm b ON a.k = b.k AND a.c = 'click' AND b.c = 'view'),
        |cn AS (SELECT CAST(SUM(CASE WHEN d6 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS kk,
        |    CAST(SUM(CASE WHEN d6 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS m,
        |    CAST(SUM(CASE WHEN d6 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties FROM pd),
        |lf0 AS (SELECT gs.j, CAST(floor(ln(CAST(gs.j AS DOUBLE))*1e9 + 0.5) AS BIGINT) AS lnj
        |  FROM cn, (SELECT unnest(generate_series(1, (SELECT m FROM cn))) AS j) gs),
        |lf AS (SELECT j, CAST(SUM(lnj) OVER (ORDER BY j) AS BIGINT) AS f FROM lf0
        |  UNION ALL SELECT 0, 0),
        |lp AS MATERIALIZED (SELECT ks.j,
        |    (SELECT f FROM lf WHERE j = cn.m) - f1.f - f2.f - cn.m*693147181 AS lnp9
        |  FROM (SELECT unnest(generate_series(0, (SELECT m FROM cn))) AS j) ks
        |  CROSS JOIN cn
        |  JOIN lf f1 ON f1.j = ks.j
        |  JOIN lf f2 ON f2.j = cn.m - ks.j),
        |ob AS (SELECT lp.lnp9 AS lo FROM lp CROSS JOIN cn WHERE lp.j = cn.kk),
        |obg AS (SELECT MAX(lp.lnp9) AS lg FROM lp CROSS JOIN cn WHERE lp.j >= cn.kk),
        |tl AS (SELECT
        |    SUM(CASE WHEN lp.lnp9 <= ob.lo THEN
        |      CAST(floor(exp(CAST(lp.lnp9 - ob.lo AS DOUBLE)/1e9)*1e15 + 0.5) AS DECIMAL(38,0)) END) AS t2,
        |    SUM(CASE WHEN lp.j >= cn.kk THEN
        |      CAST(floor(exp(CAST(lp.lnp9 - obg.lg AS DOUBLE)/1e9)*1e15 + 0.5) AS DECIMAL(38,0)) END) AS tg
        |  FROM lp CROSS JOIN ob CROSS JOIN obg CROSS JOIN cn)
        |SELECT cn.m AS n_untied, cn.kk AS n_pos, cn.ties AS n_ties,
        |  floor(exp(CAST(ob.lo AS DOUBLE)/1e9)*(CAST(tl.t2 AS DOUBLE)/1e15)*1000000.0 + 0.5)/1000000.0 AS p_two_sided,
        |  floor(exp(CAST(obg.lg AS DOUBLE)/1e9)*(CAST(tl.tg AS DOUBLE)/1e15)*1000000.0 + 0.5)/1000000.0 AS p_greater,
        |  floor(CAST(ob.lo AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS ln_p_observed
        |FROM cn CROSS JOIN ob CROSS JOIN obg CROSS JOIN tl""".stripMargin,

    "q433_sampen" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bd AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |  CROSS JOIN (SELECT unnest(generate_series(bd.lo, bd.hi)) AS bin FROM bd) gs),
        |v AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |  FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |tm AS (SELECT t, bin, v,
        |    lead(v, 1) OVER (PARTITION BY t ORDER BY bin) AS x1,
        |    lead(v, 2) OVER (PARTITION BY t ORDER BY bin) AS x2 FROM v),
        |rr AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(floor(sqrt(CAST(COUNT(*)*SUM(CAST(v AS HUGEINT)*v)
        |        - SUM(CAST(v AS HUGEINT))*SUM(CAST(v AS HUGEINT)) AS DOUBLE))
        |      /CAST(COUNT(*) AS DOUBLE)*0.2*1e9 + 0.5) AS BIGINT) AS r9
        |  FROM v GROUP BY 1),
        |pc AS (SELECT a.t, rr.n,
        |    CAST(SUM(CASE WHEN a.x2 IS NOT NULL AND b.x2 IS NOT NULL
        |      AND abs(a.v - b.v)*CAST(1000000000 AS HUGEINT) <= rr.r9
        |      AND abs(a.x1 - b.x1)*CAST(1000000000 AS HUGEINT) <= rr.r9
        |      THEN 1 ELSE 0 END) AS BIGINT) AS b_pairs,
        |    CAST(SUM(CASE WHEN a.x2 IS NOT NULL AND b.x2 IS NOT NULL
        |      AND abs(a.v - b.v)*CAST(1000000000 AS HUGEINT) <= rr.r9
        |      AND abs(a.x1 - b.x1)*CAST(1000000000 AS HUGEINT) <= rr.r9
        |      AND abs(a.x2 - b.x2)*CAST(1000000000 AS HUGEINT) <= rr.r9
        |      THEN 1 ELSE 0 END) AS BIGINT) AS a_pairs,
        |    MAX(rr.r9) AS r9
        |  FROM tm a JOIN tm b ON a.t = b.t AND a.bin < b.bin JOIN rr ON a.t = rr.t
        |  GROUP BY 1, 2)
        |SELECT t AS event_type, n AS n_bins,
        |  floor(CAST(r9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS r,
        |  b_pairs, a_pairs,
        |  CASE WHEN a_pairs > 0 AND b_pairs > 0 THEN
        |    floor(ln(CAST(b_pairs AS DOUBLE)/CAST(a_pairs AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS sampen
        |FROM pc ORDER BY event_type""".stripMargin,

    "q434_hbos" ->
      """WITH r AS (SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS f0,
        |    CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS DOUBLE) AS f1
        |  FROM orders WHERE o_orderdate IS NOT NULL AND o_orderkey IS NOT NULL
        |    AND o_totalprice IS NOT NULL),
        |bd AS (SELECT min(f0) AS lo0, max(f0) AS hi0, min(f1) AS lo1, max(f1) AS hi1 FROM r),
        |mb AS (SELECT k, 0 AS f, CASE WHEN hi0 > lo0 THEN
        |    CAST(least(greatest(floor((f0 - lo0)/(hi0 - lo0)*20), 0), 19) AS BIGINT)
        |    ELSE 0 END AS bin FROM r CROSS JOIN bd
        |  UNION ALL SELECT k, 1, CASE WHEN hi1 > lo1 THEN
        |    CAST(least(greatest(floor((f1 - lo1)/(hi1 - lo1)*20), 0), 19) AS BIGINT)
        |    ELSE 0 END FROM r CROSS JOIN bd),
        |ct AS (SELECT f, bin, CAST(COUNT(*) AS BIGINT) AS c FROM mb GROUP BY 1, 2),
        |cm AS (SELECT f, MAX(c) AS cmax FROM ct GROUP BY 1),
        |sc AS (SELECT mb.k,
        |    CAST(SUM(CAST(floor(ln(CAST(cm.cmax AS DOUBLE))*1e9 + 0.5) AS BIGINT)
        |      - CAST(floor(ln(CAST(ct.c AS DOUBLE))*1e9 + 0.5) AS BIGINT)) AS BIGINT) AS s9
        |  FROM mb JOIN ct ON mb.f = ct.f AND mb.bin = ct.bin
        |  JOIN cm ON mb.f = cm.f GROUP BY 1)
        |SELECT k AS o_orderkey,
        |  floor(CAST(s9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS score
        |FROM sc ORDER BY s9 DESC, k LIMIT 20""".stripMargin,

    "q435_best_split" ->
      """WITH r AS (SELECT CAST(floor(CAST(l_extendedprice AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS y,
        |    CAST(l_quantity AS DOUBLE) AS f0, CAST(l_discount AS DOUBLE) AS f1
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |    AND l_quantity IS NOT NULL AND l_discount IS NOT NULL),
        |bd AS (SELECT min(f0) AS lo0, max(f0) AS hi0, min(f1) AS lo1, max(f1) AS hi1 FROM r),
        |mb AS (SELECT y, 'l_quantity' AS f, CASE WHEN hi0 > lo0 THEN
        |    CAST(least(greatest(floor((f0 - lo0)/(hi0 - lo0)*255), 0), 254) AS BIGINT)
        |    ELSE 0 END AS bin FROM r CROSS JOIN bd
        |  UNION ALL SELECT y, 'l_discount', CASE WHEN hi1 > lo1 THEN
        |    CAST(least(greatest(floor((f1 - lo1)/(hi1 - lo1)*255), 0), 254) AS BIGINT)
        |    ELSE 0 END FROM r CROSS JOIN bd),
        |ce AS (SELECT f, bin, CAST(COUNT(*) AS BIGINT) AS nb,
        |    SUM(CAST(y AS DECIMAL(38,0))) AS sb FROM mb GROUP BY 1, 2),
        |tt AS (SELECT f, CAST(SUM(nb) AS BIGINT) AS nt, SUM(sb) AS st FROM ce GROUP BY 1),
        |cu AS (SELECT f, bin, CAST(SUM(nb) OVER w AS BIGINT) AS nl, SUM(sb) OVER w AS sl
        |  FROM ce WINDOW w AS (PARTITION BY f ORDER BY bin ROWS UNBOUNDED PRECEDING)),
        |gn AS (SELECT cu.f, cu.bin, cu.nl, tt.nt,
        |    CAST(floor((CAST(cu.sl AS DOUBLE)*CAST(cu.sl AS DOUBLE)/CAST(cu.nl AS DOUBLE)
        |      + CAST(tt.st - cu.sl AS DOUBLE)*CAST(tt.st - cu.sl AS DOUBLE)/CAST(tt.nt - cu.nl AS DOUBLE)
        |      - CAST(tt.st AS DOUBLE)*CAST(tt.st AS DOUBLE)/CAST(tt.nt AS DOUBLE))/1e8*1e6 + 0.5) AS BIGINT) AS gain6
        |  FROM cu JOIN tt ON cu.f = tt.f
        |  WHERE cu.bin < 254 AND cu.nl > 0 AND tt.nt > cu.nl),
        |bs AS (SELECT * FROM gn
        |  QUALIFY row_number() OVER (PARTITION BY f ORDER BY gain6 DESC, bin) = 1),
        |th AS (SELECT 'l_quantity' AS f, lo0 AS lo, hi0 AS hi FROM bd
        |  UNION ALL SELECT 'l_discount', lo1, hi1 FROM bd),
        |fl AS (SELECT 'l_quantity' AS f UNION ALL SELECT 'l_discount')
        |SELECT fl.f AS feature, tt.nt AS n_rows, bs.bin AS best_bin,
        |  CASE WHEN bs.bin IS NOT NULL THEN
        |    floor((th.lo + (bs.bin + 1)*((th.hi - th.lo)/255))*1000000.0 + 0.5)/1000000.0 END AS threshold,
        |  bs.nl AS n_left, tt.nt - bs.nl AS n_right,
        |  CASE WHEN bs.gain6 IS NOT NULL THEN
        |    floor(CAST(bs.gain6 AS DOUBLE)/1e6*1000000.0 + 0.5)/1000000.0 END AS gain
        |FROM fl LEFT JOIN bs ON fl.f = bs.f LEFT JOIN th ON fl.f = th.f
        |LEFT JOIN tt ON fl.f = tt.f
        |ORDER BY feature""".stripMargin,

    "q436_icc2" ->
      """WITH ce AS (SELECT user_id AS s, event_type AS r,
        |    CAST(floor(CAST(SUM(CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT)) AS DOUBLE)
        |      /CAST(COUNT(*) AS DOUBLE)/1e4*1e6 + 0.5) AS BIGINT) AS x
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |    AND value IS NOT NULL GROUP BY 1, 2),
        |kk AS (SELECT CAST(COUNT(DISTINCT r) AS BIGINT) AS k FROM ce),
        |cs AS (SELECT s FROM ce GROUP BY s HAVING COUNT(*) = (SELECT k FROM kk)),
        |kp AS (SELECT ce.* FROM ce JOIN cs ON ce.s = cs.s),
        |rw AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(ri AS DECIMAL(38,0))*ri) AS sr2
        |  FROM (SELECT s, CAST(SUM(x) AS BIGINT) AS ri FROM kp GROUP BY 1)),
        |cl AS (SELECT SUM(CAST(cj AS DECIMAL(38,0))*cj) AS sc2
        |  FROM (SELECT r, CAST(SUM(x) AS BIGINT) AS cj FROM kp GROUP BY 1)),
        |bs AS (SELECT CAST(SUM(x) AS BIGINT) AS t, SUM(CAST(x AS DECIMAL(38,0))*x) AS q FROM kp),
        |fin AS (SELECT rw.n AS n, kk.k AS k,
        |    CAST(bs.t AS DOUBLE)*CAST(bs.t AS DOUBLE)/(CAST(rw.n AS DOUBLE)*CAST(kk.k AS DOUBLE)) AS corr,
        |    CAST(rw.sr2 AS DOUBLE)/CAST(kk.k AS DOUBLE) - corr AS ssr,
        |    CAST(cl.sc2 AS DOUBLE)/CAST(rw.n AS DOUBLE) - corr AS ssc,
        |    CAST(bs.q AS DOUBLE) - corr AS sst,
        |    sst - ssr - ssc AS sse,
        |    ssr/(CAST(rw.n AS DOUBLE) - 1.0) AS msr,
        |    ssc/(CAST(kk.k AS DOUBLE) - 1.0) AS msc,
        |    sse/((CAST(rw.n AS DOUBLE) - 1.0)*(CAST(kk.k AS DOUBLE) - 1.0)) AS mse,
        |    msr + (CAST(kk.k AS DOUBLE) - 1.0)*mse + CAST(kk.k AS DOUBLE)*(msc - mse)/CAST(rw.n AS DOUBLE) AS den21,
        |    msr + (CAST(kk.k AS DOUBLE) - 1.0)*mse AS den31
        |  FROM rw CROSS JOIN cl CROSS JOIN bs CROSS JOIN kk)
        |SELECT n AS n_subjects, k AS k_raters,
        |  CASE WHEN n >= 2 THEN floor(msr/1e12*1000000.0 + 0.5)/1000000.0 END AS msr,
        |  CASE WHEN n >= 2 THEN floor(msc/1e12*1000000.0 + 0.5)/1000000.0 END AS msc,
        |  CASE WHEN n >= 2 THEN floor(mse/1e12*1000000.0 + 0.5)/1000000.0 END AS mse,
        |  CASE WHEN n >= 2 AND den21 <> 0 THEN
        |    floor((msr - mse)/den21*1000000.0 + 0.5)/1000000.0 END AS icc21,
        |  CASE WHEN n >= 2 AND den31 <> 0 THEN
        |    floor((msr - mse)/den31*1000000.0 + 0.5)/1000000.0 END AS icc31
        |FROM fin""".stripMargin,

    "q437_demand_pattern" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bd AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |  CROSS JOIN (SELECT unnest(generate_series(bd.lo, bd.hi)) AS bin FROM bd) gs),
        |v AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |  FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |ag AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS m,
        |    SUM(CAST(v AS HUGEINT)) AS s,
        |    SUM(CAST(v AS HUGEINT)*v) AS q FROM v GROUP BY 1)
        |SELECT t AS event_type, n AS n_bins, m AS n_demand_bins,
        |  CASE WHEN m > 0 THEN
        |    floor(CAST(n AS DOUBLE)/CAST(m AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS adi,
        |  CASE WHEN m > 0 THEN
        |    floor(CAST(m*q - s*s AS DOUBLE)/CAST(s*s AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS cv2,
        |  CASE WHEN m = 0 THEN 'empty'
        |    WHEN NOT (n*100 >= m*132) AND NOT ((m*q - s*s)*100 >= 49*s*s) THEN 'smooth'
        |    WHEN (n*100 >= m*132) AND NOT ((m*q - s*s)*100 >= 49*s*s) THEN 'intermittent'
        |    WHEN NOT (n*100 >= m*132) AND ((m*q - s*s)*100 >= 49*s*s) THEN 'erratic'
        |    ELSE 'lumpy' END AS pattern
        |FROM ag ORDER BY event_type""".stripMargin,

    "q438_lsh_planner" -> {
      val cfgRows = graft.operators.Dedup.lshPlannerConfigs(128)
        .map { case (r, b, s50) => s"($r, $b, ${s50})" }.mkString(", ")
      s"""WITH t AS (SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) ws
         |  FROM documents WHERE length(trim(text)) > 0),
         |pr AS (SELECT floor((CAST(len(list_intersect(a.ws,b.ws)) AS DOUBLE)
         |    / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))))*10000.0 + 0.5)/10000.0 AS s
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.ws,b.ws)) AS DOUBLE)
         |    / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) >= 0.9),
         |cfg AS (SELECT * FROM (VALUES $cfgRows) AS v(r, b, s50)),
         |pp AS (SELECT cfg.r, cfg.b, cfg.s50,
         |    CASE WHEN pr.s >= 1.0 THEN CAST(1000000000 AS BIGINT)
         |      WHEN pr.s <= 0.0 THEN CAST(0 AS BIGINT) ELSE
         |      CAST(floor((1.0 - exp(CAST(cfg.b AS DOUBLE)
         |        *ln(1.0 - exp(CAST(cfg.r AS DOUBLE)*ln(pr.s)))))*1e9 + 0.5) AS BIGINT)
         |    END AS p9
         |  FROM pr CROSS JOIN cfg)
         |SELECT r AS rows_per_band, b AS bands,
         |  floor(s50*1000000.0 + 0.5)/1000000.0 AS s50,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  floor(CAST(SUM(CAST(p9 AS DECIMAL(38,0))) AS DOUBLE)
         |    /CAST(COUNT(*) AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS expected_recall
         |FROM pp GROUP BY 1, 2, 3 ORDER BY rows_per_band""".stripMargin
    },

    "q439_deming" ->
      """WITH per AS (SELECT user_id AS k, event_type AS c,
        |    SUM(CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT)) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IN ('click', 'view') GROUP BY 1, 2),
        |mm AS (SELECT k, c, CAST(s AS DOUBLE)/CAST(n AS DOUBLE)/1e4 AS m FROM per),
        |pd AS (SELECT CAST(floor(a.m*1e4 + 0.5) AS BIGINT) AS x,
        |    CAST(floor(b.m*1e4 + 0.5) AS BIGINT) AS y
        |  FROM mm a JOIN mm b ON a.k = b.k AND a.c = 'click' AND b.c = 'view'),
        |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy,
        |    SUM(CAST(x AS DECIMAL(38,0))*x) AS sxx, SUM(CAST(y AS DECIMAL(38,0))*y) AS syy,
        |    SUM(CAST(x AS DECIMAL(38,0))*y) AS sxy FROM pd),
        |fin AS (SELECT n,
        |    CAST(CAST(n AS DECIMAL(38,0))*sxx - sx*sx AS DOUBLE) AS cxx,
        |    CAST(CAST(n AS DECIMAL(38,0))*syy - sy*sy AS DOUBLE) AS cyy,
        |    CAST(CAST(n AS DECIMAL(38,0))*sxy - sx*sy AS DOUBLE) AS cxy,
        |    (cyy - cxx + sqrt((cyy - cxx)*(cyy - cxx) + 4.0*cxy*cxy))/(2.0*cxy) AS slope,
        |    (CAST(sy AS DOUBLE) - slope*CAST(sx AS DOUBLE))/CAST(n AS DOUBLE)/1e4 AS icept
        |  FROM ag)
        |SELECT n,
        |  CASE WHEN n >= 2 AND cxy <> 0 THEN
        |    floor(slope*1000000.0 + 0.5)/1000000.0 END AS slope,
        |  CASE WHEN n >= 2 AND cxy <> 0 THEN
        |    floor(icept*1000000.0 + 0.5)/1000000.0 END AS intercept
        |FROM fin""".stripMargin,

    "q440_bayes_ab" ->
      """WITH s AS (SELECT event_type AS arm, CAST(value AS DOUBLE) > 50.0 AS ok
        |  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |cl AS (SELECT arm, ok, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
        |tb AS (SELECT
        |  CAST(COALESCE(SUM(CASE WHEN arm = 'click' AND ok THEN c END), 0) AS BIGINT) AS sa,
        |  CAST(COALESCE(SUM(CASE WHEN arm = 'click' AND NOT ok THEN c END), 0) AS BIGINT) AS fa,
        |  CAST(COALESCE(SUM(CASE WHEN arm = 'view' AND ok THEN c END), 0) AS BIGINT) AS sb,
        |  CAST(COALESCE(SUM(CASE WHEN arm = 'view' AND NOT ok THEN c END), 0) AS BIGINT) AS fb
        |  FROM cl),
        |pp AS (SELECT sa, fa, sb, fb, sa + fa + sb + fb AS n,
        |  sa + 1 AS alA, fa + 1 AS beA, sb + 1 AS alB, fb + 1 AS beB FROM tb),
        |lf0 AS (SELECT gs.j,
        |  CAST(floor(ln(CAST(gs.j AS DOUBLE))*1e9 + 0.5) AS BIGINT) AS lnj
        |  FROM pp, (SELECT unnest(generate_series(1, (SELECT n + 4 FROM pp))) AS j) gs),
        |lf AS (SELECT j, CAST(SUM(lnj) OVER (ORDER BY j) AS BIGINT) AS f FROM lf0
        |  UNION ALL SELECT 0, 0),
        |lc AS (SELECT (SELECT f FROM lf WHERE j = pp.beA + pp.beB - 1)
        |  - (SELECT f FROM lf WHERE j = pp.beB - 1)
        |  - ((SELECT f FROM lf WHERE j = pp.alA - 1)
        |     + (SELECT f FROM lf WHERE j = pp.beA - 1)
        |     - (SELECT f FROM lf WHERE j = pp.alA + pp.beA - 1)) AS lnconst FROM pp),
        |tm AS MATERIALIZED (SELECT ks.i,
        |    lc.lnconst + f1.f - f2.f - l1.lnj - (f3.f - f4.f) AS t9
        |  FROM (SELECT unnest(generate_series(0, (SELECT alB - 1 FROM pp))) AS i) ks
        |  CROSS JOIN pp CROSS JOIN lc
        |  JOIN lf f1 ON f1.j = pp.alA + ks.i - 1
        |  JOIN lf f2 ON f2.j = pp.alA + pp.beA + pp.beB + ks.i - 1
        |  JOIN lf f3 ON f3.j = ks.i
        |  JOIN lf f4 ON f4.j = pp.beB + ks.i
        |  JOIN lf0 l1 ON l1.j = pp.beB + ks.i),
        |an AS (SELECT MAX(t9) AS mx FROM tm),
        |tl AS (SELECT SUM(CAST(floor(exp(CAST(tm.t9 - an.mx AS DOUBLE)/1e9)*1e15 + 0.5)
        |    AS DECIMAL(38,0))) AS ts FROM tm CROSS JOIN an)
        |SELECT pp.sa + pp.fa AS n_a, pp.sa AS succ_a,
        |  pp.sb + pp.fb AS n_b, pp.sb AS succ_b,
        |  floor(CAST(pp.alA AS DOUBLE)/CAST(pp.alA + pp.beA AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS posterior_mean_a,
        |  floor(CAST(pp.alB AS DOUBLE)/CAST(pp.alB + pp.beB AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS posterior_mean_b,
        |  floor(exp(CAST(an.mx AS DOUBLE)/1e9)*(CAST(tl.ts AS DOUBLE)/1e15)*1000000.0 + 0.5)/1000000.0 AS p_b_beats_a
        |FROM pp CROSS JOIN an CROSS JOIN tl""".stripMargin,

    "q441_format_census" ->
      """WITH st AS (SELECT source,
        |  CASE WHEN doc_id % 11 = 0 THEN 'User: hi' || chr(10) || 'Assistant: hello' || chr(10) || text
        |       WHEN doc_id % 13 = 0 THEN 'Q: why' || chr(10) || 'A: because' || chr(10) || text
        |       WHEN doc_id % 17 = 0 THEN '### Instruction' || chr(10) || 'do it' || chr(10) || '### Response' || chr(10) || 'done' || chr(10) || text
        |       ELSE text END AS t0
        |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
        |nt AS (SELECT source,
        |  replace(replace(replace(replace(replace(t0,
        |    chr(13)||chr(10), chr(10)), chr(13), chr(10)), chr(133), chr(10)),
        |    chr(8232), chr(10)), chr(8233), chr(10)) AS t FROM st),
        |per AS (SELECT source,
        |  CASE WHEN len(regexp_extract_all(t, '(?m)^(User|Assistant|System): ')) >= 2 THEN 1 ELSE 0 END AS chat,
        |  CASE WHEN len(regexp_extract_all(t, '(?m)^Q[:.]')) >= 1
        |    AND len(regexp_extract_all(t, '(?m)^A[:.]')) >= 1 THEN 1 ELSE 0 END AS qa,
        |  CASE WHEN len(regexp_extract_all(t, '(?m)^### Instruction')) >= 1
        |    AND len(regexp_extract_all(t, '(?m)^### Response')) >= 1 THEN 1 ELSE 0 END AS alpaca
        |  FROM nt)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(chat) AS BIGINT) AS n_chat, CAST(SUM(qa) AS BIGINT) AS n_qa,
        |  CAST(SUM(alpaca) AS BIGINT) AS n_alpaca,
        |  floor(CAST(SUM(greatest(chat, qa, alpaca)) AS DOUBLE)
        |    /CAST(COUNT(*) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS dialog_share
        |FROM per GROUP BY 1 ORDER BY source""".stripMargin,

    "q442_absorption" -> {
      val n = 16
      val head =
        """WITH pr AS (SELECT event_type AS f,
          |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |c AS (SELECT f, t, COUNT(*) AS c FROM pr WHERE t IS NOT NULL GROUP BY 1, 2),
          |ct AS (SELECT f, CAST(SUM(c) AS BIGINT) AS ctot FROM c GROUP BY 1),
          |st AS (SELECT DISTINCT s FROM (SELECT f AS s FROM c UNION ALL SELECT t FROM c)),
          |r0 AS (SELECT s, CASE WHEN s = 'purchase' THEN 1000000000000 ELSE 0 END AS p FROM st)""".stripMargin
      val iters = (1 to n).map { i =>
        s""",
           |r$i AS (SELECT st.s AS s, CASE WHEN st.s = 'purchase' THEN 1000000000000
           |  ELSE COALESCE(x.m, 0) END AS p FROM st LEFT JOIN (
           |  SELECT c.f AS s, CAST(SUM((CAST(p.p AS HUGEINT) * c.c) // ct.ctot) AS BIGINT) AS m
           |  FROM c JOIN ct USING (f) JOIN r${i - 1} p ON c.t = p.s GROUP BY 1) x
           |  ON st.s = x.s)""".stripMargin
      }.mkString
      head + iters +
        s"""
           |SELECT s AS state, CAST(p AS BIGINT) AS p_fx,
           |  floor((CAST(p AS DOUBLE)/1e12)*1000000.0 + 0.5)/1000000.0 AS p_convert
           |FROM r$n ORDER BY p_fx DESC, state""".stripMargin
    },

    "q443_holt_winters" -> {
      val ws = operators.EventOps.holtWintersWeights(0.3, 0.05, 0.2, 24, 96)
      val vals = ws.map { case (l, w9) => s"($l, $w9)" }.mkString(", ")
      val coverage9 = ws.map(_._2).sum
      s"""WITH e AS (SELECT event_type AS t, epoch_us(ts) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bo AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT t FROM e) tt
        |  CROSS JOIN (SELECT unnest(generate_series(bo.lo, bo.hi)) AS bin FROM bo) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |  FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |w AS (SELECT * FROM (VALUES $vals) t(l, w9)),
        |f AS (SELECT sv.t, sv.bin, sv.v, w.l, w.w9, sv2.v AS vl
        |  FROM sv CROSS JOIN w
        |  JOIN sv sv2 ON sv2.t = sv.t AND sv2.bin = sv.bin - w.l),
        |a AS (SELECT t, bin, COUNT(*) AS nav, CAST(MIN(v) AS BIGINT) AS v,
        |  SUM(CAST(w9 AS HUGEINT)*vl) AS f9
        |  FROM f GROUP BY 1, 2)
        |SELECT t AS event_type, bin, v AS n_events,
        |  floor(CAST(f9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS forecast_next,
        |  floor(CAST($coverage9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS weight_coverage
        |FROM a WHERE nav = 96 ORDER BY event_type, bin""".stripMargin
    },

    "q444_eb_shrinkage" ->
      """WITH per AS (SELECT l_suppkey AS grp, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS successes
        |  FROM lineitem WHERE l_suppkey IS NOT NULL AND l_returnflag IS NOT NULL
        |  GROUP BY 1),
        |p6 AS (SELECT grp, n, successes,
        |    CAST(floor(CAST(successes AS DOUBLE)/CAST(n AS DOUBLE)*1e6 + 0.5) AS BIGINT) AS p6
        |  FROM per),
        |ft AS (SELECT CAST(COUNT(*) AS BIGINT) AS g,
        |    SUM(CAST(p6 AS DECIMAL(38,0))) AS sp,
        |    SUM(CAST(p6 AS DECIMAL(38,0))*p6) AS spp FROM p6),
        |fin AS (SELECT p6.*, ft.g,
        |    CAST(ft.sp AS DOUBLE)/CAST(ft.g AS DOUBLE)/1e6 AS mu,
        |    CAST(CAST(ft.g AS DECIMAL(38,0))*ft.spp - ft.sp*ft.sp AS DOUBLE)
        |      /(CAST(ft.g AS DOUBLE)*CAST(ft.g AS DOUBLE))/1e12 AS v,
        |    mu*(1.0 - mu)/v - 1.0 AS common,
        |    mu*common AS alpha, (1.0 - mu)*common AS beta
        |  FROM p6 CROSS JOIN ft)
        |SELECT grp AS l_suppkey, n, successes,
        |  floor(CAST(p6 AS DOUBLE)/1e6*1000000.0 + 0.5)/1000000.0 AS raw_rate,
        |  CASE WHEN g >= 2 AND v > 0 AND v < mu*(1.0 - mu) THEN
        |    floor(alpha*1000000.0 + 0.5)/1000000.0 END AS prior_alpha,
        |  CASE WHEN g >= 2 AND v > 0 AND v < mu*(1.0 - mu) THEN
        |    floor(beta*1000000.0 + 0.5)/1000000.0 END AS prior_beta,
        |  CASE WHEN g >= 2 AND v > 0 AND v < mu*(1.0 - mu) THEN
        |    floor((CAST(successes AS DOUBLE) + alpha)
        |      /(CAST(n AS DOUBLE) + alpha + beta)*1000000.0 + 0.5)/1000000.0 END AS shrunken_rate
        |FROM fin ORDER BY l_suppkey""".stripMargin,

    "q445_order_recon" ->
      """WITH rc AS (SELECT l_orderkey,
        |    CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE)*100 + 0.5) AS DECIMAL(38,0))
        |      * (100 - CAST(floor(CAST(l_discount AS DOUBLE)*100 + 0.5) AS BIGINT))
        |      * (100 + CAST(floor(CAST(l_tax AS DOUBLE)*100 + 0.5) AS BIGINT))) AS BIGINT) AS rec6
        |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL AND l_tax IS NOT NULL GROUP BY 1),
        |j AS (SELECT o.o_orderkey,
        |    CAST(floor(CAST(o.o_totalprice AS DOUBLE)*100 + 0.5) AS BIGINT)*10000 AS hdr6,
        |    rc.rec6, rc.rec6 - CAST(floor(CAST(o.o_totalprice AS DOUBLE)*100 + 0.5) AS BIGINT)*10000 AS diff6
        |  FROM orders o JOIN rc ON o.o_orderkey = rc.l_orderkey
        |  WHERE o.o_orderkey IS NOT NULL AND o.o_totalprice IS NOT NULL)
        |SELECT o_orderkey,
        |  floor(CAST(hdr6 AS DOUBLE)/1e6*100.0 + 0.5)/100.0 AS header_total,
        |  floor(CAST(rec6 AS DOUBLE)/1e6*1000000.0 + 0.5)/1000000.0 AS recomputed_total,
        |  floor(CAST(diff6 AS DOUBLE)/1e6*1000000.0 + 0.5)/1000000.0 AS diff
        |FROM j ORDER BY abs(diff6) DESC, o_orderkey LIMIT 20""".stripMargin,

    "q446_streaks" ->
      """WITH ud AS (SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |i AS (SELECT u, d - row_number() OVER (PARTITION BY u ORDER BY d) AS isl FROM ud),
        |st AS (SELECT u, isl, CAST(COUNT(*) AS BIGINT) AS len FROM i GROUP BY 1, 2),
        |h AS (SELECT len, CAST(COUNT(*) AS BIGINT) AS n_streaks FROM st GROUP BY 1),
        |um AS (SELECT len, CAST(COUNT(*) AS BIGINT) AS n_users_max
        |  FROM (SELECT u, MAX(len) AS len FROM st GROUP BY 1) GROUP BY 1)
        |SELECT h.len AS streak_days, h.n_streaks,
        |  COALESCE(um.n_users_max, 0) AS n_users_max
        |FROM h LEFT JOIN um ON h.len = um.len ORDER BY streak_days""".stripMargin,

    "q447_attack_tolerance" -> {
      val rungs = Seq(0, 4, 16)
      val head =
        """WITH RECURSIVE b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
          |p AS (SELECT x.item AS a, y.item AS bb FROM b x JOIN b y
          |      ON x.basket = y.basket AND x.item < y.item),
          |pr AS (SELECT a, bb FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 3),
          |dg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
          |  FROM (SELECT a AS node FROM pr UNION ALL SELECT bb FROM pr) GROUP BY 1)""".stripMargin
      val blocks = rungs.map { k =>
        s""",
           |hub$k AS (SELECT node FROM dg ORDER BY deg DESC, node LIMIT $k),
           |pk$k AS (SELECT a, bb FROM pr WHERE a NOT IN (SELECT node FROM hub$k)
           |  AND bb NOT IN (SELECT node FROM hub$k)),
           |e$k AS (SELECT a AS s, bb AS d FROM pk$k UNION SELECT bb, a FROM pk$k),
           |reach$k AS (SELECT s, d FROM e$k
           |  UNION SELECT r.s, ee.d FROM reach$k r JOIN e$k ee ON r.d = ee.s),
           |lbl$k AS (SELECT s AS id, LEAST(s, MIN(d)) AS cluster FROM reach$k GROUP BY s),
           |sz$k AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS szz FROM lbl$k GROUP BY 1),
           |ag$k AS (SELECT CAST($k AS INT) AS hubs_removed,
           |  CAST(COALESCE(SUM(szz), 0) AS BIGINT) AS n_nodes,
           |  CAST(COUNT(*) AS BIGINT) AS n_components,
           |  CAST(COALESCE(MAX(szz), 0) AS BIGINT) AS gcc_size FROM sz$k)""".stripMargin
      }.mkString
      val sel = rungs.map(k => s"SELECT * FROM ag$k").mkString(" UNION ALL ")
      head + blocks +
        s"""
           |SELECT hubs_removed, n_nodes, n_components, gcc_size,
           |  CASE WHEN n_nodes > 0 THEN
           |    floor(CAST(gcc_size AS DOUBLE)/CAST(n_nodes AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS gcc_share
           |FROM ($sel) ORDER BY hubs_removed""".stripMargin
    },

    "q448_interleave" -> {
      val vals = (0 until 20).map(i => s"('src$i', 50000)").mkString(", ")
      s"""WITH w AS (SELECT * FROM (VALUES $vals) v(s, w6)),
         |r AS (SELECT CAST(d.source AS VARCHAR) AS s, d.doc_id AS id, w.w6
         |  FROM documents d JOIN w ON d.source = w.s
         |  WHERE d.source IS NOT NULL AND d.doc_id IS NOT NULL),
         |j AS (SELECT s, id, w6,
         |  CAST(row_number() OVER (PARTITION BY s ORDER BY id) AS BIGINT) AS rk FROM r),
         |sl AS (SELECT s, id, rk, CAST((rk*1000000 + w6 - 1) // w6 AS BIGINT) AS slot FROM j)
         |SELECT id AS doc_id, s AS source, rk AS rank_in_source, slot,
         |  CAST(row_number() OVER (ORDER BY slot, s, rk) AS BIGINT) AS global_pos
         |FROM sl ORDER BY global_pos""".stripMargin
    },

    "q449_chi_cells" ->
      """WITH s AS (SELECT CAST(lang AS VARCHAR) AS x, CAST(source AS VARCHAR) AS y
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL),
        |ce AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS o FROM s GROUP BY 1, 2),
        |rx AS (SELECT x, CAST(SUM(o) AS BIGINT) AS r FROM ce GROUP BY 1),
        |cy AS (SELECT y, CAST(SUM(o) AS BIGINT) AS c FROM ce GROUP BY 1),
        |tt AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM ce),
        |gr AS (SELECT rx.x, cy.y, rx.r, cy.c, tt.n, COALESCE(ce.o, 0) AS o
        |  FROM rx CROSS JOIN cy CROSS JOIN tt
        |  LEFT JOIN ce ON rx.x = ce.x AND cy.y = ce.y),
        |f AS (SELECT x, y, o,
        |  CAST(r AS DOUBLE)*CAST(c AS DOUBLE)/CAST(n AS DOUBLE) AS e,
        |  (CAST(o AS DOUBLE) - e)/sqrt(e) AS pres,
        |  (1.0 - CAST(r AS DOUBLE)/CAST(n AS DOUBLE))
        |    *(1.0 - CAST(c AS DOUBLE)/CAST(n AS DOUBLE)) AS ad
        |  FROM gr)
        |SELECT x, y, CAST(o AS BIGINT) AS observed,
        |  floor(e*1000000.0 + 0.5)/1000000.0 AS expected,
        |  floor(pres*1000000.0 + 0.5)/1000000.0 AS pearson_resid,
        |  CASE WHEN ad > 0 THEN
        |    floor(pres/sqrt(ad)*1000000.0 + 0.5)/1000000.0 END AS adjusted_resid
        |FROM f ORDER BY x, y""".stripMargin,

    "q450_decile_shift" ->
      """WITH r AS (SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS us,
        |    CAST(floor(CAST(o_totalprice AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS v4
        |  FROM orders WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
        |ct AS (SELECT (min(us) + max(us)) // 2 AS cut FROM r),
        |hh AS (SELECT CASE WHEN us >= ct.cut THEN 1 ELSE 0 END AS h, v4
        |  FROM r CROSS JOIN ct),
        |g AS (SELECT h, v4, CAST(COUNT(*) AS BIGINT) AS cnt FROM hh GROUP BY 1, 2),
        |c AS (SELECT h, v4,
        |  CAST(SUM(cnt) OVER (PARTITION BY h ORDER BY v4 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hc,
        |  CAST(SUM(cnt) OVER (PARTITION BY h) AS BIGINT) AS n FROM g),
        |q AS (SELECT CAST(ds.d AS INT) AS decile, c.h, MIN(c.v4) AS q4
        |  FROM c CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS d) ds
        |  WHERE c.hc*10 >= ds.d*c.n GROUP BY 1, 2)
        |SELECT COALESCE(q0.decile, q1.decile) AS decile,
        |  floor(CAST(q0.q4 AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS q_first_half,
        |  floor(CAST(q1.q4 AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS q_second_half,
        |  floor(CAST(q1.q4 - q0.q4 AS DOUBLE)/1e4*10000.0 + 0.5)/10000.0 AS shift
        |FROM (SELECT decile, q4 FROM q WHERE h = 0) q0
        |FULL OUTER JOIN (SELECT decile, q4 FROM q WHERE h = 1) q1 USING (decile)
        |ORDER BY decile""".stripMargin,

    "q451_page_hinkley" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bd AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |  CROSS JOIN (SELECT unnest(generate_series(bd.lo, bd.hi)) AS bin FROM bd) gs),
        |v AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |  FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |mo AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(floor(5.0*(sqrt(CAST(COUNT(*)*SUM(CAST(v AS HUGEINT)*v)
        |    - SUM(CAST(v AS HUGEINT))*SUM(CAST(v AS HUGEINT)) AS DOUBLE))
        |    /CAST(COUNT(*) AS DOUBLE))*1e9 + 0.5) AS BIGINT) AS l9
        |  FROM v GROUP BY 1),
        |p1 AS (SELECT t, bin, v,
        |  CAST(row_number() OVER (PARTITION BY t ORDER BY bin) AS BIGINT) AS i,
        |  CAST(SUM(v) OVER (PARTITION BY t ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS si
        |  FROM v),
        |p2 AS (SELECT t, bin,
        |  CAST(floor((CAST(v AS DOUBLE) - CAST(si AS DOUBLE)/CAST(i AS DOUBLE) - 0.0)*1e9 + 0.5) AS BIGINT) AS term9
        |  FROM p1),
        |p3 AS (SELECT t, bin,
        |  SUM(CAST(term9 AS HUGEINT)) OVER (PARTITION BY t ORDER BY bin ROWS UNBOUNDED PRECEDING) AS m9
        |  FROM p2),
        |p4 AS (SELECT t, bin, m9,
        |  MIN(m9) OVER (PARTITION BY t ORDER BY bin ROWS UNBOUNDED PRECEDING) AS mn9
        |  FROM p3),
        |p5 AS (SELECT p4.t, p4.bin, CAST(p4.m9 - p4.mn9 AS BIGINT) AS ph9,
        |  mo.l9, mo.n FROM p4 JOIN mo ON p4.t = mo.t)
        |SELECT t AS event_type, n AS n_bins,
        |  CASE WHEN l9 > 0 THEN floor(CAST(l9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 END AS threshold,
        |  floor(CAST(MAX(ph9) AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS max_ph,
        |  CAST(SUM(CASE WHEN l9 > 0 AND ph9 > l9 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
        |  MIN(CASE WHEN l9 > 0 AND ph9 > l9 THEN bin END) AS first_alarm_bin
        |FROM p5 GROUP BY t, n, l9 ORDER BY event_type""".stripMargin,

    "q452_fisher_ratio" ->
      """WITH x AS (SELECT CAST(label AS VARCHAR) AS cls,
        |    unnest([{'dim': i, 'x': CAST(embedding[i+1] AS DOUBLE)}
        |      FOR i IN range(0, len(embedding))]) AS u
        |  FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL),
        |f AS (SELECT cls, u.dim AS dim,
        |    CAST(floor(u.x*1e4 + 0.5) AS BIGINT) AS x4
        |  FROM x WHERE NOT isnan(u.x) AND NOT isinf(u.x)),
        |g AS (SELECT dim, cls, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x4 AS DECIMAL(38,0))) AS s,
        |    SUM(CAST(x4 AS DECIMAL(38,0))*x4) AS ss FROM f GROUP BY 1, 2),
        |t AS (SELECT dim, n, s,
        |    CAST(floor((CAST(s AS DOUBLE)/1e4)*(CAST(s AS DOUBLE)/1e4)
        |      /CAST(n AS DOUBLE)*1e6 + 0.5) AS BIGINT) AS bt,
        |    CAST(floor((CAST(ss AS DOUBLE)/1e8 - (CAST(s AS DOUBLE)/1e4)
        |      *(CAST(s AS DOUBLE)/1e4)/CAST(n AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS wt
        |  FROM g),
        |a AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS k_classes,
        |    CAST(SUM(n) AS BIGINT) AS n, SUM(CAST(s AS DECIMAL(38,0))) AS st,
        |    SUM(CAST(bt AS DECIMAL(38,0))) AS b,
        |    SUM(CAST(wt AS DECIMAL(38,0))) AS w FROM t GROUP BY 1),
        |fin AS (SELECT dim, k_classes, n,
        |    CAST(st AS DOUBLE)/1e4 AS grand,
        |    CAST(b AS DOUBLE)/1e6 - grand*grand/CAST(n AS DOUBLE) AS ssb,
        |    CAST(w AS DOUBLE)/1e6 AS ssw,
        |    (ssb/(CAST(k_classes AS DOUBLE) - 1))/(ssw/(CAST(n AS DOUBLE) - CAST(k_classes AS DOUBLE))) AS ff
        |  FROM a)
        |SELECT CAST(dim AS INT) AS dim, k_classes, n,
        |  CASE WHEN k_classes > 1 AND n > k_classes AND ssw > 0 THEN
        |    floor(ff*10000.0 + 0.5)/10000.0 END AS f_ratio
        |FROM fin ORDER BY dim""".stripMargin,

    "q453_its_excess" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT event_type AS t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bd AS (SELECT min(bin) AS lo, max(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT event_type AS t FROM e) tt
        |  CROSS JOIN (SELECT unnest(generate_series(bd.lo, bd.hi)) AS bin FROM bd) gs),
        |v AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |  FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |ct AS (SELECT (min(bin) + max(bin) + 1) // 2 AS cut FROM v),
        |pre AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_pre,
        |    SUM(CAST(bin AS DECIMAL(38,0))) AS sx, SUM(CAST(v AS DECIMAL(38,0))) AS sy,
        |    SUM(CAST(bin AS DECIMAL(38,0))*bin) AS sxx,
        |    SUM(CAST(bin AS DECIMAL(38,0))*v) AS sxy
        |  FROM v CROSS JOIN ct WHERE bin < ct.cut GROUP BY 1),
        |post AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_post,
        |    SUM(CAST(bin AS DECIMAL(38,0))) AS sb,
        |    CAST(SUM(v) AS BIGINT) AS actual_post
        |  FROM v CROSS JOIN ct WHERE bin >= ct.cut GROUP BY 1),
        |fin AS (SELECT pre.t, pre.n_pre, post.n_post, post.actual_post,
        |    CAST(CAST(pre.n_pre AS DECIMAL(38,0))*pre.sxx - pre.sx*pre.sx AS DOUBLE) AS cxx,
        |    CAST(CAST(pre.n_pre AS DECIMAL(38,0))*pre.sxy - pre.sx*pre.sy AS DOUBLE) AS cxy,
        |    cxy/cxx AS slope,
        |    (CAST(pre.sy AS DOUBLE) - slope*CAST(pre.sx AS DOUBLE))/CAST(pre.n_pre AS DOUBLE) AS b0,
        |    b0*CAST(post.n_post AS DOUBLE) + slope*CAST(post.sb AS DOUBLE) AS projected,
        |    CAST(post.actual_post AS DOUBLE) - projected AS excess
        |  FROM pre JOIN post ON pre.t = post.t)
        |SELECT t AS event_type, n_pre, n_post,
        |  CASE WHEN n_pre >= 2 AND cxx > 0 THEN
        |    floor(slope*1000000.0 + 0.5)/1000000.0 END AS pre_slope,
        |  actual_post,
        |  CASE WHEN n_pre >= 2 AND cxx > 0 THEN
        |    floor(projected*10000.0 + 0.5)/10000.0 END AS projected_post,
        |  CASE WHEN n_pre >= 2 AND cxx > 0 THEN
        |    floor(excess*10000.0 + 0.5)/10000.0 END AS excess,
        |  CASE WHEN n_pre >= 2 AND cxx > 0 AND projected <> 0 THEN
        |    floor(excess/projected*1000000.0 + 0.5)/1000000.0 END AS excess_share
        |FROM fin ORDER BY event_type""".stripMargin,

    "q454_ship_lag" ->
      """WITH l AS (SELECT l_orderkey,
        |    epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000 AS sd
        |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_shipdate IS NOT NULL),
        |o AS (SELECT o_orderkey,
        |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS od
        |  FROM orders WHERE o_orderkey IS NOT NULL AND o_orderdate IS NOT NULL),
        |lg AS (SELECT CAST(floor(CAST(l.sd - o.od AS DOUBLE)/7.0) AS BIGINT) AS lag_weeks
        |  FROM l JOIN o ON l.l_orderkey = o.o_orderkey),
        |b AS (SELECT lag_weeks, CAST(COUNT(*) AS BIGINT) AS n_lines FROM lg GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_lines) AS BIGINT) AS tn FROM b)
        |SELECT lag_weeks, n_lines,
        |  floor(CAST(n_lines AS DOUBLE)/CAST(tn AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS share,
        |  lag_weeks < 0 AS is_violation
        |FROM b CROSS JOIN t ORDER BY lag_weeks""".stripMargin,

    "q455_shapley" -> {
      // instance weights for k = 4 channels: s!(k-1-s)!
      def fact(x: Int): Long = (1 to x).foldLeft(1L)(_ * _)
      val wvals = (0 until 4).map(s => s"($s, ${fact(s) * fact(3 - s)})")
        .mkString(", ")
      s"""WITH ch AS (SELECT ch, CAST(row_number() OVER (ORDER BY ch) - 1 AS INT) AS idx
        |  FROM (SELECT DISTINCT event_type AS ch FROM events
        |        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |          AND event_type <> 'purchase')),
        |tc AS (SELECT DISTINCT e.user_id AS u, ch.idx
        |  FROM events e JOIN ch ON e.event_type = ch.ch WHERE e.user_id IS NOT NULL),
        |mk AS (SELECT user_id AS u,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL GROUP BY 1),
        |um AS (SELECT mk.conv, COALESCE(tm.m, 0) AS m
        |  FROM mk LEFT JOIN (SELECT u, CAST(SUM(1::BIGINT << idx) AS BIGINT) AS m
        |    FROM tc GROUP BY 1) tm ON mk.u = tm.u),
        |rt AS (SELECT m, CAST(floor(CAST(SUM(conv) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE)*1e9 + 0.5) AS BIGINT) AS v9
        |  FROM um GROUP BY 1),
        |kk AS (SELECT CAST(COUNT(*) AS INT) AS k FROM ch),
        |dom AS (SELECT gs.m, COALESCE(rt.v9, 0) AS v9
        |  FROM (SELECT unnest(generate_series(0,
        |    (SELECT (1::BIGINT << k) - 1 FROM kk))) AS m) gs
        |  LEFT JOIN rt ON gs.m = rt.m),
        |wn AS (SELECT * FROM (VALUES $wvals) v(s, wnum)),
        |ct AS (SELECT ch.ch, CAST(wn.wnum AS HUGEINT)*(d1.v9 - d0.v9) AS t
        |  FROM dom d0 CROSS JOIN ch
        |  JOIN dom d1 ON d1.m = d0.m + (1::BIGINT << ch.idx)
        |  JOIN wn ON wn.s = bit_count(d0.m)
        |  WHERE (d0.m >> ch.idx) & 1 = 0),
        |rc AS (SELECT ch.ch, CAST(COUNT(*) AS BIGINT) AS n_users_touched
        |  FROM tc JOIN ch ON tc.idx = ch.idx GROUP BY 1)
        |SELECT ct.ch AS channel, rc.n_users_touched,
        |  floor(CAST(SUM(ct.t) AS DOUBLE)/(24.0*1e9)*1000000.0 + 0.5)/1000000.0 AS shapley_value
        |FROM ct JOIN rc ON ct.ch = rc.ch
        |GROUP BY 1, 2 ORDER BY channel""".stripMargin
    },

    "q456_run_lengths" ->
      """WITH r AS (SELECT user_id AS u, event_type AS t,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |  - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS isl
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |runs AS (SELECT u, t, isl, CAST(COUNT(*) AS BIGINT) AS len FROM r GROUP BY 1, 2, 3),
        |a AS (SELECT t, CAST(SUM(len) AS BIGINT) AS n_events,
        |    CAST(COUNT(*) AS BIGINT) AS n_runs, CAST(MAX(len) AS BIGINT) AS max_run
        |  FROM runs GROUP BY 1)
        |SELECT t AS event_type, n_events, n_runs,
        |  floor(CAST(n_events AS DOUBLE)/CAST(n_runs AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS mean_run,
        |  max_run,
        |  floor(CAST(n_events - n_runs AS DOUBLE)/CAST(n_events AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS repeat_share
        |FROM a ORDER BY event_type""".stripMargin,

    "q457_basket_diversity" ->
      """WITH ob AS (SELECT l.l_orderkey AS o, p.p_brand AS b, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE l.l_orderkey IS NOT NULL AND p.p_brand IS NOT NULL GROUP BY 1, 2),
        |tt AS (SELECT o, CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS nb
        |  FROM ob GROUP BY 1),
        |po AS (SELECT ob.o, tt.n, tt.nb,
        |    SUM(CAST(floor(-(CAST(ob.c AS DOUBLE)/CAST(tt.n AS DOUBLE))
        |      *ln(CAST(ob.c AS DOUBLE)/CAST(tt.n AS DOUBLE))*1e9 + 0.5) AS HUGEINT)) AS e9
        |  FROM ob JOIN tt ON ob.o = tt.o GROUP BY 1, 2, 3)
        |SELECT n AS basket_size, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  floor(CAST(SUM(e9) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS mean_entropy,
        |  floor(CAST(SUM(nb) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS mean_brands
        |FROM po GROUP BY 1 ORDER BY basket_size""".stripMargin,

    "q458_pop_hit_rate" ->
      """WITH r AS (SELECT l_orderkey AS b, l_partkey AS i,
        |    (((l_orderkey % 2147483648) * 2654435761) % 4294967296) % 10000 < 2000 AS t
        |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |top AS (SELECT i FROM (SELECT i, COUNT(*) AS c FROM r WHERE NOT t GROUP BY 1)
        |  ORDER BY c DESC, i LIMIT 20),
        |ntr AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n FROM r WHERE NOT t),
        |ti AS (SELECT DISTINCT b, i FROM r WHERE t),
        |pb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN i IN (SELECT i FROM top) THEN 1 ELSE 0 END) AS BIGINT) AS h
        |  FROM ti GROUP BY 1)
        |SELECT ntr.n AS n_train_baskets, CAST(COUNT(*) AS BIGINT) AS n_test_baskets,
        |  CAST(20 AS INT) AS top_n,
        |  floor(CAST(SUM(pb.h) AS DOUBLE)/CAST(SUM(pb.n) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS item_hit_rate,
        |  floor(CAST(SUM(CASE WHEN pb.h > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    /CAST(COUNT(*) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS basket_hit_rate
        |FROM pb CROSS JOIN ntr GROUP BY ntr.n""".stripMargin,

    "q459_copurchase_hit" ->
      """WITH r AS (SELECT l_orderkey AS b, l_partkey AS i,
        |    (((l_orderkey % 2147483648) * 2654435761) % 4294967296) % 10000 < 2000 AS t
        |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |tb AS (SELECT DISTINCT b, i FROM r WHERE NOT t),
        |p AS (SELECT x.i AS a, y.i AS bb FROM tb x JOIN tb y ON x.b = y.b AND x.i < y.i),
        |pr AS (SELECT a, bb, CAST(COUNT(*) AS BIGINT) AS c FROM p GROUP BY 1, 2
        |  HAVING COUNT(*) >= 2),
        |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pr),
        |d AS (SELECT a AS i, bb AS rec, c FROM pr UNION ALL SELECT bb, a, c FROM pr),
        |tk AS (SELECT i, rec FROM (SELECT i, rec,
        |    row_number() OVER (PARTITION BY i ORDER BY c DESC, rec) AS rn FROM d)
        |  WHERE rn <= 5),
        |ti AS (SELECT DISTINCT b, i FROM r WHERE t),
        |sz AS (SELECT b FROM ti GROUP BY b HAVING COUNT(*) >= 2),
        |ca AS (SELECT ti.b, ti.i FROM ti JOIN sz USING (b)),
        |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ca),
        |ht AS (SELECT DISTINCT ca.b, ca.i FROM ca JOIN tk ON ca.i = tk.i
        |  JOIN ca c2 ON c2.b = ca.b AND c2.i = tk.rec),
        |nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ht)
        |SELECT np.n AS n_train_pairs, CAST(5 AS INT) AS k,
        |  nc.n AS n_candidates, nh.n AS n_hits,
        |  CASE WHEN nc.n > 0 THEN
        |    floor(CAST(nh.n AS DOUBLE)/CAST(nc.n AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS hit_rate
        |FROM np CROSS JOIN nc CROSS JOIN nh""".stripMargin,

    "q460_tenure_hazard" ->
      """WITH u AS (SELECT user_id AS u,
        |    min(epoch_us(ts) // 604800000000) AS w0,
        |    max(epoch_us(ts) // 604800000000) AS w1
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
        |mx AS (SELECT max(w1) AS maxw FROM u),
        |tn AS (SELECT w1 - w0 AS tenure_weeks,
        |    CASE WHEN w1 >= mx.maxw THEN 1 ELSE 0 END AS cens FROM u CROSS JOIN mx),
        |g AS (SELECT tenure_weeks, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(cens) AS BIGINT) AS n_censored FROM tn GROUP BY 1),
        |c AS (SELECT tenure_weeks, n, n_censored, n - n_censored AS n_churned,
        |    CAST(SUM(n) OVER (ORDER BY tenure_weeks DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk
        |  FROM g)
        |SELECT tenure_weeks, n_at_risk, CAST(n_churned AS BIGINT) AS n_churned,
        |  n_censored,
        |  floor(CAST(n_churned AS DOUBLE)/CAST(n_at_risk AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS hazard
        |FROM c ORDER BY tenure_weeks""".stripMargin,

    "q461_boilerplate_lines" ->
      """WITH st AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % 9 = 0 THEN text || chr(10) || 'All rights reserved worldwide.'
        |       WHEN doc_id % 6 = 0 THEN text || chr(10) || 'Subscribe to our newsletter today!'
        |       ELSE text END AS t
        |  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
        |    AND text IS NOT NULL),
        |ln AS (SELECT doc_id, source, trim(l) AS line
        |  FROM (SELECT doc_id, source, unnest(string_split(t, chr(10))) AS l FROM st)),
        |f AS (SELECT * FROM ln WHERE length(line) >= 10)
        |SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_occurrences,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        |FROM f GROUP BY 1 ORDER BY n_docs DESC, line LIMIT 50""".stripMargin,

    "q462_transition_latency" ->
      """WITH p AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER w AS to_type,
        |    (lead(epoch_us(ts)) OVER w - epoch_us(ts)) // 1000000 AS gap_s
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
        |  CAST(MAX(gap_s) AS BIGINT) AS max_gap_s,
        |  floor(CAST(SUM(gap_s) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE)*10000.0 + 0.5)/10000.0 AS mean_gap_s
        |FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q463_segment_migration" ->
      """WITH r AS (SELECT o_custkey AS cust,
        |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS us,
        |    CAST(floor(CAST(o_totalprice AS DOUBLE)*100 + 0.5) AS BIGINT) AS c2
        |  FROM orders WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_totalprice IS NOT NULL),
        |ct AS (SELECT (min(us) + max(us)) // 2 AS cut FROM r),
        |sp AS (SELECT CASE WHEN us >= ct.cut THEN 1 ELSE 0 END AS h, cust,
        |    CAST(SUM(c2) AS BIGINT) AS spv FROM r CROSS JOIN ct GROUP BY 1, 2),
        |rk AS (SELECT h, cust,
        |    CAST(row_number() OVER (PARTITION BY h ORDER BY spv, cust) AS BIGINT) AS rnk,
        |    CAST(COUNT(*) OVER (PARTITION BY h) AS BIGINT) AS n FROM sp),
        |sg AS (SELECT h, cust, CAST(((rnk - 1)*5) // n + 1 AS INT) AS seg FROM rk),
        |mm AS (SELECT COALESCE(s0.seg, 0) AS seg_first,
        |    COALESCE(s1.seg, 0) AS seg_second,
        |    CAST(COUNT(*) AS BIGINT) AS n_customers
        |  FROM (SELECT cust, seg FROM sg WHERE h = 0) s0
        |  FULL OUTER JOIN (SELECT cust, seg FROM sg WHERE h = 1) s1 USING (cust)
        |  GROUP BY 1, 2),
        |rt AS (SELECT seg_first, CAST(SUM(n_customers) AS BIGINT) AS t FROM mm GROUP BY 1)
        |SELECT mm.seg_first, mm.seg_second, mm.n_customers,
        |  floor(CAST(mm.n_customers AS DOUBLE)/CAST(rt.t AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS row_share
        |FROM mm JOIN rt USING (seg_first) ORDER BY seg_first, seg_second""".stripMargin,

    "q464_item_similarity" ->
      """WITH tb AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |p AS (SELECT x.i AS a, y.i AS bb FROM tb x JOIN tb y ON x.b = y.b AND x.i < y.i),
        |pr AS (SELECT a, bb, CAST(COUNT(*) AS BIGINT) AS c FROM p GROUP BY 1, 2
        |  HAVING COUNT(*) >= 3),
        |mg AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS m FROM tb GROUP BY 1),
        |d AS (SELECT a AS item, bb AS neighbor, c FROM pr
        |  UNION ALL SELECT bb, a, c FROM pr),
        |sc AS (SELECT d.item, d.neighbor, d.c, ma.m AS ma, mb.m AS mb,
        |    CAST((CAST(d.c AS HUGEINT)*d.c*1000000) // (CAST(ma.m AS HUGEINT)*mb.m) AS BIGINT) AS s6
        |  FROM d JOIN mg ma ON d.item = ma.i JOIN mg mb ON d.neighbor = mb.i),
        |rk AS (SELECT item, neighbor, c, ma, mb,
        |    CAST(row_number() OVER (PARTITION BY item ORDER BY s6 DESC, neighbor) AS INT) AS rn
        |  FROM sc)
        |SELECT item, rn AS rank, neighbor, c AS n_both,
        |  floor(CAST(c AS DOUBLE)/sqrt(CAST(ma AS DOUBLE)*CAST(mb AS DOUBLE))*1000000.0 + 0.5)/1000000.0 AS cosine
        |FROM rk WHERE rn <= 5 ORDER BY item, rank""".stripMargin,

    "q465_repeat_revenue" ->
      """WITH r AS (SELECT o_custkey AS cust,
        |    strftime(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)), '%Y-%m') AS month,
        |    CAST(floor(CAST(o_totalprice AS DOUBLE)*100 + 0.5) AS BIGINT) AS c2
        |  FROM orders WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_totalprice IS NOT NULL),
        |f AS (SELECT cust, MIN(month) AS m0 FROM r GROUP BY 1),
        |g AS (SELECT r.month, CAST(SUM(r.c2) AS BIGINT) AS tot,
        |    CAST(SUM(CASE WHEN r.month = f.m0 THEN r.c2 ELSE 0 END) AS BIGINT) AS nw,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders
        |  FROM r JOIN f ON r.cust = f.cust GROUP BY 1)
        |SELECT month, n_orders,
        |  floor(CAST(tot AS DOUBLE)/100*100.0 + 0.5)/100.0 AS revenue,
        |  floor(CAST(nw AS DOUBLE)/100*100.0 + 0.5)/100.0 AS new_revenue,
        |  floor(CAST(tot - nw AS DOUBLE)/100*100.0 + 0.5)/100.0 AS repeat_revenue,
        |  CASE WHEN tot > 0 THEN
        |    floor(CAST(tot - nw AS DOUBLE)/CAST(tot AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS repeat_share
        |FROM g ORDER BY month""".stripMargin,

    "q466_mean_dot" ->
      """WITH x AS (SELECT CAST(label AS VARCHAR) AS cls,
        |    unnest([{'dim': i, 'x': CAST(embedding[i+1] AS DOUBLE)}
        |      FOR i IN range(0, len(embedding))]) AS u
        |  FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL),
        |f AS (SELECT cls, u.dim AS dim, CAST(floor(u.x*1e6 + 0.5) AS BIGINT) AS x6
        |  FROM x WHERE NOT isnan(u.x) AND NOT isinf(u.x)),
        |s AS (SELECT cls, dim, SUM(CAST(x6 AS DECIMAL(38,0))) AS s FROM f GROUP BY 1, 2),
        |q AS (SELECT cls, SUM(CAST(x6 AS DECIMAL(38,0))*x6) AS q FROM f GROUP BY 1),
        |n AS (SELECT CAST(label AS VARCHAR) AS cls, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL GROUP BY 1),
        |d AS (SELECT a.cls AS label_a, b.cls AS label_b, SUM(a.s*b.s) AS dot
        |  FROM s a JOIN s b ON a.dim = b.dim AND a.cls <= b.cls GROUP BY 1, 2)
        |SELECT d.label_a, d.label_b, na.n AS n_a, nb.n AS n_b,
        |  CASE WHEN d.label_a <> d.label_b THEN
        |    floor(CAST(d.dot AS DOUBLE)/(CAST(na.n AS DOUBLE)*CAST(nb.n AS DOUBLE))/1e12*1000000.0 + 0.5)/1000000.0
        |  WHEN na.n >= 2 THEN
        |    floor(CAST(d.dot - q.q AS DOUBLE)/(CAST(na.n AS DOUBLE)*(CAST(na.n AS DOUBLE) - 1.0))/1e12*1000000.0 + 0.5)/1000000.0
        |  END AS mean_dot
        |FROM d JOIN n na ON d.label_a = na.cls JOIN n nb ON d.label_b = nb.cls
        |LEFT JOIN q ON d.label_a = q.cls
        |ORDER BY label_a, label_b""".stripMargin,

    "q467_activity_gini" ->
      """WITH per AS (SELECT event_type AS t, user_id AS u, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL GROUP BY 1, 2),
        |rk AS (SELECT t, x,
        |    CAST(row_number() OVER (PARTITION BY t ORDER BY x, u) AS BIGINT) AS r,
        |    CAST(COUNT(*) OVER (PARTITION BY t) AS BIGINT) AS n FROM per),
        |a AS (SELECT t, n, CAST(SUM(x) AS BIGINT) AS sx,
        |    SUM(CAST(r AS HUGEINT)*x) AS srx FROM rk GROUP BY 1, 2)
        |SELECT t AS event_type, n AS n_users, sx AS total_events,
        |  CASE WHEN n >= 2 AND sx > 0 THEN
        |    floor((2.0*CAST(srx AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0)*CAST(sx AS DOUBLE))
        |      /(CAST(n AS DOUBLE)*CAST(sx AS DOUBLE))*1000000.0 + 0.5)/1000000.0 END AS gini
        |FROM a ORDER BY event_type""".stripMargin,

    "q468_touch_depth" ->
      """WITH d AS (SELECT user_id AS u,
        |    COUNT(DISTINCT CASE WHEN event_type <> 'purchase' THEN event_type END) AS n_channels,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL GROUP BY 1)
        |SELECT n_channels, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(conv) AS BIGINT) AS n_converted,
        |  floor(CAST(SUM(conv) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS conversion_rate
        |FROM d GROUP BY 1 ORDER BY n_channels""".stripMargin,

    "q469_sbg_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |i AS (SELECT u, d - row_number() OVER (PARTITION BY u ORDER BY d) AS isl FROM ud),
        |st AS (SELECT CAST(COUNT(*) - 1 AS BIGINT) AS t FROM i GROUP BY u, isl),
        |h AS (SELECT t AS tw, CAST(COUNT(*) AS BIGINT) AS n FROM st GROUP BY 1),
        |bd AS (SELECT least(CAST(max(tw) AS BIGINT), 26) AS hi FROM h),
        |by2 AS (SELECT CAST(COALESCE(SUM(CASE WHEN tw > 26 THEN n END), 0) AS BIGINT) AS b FROM h),
        |g AS (SELECT gs.t, COALESCE(h.n, 0) AS n
        |  FROM (SELECT unnest(generate_series(0, (SELECT hi FROM bd))) AS t) gs
        |  LEFT JOIN h ON gs.t = h.tw),
        |sv AS (SELECT g.t,
        |    CAST(SUM(g.n) OVER (ORDER BY g.t DESC ROWS UNBOUNDED PRECEDING) + by2.b AS BIGINT) AS ns
        |  FROM g CROSS JOIN by2),
        |lg AS (SELECT t, ns, lag(ns) OVER (ORDER BY t) AS pv FROM sv),
        |pt AS (SELECT CAST(floor(CAST(ns AS DOUBLE)/CAST(pv AS DOUBLE)*1e9 + 0.5) AS BIGINT) AS r9, t
        |  FROM lg WHERE t >= 1 AND pv > 0 AND ns > 0),
        |p2 AS (SELECT r9, (t - 1)*(r9 - 1000000000) AS y9 FROM pt),
        |ft AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
        |    SUM(CAST(r9 AS DECIMAL(38,0))) AS sx, SUM(CAST(y9 AS DECIMAL(38,0))) AS sy,
        |    SUM(CAST(r9 AS DECIMAL(38,0))*r9) AS sxx, SUM(CAST(r9 AS DECIMAL(38,0))*y9) AS sxy
        |  FROM p2),
        |ab AS (SELECT m,
        |    CAST(CAST(m AS DECIMAL(38,0))*sxx - sx*sx AS DOUBLE) AS det,
        |    CAST(CAST(m AS DECIMAL(38,0))*sxy - sx*sy AS DOUBLE) AS num,
        |    num/det AS a,
        |    (a*CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE))/CAST(m AS DOUBLE)/1e9 AS b,
        |    m >= 2 AND det > 0 AND
        |      (a*CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE))/CAST(m AS DOUBLE)/1e9 > 0 AND
        |      a - (a*CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE))/CAST(m AS DOUBLE)/1e9 > 0 AS ok
        |  FROM ft),
        |nz AS (SELECT ns AS n0 FROM sv WHERE t = 0),
        |pj AS (SELECT sv.t, sv.ns, ab.a, ab.b, ab.ok,
        |    SUM(CASE WHEN sv.t = 0 OR NOT ab.ok THEN 0 ELSE
        |      CAST(floor((ln(ab.b + CAST(sv.t AS DOUBLE) - 1.0)
        |        - ln(ab.a + CAST(sv.t AS DOUBLE) - 1.0))*1e9 + 0.5) AS BIGINT) END)
        |      OVER (ORDER BY sv.t ROWS UNBOUNDED PRECEDING) AS c9
        |  FROM sv CROSS JOIN ab)
        |SELECT pj.t AS duration, pj.ns AS n_surviving,
        |  floor(CAST(pj.ns AS DOUBLE)/CAST(nz.n0 AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS actual_survival,
        |  CASE WHEN pj.ok THEN
        |    floor(exp(CAST(pj.c9 AS DOUBLE)/1e9)*1000000.0 + 0.5)/1000000.0 END AS projected_survival,
        |  CASE WHEN pj.ok THEN floor((pj.a - pj.b)*1000000.0 + 0.5)/1000000.0 END AS alpha,
        |  CASE WHEN pj.ok THEN floor(pj.b*1000000.0 + 0.5)/1000000.0 END AS beta
        |FROM pj CROSS JOIN nz ORDER BY duration""".stripMargin,

    "q470_basket_fit" ->
      """WITH k AS (SELECT l_orderkey AS o, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
        |h AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM k GROUP BY 1),
        |mo AS (SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(k*n) AS BIGINT) AS s,
        |    CAST(MAX(k) AS BIGINT) AS kmax FROM h),
        |lm AS (SELECT n, CAST(s AS DOUBLE)/CAST(n AS DOUBLE) AS lambda,
        |    ln(CAST(s AS DOUBLE)/CAST(n AS DOUBLE)) AS lnl,
        |    ln(exp(CAST(s AS DOUBLE)/CAST(n AS DOUBLE)) - 1.0) AS lnden FROM mo),
        |g AS (SELECT gs.k, COALESCE(h.n, 0) AS n_orders
        |  FROM (SELECT unnest(generate_series(1, (SELECT kmax FROM mo))) AS k) gs
        |  LEFT JOIN h ON gs.k = h.k),
        |lf AS (SELECT k, n_orders,
        |    CAST(SUM(CAST(floor(ln(CAST(k AS DOUBLE))*1e9 + 0.5) AS BIGINT))
        |      OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lf9
        |  FROM g)
        |SELECT lf.k AS basket_size, lf.n_orders,
        |  floor(CAST(lf.n_orders AS DOUBLE)/CAST(lm.n AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS share,
        |  floor(exp(CAST(lf.k AS DOUBLE)*lm.lnl - CAST(lf.lf9 AS DOUBLE)/1e9 - lm.lnden)*1000000.0 + 0.5)/1000000.0 AS ztp_share
        |FROM lf CROSS JOIN lm ORDER BY basket_size""".stripMargin,

    // IVF-PQ: the oracle replays the full pipeline — coarse sample,
    // disjoint PQ sample residuals, per-subspace L2 codes,
    // reconstruction, nProbe candidate join, ADC shortlist, exact
    // re-rank — with the same tie rules on the same fold doubles.
    "q471_ivfpq_topk" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    ((vec_id % 2147483648) * 2654435761) % 4294967296 AS h FROM embeddings),
        |ord AS (SELECT vec_id, v, row_number() OVER (ORDER BY h, vec_id) AS rn FROM c),
        |cent AS (SELECT v AS cv, CAST(rn - 1 AS INT) AS cid FROM ord WHERE rn <= 16),
        |pqs AS (SELECT v AS pv, CAST(rn - 17 AS INT) AS sid FROM ord WHERE rn BETWEEN 17 AND 32),
        |pqa AS (SELECT sid, pv, cv FROM (
        |  SELECT p.sid, p.pv, cent.cv,
        |    row_number() OVER (PARTITION BY p.sid
        |      ORDER BY list_cosine_similarity(p.pv, cent.cv) DESC, cent.cid) AS rr
        |  FROM pqs p CROSS JOIN cent) WHERE rr = 1),
        |pres AS (SELECT sid, list_transform(generate_series(1, len(pv)), i -> pv[i] - cv[i]) AS rv FROM pqa),
        |asg AS (SELECT vec_id, v, cid, cv FROM (
        |  SELECT a.vec_id, a.v, cent.cid, cent.cv,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.v, cent.cv) DESC, cent.cid) AS rr
        |  FROM c a CROSS JOIN cent) WHERE rr = 1),
        |res AS (SELECT vec_id, cid, cv,
        |    list_transform(generate_series(1, len(v)), i -> v[i] - cv[i]) AS rv FROM asg),
        |codes AS (SELECT vec_id, m, sid FROM (
        |  SELECT r.vec_id, mm.m, p.sid,
        |    row_number() OVER (PARTITION BY r.vec_id, mm.m
        |      ORDER BY list_distance(r.rv[mm.m*16+1:(mm.m+1)*16], p.rv[mm.m*16+1:(mm.m+1)*16]) ASC, p.sid) AS rr
        |  FROM res r CROSS JOIN (SELECT CAST(range AS INT) AS m FROM range(0,4)) mm
        |    CROSS JOIN pres p) WHERE rr = 1),
        |reconr AS (SELECT codes.vec_id,
        |    flatten(list(pres.rv[codes.m*16+1:(codes.m+1)*16] ORDER BY codes.m)) AS rrv
        |  FROM codes JOIN pres USING (sid) GROUP BY codes.vec_id),
        |recon AS (SELECT res.vec_id, res.cid,
        |    list_transform(generate_series(1, len(res.cv)), i -> res.cv[i] + rrv[i]) AS fv
        |  FROM res JOIN reconr USING (vec_id)),
        |probes AS (SELECT vec_id AS q_id, v AS qv, cid AS probe FROM (
        |  SELECT a.vec_id, a.v, cent.cid,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.v, cent.cv) DESC, cent.cid) AS rr
        |  FROM c a CROSS JOIN cent WHERE a.vec_id < 10) WHERE rr <= 4),
        |cand AS (SELECT p.q_id, p.qv, r.vec_id AS n_id, list_dot_product(p.qv, r.fv) AS adc
        |  FROM probes p JOIN recon r ON r.cid = p.probe AND r.vec_id <> p.q_id),
        |short AS (SELECT q_id, qv, n_id, adc FROM (
        |  SELECT q_id, qv, n_id, adc,
        |    row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS rr
        |  FROM cand) WHERE rr <= 20),
        |ex AS (SELECT s.q_id, s.n_id, s.adc, list_cosine_similarity(s.qv, cb.v) AS cosine
        |  FROM short s JOIN c cb ON cb.vec_id = s.n_id),
        |fin AS (SELECT q_id, n_id, adc, cosine,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn FROM ex)
        |SELECT q_id, CAST(rn AS INT) AS "rank", n_id,
        |  floor(cosine*10000.0 + 0.5)/10000.0 AS cosine,
        |  floor(adc*10000.0 + 0.5)/10000.0 AS adc
        |FROM fin WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

    // PGM decode+resize: the oracle recomputes every resized pixel
    // straight from the synthesis formula — it never parses a byte,
    // so the hash match certifies the real decoder + integer resize.
    "q472_pgm_resize" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |px AS (SELECT d.doc_id, r.r, c.c,
        |    CAST((d.doc_id*31 + r.r*7 + c.c*13) % 256 AS BIGINT) AS p
        |  FROM d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS r) r
        |  CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS c) c)
        |SELECT doc_id, CAST(r // 4 AS INT) AS out_row, CAST(c // 4 AS INT) AS out_col,
        |  CAST(SUM(p) // 16 AS INT) AS px
        |FROM px GROUP BY 1, 2, 3 ORDER BY doc_id, out_row, out_col""".stripMargin,

    // WAV-PCM decode: same pattern — formula samples, never bytes.
    "q473_wav_stats" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |s AS (SELECT d.doc_id, ((d.doc_id*7919 + i.i*104729) % 65536) - 32768 AS smp
        |  FROM d CROSS JOIN (SELECT unnest(generate_series(0, 479)) AS i) i)
        |SELECT doc_id, CAST(480 AS BIGINT) AS n_samples,
        |  CAST(8000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels,
        |  CAST(MAX(abs(smp)) AS BIGINT) AS peak,
        |  floor(sqrt(CAST(SUM(smp*smp) AS DOUBLE)/CAST(480 AS DOUBLE))*1000000.0 + 0.5)/1000000.0 AS rms
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // KMV: min-k sets replayed with a window rank; union sketch and
    // rho from list algebra; every estimate the same pinned division.
    "q474_kmv_overlap" ->
      """WITH ri AS (SELECT DISTINCT event_type AS st, user_id AS i
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |r AS (SELECT DISTINCT st, ((i % 2147483648) * 2654435761) % 4294967296 AS h FROM ri),
        |mk AS (SELECT st AS s, list(h ORDER BY h) AS mka FROM (
        |    SELECT st, h, row_number() OVER (PARTITION BY st ORDER BY h) AS rn FROM r)
        |  WHERE rn <= 64 GROUP BY st),
        |ex AS (SELECT st AS s, CAST(COUNT(*) AS BIGINT) AS exd FROM ri GROUP BY 1),
        |ps AS (SELECT mk.s, mk.mka,
        |    CASE WHEN len(mk.mka) < 64 THEN CAST(len(mk.mka) AS DOUBLE)
        |      ELSE floor(63.0*4294967296.0/CAST(mka[64] AS DOUBLE)*10000.0 + 0.5)/10000.0 END AS est,
        |    ex.exd FROM mk JOIN ex USING (s)),
        |pr AS (SELECT a.s AS set_a, b.s AS set_b, a.mka AS ka, b.mka AS kb,
        |    a.est AS ea, a.exd AS xa, b.est AS eb, b.exd AS xb
        |  FROM ps a JOIN ps b ON a.s < b.s),
        |u AS (SELECT *, list_sort(list_distinct(ka || kb))[1:64] AS ku FROM pr),
        |cc AS (SELECT *, len(list_intersect(list_intersect(ku, ka), kb)) AS c,
        |    len(ku) AS nu FROM u),
        |es AS (SELECT *, CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
        |    ELSE floor(63.0*4294967296.0/CAST(ku[64] AS DOUBLE)*10000.0 + 0.5)/10000.0 END AS eu
        |  FROM cc),
        |ints AS (SELECT x.st AS ia, y.st AS ib, CAST(COUNT(*) AS BIGINT) AS xi
        |  FROM ri x JOIN ri y ON x.i = y.i AND x.st < y.st GROUP BY 1, 2)
        |SELECT set_a, set_b, CAST(64 AS INT) AS k_used,
        |  ea AS est_distinct_a, xa AS exact_distinct_a,
        |  eb AS est_distinct_b, xb AS exact_distinct_b,
        |  floor(CAST(c AS DOUBLE)/CAST(nu AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS est_jaccard,
        |  floor(CAST(COALESCE(xi, 0) AS DOUBLE)/CAST(xa + xb - COALESCE(xi, 0) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS exact_jaccard,
        |  floor(CAST(c AS DOUBLE)*eu/CAST(nu AS DOUBLE)*10000.0 + 0.5)/10000.0 AS est_intersection,
        |  CAST(COALESCE(xi, 0) AS BIGINT) AS exact_intersection
        |FROM es LEFT JOIN ints ON set_a = ia AND set_b = ib
        |ORDER BY set_a, set_b""".stripMargin,

    // Concurrency sweep: boundary collapse, window cumulative level,
    // lead() widths, level-domain cumulative for p95 — identical
    // integers, identical pinned divisions.
    "q475_concurrency" ->
      """WITH o AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
        |       THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sx AS (SELECT user_id, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sess, ts FROM o),
        |se AS (SELECT user_id, sess, epoch_us(MIN(CAST(ts AS TIMESTAMP))) AS a,
        |    epoch_us(MAX(CAST(ts AS TIMESTAMP))) AS b FROM sx GROUP BY 1, 2),
        |bd AS (SELECT us, CAST(SUM(d) AS BIGINT) AS net FROM (
        |    SELECT a AS us, 1 AS d FROM se UNION ALL SELECT b, -1 FROM se) GROUP BY 1),
        |lv AS (SELECT us, SUM(net) OVER (ORDER BY us ROWS UNBOUNDED PRECEDING) AS level,
        |    lead(us) OVER (ORDER BY us) AS nxt FROM bd),
        |w2 AS (SELECT CAST(level AS BIGINT) AS level, CAST(nxt - us AS HUGEINT) AS w
        |  FROM lv WHERE nxt IS NOT NULL),
        |bl AS (SELECT level, SUM(w) AS lw FROM w2 GROUP BY 1),
        |cm AS (SELECT level, lw, SUM(lw) OVER (ORDER BY level ROWS UNBOUNDED PRECEDING) AS cw FROM bl),
        |sw AS (SELECT SUM(CAST(level AS HUGEINT)*lw) AS num, SUM(lw) AS hor,
        |    CAST(MAX(level) AS BIGINT) AS l_max FROM cm),
        |p95 AS (SELECT CAST(MIN(level) AS BIGINT) AS l_p95 FROM cm CROSS JOIN sw
        |  WHERE cw*100 >= hor*95),
        |ba AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |    SUM(CAST(b - a AS HUGEINT)) AS durus FROM se)
        |SELECT n_sessions,
        |  floor(CAST(hor AS DOUBLE)/1e6*1000000.0 + 0.5)/1000000.0 AS horizon_s,
        |  floor(CAST(n_sessions AS DOUBLE)/(CAST(hor AS DOUBLE)/1e6)*3600.0*1000000.0 + 0.5)/1000000.0 AS lambda_per_hour,
        |  floor(CAST(durus AS DOUBLE)/1e6/CAST(n_sessions AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS w_mean_s,
        |  floor(CAST(num AS DOUBLE)/CAST(hor AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS l_time_avg,
        |  l_max, l_p95,
        |  floor(lambda_per_hour/3600.0*w_mean_s*1000000.0 + 0.5)/1000000.0 AS l_littles,
        |  floor(abs(l_littles - l_time_avg)*1000000.0 + 0.5)/1000000.0 AS identity_gap
        |FROM ba CROSS JOIN sw CROSS JOIN p95""".stripMargin,

    // Bradley-Terry: duels from within-order brand quantity sums, then
    // the unrolled MM recursion in the same 1e-9/1e18 fixed point.
    "q476_bradley_terry" -> {
      val n = 8
      val head =
        """WITH li AS (SELECT l.l_orderkey AS c, p.p_brand AS e2,
          |    SUM(CAST(floor(CAST(l.l_quantity AS DOUBLE)*1e4 + 0.5) AS BIGINT)) AS s4
          |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          |  WHERE l.l_orderkey IS NOT NULL AND p.p_brand IS NOT NULL
          |    AND l.l_quantity IS NOT NULL GROUP BY 1, 2),
          |du AS (SELECT a.e2 AS i, b.e2 AS j,
          |    CASE WHEN a.s4 > b.s4 THEN 1 ELSE 0 END AS wi
          |  FROM li a JOIN li b ON a.c = b.c AND a.e2 < b.e2 WHERE a.s4 <> b.s4),
          |cells AS MATERIALIZED (SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(wi) AS BIGINT) AS w
          |  FROM du GROUP BY 1, 2),
          |und AS MATERIALIZED (SELECT i AS ea, j AS eb, n FROM cells UNION ALL SELECT j, i, n FROM cells),
          |wins AS MATERIALIZED (SELECT e, CAST(SUM(w) AS BIGINT) AS wins FROM (
          |    SELECT i AS e, w FROM cells UNION ALL SELECT j, n - w FROM cells) GROUP BY 1),
          |ne AS (SELECT COUNT(*) AS nent FROM wins),
          |p0 AS (SELECT e, CAST(1000000000 AS BIGINT) AS p9 FROM wins)""".stripMargin
      val iters = (1 to n).map { r =>
        s""",
           |d$r AS (SELECT und.ea, SUM((CAST(und.n AS HUGEINT)*1000000000000000000)
           |    // (pa.p9 + pb.p9)) AS d18
           |  FROM und JOIN p${r - 1} pa ON und.ea = pa.e JOIN p${r - 1} pb ON und.eb = pb.e
           |  GROUP BY 1),
           |u$r AS (SELECT wins.e, CASE WHEN d$r.d18 IS NULL OR d$r.d18 <= 0 THEN 0
           |    ELSE CAST((CAST(wins.wins AS HUGEINT)*1000000000000000000) // d$r.d18 AS BIGINT)
           |    END AS p0v
           |  FROM wins LEFT JOIN d$r ON wins.e = d$r.ea),
           |t$r AS (SELECT SUM(CAST(p0v AS HUGEINT)) AS tot FROM u$r),
           |p$r AS MATERIALIZED (SELECT e, CAST((CAST(p0v AS HUGEINT) * nent * 1000000000) // tot AS BIGINT) AS p9
           |  FROM u$r CROSS JOIN t$r CROSS JOIN ne)""".stripMargin
      }.mkString
      head + iters +
        s"""
           |, losses AS (SELECT ea AS e, CAST(SUM(n) AS BIGINT) AS totn FROM und GROUP BY 1)
           |SELECT wins.e AS p_brand, wins.wins,
           |  losses.totn - wins.wins AS losses, p$n.p9,
           |  floor(CAST(p$n.p9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS strength
           |FROM wins JOIN losses USING (e) JOIN p$n ON wins.e = p$n.e
           |ORDER BY p$n.p9 DESC, p_brand""".stripMargin
    },

    // Betweenness: 3 forward BFS layers with exact path counts, two
    // backward dependency layers in the same fixed point, 4 sampled
    // sources -- every floor division independent, sums order-free.
    "q477_betweenness" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |p AS (SELECT x.item AS item_a, y.item AS item_b FROM b x JOIN b y
        |      ON x.basket = y.basket AND x.item < y.item),
        |cab AS (SELECT item_a, item_b FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |e AS MATERIALIZED (SELECT item_a AS src, item_b AS dst FROM cab
        |      UNION ALL SELECT item_b, item_a FROM cab),
        |nodes AS MATERIALIZED (SELECT DISTINCT src AS v FROM e),
        |s4 AS (SELECT v AS s FROM nodes
        |  ORDER BY ((v % 2147483648) * 2654435761) % 4294967296, v LIMIT 4),
        |l0 AS (SELECT s, s AS v, CAST(1 AS HUGEINT) AS sig FROM s4),
        |c1 AS (SELECT l0.s, e.dst AS v, SUM(l0.sig) AS sig FROM l0
        |  JOIN e ON l0.v = e.src GROUP BY 1, 2),
        |l1 AS MATERIALIZED (SELECT c1.s, c1.v, c1.sig FROM c1 LEFT JOIN l0
        |  ON c1.s = l0.s AND c1.v = l0.v WHERE l0.v IS NULL),
        |v1 AS (SELECT s, v FROM l0 UNION ALL SELECT s, v FROM l1),
        |c2 AS (SELECT l1.s, e.dst AS v, SUM(l1.sig) AS sig FROM l1
        |  JOIN e ON l1.v = e.src GROUP BY 1, 2),
        |l2 AS MATERIALIZED (SELECT c2.s, c2.v, c2.sig FROM c2 LEFT JOIN v1
        |  ON c2.s = v1.s AND c2.v = v1.v WHERE v1.v IS NULL),
        |v2 AS (SELECT * FROM v1 UNION ALL SELECT s, v FROM l2),
        |c3 AS (SELECT l2.s, e.dst AS v, SUM(l2.sig) AS sig FROM l2
        |  JOIN e ON l2.v = e.src GROUP BY 1, 2),
        |l3 AS MATERIALIZED (SELECT c3.s, c3.v, c3.sig FROM c3 LEFT JOIN v2
        |  ON c3.s = v2.s AND c3.v = v2.v WHERE v2.v IS NULL),
        |d3 AS (SELECT s, v, CAST(0 AS BIGINT) AS d9 FROM l3),
        |t2 AS (SELECT l2.s, l2.v, CAST(SUM((l2.sig * (1000000000 + d3.d9)) // l3.sig) AS BIGINT) AS td
        |  FROM l2 JOIN e ON l2.v = e.src
        |  JOIN l3 ON l3.s = l2.s AND l3.v = e.dst
        |  JOIN d3 ON d3.s = l3.s AND d3.v = l3.v GROUP BY 1, 2),
        |d2 AS MATERIALIZED (SELECT l2.s, l2.v, COALESCE(t2.td, 0) AS d9 FROM l2
        |  LEFT JOIN t2 ON l2.s = t2.s AND l2.v = t2.v),
        |t1 AS (SELECT l1.s, l1.v, CAST(SUM((l1.sig * (1000000000 + d2.d9)) // l2.sig) AS BIGINT) AS td
        |  FROM l1 JOIN e ON l1.v = e.src
        |  JOIN l2 ON l2.s = l1.s AND l2.v = e.dst
        |  JOIN d2 ON d2.s = l2.s AND d2.v = l2.v GROUP BY 1, 2),
        |d1 AS (SELECT l1.s, l1.v, COALESCE(t1.td, 0) AS d9 FROM l1
        |  LEFT JOIN t1 ON l1.s = t1.s AND l1.v = t1.v),
        |bc AS (SELECT v, CAST(SUM(CAST(d9 AS HUGEINT)) AS BIGINT) AS bc9 FROM (
        |    SELECT s, v, d9 FROM d1 UNION ALL SELECT s, v, d9 FROM d2
        |    UNION ALL SELECT s, v, d9 FROM d3) WHERE v <> s GROUP BY 1)
        |SELECT nodes.v AS item, COALESCE(bc.bc9, 0) AS bc9,
        |  floor(CAST(COALESCE(bc.bc9, 0) AS DOUBLE)/1e9/4*1000000.0 + 0.5)/1000000.0 AS betweenness
        |FROM nodes LEFT JOIN bc ON nodes.v = bc.v
        |ORDER BY bc9 DESC, item""".stripMargin,

    // Dialog structure: normalized line endings, anchored role
    // captures in document order, list algebra for violations.
    "q478_dialog_profile" ->
      """WITH st AS (SELECT source,
        |  CASE WHEN doc_id % 7 = 0 THEN 'User: hi' || chr(10) || 'Assistant: hello' || chr(10) || 'User: more' || chr(10) || 'User: again' || chr(10) || text
        |       WHEN doc_id % 11 = 0 THEN 'User: q' || chr(10) || 'Assistant: a' || chr(10) || text
        |       ELSE text END AS t0
        |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
        |nt AS (SELECT source,
        |  replace(replace(replace(replace(replace(t0,
        |    chr(13)||chr(10), chr(10)), chr(13), chr(10)), chr(133), chr(10)),
        |    chr(8232), chr(10)), chr(8233), chr(10)) AS t FROM st),
        |per AS (SELECT source,
        |    regexp_extract_all(t, '(?m)^(User|Assistant|System): ', 1) AS r FROM nt),
        |px AS (SELECT source, CAST(len(r) AS BIGINT) AS nt2,
        |    CAST(len(list_filter(r, x -> x = 'User')) AS BIGINT) AS nu,
        |    CAST(len(list_filter(r, x -> x = 'Assistant')) AS BIGINT) AS na,
        |    CAST(len(list_filter(generate_series(1, len(r) - 1), i -> r[i] = r[i+1])) AS BIGINT) AS nv
        |  FROM per),
        |ag AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN nt2 >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dialog_docs,
        |    CAST(SUM(CASE WHEN nt2 >= 2 THEN nt2 ELSE 0 END) AS BIGINT) AS turns,
        |    CAST(SUM(CASE WHEN nt2 >= 2 THEN nv ELSE 0 END) AS BIGINT) AS viol,
        |    CAST(SUM(CASE WHEN nt2 >= 2 THEN nt2 - 1 ELSE 0 END) AS BIGINT) AS adj,
        |    CAST(SUM(CASE WHEN nt2 >= 2 THEN nu ELSE 0 END) AS BIGINT) AS u,
        |    CAST(SUM(CASE WHEN nt2 >= 2 THEN na ELSE 0 END) AS BIGINT) AS a
        |  FROM px GROUP BY 1)
        |SELECT source, n_docs, n_dialog_docs,
        |  CASE WHEN n_dialog_docs > 0 THEN floor(CAST(turns AS DOUBLE)/CAST(n_dialog_docs AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS mean_turns,
        |  CASE WHEN adj > 0 THEN floor(CAST(viol AS DOUBLE)/CAST(adj AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS violation_share,
        |  CASE WHEN a > 0 THEN floor(CAST(u AS DOUBLE)/CAST(a AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS user_assistant_ratio
        |FROM ag ORDER BY source""".stripMargin,

    // Erlang-C: the q475 sweep reduced to the offered load, then the
    // bounded c-domain table with snapped log-space terms.
    "q479_erlang_staffing" ->
      """WITH o AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
        |       THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sx AS (SELECT user_id, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sess, ts FROM o),
        |se AS (SELECT user_id, sess, epoch_us(MIN(CAST(ts AS TIMESTAMP))) AS a,
        |    epoch_us(MAX(CAST(ts AS TIMESTAMP))) AS b FROM sx GROUP BY 1, 2),
        |bd AS (SELECT us FROM (SELECT a AS us FROM se UNION ALL SELECT b FROM se) GROUP BY 1),
        |hz AS (SELECT SUM(w2) AS hor FROM (
        |    SELECT CAST(lead(us) OVER (ORDER BY us) - us AS HUGEINT) AS w2 FROM bd)
        |  WHERE w2 IS NOT NULL),
        |ba AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(b - a AS HUGEINT)) AS durus FROM se),
        |aa AS (SELECT floor(
        |    floor(CAST(n AS DOUBLE)/(CAST(hor AS DOUBLE)/1e6)*3600.0*1000000.0 + 0.5)/1000000.0
        |    / 3600.0 *
        |    floor(CAST(durus AS DOUBLE)/1e6/CAST(n AS DOUBLE)*1000000.0 + 0.5)/1000000.0
        |    *1000000.0 + 0.5)/1000000.0 AS av FROM ba CROSS JOIN hz),
        |grid AS (SELECT av, CAST(unnest(generate_series(0, CAST(floor(av) AS INT) + 16)) AS BIGINT) AS k FROM aa),
        |lk AS (SELECT av, k, CASE WHEN k = 0 THEN 0
        |    ELSE CAST(floor(ln(CAST(k AS DOUBLE))*1e9 + 0.5) AS BIGINT) END AS lnk FROM grid),
        |lf AS (SELECT av, k, CAST(SUM(lnk) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lnfact FROM lk),
        |tm AS (SELECT av, k,
        |    CAST(floor(exp(CAST(k AS DOUBLE)*ln(av) - CAST(lnfact AS DOUBLE)/1e9)*1e9 + 0.5) AS BIGINT) AS term9
        |  FROM lf),
        |cm AS (SELECT av, k, term9,
        |    SUM(CAST(term9 AS HUGEINT)) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS cum9 FROM tm),
        |cs AS (SELECT av, k AS agents, term9,
        |    CAST(cum9 - term9 AS DOUBLE) AS below9,
        |    CAST(term9 AS DOUBLE)*(CAST(k AS DOUBLE)/(CAST(k AS DOUBLE) - av)) AS erl
        |  FROM cm WHERE k > CAST(floor(av) AS BIGINT))
        |SELECT agents,
        |  floor(av/CAST(agents AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS utilization,
        |  floor(erl/(below9 + erl)*1000000.0 + 0.5)/1000000.0 AS p_wait,
        |  CASE WHEN p_wait <= 0.2 THEN 1 ELSE 0 END AS meets_target
        |FROM cs ORDER BY agents""".stripMargin,

    // Newsvendor: exact daily-demand levels, bounded per-group
    // cumulative, integer fractile threshold on the 1e-6 grid.
    "q480_newsvendor" ->
      """WITH d AS (SELECT p.p_brand AS g,
        |    epoch_us(CAST(l.l_shipdate AS TIMESTAMP)) // 86400000000 AS dy,
        |    CAST(SUM(CAST(floor(CAST(l.l_quantity AS DOUBLE)*1e4 + 0.5) AS BIGINT)) AS BIGINT) AS d4
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_brand IS NOT NULL AND l.l_shipdate IS NOT NULL
        |    AND l.l_quantity IS NOT NULL GROUP BY 1, 2),
        |lv AS (SELECT g, d4, CAST(COUNT(*) AS BIGINT) AS nd FROM d GROUP BY 1, 2),
        |cm AS (SELECT g, d4, nd,
        |    CAST(SUM(nd) OVER (PARTITION BY g ORDER BY d4 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM lv),
        |tot AS (SELECT g, CAST(MAX(cum) AS BIGINT) AS n,
        |    SUM(CAST(d4 AS HUGEINT)*nd) AS sum4 FROM cm GROUP BY 1),
        |pick AS (SELECT cm.g, MIN(cm.d4) AS q4 FROM cm JOIN tot USING (g)
        |  WHERE CAST(cm.cum AS HUGEINT)*1000000 >= CAST(tot.n AS HUGEINT)*800000
        |  GROUP BY 1)
        |SELECT pick.g AS p_brand, tot.n AS n_days,
        |  floor(CAST(tot.sum4 AS DOUBLE)/1e4/CAST(tot.n AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS mean_daily_demand,
        |  floor(0.8*1000000.0 + 0.5)/1000000.0 AS critical_fractile,
        |  floor(CAST(pick.q4 AS DOUBLE)/1e4*1000000.0 + 0.5)/1000000.0 AS stock_level,
        |  floor(CAST(cm.cum AS DOUBLE)/CAST(tot.n AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS achieved_service_level
        |FROM pick JOIN tot USING (g) JOIN cm ON cm.g = pick.g AND cm.d4 = pick.q4
        |ORDER BY p_brand""".stripMargin,

    // Bass diffusion: dense week grid, exclusive cumulative adopters,
    // exact HUGEINT moments, Cramer + root assembly guarded alike.
    "q481_bass_adoption" ->
      """WITH fs AS (SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000) AS w
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
        |ad AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS s FROM fs GROUP BY 1),
        |bo AS (SELECT MIN(w) AS lo, MAX(w) AS hi FROM ad),
        |g AS (SELECT gs.w, COALESCE(ad.s, 0) AS s FROM
        |    (SELECT unnest(generate_series(bo.lo, bo.hi)) AS w FROM bo) gs
        |  LEFT JOIN ad ON gs.w = ad.w),
        |sr AS (SELECT w, s, COALESCE(SUM(s) OVER (ORDER BY w
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS y FROM g),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(y AS HUGEINT)) AS sy, SUM(CAST(y AS HUGEINT)*y) AS sy2,
        |    SUM(CAST(y AS HUGEINT)*y*y) AS sy3, SUM(CAST(y AS HUGEINT)*y*y*y) AS sy4,
        |    SUM(CAST(s AS HUGEINT)) AS ss, SUM(CAST(s AS HUGEINT)*y) AS ssy,
        |    SUM(CAST(s AS HUGEINT)*y*y) AS ssy2 FROM sr),
        |cr AS (SELECT n, ss,
        |    CAST(n AS DOUBLE)*(CAST(sy2 AS DOUBLE)*CAST(sy4 AS DOUBLE) - CAST(sy3 AS DOUBLE)*CAST(sy3 AS DOUBLE))
        |      - CAST(sy AS DOUBLE)*(CAST(sy AS DOUBLE)*CAST(sy4 AS DOUBLE) - CAST(sy3 AS DOUBLE)*CAST(sy2 AS DOUBLE))
        |      + CAST(sy2 AS DOUBLE)*(CAST(sy AS DOUBLE)*CAST(sy3 AS DOUBLE) - CAST(sy2 AS DOUBLE)*CAST(sy2 AS DOUBLE)) AS det,
        |    CAST(ss AS DOUBLE)*(CAST(sy2 AS DOUBLE)*CAST(sy4 AS DOUBLE) - CAST(sy3 AS DOUBLE)*CAST(sy3 AS DOUBLE))
        |      - CAST(sy AS DOUBLE)*(CAST(ssy AS DOUBLE)*CAST(sy4 AS DOUBLE) - CAST(sy3 AS DOUBLE)*CAST(ssy2 AS DOUBLE))
        |      + CAST(sy2 AS DOUBLE)*(CAST(ssy AS DOUBLE)*CAST(sy3 AS DOUBLE) - CAST(sy2 AS DOUBLE)*CAST(ssy2 AS DOUBLE)) AS deta,
        |    CAST(n AS DOUBLE)*(CAST(ssy AS DOUBLE)*CAST(sy4 AS DOUBLE) - CAST(ssy2 AS DOUBLE)*CAST(sy3 AS DOUBLE))
        |      - CAST(ss AS DOUBLE)*(CAST(sy AS DOUBLE)*CAST(sy4 AS DOUBLE) - CAST(sy3 AS DOUBLE)*CAST(sy2 AS DOUBLE))
        |      + CAST(sy2 AS DOUBLE)*(CAST(sy AS DOUBLE)*CAST(ssy2 AS DOUBLE) - CAST(ssy AS DOUBLE)*CAST(sy2 AS DOUBLE)) AS detb,
        |    CAST(n AS DOUBLE)*(CAST(sy2 AS DOUBLE)*CAST(ssy2 AS DOUBLE) - CAST(sy3 AS DOUBLE)*CAST(ssy AS DOUBLE))
        |      - CAST(sy AS DOUBLE)*(CAST(sy AS DOUBLE)*CAST(ssy2 AS DOUBLE) - CAST(ssy AS DOUBLE)*CAST(sy2 AS DOUBLE))
        |      + CAST(ss AS DOUBLE)*(CAST(sy AS DOUBLE)*CAST(sy3 AS DOUBLE) - CAST(sy2 AS DOUBLE)*CAST(sy2 AS DOUBLE)) AS detc
        |  FROM m),
        |fit AS (SELECT n, ss,
        |    CASE WHEN det <> 0 THEN deta/det END AS a,
        |    CASE WHEN det <> 0 THEN detb/det END AS b,
        |    CASE WHEN det <> 0 THEN detc/det END AS c FROM cr),
        |rt AS (SELECT n, ss, a, b, c, b*b - 4.0*a*c AS disc,
        |    CASE WHEN c < 0 AND b*b - 4.0*a*c >= 0
        |      THEN (-b - sqrt(b*b - 4.0*a*c))/(2.0*c) END AS mm FROM fit),
        |pq AS (SELECT n, ss, mm,
        |    CASE WHEN mm > 0 THEN a/mm END AS p,
        |    CASE WHEN mm > 0 THEN -c*mm END AS q FROM rt)
        |SELECT n AS n_weeks, CAST(ss AS BIGINT) AS n_adopters,
        |  floor(p*1000000.0 + 0.5)/1000000.0 AS p_innovation,
        |  floor(q*1000000.0 + 0.5)/1000000.0 AS q_imitation,
        |  floor(mm*1000000.0 + 0.5)/1000000.0 AS m_market_size,
        |  CASE WHEN p > 0 AND q > 0
        |    THEN floor(ln(q/p)/(p + q)*1000000.0 + 0.5)/1000000.0 END AS peak_week
        |FROM pq""".stripMargin,

    // Chain ladder: dense age grid, cumulative triangle, paired-age
    // volume-weighted factors, snapped-ln factor products.
    "q482_chain_ladder" ->
      """WITH j AS (SELECT
        |    (year(CAST(o.o_orderdate AS TIMESTAMP)) - 1970)*12 + month(CAST(o.o_orderdate AS TIMESTAMP)) - 1 AS cohort,
        |    (year(CAST(l.l_shipdate AS TIMESTAMP)) - 1970)*12 + month(CAST(l.l_shipdate AS TIMESTAMP)) - 1
        |      - ((year(CAST(o.o_orderdate AS TIMESTAMP)) - 1970)*12 + month(CAST(o.o_orderdate AS TIMESTAMP)) - 1) AS age,
        |    CAST(floor(CAST(l.l_extendedprice AS DOUBLE)*100 + 0.5) AS BIGINT) AS c2
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderdate IS NOT NULL AND l.l_shipdate IS NOT NULL
        |    AND l.l_extendedprice IS NOT NULL),
        |cells AS (SELECT cohort, age, SUM(CAST(c2 AS HUGEINT)) AS inc FROM j
        |  WHERE age BETWEEN 0 AND 12 GROUP BY 1, 2),
        |mx AS (SELECT MAX(cohort + age) AS mm FROM cells),
        |grid AS (SELECT c.cohort, unnest(generate_series(0, least(12, mx.mm - c.cohort))) AS age
        |  FROM (SELECT DISTINCT cohort FROM cells) c CROSS JOIN mx),
        |cum AS MATERIALIZED (SELECT g.cohort, g.age,
        |    SUM(COALESCE(cells.inc, 0)) OVER (PARTITION BY g.cohort ORDER BY g.age
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM grid g LEFT JOIN cells ON g.cohort = cells.cohort AND g.age = cells.age),
        |fx AS (SELECT a.age,
        |    floor(CAST(SUM(b.cum) AS DOUBLE)/CAST(SUM(a.cum) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS f
        |  FROM cum a JOIN cum b ON a.cohort = b.cohort AND b.age = a.age + 1
        |  GROUP BY 1 HAVING SUM(a.cum) > 0),
        |lf AS (SELECT age, CAST(floor(ln(f)*1e9 + 0.5) AS BIGINT) AS lnf9 FROM fx),
        |lt AS (SELECT cohort, MAX(age) AS latest_age FROM cum GROUP BY 1),
        |ob AS (SELECT lt.cohort, lt.latest_age, cum.cum AS obs0 FROM lt
        |  JOIN cum ON cum.cohort = lt.cohort AND cum.age = lt.latest_age),
        |pr AS (SELECT ob.cohort, ob.latest_age, ob.obs0,
        |    SUM(CAST(COALESCE(lf.lnf9, 0) AS HUGEINT)) AS sln
        |  FROM ob LEFT JOIN lf ON lf.age >= ob.latest_age GROUP BY 1, 2, 3)
        |SELECT CAST(cohort AS BIGINT) AS cohort_month,
        |  CAST(latest_age AS BIGINT) AS latest_age,
        |  floor(CAST(obs0 AS DOUBLE)/100*100.0 + 0.5)/100.0 AS observed,
        |  floor(CAST(obs0 AS DOUBLE)/100*exp(CAST(sln AS DOUBLE)/1e9)*100.0 + 0.5)/100.0 AS ultimate,
        |  floor((ultimate - observed)*100.0 + 0.5)/100.0 AS reserve
        |FROM pr ORDER BY cohort_month""".stripMargin,

    // LMDI: two half rollups, the log mean on raw revenues, factor
    // values snapped before their ln ratio — all three contributions
    // additive to the revenue delta in exact arithmetic.
    "q483_kpi_lmdi" ->
      """WITH b AS (SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS us, o_custkey AS cust,
        |    CAST(floor(CAST(o_totalprice AS DOUBLE)*100 + 0.5) AS BIGINT) AS c2
        |  FROM orders WHERE o_orderdate IS NOT NULL AND o_custkey IS NOT NULL
        |    AND o_totalprice IS NOT NULL),
        |bd AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM b),
        |md AS (SELECT lo//2 + hi//2 + (lo%2 + hi%2)//2 AS mid FROM bd),
        |ha AS (SELECT COUNT(DISTINCT cust) AS ca, COUNT(*) AS oa,
        |    CAST(SUM(CAST(c2 AS HUGEINT)) AS DOUBLE)/100 AS ra FROM b CROSS JOIN md WHERE us < mid),
        |hb AS (SELECT COUNT(DISTINCT cust) AS cb, COUNT(*) AS ob,
        |    CAST(SUM(CAST(c2 AS HUGEINT)) AS DOUBLE)/100 AS rb FROM b CROSS JOIN md WHERE us >= mid),
        |ok AS (SELECT *,
        |    (ca > 0 AND cb > 0 AND oa > 0 AND ob > 0 AND ra > 0 AND rb > 0) AS valid,
        |    CASE WHEN ra = rb THEN ra ELSE (rb - ra)/(ln(rb) - ln(ra)) END AS lm
        |  FROM ha CROSS JOIN hb),
        |vals AS (
        |  SELECT 'customers' AS factor, CAST(ca AS DOUBLE) AS va, CAST(cb AS DOUBLE) AS vb, valid, lm FROM ok
        |  UNION ALL SELECT 'orders_per_customer',
        |    floor(CAST(oa AS DOUBLE)/CAST(ca AS DOUBLE)*1000000.0 + 0.5)/1000000.0,
        |    floor(CAST(ob AS DOUBLE)/CAST(cb AS DOUBLE)*1000000.0 + 0.5)/1000000.0, valid, lm FROM ok
        |  UNION ALL SELECT 'revenue_per_order',
        |    floor(ra/CAST(oa AS DOUBLE)*1000000.0 + 0.5)/1000000.0,
        |    floor(rb/CAST(ob AS DOUBLE)*1000000.0 + 0.5)/1000000.0, valid, lm FROM ok)
        |SELECT factor,
        |  floor(va*1000000.0 + 0.5)/1000000.0 AS value_a,
        |  floor(vb*1000000.0 + 0.5)/1000000.0 AS value_b,
        |  CASE WHEN valid THEN floor(ln(vb/va)*1000000.0 + 0.5)/1000000.0 END AS ln_ratio,
        |  CASE WHEN valid THEN floor(lm*ln(vb/va)*100.0 + 0.5)/100.0 END AS contribution
        |FROM vals ORDER BY factor""".stripMargin,

    // Croston/SBA: desc-rank weights pow(0.9, j), init term at the
    // oldest point, snapped 1e-9 terms, one pinned division.
    "q484_croston" ->
      """WITH lv AS (SELECT l_partkey AS g,
        |    epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000 AS dy,
        |    CAST(SUM(CAST(floor(CAST(l_quantity AS DOUBLE)*1e4 + 0.5) AS BIGINT)) AS BIGINT) AS d4
        |  FROM lineitem WHERE l_partkey IS NOT NULL AND l_shipdate IS NOT NULL
        |    AND l_quantity IS NOT NULL GROUP BY 1, 2),
        |d AS (SELECT * FROM lv WHERE d4 > 0),
        |pts AS (SELECT g, dy, d4,
        |    row_number() OVER (PARTITION BY g ORDER BY dy DESC) - 1 AS j,
        |    dy - lag(dy) OVER (PARTITION BY g ORDER BY dy) AS gap FROM d),
        |nn AS (SELECT g, COUNT(*) AS n FROM pts GROUP BY 1),
        |tm AS (SELECT pts.g, nn.n,
        |    CAST(floor((CASE WHEN j = n - 1 THEN pow(0.9, CAST(j AS DOUBLE))
        |      ELSE 0.1*pow(0.9, CAST(j AS DOUBLE)) END)
        |      * (CAST(d4 AS DOUBLE)/1e4) * 1e9 + 0.5) AS BIGINT) AS z9,
        |    CASE WHEN gap IS NOT NULL THEN
        |      CAST(floor((CASE WHEN j = n - 2 THEN pow(0.9, CAST(j AS DOUBLE))
        |        ELSE 0.1*pow(0.9, CAST(j AS DOUBLE)) END)
        |        * CAST(gap AS DOUBLE) * 1e9 + 0.5) AS BIGINT) END AS p9
        |  FROM pts JOIN nn USING (g)),
        |ag AS (SELECT g, CAST(MAX(n) AS BIGINT) AS nn2,
        |    SUM(CAST(z9 AS HUGEINT)) AS sz9, SUM(CAST(p9 AS HUGEINT)) AS sp9
        |  FROM tm GROUP BY 1)
        |SELECT g AS l_partkey, nn2 AS n_demand_points,
        |  floor(CAST(sz9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS z_smooth,
        |  floor(CAST(sp9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS p_smooth,
        |  floor(CAST(sz9 AS DOUBLE)/CAST(sp9 AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS croston_forecast,
        |  floor(0.95*CAST(sz9 AS DOUBLE)/CAST(sp9 AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS sba_forecast
        |FROM ag WHERE nn2 >= 2 ORDER BY l_partkey""".stripMargin,

    // PVM bridge: per-(group, half) exact sums, the A-half overall
    // mean price, full-outer alignment, pinned three-way effects.
    "q485_price_volume_mix" ->
      """WITH b AS (SELECT p.p_brand AS g, epoch_us(CAST(l.l_shipdate AS TIMESTAMP)) AS us,
        |    CAST(floor(CAST(l.l_quantity AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS q4,
        |    CAST(floor(CAST(l.l_extendedprice AS DOUBLE)*100 + 0.5) AS BIGINT) AS c2
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_brand IS NOT NULL AND l.l_shipdate IS NOT NULL
        |    AND l.l_quantity IS NOT NULL AND l.l_extendedprice IS NOT NULL),
        |bd AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM b),
        |md AS (SELECT lo//2 + hi//2 + (lo%2 + hi%2)//2 AS mid FROM bd),
        |per AS (SELECT g, CASE WHEN us >= mid THEN 1 ELSE 0 END AS h,
        |    SUM(CAST(q4 AS HUGEINT)) AS q4, SUM(CAST(c2 AS HUGEINT)) AS c2
        |  FROM b CROSS JOIN md GROUP BY 1, 2),
        |pm AS (SELECT floor(CAST(SUM(c2) AS DOUBLE)/100/(CAST(SUM(q4) AS DOUBLE)/1e4)*1000000.0 + 0.5)/1000000.0 AS pbar
        |  FROM per WHERE h = 0),
        |sa AS (SELECT g, q4 AS qa4, c2 AS ca2 FROM per WHERE h = 0),
        |sb AS (SELECT g, q4 AS qb4, c2 AS cb2 FROM per WHERE h = 1),
        |al AS (SELECT COALESCE(sa.g, sb.g) AS g,
        |    COALESCE(sa.qa4, 0) AS qa4, COALESCE(sa.ca2, 0) AS ca2,
        |    COALESCE(sb.qb4, 0) AS qb4, COALESCE(sb.cb2, 0) AS cb2
        |  FROM sa FULL OUTER JOIN sb ON sa.g = sb.g),
        |px AS (SELECT al.*, pm.pbar,
        |    CAST(qa4 AS DOUBLE)/1e4 AS qa, CAST(qb4 AS DOUBLE)/1e4 AS qb,
        |    CASE WHEN qa4 > 0 THEN floor(CAST(ca2 AS DOUBLE)/100/(CAST(qa4 AS DOUBLE)/1e4)*1000000.0 + 0.5)/1000000.0
        |      ELSE pm.pbar END AS pa,
        |    CASE WHEN qb4 > 0 THEN floor(CAST(cb2 AS DOUBLE)/100/(CAST(qb4 AS DOUBLE)/1e4)*1000000.0 + 0.5)/1000000.0
        |      ELSE pm.pbar END AS pb
        |  FROM al CROSS JOIN pm)
        |SELECT g AS p_brand,
        |  floor(qa*10000.0 + 0.5)/10000.0 AS qty_a,
        |  floor(qb*10000.0 + 0.5)/10000.0 AS qty_b,
        |  pa AS price_a, pb AS price_b,
        |  floor((pb - pa)*qb*100.0 + 0.5)/100.0 AS price_effect,
        |  floor(pbar*(qb - qa)*100.0 + 0.5)/100.0 AS volume_effect,
        |  floor((pa - pbar)*(qb - qa)*100.0 + 0.5)/100.0 AS mix_effect,
        |  floor((CAST(cb2 AS DOUBLE)/100 - CAST(ca2 AS DOUBLE)/100)*100.0 + 0.5)/100.0 AS delta_revenue
        |FROM px ORDER BY p_brand""".stripMargin,

    // Theta: desc-rank SES weights + exact OLS slope on the grid,
    // Hyndman-Billah drift multiplier with per-row pow.
    "q486_theta_forecast" ->
      """WITH e AS (SELECT event_type AS t, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bo AS (SELECT MIN(bin) AS lo, MAX(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT t FROM e) tt
        |  CROSS JOIN (SELECT unnest(generate_series(bo.lo, bo.hi)) AS bin FROM bo) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |  FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |rk AS (SELECT t, bin, v,
        |    row_number() OVER (PARTITION BY t ORDER BY bin DESC) - 1 AS j FROM sv),
        |nn AS (SELECT t, COUNT(*) AS nb FROM rk GROUP BY 1),
        |tm AS (SELECT rk.t, nn.nb, rk.j, rk.v,
        |    CAST(floor((CASE WHEN j = nb - 1 THEN pow(0.7, CAST(j AS DOUBLE))
        |      ELSE 0.3*pow(0.7, CAST(j AS DOUBLE)) END) * v * 1e9 + 0.5) AS BIGINT) AS s9
        |  FROM rk JOIN nn USING (t)),
        |ag AS (SELECT t, CAST(MAX(nb) AS BIGINT) AS nb, SUM(CAST(s9 AS HUGEINT)) AS ses9,
        |    SUM(CAST(j AS HUGEINT)) AS sx, SUM(CAST(j AS HUGEINT)*j) AS sxx,
        |    SUM(CAST(v AS HUGEINT)) AS sy, SUM(CAST(j AS HUGEINT)*v) AS sxy
        |  FROM tm GROUP BY 1),
        |fin AS (SELECT t, nb, ses9,
        |    CASE WHEN nb >= 3 AND (CAST(nb AS DOUBLE)*CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) <> 0
        |      THEN -((CAST(nb AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |        / (CAST(nb AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)))
        |    END AS slope
        |  FROM ag)
        |SELECT t AS event_type, nb AS n_bins,
        |  floor(CAST(ses9 AS DOUBLE)/1e9*1000000.0 + 0.5)/1000000.0 AS ses_level,
        |  floor(slope/2*1000000.0 + 0.5)/1000000.0 AS half_drift,
        |  CASE WHEN slope IS NOT NULL THEN
        |    floor((CAST(ses9 AS DOUBLE)/1e9 + slope/2*(1.0 - pow(0.7, CAST(nb AS DOUBLE)))/0.3)*1000000.0 + 0.5)/1000000.0
        |  END AS theta_forecast
        |FROM fin ORDER BY event_type""".stripMargin,

    // IPS replay: integer-decided per-context argmax, one DECIMAL
    // floor division per context, pinned finals.
    "q487_ips_offpolicy" ->
      """WITH b AS (SELECT user_id % 4 AS x, event_type AS a,
        |    CAST(floor(CAST(value AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS r4
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |    AND user_id IS NOT NULL),
        |cells AS (SELECT x, a, CAST(COUNT(*) AS BIGINT) AS nax,
        |    SUM(CAST(r4 AS HUGEINT)) AS rax FROM b GROUP BY 1, 2),
        |best AS (SELECT x, a, nax, rax FROM (
        |    SELECT *, row_number() OVER (PARTITION BY x
        |      ORDER BY CAST(rax*1000000 // nax AS BIGINT) DESC, a) AS rk FROM cells)
        |  WHERE rk = 1),
        |nx AS (SELECT x, CAST(SUM(nax) AS BIGINT) AS nx FROM cells GROUP BY 1),
        |pc AS (SELECT (best.rax * nx.nx * 100000) // best.nax AS v9
        |  FROM best JOIN nx USING (x)),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
        |    SUM(CAST(r4 AS HUGEINT)) AS rall,
        |    CAST(COUNT(DISTINCT x) AS BIGINT) AS n_contexts FROM b),
        |sv AS (SELECT SUM(v9) AS sv9 FROM pc)
        |SELECT n_events, n_contexts,
        |  floor(CAST(rall AS DOUBLE)/1e4/CAST(n_events AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS v_logging,
        |  floor(CAST(sv9 AS DOUBLE)/1e9/CAST(n_events AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS v_ips,
        |  floor((v_ips - v_logging)*1000000.0 + 0.5)/1000000.0 AS uplift
        |FROM sv CROSS JOIN tot""".stripMargin,

    // Tracking signal: integer lag-1 errors on the dense grid.
    "q488_tracking_signal" ->
      """WITH e AS (SELECT event_type AS t, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bo AS (SELECT MIN(bin) AS lo, MAX(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT t FROM e) tt
        |  CROSS JOIN (SELECT unnest(generate_series(bo.lo, bo.hi)) AS bin FROM bo) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |  FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |er AS (SELECT t, v - lag(v) OVER (PARTITION BY t ORDER BY bin) AS e2 FROM sv),
        |f AS (SELECT t, e2 FROM er WHERE e2 IS NOT NULL)
        |SELECT t AS event_type, CAST(COUNT(*) AS BIGINT) AS n_errors,
        |  CAST(SUM(e2) AS BIGINT) AS sum_error,
        |  CASE WHEN COUNT(*) > 0 THEN
        |    floor(CAST(SUM(abs(e2)) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS mad,
        |  CASE WHEN SUM(abs(e2)) > 0 THEN
        |    floor(CAST(SUM(e2) AS DOUBLE)*CAST(COUNT(*) AS DOUBLE)/CAST(SUM(abs(e2)) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS tracking_signal,
        |  floor(CAST(SUM(CASE WHEN e2 > 0 THEN 1 ELSE 0 END)
        |      - SUM(CASE WHEN e2 < 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    /CAST(COUNT(*) AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS signed_error_share
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    // Skyline: level collapse + strict-prefix staircase minimum.
    "q489_skyline" ->
      """WITH b AS (SELECT p_partkey, p_retailprice, p_size,
        |    CAST(floor(CAST(p_retailprice AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS x4,
        |    CAST(floor(CAST(p_size AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS y4
        |  FROM part WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL),
        |lv AS (SELECT x4, MIN(y4) AS ymin FROM b GROUP BY 1),
        |st AS (SELECT x4, ymin, MIN(ymin) OVER (ORDER BY x4
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmin FROM lv),
        |keep AS (SELECT x4, ymin FROM st WHERE pmin IS NULL OR ymin < pmin)
        |SELECT b.p_partkey, b.p_retailprice, b.p_size
        |FROM b JOIN keep ON b.x4 = keep.x4 AND b.y4 = keep.ymin
        |ORDER BY b.p_partkey""".stripMargin,

    // Weibull: global median ranks on the (t, key) total order,
    // snapped ln pairs, exact moments, pinned assembly.
    "q490_weibull" ->
      """WITH op AS (SELECT o_orderkey,
        |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS od
        |  FROM orders WHERE o_orderdate IS NOT NULL),
        |cl AS (SELECT l_orderkey,
        |    MAX(epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000) AS cd
        |  FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1),
        |t AS (SELECT o_orderkey AS k, CAST(cd - od AS DOUBLE) AS tt
        |  FROM op JOIN cl ON o_orderkey = l_orderkey),
        |alln AS (SELECT CAST(COUNT(*) AS BIGINT) AS na FROM t),
        |pos AS (SELECT k, tt FROM t WHERE tt > 0),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pos),
        |rk AS (SELECT tt, row_number() OVER (ORDER BY tt, k) AS i FROM pos),
        |sn AS (SELECT CAST(floor(ln(tt)*1e9 + 0.5) AS BIGINT) AS x9,
        |    CAST(floor(ln(-ln(1.0 - (CAST(i AS DOUBLE) - 0.3)/(CAST(n AS DOUBLE) + 0.4)))*1e9 + 0.5) AS BIGINT) AS y9
        |  FROM rk CROSS JOIN nn),
        |m AS (SELECT nn.n, SUM(CAST(x9 AS HUGEINT)) AS sx, SUM(CAST(x9 AS HUGEINT)*x9) AS sxx,
        |    SUM(CAST(y9 AS HUGEINT)) AS sy, SUM(CAST(x9 AS HUGEINT)*y9) AS sxy
        |  FROM sn CROSS JOIN nn GROUP BY 1),
        |fin AS (SELECT n,
        |    CASE WHEN n >= 3 AND (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) <> 0
        |      THEN (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |    END AS kk,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd FROM m),
        |asm AS (SELECT n, kk, (syd - kk*sxd)/CAST(n AS DOUBLE)/1e9 AS icept FROM fin)
        |SELECT n AS n_observations,
        |  floor(kk*1000000.0 + 0.5)/1000000.0 AS shape_k,
        |  CASE WHEN kk > 0 THEN floor(exp(-icept/kk)*1000000.0 + 0.5)/1000000.0 END AS scale_lambda,
        |  CASE WHEN kk > 0 THEN
        |    floor(exp(-icept/kk)*pow(0.10536051565782628, 1.0/kk)*1000000.0 + 0.5)/1000000.0
        |  END AS b10_life,
        |  alln.na - n AS n_excluded
        |FROM asm CROSS JOIN alln""".stripMargin,

    // ABC-XYZ: the q297 Pareto chain joined with the CV classes from
    // exact daily-demand moments; cell rollup + pinned shares.
    "q491_abc_xyz" ->
      """WITH per AS (SELECT l_partkey AS k,
        |    CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE)*100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_partkey IS NOT NULL
        |  GROUP BY 1),
        |cum AS (SELECT k, rev, CAST(SUM(rev) OVER (ORDER BY -rev, k) AS BIGINT) AS cumrev FROM per),
        |tot AS (SELECT CAST(SUM(rev) AS BIGINT) AS t FROM per),
        |abc AS (SELECT k, CAST(rev AS DOUBLE)/100 AS amt,
        |    CASE WHEN CAST(cumrev AS DECIMAL(38,0))*5 <= CAST(t AS DECIMAL(38,0))*4 THEN 'A'
        |         WHEN CAST(cumrev AS DECIMAL(38,0))*20 <= CAST(t AS DECIMAL(38,0))*19 THEN 'B'
        |         ELSE 'C' END AS abc_class
        |  FROM cum CROSS JOIN tot),
        |dl AS (SELECT l_partkey AS k,
        |    epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000 AS dy,
        |    CAST(SUM(CAST(floor(CAST(l_quantity AS DOUBLE)*1e4 + 0.5) AS BIGINT)) AS BIGINT) AS d4
        |  FROM lineitem WHERE l_partkey IS NOT NULL AND l_shipdate IS NOT NULL
        |    AND l_quantity IS NOT NULL GROUP BY 1, 2),
        |cv AS (SELECT k,
        |    CASE WHEN COUNT(*) >= 2 AND SUM(CAST(d4 AS HUGEINT)) > 0 THEN
        |      floor(sqrt((CAST(COUNT(*) AS DOUBLE)*CAST(SUM(CAST(d4 AS HUGEINT)*d4) AS DOUBLE)
        |          - CAST(SUM(CAST(d4 AS HUGEINT)) AS DOUBLE)*CAST(SUM(CAST(d4 AS HUGEINT)) AS DOUBLE))
        |        /(CAST(COUNT(*) AS DOUBLE)*(CAST(COUNT(*) AS DOUBLE) - 1.0)))
        |        /(CAST(SUM(CAST(d4 AS HUGEINT)) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE))*1000000.0 + 0.5)/1000000.0
        |      ELSE 0.0 END AS cvv
        |  FROM dl GROUP BY 1),
        |xyz AS (SELECT k, CASE WHEN cvv <= 0.5 THEN 'X' WHEN cvv <= 1.0 THEN 'Y' ELSE 'Z' END AS xyz_class FROM cv),
        |cells AS (SELECT abc.abc_class, xyz.xyz_class, CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(CAST(floor(abc.amt*100 + 0.5) AS BIGINT)) AS BIGINT) AS rev2
        |  FROM abc JOIN xyz USING (k) GROUP BY 1, 2),
        |ct AS (SELECT CAST(SUM(rev2) AS BIGINT) AS t2 FROM cells)
        |SELECT abc_class, xyz_class, n_keys,
        |  floor(CAST(rev2 AS DOUBLE)/CAST(t2 AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS revenue_share
        |FROM cells CROSS JOIN ct ORDER BY abc_class, xyz_class""".stripMargin,

    // Image near-dup: pixels from the mixing formula (never bytes),
    // 3x2 block-mean resize to 8x8, wraparound dHash (bit 63 via the
    // signed HUGEINT term — DuckDB's << overflows at 63), then the
    // dumb-twin O(n^2) hamming join the banded Spark plan must equal.
    "q492_image_neardup" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |imgs AS (SELECT doc_id AS img_id, doc_id AS src, FALSE AS pert FROM d
        |  UNION ALL
        |  SELECT doc_id + 1000000000, doc_id, TRUE FROM d WHERE doc_id % 10 = 0),
        |px AS (SELECT i.img_id, r.r, c.c,
        |    CASE WHEN i.pert AND r.r < 2 AND c.c < 3
        |      THEN ((i.src*(r.r*24 + c.c + 13) + (r.r*24 + c.c)*(r.r*24 + c.c)*7) % 256 + 128) % 256
        |      ELSE (i.src*(r.r*24 + c.c + 13) + (r.r*24 + c.c)*(r.r*24 + c.c)*7) % 256 END AS p
        |  FROM imgs i
        |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS r) r
        |  CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS c) c),
        |tp AS (SELECT img_id, CAST(r // 2 AS INT) AS tr, CAST(c // 3 AS INT) AS tc,
        |    CAST(SUM(p) // 6 AS BIGINT) AS v
        |  FROM px GROUP BY 1, 2, 3),
        |dh AS (SELECT a.img_id, CAST(SUM(
        |    CASE WHEN a.v > b.v THEN
        |      CASE WHEN a.tr*8 + a.tc = 63 THEN -9223372036854775808::HUGEINT
        |           ELSE (1::BIGINT << (a.tr*8 + a.tc))::HUGEINT END
        |    ELSE 0::HUGEINT END) AS BIGINT) AS dhash
        |  FROM tp a JOIN tp b ON a.img_id = b.img_id AND b.tr = a.tr
        |    AND b.tc = (a.tc + 1) % 8
        |  GROUP BY 1)
        |SELECT a.img_id AS a_id, b.img_id AS b_id,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
        |FROM dh a JOIN dh b ON a.img_id < b.img_id
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
        |ORDER BY 1, 2""".stripMargin,

    // Audio near-dup: samples from the synthesis formula (never
    // bytes), 8-sample mean-|s| frames, 60-bit wraparound gradient
    // hash, dumb-twin O(n^2) hamming join.
    "q493_audio_neardup" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |clips AS (SELECT doc_id AS clip_id, doc_id AS src, FALSE AS pert FROM d
        |  UNION ALL
        |  SELECT doc_id + 1000000000, doc_id, TRUE FROM d WHERE doc_id % 10 = 0),
        |smp AS (SELECT c.clip_id, i.i,
        |    ((c.src*7919 + i.i*104729
        |      + CASE WHEN c.pert AND i.i < 8 THEN 12345 ELSE 0 END) % 65536) - 32768 AS s
        |  FROM clips c CROSS JOIN (SELECT unnest(generate_series(0, 479)) AS i) i),
        |env AS (SELECT clip_id, CAST(i // 8 AS INT) AS k,
        |    CAST(SUM(abs(s)) // 8 AS BIGINT) AS v
        |  FROM smp GROUP BY 1, 2),
        |ah AS (SELECT a.clip_id,
        |    CAST(SUM(CASE WHEN a.v > b.v THEN 1::BIGINT << a.k ELSE 0::BIGINT END) AS BIGINT) AS ahash
        |  FROM env a JOIN env b ON a.clip_id = b.clip_id AND b.k = (a.k + 1) % 60
        |  GROUP BY 1)
        |SELECT a.clip_id AS a_id, b.clip_id AS b_id,
        |  CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
        |FROM ah a JOIN ah b ON a.clip_id < b.clip_id
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
        |ORDER BY 1, 2""".stripMargin,

    // EOQ policy: identical daily 1e-4 grid, horizon day count, and
    // assembly expression shapes; the two transcendental-bearing
    // constants (2K*365/h, z*sqrt(L)) are shared driver literals.
    "q494_eoq_policy" ->
      s"""WITH dl AS (SELECT l_partkey AS k,
        |    epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000 AS dy,
        |    CAST(SUM(CAST(floor(CAST(l_quantity AS DOUBLE)*1e4 + 0.5) AS BIGINT)) AS BIGINT) AS d4
        |  FROM lineitem WHERE l_partkey IS NOT NULL AND l_shipdate IS NOT NULL
        |    AND l_quantity IS NOT NULL GROUP BY 1, 2),
        |hz AS (SELECT CAST(MAX(dy) - MIN(dy) + 1 AS BIGINT) AS n FROM dl),
        |m AS (SELECT k, CAST(SUM(CAST(d4 AS HUGEINT)) AS DOUBLE) AS s,
        |    CAST(SUM(CAST(d4 AS HUGEINT)*d4) AS DOUBLE) AS ssq
        |  FROM dl GROUP BY 1),
        |a AS (SELECT k, s/CAST(n AS DOUBLE)/10000.0 AS mu,
        |    CASE WHEN s/CAST(n AS DOUBLE)/10000.0 > 0.0
        |      THEN sqrt(${2.0 * 100.0 * 365.0 / 2.5} * (s/CAST(n AS DOUBLE)/10000.0)) END AS eoq,
        |    CASE WHEN n > 1 THEN
        |      sqrt((CAST(n AS DOUBLE)*ssq - s*s)/(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0)))/10000.0
        |    END AS sd
        |  FROM m CROSS JOIN hz)
        |SELECT k AS l_partkey,
        |  floor(mu*1000000.0 + 0.5)/1000000.0 AS mean_daily,
        |  floor(mu*365.0*1000000.0 + 0.5)/1000000.0 AS annual_demand,
        |  floor(eoq*1000000.0 + 0.5)/1000000.0 AS eoq,
        |  floor(mu*365.0/eoq*1000000.0 + 0.5)/1000000.0 AS orders_per_year,
        |  floor(${1.6448536269514722 * math.sqrt(7.0)}*sd*1000000.0 + 0.5)/1000000.0 AS safety_stock,
        |  floor((mu*7.0 + ${1.6448536269514722 * math.sqrt(7.0)}*sd)*1000000.0 + 0.5)/1000000.0 AS reorder_point
        |FROM a ORDER BY l_partkey""".stripMargin,

    // Transfer entropy: the q486 dense grid, up-move states, triple
    // and marginal integer counts, one per-cell ln snapped 1e-9,
    // pinned final division.
    "q495_transfer_entropy" ->
      """WITH e AS (SELECT event_type AS t, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bo AS (SELECT MIN(bin) AS lo, MAX(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT t FROM e) tt
        |  CROSS JOIN (SELECT unnest(generate_series(bo.lo, bo.hi)) AS bin FROM bo) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |  FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |stt AS (SELECT * FROM (SELECT t, bin,
        |    CAST(v > lag(v) OVER (PARTITION BY t ORDER BY bin) AS INT) AS x FROM sv)
        |  WHERE x IS NOT NULL),
        |tr AS (SELECT a.t AS tx, o.t AS ty, a.x AS xc, p.x AS xp, o.x AS yp,
        |    CAST(COUNT(*) AS BIGINT) AS c3
        |  FROM stt a
        |  JOIN stt p ON p.t = a.t AND p.bin = a.bin - 1
        |  JOIN stt o ON o.bin = a.bin - 1 AND o.t <> a.t
        |  GROUP BY 1, 2, 3, 4, 5),
        |mxx AS (SELECT tx, ty, xc, xp, CAST(SUM(c3) AS BIGINT) AS cxx FROM tr GROUP BY 1,2,3,4),
        |mxy AS (SELECT tx, ty, xp, yp, CAST(SUM(c3) AS BIGINT) AS cxy FROM tr GROUP BY 1,2,3,4),
        |mx AS (SELECT tx, ty, xp, CAST(SUM(c3) AS BIGINT) AS cx FROM tr GROUP BY 1,2,3),
        |mn AS (SELECT tx, ty, CAST(SUM(c3) AS BIGINT) AS nn FROM tr GROUP BY 1,2),
        |tm AS (SELECT tr.tx, tr.ty, mn.nn,
        |    CAST(floor(CAST(tr.c3 AS DOUBLE)
        |      * ln(CAST(tr.c3*mx.cx AS DOUBLE)/CAST(mxy.cxy*mxx.cxx AS DOUBLE))
        |      * 1e9 + 0.5) AS BIGINT) AS t9
        |  FROM tr
        |  JOIN mxx ON mxx.tx = tr.tx AND mxx.ty = tr.ty AND mxx.xc = tr.xc AND mxx.xp = tr.xp
        |  JOIN mxy ON mxy.tx = tr.tx AND mxy.ty = tr.ty AND mxy.xp = tr.xp AND mxy.yp = tr.yp
        |  JOIN mx ON mx.tx = tr.tx AND mx.ty = tr.ty AND mx.xp = tr.xp
        |  JOIN mn ON mn.tx = tr.tx AND mn.ty = tr.ty),
        |ag AS (SELECT tx, ty, nn, CAST(SUM(CAST(t9 AS HUGEINT)) AS BIGINT) AS s9
        |  FROM tm GROUP BY 1, 2, 3)
        |SELECT ty AS src_type, tx AS dst_type, nn AS n_transitions,
        |  floor(CAST(s9 AS DOUBLE)/1e9/CAST(nn AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS transfer_entropy
        |FROM ag ORDER BY src_type, dst_type""".stripMargin,

    // Bullwhip: identical weekly 1e-4 grids by order/ship date, one
    // shared global week horizon, CV^2 assemblies shape-identical.
    "q496_bullwhip" ->
      """WITH li AS (SELECT p.p_brand AS g,
        |    epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) // 604800000000 AS wo,
        |    epoch_us(CAST(l.l_shipdate AS TIMESTAMP)) // 604800000000 AS ws,
        |    CAST(floor(CAST(l.l_quantity AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS q4
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE p.p_brand IS NOT NULL AND l.l_quantity IS NOT NULL
        |    AND l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL),
        |hz AS (SELECT CAST(GREATEST(MAX(wo), MAX(ws)) - LEAST(MIN(wo), MIN(ws)) + 1 AS BIGINT) AS n FROM li),
        |wo AS (SELECT g, wo AS wk, CAST(SUM(CAST(q4 AS HUGEINT)) AS BIGINT) AS w4 FROM li GROUP BY 1, 2),
        |wsr AS (SELECT g, ws AS wk, CAST(SUM(CAST(q4 AS HUGEINT)) AS BIGINT) AS w4 FROM li GROUP BY 1, 2),
        |mo AS (SELECT g, CAST(SUM(CAST(w4 AS HUGEINT)) AS DOUBLE) AS so,
        |    CAST(SUM(CAST(w4 AS HUGEINT)*w4) AS DOUBLE) AS sso FROM wo GROUP BY 1),
        |ms AS (SELECT g, CAST(SUM(CAST(w4 AS HUGEINT)) AS DOUBLE) AS ss,
        |    CAST(SUM(CAST(w4 AS HUGEINT)*w4) AS DOUBLE) AS sss FROM wsr GROUP BY 1),
        |a AS (SELECT mo.g,
        |    CASE WHEN n > 1 AND so > 0 THEN
        |      ((CAST(n AS DOUBLE)*sso - so*so)/(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0)))
        |        /((so/CAST(n AS DOUBLE))*(so/CAST(n AS DOUBLE))) END AS co,
        |    CASE WHEN n > 1 AND ss > 0 THEN
        |      ((CAST(n AS DOUBLE)*sss - ss*ss)/(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0)))
        |        /((ss/CAST(n AS DOUBLE))*(ss/CAST(n AS DOUBLE))) END AS cs,
        |    n FROM mo JOIN ms ON mo.g = ms.g CROSS JOIN hz)
        |SELECT g AS p_brand, n AS n_weeks,
        |  floor(co*1000000.0 + 0.5)/1000000.0 AS cv2_orders,
        |  floor(cs*1000000.0 + 0.5)/1000000.0 AS cv2_shipments,
        |  CASE WHEN cs > 0.0 THEN floor(co/cs*1000000.0 + 0.5)/1000000.0 END AS bullwhip_ratio
        |FROM a ORDER BY p_brand""".stripMargin,

    // Fill rate: exact day lags, quantity-weighted on-time share,
    // three pinned divisions.
    "q497_fill_rate" ->
      """WITH li AS (SELECT o.o_orderpriority AS g,
        |    epoch_us(CAST(l.l_shipdate AS TIMESTAMP)) // 86400000000
        |      - epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) // 86400000000 AS lag,
        |    CAST(floor(CAST(l.l_quantity AS DOUBLE)*1e4 + 0.5) AS BIGINT) AS q4
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_quantity IS NOT NULL AND l.l_shipdate IS NOT NULL
        |    AND o.o_orderpriority IS NOT NULL AND o.o_orderdate IS NOT NULL),
        |a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |    CAST(SUM(CAST(q4 AS HUGEINT)) AS BIGINT) AS qt,
        |    CAST(SUM(CAST(CASE WHEN lag <= 7 THEN q4 ELSE 0 END AS HUGEINT)) AS BIGINT) AS qo,
        |    CAST(SUM(CASE WHEN lag > 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |    CAST(SUM(CAST(CASE WHEN lag > 7 THEN lag - 7 ELSE 0 END AS HUGEINT)) AS BIGINT) AS late
        |  FROM li GROUP BY 1)
        |SELECT g AS o_orderpriority, n_lines,
        |  floor(CAST(qo AS DOUBLE)/CAST(qt AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS fill_rate,
        |  n_late AS n_late_lines,
        |  floor(CAST(n_late AS DOUBLE)/CAST(n_lines AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS late_line_share,
        |  CASE WHEN n_late > 0 THEN
        |    floor(CAST(late AS DOUBLE)/CAST(n_late AS DOUBLE)*1000000.0 + 0.5)/1000000.0 END AS mean_late_days
        |FROM a ORDER BY o_orderpriority""".stripMargin,

    // Granger lag-1: the q495 dense grid (raw counts, no states),
    // exact DECIMAL moment sums, the identical closed-form assembly.
    // DuckDB doubles divide-by-zero to inf (no ANSI throw), so the
    // unguarded CTE divisions are safe — the final CASE hides them
    // exactly where Spark's lazy value branch does.
    "q498_granger_matrix" ->
      """WITH e AS (SELECT event_type AS t, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bin
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT t, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |bo AS (SELECT MIN(bin) AS lo, MAX(bin) AS hi FROM e),
        |g AS (SELECT tt.t, gs.bin FROM (SELECT DISTINCT t FROM e) tt
        |  CROSS JOIN (SELECT unnest(generate_series(bo.lo, bo.hi)) AS bin FROM bo) gs),
        |sv AS (SELECT g.t, g.bin, COALESCE(c.n, 0) AS v
        |  FROM g LEFT JOIN c ON g.t = c.t AND g.bin = c.bin),
        |tr AS (SELECT a.t AS tx, o.t AS ty, a.v AS y, p.v AS z1, o.v AS z2
        |  FROM sv a
        |  JOIN sv p ON p.t = a.t AND p.bin = a.bin - 1
        |  JOIN sv o ON o.bin = a.bin - 1 AND o.t <> a.t),
        |mo AS (SELECT tx, ty, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(z1 AS HUGEINT)) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(z2 AS HUGEINT)) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(y AS HUGEINT)*y) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(z1 AS HUGEINT)*z1) AS DOUBLE) AS s11,
        |    CAST(SUM(CAST(z2 AS HUGEINT)*z2) AS DOUBLE) AS s22,
        |    CAST(SUM(CAST(z1 AS HUGEINT)*y) AS DOUBLE) AS s1y,
        |    CAST(SUM(CAST(z2 AS HUGEINT)*y) AS DOUBLE) AS s2y,
        |    CAST(SUM(CAST(z1 AS HUGEINT)*z2) AS DOUBLE) AS s12
        |  FROM tr GROUP BY 1, 2),
        |cv AS (SELECT tx, ty, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(n AS DOUBLE)*syy - sy*sy AS cyy,
        |    CAST(n AS DOUBLE)*s11 - s1*s1 AS c11,
        |    CAST(n AS DOUBLE)*s22 - s2*s2 AS c22,
        |    CAST(n AS DOUBLE)*s1y - s1*sy AS c1y,
        |    CAST(n AS DOUBLE)*s2y - s2*sy AS c2y,
        |    CAST(n AS DOUBLE)*s12 - s1*s2 AS c12
        |  FROM mo),
        |dt AS (SELECT *, c11*c22 - c12*c12 AS det FROM cv),
        |bb AS (SELECT *, (c1y*c22 - c2y*c12)/det AS b, (c2y*c11 - c1y*c12)/det AS cc FROM dt),
        |ss AS (SELECT *, cyy - b*c1y - cc*c2y AS sseu,
        |    CASE WHEN c11 <> 0.0 THEN cyy - c1y*c1y/c11 END AS sser FROM bb),
        |ff AS (SELECT *, CASE WHEN sseu > 0.0 THEN (sser - sseu)/(sseu/(nd - 3.0)) END AS f FROM ss)
        |SELECT ty AS src_type, tx AS dst_type, n AS n_transitions,
        |  CASE WHEN n > 3 AND det <> 0.0 THEN floor(b*1000000.0 + 0.5)/1000000.0 END AS beta_self,
        |  CASE WHEN n > 3 AND det <> 0.0 THEN floor(cc*1000000.0 + 0.5)/1000000.0 END AS beta_cross,
        |  CASE WHEN n > 3 AND det <> 0.0 THEN floor(f*1000000.0 + 0.5)/1000000.0 END AS f_stat
        |FROM ff ORDER BY src_type, dst_type""".stripMargin,

    // Matryoshka ablation: per-dim sliced-cosine top-5 vs the full
    // top-5 (q25's rank conventions), hit counts, one pinned
    // division. The per-dim blocks are generated, not hand-repeated.
    "q499_matryoshka" -> {
      def top5(vec: String, tag: String) =
        s"""s$tag AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
           |  list_cosine_similarity($vec, ${vec.replace("q.", "n.")}) AS c
           | FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
           | WHERE q.vec_id < 10),
           |t$tag AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
           |    row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rn FROM s$tag)
           |  WHERE rn <= 5)""".stripMargin
      val dims = Seq(8, 16, 32, 64)
      val blocks = top5("CAST(q.embedding AS DOUBLE[])", "f") +: dims.map(d =>
        top5(s"CAST(q.embedding AS DOUBLE[])[1:$d]", s"d$d"))
      val hits = dims.map(d =>
        s"SELECT $d AS dim, CAST(COUNT(*) AS BIGINT) AS hits FROM td$d JOIN tf USING (q_id, n_id)")
        .mkString("h AS (", " UNION ALL ", ")")
      s"""WITH ${blocks.mkString(",\n")},
         |nqv AS (SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) AS nq FROM tf),
         |$hits
         |SELECT CAST(dim AS INT) AS dim, nq AS n_queries,
         |  floor(CAST(hits AS DOUBLE)/CAST(nq*5 AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS recall_at_k
         |FROM h CROSS JOIN nqv ORDER BY dim""".stripMargin
    },
  )
}
