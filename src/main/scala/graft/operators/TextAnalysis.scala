package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => sf}
import graft.{functions => gf}
import graft.functions.dec

/** Text-analysis operators for training-data curation. All pure
  * expressions — per-row, map-only, fully codegen'd; at 100 TB these
  * run at scan speed with zero shuffle.
  */
object TextAnalysis {

  /** Project the needed columns, then fan the CPU-bound per-row work
    * across cores (single-split local files otherwise serialize it). */
  private def prepared(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.spread(docs.select(sf.col(idCol), sf.col(textCol)))

  /** Token statistics per document. */
  def tokenStats(docs0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = prepared(docs0, idCol, textCol)
    val t = sf.col(textCol)
    docs.select(
      sf.col(idCol),
      gf.tokenCount(t).as("n_ws_tokens"),
      gf.bpeTokenCount(t).as("n_bpe_tokens"),
      sf.length(t).as("n_chars"))
      .orderBy(idCol)
  }

  /** [[qualityScore]]'s mean-token-length signal as a bare column
    * expression — map-only, so pipeline composers (Pipeline.
    * curationPlan) can compute the gate score inline instead of
    * re-attaching the operator's output with a doc_id join that
    * shuffles the full text bytes. */
  private[operators] def avgTokenLenExpr(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val nTok = gf.tokenCount(t).cast("double")
    sf.when(nTok === 0, 0.0).otherwise(
      sf.length(sf.regexp_replace(sf.trim(t), "\\s+", "")).cast("double") / nTok)
  }

  /** Heuristic quality score from surface statistics: length band,
    * punctuation density, digit density, mean token length. */
  def qualityScore(docs0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = prepared(docs0, idCol, textCol)
    val t = sf.col(textCol)
    val len = sf.length(t).cast("double")
    val punct = (len - sf.length(sf.regexp_replace(t, "[.,!?;:]", "")).cast("double")) /
      sf.greatest(len, sf.lit(1.0))
    val digits = (len - sf.length(sf.regexp_replace(t, "[0-9]", "")).cast("double")) /
      sf.greatest(len, sf.lit(1.0))
    val avgTok = avgTokenLenExpr(t)
    val lengthOk = (len >= 100 && len <= 10000).cast("int").cast("double")
    val score = lengthOk * 0.4 +
      sf.when(punct < 0.1, 0.2).otherwise(0.0) +
      sf.when(digits < 0.2, 0.2).otherwise(0.0) +
      sf.when(avgTok >= 3 && avgTok <= 10, 0.2).otherwise(0.0)
    docs.select(
      sf.col(idCol),
      gf.roundAt(punct, 4).as("punct_ratio"),
      gf.roundAt(digits, 4).as("digit_ratio"),
      gf.roundAt(avgTok, 4).as("avg_token_len"),
      gf.roundAt(score, 4).as("quality"))
      .orderBy(idCol)
  }

  /** Repetition signals (Gopher/C4-style quality rules): fraction of
    * the document taken by its most frequent bigram, and fraction of
    * duplicated tokens. Per-row kernels — map-only at any scale. */
  def repetitionStats(docs0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = prepared(docs0, idCol, textCol)
    val toks = gf.wsTokens(sf.col(textCol))
    docs.select(
      sf.col(idCol),
      gf.roundAt(gf.maxBigramFraction(toks), 4)
        .as("top_bigram_frac"),
      gf.roundAt(sf.when(sf.size(toks) === 0, 0.0)
        .otherwise(sf.lit(1.0) -
          sf.size(sf.array_distinct(toks)).cast("double") / sf.size(toks).cast("double")), 4)
        .as("dup_token_frac"))
      .orderBy(idCol)
  }

  /** Entropy quality signals (the Gopher/RefinedWeb information-density
    * band filters): Shannon entropy in nats of the token distribution
    * and of the character distribution, per document. Low token entropy
    * flags keyword-stuffing and repeated boilerplate; low char entropy
    * flags keyboard-mash and encoding junk; both are bands, not
    * thresholds — natural prose sits in a stable range.
    *
    * Scale shape: two O(len) hash-map kernels per row, map-only — runs
    * at scan speed with zero shuffle at any corpus size. */
  def entropyStats(docs0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = prepared(docs0, idCol, textCol)
    val t = sf.col(textCol)
    docs.filter(sf.length(sf.trim(t)) > 0)
      .select(
        sf.col(idCol),
        gf.tokenCount(t).cast("long").as("n_tokens"),
        gf.roundAt(gf.tokenEntropy(t), 4).as("token_entropy"),
        sf.length(sf.trim(t)).cast("long").as("n_chars"),
        gf.roundAt(gf.charEntropy(t), 4).as("char_entropy"))
      .orderBy(idCol)
  }

  /** Bigram language-model scoring (the conditional upgrade of the
    * unigram NLL, and the shape of the KenLM/CCNet perplexity filter):
    * per document, the mean over bigram positions of
    * −ln P(wᵢ | wᵢ₋₁) with add-one smoothing,
    * P = (c(wᵢ₋₁wᵢ)+1)/(c(wᵢ₋₁)+V), counts corpus-wide, V = unigram
    * vocabulary size. The corpus is its own training set — the
    * self-scoring convention of q62. Documents need ≥ 2 tokens (one
    * bigram position) to receive a score.
    *
    * Scale shape: the bigram stream compresses per document first
    * (groupBy (doc, bigram) with map-side combine), so the count-table
    * joins probe one row per DISTINCT (doc, bigram); all shuffles
    * carry 64-bit hashes, never token text (a collision merges two
    * counts — the q68 conservative family); the vocab scalar rides a
    * broadcast 1-row cross join. Like q62, the summation order of the
    * final per-doc double sum differs from a SQL replay and the
    * 4-decimal floor-round reconciles ln. */
  def bigramLmScore(docs0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withT = Par.spread(docs0.select(sf.col(idCol).cast("long").as("doc_id"),
        sf.col(textCol).as("__t")))
      .select(sf.col("doc_id"), gf.wsTokens(sf.lower(sf.col("__t"))).as("toks"))
      .filter(sf.size(sf.col("toks")) >= 1)
      .localCheckpoint(true)
    val bigr = withT.filter(sf.size(sf.col("toks")) >= 2)
      .select(sf.col("doc_id"), sf.explode(sf.transform(
        sf.sequence(sf.lit(1), sf.size(sf.col("toks")) - 1),
        i => sf.struct(sf.element_at(sf.col("toks"), i).as("p"),
          sf.element_at(sf.col("toks"), i + 1).as("c")))).as("z"))
    val db = bigr.select(sf.col("doc_id"),
        sf.xxhash64(sf.col("z.p")).as("ph"),
        sf.xxhash64(sf.col("z.p"), sf.col("z.c")).as("bh"))
      .groupBy("doc_id", "bh", "ph").agg(sf.count(sf.lit(1)).as("c_db"))
    val cb = db.groupBy("bh").agg(sf.sum("c_db").as("c_b"))
    val cu = withT.select(sf.explode(sf.col("toks")).as("term"))
      .select(sf.xxhash64(sf.col("term")).as("uh"))
      .groupBy("uh").agg(sf.count(sf.lit(1)).as("c_u"))
    val v = cu.agg(sf.count(sf.lit(1)).as("vocab"))
    db.join(cb, "bh")
      .join(cu, sf.col("ph") === sf.col("uh"))
      .crossJoin(sf.broadcast(v))
      .groupBy("doc_id")
      .agg(sf.sum("c_db").cast("long").as("n_bigrams"),
        gf.roundAt(-sf.sum(sf.col("c_db") *
            sf.log((sf.col("c_b") + 1.0) /
              (sf.col("c_u") + sf.col("vocab")).cast("double"))) /
          sf.sum("c_db"), 4).as("lm2_nll"))
      .orderBy("doc_id")
  }

  /** Stupid Backoff trigram LM scoring (Brants et al. 2007 — the
    * web-scale LM quality filter: no discounting to estimate, counts
    * only, which is exactly what distributes). The LM trains on the
    * deterministic 90% hash-split of the corpus (q78's portable-hash
    * bucket formula on the doc key) and scores the HELD-OUT 10%, so
    * backoff genuinely triggers on unseen n-grams — self-scoring would
    * make every observed trigram its own evidence and the backoff
    * chain dead code.
    *
    * Per eval-doc trigram position (w1,w2,w3):
    *   S = c(w1w2w3)/c(w1w2)            if the trigram was seen
    *     | α · c(w2w3)/c(w2)            else if the bigram was seen
    *     | α² · c(w3)/N                 else if the unigram was seen
    *     | α² · 1/N                     else (unseen-word floor)
    * score = mean ln S over positions; docs with < 3 tokens get none.
    *
    * Determinism: counts are exact integers; each position's ln S
    * snaps to a 1e-6 grid BEFORE the unordered per-doc sum (exact
    * longs), one final division rounded at 1e-4.
    *
    * Scale shape: count tables are map-side-combinable aggregations
    * over the train stream keyed by 64-bit hashes (token text never
    * shuffles; a collision merges two counts — the q68 conservative
    * family); the eval trigram stream compresses per (doc, trigram)
    * before probing; all count joins are AQE-decided (n-gram domains
    * are vocabulary-scale, not corpus-scale, but can still be too big
    * to broadcast at 100 TB); N rides a broadcast 1-row cross join. */
  def backoffLmScore(docs0: DataFrame, idCol: String, textCol: String,
                     alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val withT = Par.spread(docs0.select(sf.col(idCol).cast("long").as("doc_id"),
        sf.col(textCol).as("__t")))
      .select(sf.col("doc_id"), gf.wsTokens(sf.lower(sf.col("__t"))).as("toks"))
      .withColumn("is_train",
        sf.pmod(sf.col("doc_id"), sf.lit(2147483648L)) * 2654435761L % 4294967296L % 10000 < 9000)
      .localCheckpoint(true)
    val train = withT.filter(sf.col("is_train"))
    val nTot = train.agg(sf.sum(sf.size(sf.col("toks"))).cast("long").as("n_tok"))
    val cu = train.select(sf.explode(sf.col("toks")).as("w"))
      .groupBy(sf.xxhash64(sf.col("w")).as("uh"))
      .agg(sf.count(sf.lit(1)).as("c_u"))
    val cb = train.filter(sf.size(sf.col("toks")) >= 2)
      .select(sf.explode(sf.transform(
        sf.sequence(sf.lit(1), sf.size(sf.col("toks")) - 1),
        i => sf.xxhash64(sf.element_at(sf.col("toks"), i),
          sf.element_at(sf.col("toks"), i + 1)))).as("bh"))
      .groupBy("bh").agg(sf.count(sf.lit(1)).as("c_b"))
    val ct = train.filter(sf.size(sf.col("toks")) >= 3)
      .select(sf.explode(sf.transform(
        sf.sequence(sf.lit(1), sf.size(sf.col("toks")) - 2),
        i => sf.xxhash64(sf.element_at(sf.col("toks"), i),
          sf.element_at(sf.col("toks"), i + 1),
          sf.element_at(sf.col("toks"), i + 2)))).as("th"))
      .groupBy("th").agg(sf.count(sf.lit(1)).as("c_t"))
    // eval trigram stream, compressed per (doc, trigram) before probing
    val ev = withT.filter(!sf.col("is_train") && sf.size(sf.col("toks")) >= 3)
      .select(sf.col("doc_id"), sf.explode(sf.transform(
        sf.sequence(sf.lit(1), sf.size(sf.col("toks")) - 2),
        i => sf.struct(
          sf.xxhash64(sf.element_at(sf.col("toks"), i),
            sf.element_at(sf.col("toks"), i + 1),
            sf.element_at(sf.col("toks"), i + 2)).as("th"),
          sf.xxhash64(sf.element_at(sf.col("toks"), i),
            sf.element_at(sf.col("toks"), i + 1)).as("bh12"),
          sf.xxhash64(sf.element_at(sf.col("toks"), i + 1),
            sf.element_at(sf.col("toks"), i + 2)).as("bh23"),
          sf.xxhash64(sf.element_at(sf.col("toks"), i + 1)).as("uh2"),
          sf.xxhash64(sf.element_at(sf.col("toks"), i + 2)).as("uh3")))).as("z"))
      .groupBy(sf.col("doc_id"), sf.col("z.th").as("th"), sf.col("z.bh12").as("bh12"),
        sf.col("z.bh23").as("bh23"), sf.col("z.uh2").as("uh2"), sf.col("z.uh3").as("uh3"))
      .agg(sf.count(sf.lit(1)).as("n_occ"))
    val joined = ev
      .join(ct, Seq("th"), "left")
      .join(cb.withColumnRenamed("bh", "bh12").withColumnRenamed("c_b", "c_b12"),
        Seq("bh12"), "left")
      .join(cb.withColumnRenamed("bh", "bh23").withColumnRenamed("c_b", "c_b23"),
        Seq("bh23"), "left")
      .join(cu.withColumnRenamed("uh", "uh2").withColumnRenamed("c_u", "c_u2"),
        Seq("uh2"), "left")
      .join(cu.withColumnRenamed("uh", "uh3").withColumnRenamed("c_u", "c_u3"),
        Seq("uh3"), "left")
      .crossJoin(sf.broadcast(nTot))
    val nD = sf.col("n_tok").cast("double")
    val s = sf.when(sf.col("c_t").isNotNull,
        sf.col("c_t").cast("double") / sf.col("c_b12").cast("double"))
      .when(sf.col("c_b23").isNotNull,
        sf.lit(alpha) * sf.col("c_b23").cast("double") / sf.col("c_u2").cast("double"))
      .when(sf.col("c_u3").isNotNull,
        sf.lit(alpha * alpha) * sf.col("c_u3").cast("double") / nD)
      .otherwise(sf.lit(alpha * alpha) / nD)
    val lnFx = sf.floor(sf.log(s) * 1e6 + 0.5).cast("long")
    joined
      .groupBy("doc_id")
      .agg(sf.sum("n_occ").cast("long").as("n_scored"),
        gf.roundAt(sf.sum(sf.col("n_occ") * lnFx).cast("double") /
          sf.sum("n_occ").cast("double") / 1e6, 4).as("sb_score"))
      .orderBy("doc_id")
  }

  /** Interpolated Kneser-Ney bigram LM scoring (Kneser & Ney 1995;
    * Chen & Goodman 1998 eval) — the standard n-gram smoothing, and
    * the piece the LM family was missing between q114's add-one and
    * q148's count-only Stupid Backoff: the lower-order distribution is
    * CONTINUATION probability (how many distinct contexts a word
    * follows), not raw frequency, so "francisco" (frequent but only
    * ever after "san") stops leaking probability into unseen contexts.
    * Trains on the deterministic 90% hash split (q78's portable-hash
    * bucket formula), scores the HELD-OUT 10% — unseen bigrams
    * genuinely exercise the continuation term.
    *
    * Per eval bigram (w1, w2), with absolute discount D:
    *   pc(w2)     = (N1+(·w2) + 1) / (B + R + 1)      — add-one-floored
    *                continuation prob (B = distinct train bigram types,
    *                R = distinct continuation words); the +1 floor keeps
    *                eval-only words scoreable
    *   P(w2|w1)   = (max(c(w1w2) − D, 0) + D·N1+(w1·)·pc(w2)) / c(w1·)
    *                when w1 was ever a train context; pc(w2) otherwise
    * kn_nll = −mean ln P over positions (1e-6 ln snap before the
    * unordered sum — the q148 determinism protocol; 1e-4 final round).
    *
    * Scale shape: ONE distinct-bigram count table feeds everything —
    * c(w1w2), the context totals/fan-outs (groupBy w1), the reverse
    * fan-ins (groupBy w2), and the two scalars; all keyed by 64-bit
    * hashes (token text never shuffles; a collision merges counts —
    * the q68 conservative family). The eval stream compresses per
    * (doc, bigram) before probing; count joins are AQE-decided
    * (vocabulary-scale, maybe too big to broadcast at 100 TB); the
    * scalars ride a broadcast 1-row cross join. */
  def knLmScore(docs0: DataFrame, idCol: String, textCol: String,
                discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, s"discount must be in (0,1), got $discount")
    val withT = Par.spread(docs0.select(sf.col(idCol).cast("long").as("doc_id"),
        sf.col(textCol).as("__t")))
      .select(sf.col("doc_id"), gf.wsTokens(sf.lower(sf.col("__t"))).as("toks"))
      .withColumn("is_train",
        sf.pmod(sf.col("doc_id"), sf.lit(2147483648L)) * 2654435761L % 4294967296L % 10000 < 9000)
      .localCheckpoint(true)
    def bigrams(df: DataFrame) = df.filter(sf.size(sf.col("toks")) >= 2)
      .select(sf.col("doc_id"), sf.explode(sf.transform(
        sf.sequence(sf.lit(1), sf.size(sf.col("toks")) - 1),
        i => sf.struct(
          sf.xxhash64(sf.element_at(sf.col("toks"), i)).as("ph"),
          sf.xxhash64(sf.element_at(sf.col("toks"), i + 1)).as("ch")))).as("z"))
      .select(sf.col("doc_id"), sf.col("z.ph").as("ph"), sf.col("z.ch").as("ch"))
    // the one count table everything derives from (reused 4x)
    val dbc = bigrams(withT.filter(sf.col("is_train")))
      .groupBy("ph", "ch").agg(sf.count(sf.lit(1)).as("c_b"))
      .localCheckpoint(true)
    val cctx = dbc.groupBy("ph")
      .agg(sf.sum("c_b").cast("long").as("c_ctx"), sf.count(sf.lit(1)).as("n_fwd"))
    val rev = dbc.groupBy("ch").agg(sf.count(sf.lit(1)).as("n_rev"))
    val scal = dbc.agg(sf.count(sf.lit(1)).as("bt"))
      .crossJoin(rev.agg(sf.count(sf.lit(1)).as("rt")))
    val ev = bigrams(withT.filter(!sf.col("is_train")))
      .groupBy("doc_id", "ph", "ch").agg(sf.count(sf.lit(1)).as("n_occ"))
    val joined = ev
      .join(dbc, Seq("ph", "ch"), "left")
      .join(cctx, Seq("ph"), "left")
      .join(rev, Seq("ch"), "left")
      .crossJoin(sf.broadcast(scal))
    val pc = (sf.coalesce(sf.col("n_rev"), sf.lit(0L)) + 1L).cast("double") /
      (sf.col("bt") + sf.col("rt") + 1L).cast("double")
    val p = sf.when(sf.col("n_fwd").isNotNull,
        (sf.greatest(sf.coalesce(sf.col("c_b"), sf.lit(0L)).cast("double") -
            sf.lit(discount), sf.lit(0.0)) +
          sf.lit(discount) * sf.col("n_fwd").cast("double") * pc) /
          sf.col("c_ctx").cast("double"))
      .otherwise(pc)
    val lnFx = sf.floor(sf.log(p) * 1e6 + 0.5).cast("long")
    joined
      .groupBy("doc_id")
      .agg(sf.sum("n_occ").cast("long").as("n_scored"),
        gf.roundAt(-sf.sum(sf.col("n_occ") * lnFx).cast("double") /
          sf.sum("n_occ").cast("double") / 1e6, 4).as("kn_nll"))
      .orderBy("doc_id")
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004), every
    * document IN PARALLEL: per doc, the word-adjacency graph (distinct
    * undirected pairs of consecutive tokens, self-loops dropped) is
    * ranked by `iters` damped PageRank rounds and the top-`topK`
    * tokens are the document's keywords — the unsupervised
    * summarization/tagging primitive, and the graph twin of q38's
    * TF-IDF (which needs the corpus; TextRank ranks within the doc).
    *
    * Determinism: q119's exact 1e12 fixed-point integer recurrence,
    * with the per-doc node count as a COLUMN (no driver scalar —
    * every doc iterates simultaneously):
    *   r0 = SCALE div n_doc
    *   r_k+1 = (15·SCALE) div (100·n_doc) + (85·Σ_{u→v} r_k(u) div outdeg(u)) div 100
    * Ties break (rank_fx desc, token asc). Docs with < 1 non-loop
    * adjacency (0 or 1 distinct token) have no graph and no rows.
    *
    * Scale shape: a per-doc graph is PARTITION-LOCAL by construction —
    * building it with corpus-wide joins would pay 2·iters shuffles for
    * work a tight loop finishes in microseconds (the first-draft join
    * formulation measured 15s at sf0.1; this kernel form: ~0.5s). ONE
    * fused kernel call per row ([[graft.plans.Kernels.textRankTopK]]:
    * adjacency build + integer iteration + top-k), map-only, scan
    * speed at any corpus size; graph size is bounded by doc length.
    * Corpus-SCALE graphs (where one graph spans the cluster) are
    * [[Graph.pageRank]]'s job — this operator is the many-small-graphs
    * regime. */
  def textRankKeywords(docs0: DataFrame, idCol: String, textCol: String,
                       iters: Int = 3, topK: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters must be in [1, 20], got $iters")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val kw = sf.col("__kw")
    Par.spread(docs0.select(sf.col(idCol).cast("long").as("doc_id"),
        sf.col(textCol).as("__t")))
      .select(sf.col("doc_id"),
        gf.textRankTopK(gf.wsTokens(sf.lower(sf.col("__t"))),
          sf.lit(iters), sf.lit(topK)).as("__kw"))
      .filter(sf.size(kw) > 0)
      .select(sf.col("doc_id"), sf.posexplode(kw).as(Seq("__i", "__s")))
      .select(sf.col("doc_id"), (sf.col("__i") + 1).as("pos"),
        sf.split(sf.col("__s"), "\t").getItem(0).as("token"),
        sf.split(sf.col("__s"), "\t").getItem(1).cast("long").as("rank_fx"))
      .orderBy("doc_id", "pos")
  }

  /** Frequent-token subsampling (Mikolov et al. 2013's word2vec rule):
    * drop occurrences of very frequent tokens with
    * P(keep) = min(1, sqrt(t/f)) — stopword-heavy mass shrinks, rare
    * informative tokens survive untouched, and downstream embedding /
    * co-occurrence passes (q157, q233) stop spending their budget on
    * "the". The keep decision is a PURE FUNCTION of (doc, position)
    * via the portable hash, so the subsample is reproducible at any
    * parallelism and replayable by the oracle — no RNG.
    *
    * Determinism: corpus frequencies are exact hash-keyed counts;
    * keep_prob = sqrt(t·N/c) is one pinned expression (sqrt is
    * IEEE-exact-rounded); the uniform u = (knuth(doc·1315423911 +
    * pos) + 1)/2³² compares directly — no snapping needed because
    * both sides compute identical doubles.
    *
    * Scale shape: one map-side-combined token count, then ONE
    * AQE-decided frequency join over the position stream and a
    * map-side-combined groupBy(doc). Token text never shuffles
    * (counts are hash-keyed); the corpus never sorts. */
  def subsampleFrequent(docs0: DataFrame, idCol: String, textCol: String,
                        t: Double = 1e-3): DataFrame = {
    require(t > 0 && t <= 1, s"t must be in (0, 1], got $t")
    val withT = Par.spread(docs0.select(sf.col(idCol).cast("long").as("doc_id"),
        sf.col(textCol).as("__t")))
      .select(sf.col("doc_id"),
        sf.posexplode(gf.wsTokens(sf.lower(sf.col("__t")))).as(Seq("pos", "w")))
      .select(sf.col("doc_id"), sf.col("pos"), sf.xxhash64(sf.col("w")).as("wh"))
      .localCheckpoint(true)
    val cnt = withT.groupBy("wh").agg(sf.count(sf.lit(1)).as("c"))
    val nT = cnt.agg(sf.sum("c").cast("long").as("nn"))
    val keepProb = sf.least(sf.lit(1.0),
      sf.sqrt(sf.lit(t) * sf.col("nn").cast("double") / sf.col("c").cast("double")))
    val h = sf.pmod(sf.col("doc_id") * 1315423911L + sf.col("pos"),
      sf.lit(2147483648L)) * 2654435761L % 4294967296L
    val u = (h + 1L).cast("double") / 4294967296.0
    withT.join(cnt, "wh").crossJoin(sf.broadcast(nT))
      .groupBy("doc_id")
      .agg(sf.count(sf.lit(1)).as("n_before"),
        sf.sum((u <= keepProb).cast("long")).as("n_after"))
      .select(sf.col("doc_id"), sf.col("n_before"), sf.col("n_after"),
        gf.roundAt(sf.col("n_after").cast("double") /
          sf.col("n_before").cast("double"), 6).as("kept_frac"))
      .orderBy("doc_id")
  }

  /** Out-of-vocabulary rate against the corpus's own top-`vocabSize`
    * term list (count-desc, term-text tie-break — a deterministic
    * frequency vocabulary, the fixed-size-tokenizer view of the data):
    * per document, the fraction of token OCCURRENCES outside the
    * vocabulary. High OOV flags encoding junk, code, and off-domain
    * text relative to the corpus's own distribution.
    *
    * Scale shape: term counts are one combinable groupBy (map-side
    * combine collapses to the term domain per task); the top-V cut
    * sorts the aggregated DOMAIN, not the corpus; membership is a
    * broadcast anti join over the token stream (map-only); per-doc
    * counts are one combinable groupBy(doc). The corpus never sorts
    * and token text never shuffles. */
  def oovRate(docs0: DataFrame, idCol: String, textCol: String,
              vocabSize: Int = 1000): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val base = Par.spread(docs0.select(sf.col(idCol).cast("long").as("doc_id"),
        sf.col(textCol).as("__t")))
      .select(sf.col("doc_id"), gf.wsTokens(sf.lower(sf.col("__t"))).as("toks"))
      .filter(sf.size(sf.col("toks")) > 0)
      .localCheckpoint(true)
    val tokens = base.select(sf.col("doc_id"), sf.explode(sf.col("toks")).as("term"))
    val vocab = tokens.groupBy("term").agg(sf.count(sf.lit(1)).as("__c"))
      .orderBy(sf.col("__c").desc, sf.col("term")).limit(vocabSize)
      .select("term")
    val oov = tokens.join(sf.broadcast(vocab), Seq("term"), "left_anti")
      .groupBy("doc_id").agg(sf.count(sf.lit(1)).as("n_oov"))
    base.select(sf.col("doc_id"), sf.size(sf.col("toks")).cast("long").as("n_tokens"))
      .join(oov, Seq("doc_id"), "left")
      .select(sf.col("doc_id"), sf.col("n_tokens"),
        sf.coalesce(sf.col("n_oov"), sf.lit(0L)).as("n_oov"),
        gf.roundAt(sf.coalesce(sf.col("n_oov"), sf.lit(0L)).cast("double") /
          sf.col("n_tokens").cast("double"), 4).as("oov_frac"))
      .orderBy("doc_id")
  }

  /** Adjacent-character-pair counts over lowercased whitespace tokens
    * — the argmax statistic of one BPE training iteration (Sennrich et
    * al.: merge the most frequent adjacent symbol pair). `k` most
    * frequent pairs, ties broken by pair text so the cut is
    * deterministic. Token boundaries are respected: pairs never span
    * whitespace.
    *
    * Scale shape: pairs fan out map-only from the token arrays (no
    * token-level explode survives the plan — the pair stream feeds a
    * combinable count whose map-side combine collapses to the pair
    * DOMAIN, bounded by charset², per task). The final top-k sorts the
    * tiny aggregated domain, not the corpus. */
  def bpePairCounts(docs0: DataFrame, textCol: String, k: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val docs = Par.spread(docs0.select(sf.col(textCol).as("__t")))
    val toks = sf.filter(gf.wsTokens(sf.lower(sf.col("__t"))),
      tok => sf.length(tok) >= 2)
    val pairs = sf.flatten(sf.transform(toks, tok =>
      sf.transform(sf.sequence(sf.lit(1), sf.length(tok) - 1),
        i => tok.substr(i, sf.lit(2)))))
    docs.select(sf.explode(pairs).as("pair"))
      .groupBy("pair").agg(sf.count(sf.lit(1)).as("cnt"))
      .orderBy(sf.col("cnt").desc, sf.col("pair"))
      .limit(k)
  }

  /** Stopword fraction per document against the stopword list of the
    * document's own `langCol` (a core quality signal: natural prose in
    * language L has a stable stopword rate; keyboard-mash and boilerplate
    * don't). Map-only kernel — runs at scan speed. */
  def stopwordRatio(docs0: DataFrame, idCol: String, textCol: String,
                    langCol: String): DataFrame = {
    val docs = Par.spread(docs0.select(sf.col(idCol), sf.col(textCol), sf.col(langCol)))
    val toks = gf.wsTokens(sf.lower(sf.col(textCol)))
    docs.select(
      sf.col(idCol), sf.col(langCol),
      gf.roundAt(gf.stopwordCount(toks, sf.col(langCol)).cast("double") /
        sf.greatest(sf.size(toks), sf.lit(1)).cast("double"), 4).as("stopword_ratio"))
      .orderBy(idCol)
  }

  /** Pairwise Levenshtein edit distance over a bounded id range (the
    * exact string-similarity baseline; O(len²) per pair — bound the
    * pair space, or use the LSH/fingerprint families at corpus scale). */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        idMax: Long): DataFrame = {
    val base = docs.filter(sf.col(idCol) < idMax)
      .select(sf.col(idCol).cast("long").as("id"), sf.col(textCol).as("t"))
    val a = base.select(sf.col("id").as("a_id"), sf.col("t").as("ta"))
    val b = base.select(sf.col("id").as("b_id"), sf.col("t").as("tb"))
    a.join(b, sf.col("a_id") < sf.col("b_id"))
      .select(sf.col("a_id"), sf.col("b_id"),
        sf.levenshtein(sf.col("ta"), sf.col("tb")).as("edit_dist"))
      .orderBy("a_id", "b_id")
  }

  /** Stopword-heuristic language prediction vs. the labeled column. */
  def langId(docs0: DataFrame, idCol: String, textCol: String,
             labelCol: Option[String] = None): DataFrame = {
    val docs = Par.spread(docs0.select(
      (Seq(sf.col(idCol), sf.col(textCol)) ++ labelCol.map(sf.col)): _*))
    val base = docs.select(
      sf.col(idCol) +: (gf.langId(sf.col(textCol)).as("predicted_lang") +:
        labelCol.map(c => sf.col(c).as("label_lang")).toSeq): _*)
    labelCol.fold(base)(_ => base.withColumn("is_match",
      (sf.col("predicted_lang") === sf.col("label_lang")).cast("int")))
      .orderBy(idCol)
  }

  /** Top-k corpus-weighted terms per document. Score = tf * (N+1)/(df+1)
    * — the rational idf form: one multiply and one divide from exact
    * integers, so any double-precision engine reproduces the score (and
    * therefore the ranking) bit-for-bit; a log-based idf would hang the
    * ranking on the ULP behavior of each engine's `ln`.
    *
    * Scale shape: tf = one groupBy (map-side combine collapses repeated
    * terms per doc before the shuffle); df = one groupBy over the
    * already-1-row-per-(doc,term) tf table; N rides as a broadcast
    * 1-row cross join (no driver action); the vocabulary join is left
    * to AQE (broadcast when the vocab is small, shuffle otherwise);
    * final per-doc top-k is one window rank. */
  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Par.spread(docs.select(sf.col(idCol), sf.col(textCol)))
      .select(sf.col(idCol),
        sf.explode(gf.wsTokens(sf.lower(sf.col(textCol)))).as("term"))
    val tf = toks.groupBy(sf.col(idCol), sf.col("term"))
      .agg(sf.count(sf.lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(sf.count(sf.lit(1)).as("df"))
    val n = docs.agg(sf.count(sf.lit(1)).as("n"))
    val score = sf.col("tf") * (sf.col("n") + 1.0) / (sf.col("df") + 1.0)
    val w = Window.partitionBy(idCol).orderBy(score.desc, sf.col("term"))
    tf.join(dfT, "term")
      .crossJoin(sf.broadcast(n))
      .withColumn("rank", sf.row_number().over(w))
      .filter(sf.col("rank") <= k)
      .select(sf.col(idCol), sf.col("rank"), sf.col("term"),
        sf.col("tf"), sf.col("df"), gf.roundAt(score, 4).as("score"))
      .orderBy(idCol, "rank")
  }

  /** Content fingerprints: canonical md5 + order-sensitive rolling hash. */
  def fingerprints(docs0: DataFrame, idCol: String, textCol: String): DataFrame =
    prepared(docs0, idCol, textCol).select(
      sf.col(idCol),
      gf.fingerprint(sf.col(textCol)).as("fp_md5"),
      gf.rollingHash(gf.wsTokens(sf.col(textCol))).as("fp_rolling"))
      .orderBy(idCol)

  /** Benchmark decontamination (GPT-3/C4-style): documents sharing any
    * word n-gram with a held-out benchmark set, with the count of
    * distinct contaminated n-grams per document. The corpus then drops
    * (or flags) these before training.
    *
    * Scale shape: the benchmark side is distinct n-gram HASHES — a few
    * million longs for any real eval suite — explicitly `broadcast()`;
    * the corpus side streams map-only through explode + broadcast
    * left-semi (no corpus shuffle, no n-gram strings past the hash).
    * The only shuffle is the final combinable groupBy(doc) count. A
    * 64-bit hash collision can only ADD a false contaminated n-gram
    * (P ~ grams²/2⁶⁴); decontamination is conservative by nature.
    * Documents shorter than n words contribute their whole text as one
    * shingle (wordShingles contract), so short benchmark strings still
    * match verbatim copies. */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, n: Int = 8): DataFrame = {
    // fused kernel: gram hashes straight from the text — the n-token
    // gram strings are never materialized on either side
    val bGrams = benchmark
      .select(sf.explode(gf.hashedWsNgrams(sf.col(textCol), n)).as("gh"))
      .distinct()
    val dGrams = Par.spread(docs.select(sf.col(idCol).cast("long").as("doc_id"),
        sf.col(textCol).as("__t")))
      .select(sf.col("doc_id"),
        sf.explode(gf.hashedWsNgrams(sf.col("__t"), n)).as("gh"))
    dGrams.join(sf.broadcast(bGrams), Seq("gh"), "left_semi")
      .groupBy("doc_id")
      .agg(sf.count(sf.lit(1)).as("n_contaminated_ngrams"))
      .orderBy("doc_id")
  }

  /** Duplicated-n-gram fraction (RefinedWeb/Gopher "dup n-gram" filter):
    * for each document, the share of its DISTINCT word n-grams that also
    * occur in at least one other document. High values flag boilerplate
    * (headers, license blocks, templated spam) that exact- and near-dup
    * passes miss because the surrounding text differs.
    *
    * Scale shape: documents explode ONCE to distinct (doc, gramHash)
    * pairs — hashes, never gram strings, ride the shuffles — and the
    * pair stream is checkpointed: both its consumers (the carrier-count
    * aggregate and the count-back join probe) read the materialized
    * blocks instead of re-running the shingle explode over the corpus.
    * (Exchange reuse cannot save this plan: column pruning strips
    * doc_id from the aggregate's subtree, so the two exchanges never
    * match; without the checkpoint the explode runs twice.) The
    * checkpoint write is the same order of bytes as the join's shuffle
    * of the pair stream — storage traded for a full second corpus
    * pass. The final combinable groupBy(doc) reduces to one row per
    * document. No driver materialization, no n² term anywhere. A
    * 64-bit collision can only ADD a duplicated gram (P ~ grams²/2⁶⁴)
    * — conservative, like `decontaminate`. */
  def dupNgramFraction(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 8): DataFrame = {
    val pairs = Par.spread(docs.select(sf.col(idCol).cast("long").as("doc_id"),
        sf.col(textCol).as("__t")))
      .select(sf.col("doc_id"),
        sf.explode(gf.hashedWsNgrams(sf.col("__t"), n)).as("gh"))
      .localCheckpoint(true)
    val carriers = pairs.groupBy("gh")
      .agg(sf.count(sf.lit(1)).as("n_docs")) // pairs are doc-distinct
    pairs.join(carriers, "gh")
      .groupBy("doc_id")
      .agg(sf.count(sf.lit(1)).as("n_grams"),
        sf.sum((sf.col("n_docs") >= 2).cast("long")).as("n_dup_grams"))
      .select(sf.col("doc_id"), sf.col("n_grams"), sf.col("n_dup_grams"),
        gf.roundAt(sf.col("n_dup_grams").cast("double") /
          sf.col("n_grams").cast("double"), 4).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Linear text-classifier scoring via the hashing trick (the fastText
    * / Vowpal-Wabbit inference shape, and the scoring half of the
    * quality classifiers used for corpus filtering — GPT-3's WebText
    * LR filter, CCNet's fastText stage): each lowercased token hashes
    * into a fixed-size weight table, the document's score is the sum
    * of its tokens' weights plus a bias, and `flagged` thresholds the
    * (4-decimal-rounded) score at zero. Weights come from offline
    * training and arrive here as a plain array.
    *
    * Scale shape: map-only — the weight table is a plan literal (2^18
    * doubles = 2 MB rides the plan like the IVF codebook; broadcast a
    * DataFrame join on index past ~10^7 weights), the per-token work is
    * one MD5 + one array read inside codegen, and no shuffle exists at
    * any corpus size. The token hash is the same MD5 fold as
    * `fingerprints`' rolling hash, so a SQL oracle replays the exact
    * indices; left-to-right summation matches SQL `list_reduce`. */
  def classifierScore(docs0: DataFrame, idCol: String, textCol: String,
                      weights: Array[Double], bias: Double): DataFrame = {
    require(weights.nonEmpty && weights.length <= (1 << 22),
      s"literal weight table capped at 4M entries, got ${weights.length}")
    val docs = prepared(docs0, idCol, textCol)
    val toks = sf.transform(gf.wsTokens(sf.col(textCol)), t => sf.lower(t))
    val raw = gf.linearScore(toks, sf.lit(weights), sf.lit(weights.length))
    val score = gf.roundAt(raw + sf.lit(bias), 4)
    docs.select(
      sf.col(idCol),
      sf.size(toks).as("n_tokens"),
      score.as("score"),
      (score > 0).cast("int").as("flagged"))
      .orderBy(idCol)
  }

  /** Token-window chunking: split each document into fixed-size token
    * windows with overlap (stride = chunkSize − overlap) — the
    * context-window preprocessing step for embedding corpora and RAG
    * indexes. Every token is covered; the final window may be short;
    * empty documents yield no chunks. Deterministic: chunk boundaries
    * are pure arithmetic on the token index.
    *
    * Scale shape: map-only — one explode whose fan-out is
    * ceil(n/stride) per document; tokens never shuffle and no state
    * crosses documents. (The empty-doc filter must precede the
    * sequence: Spark's `sequence(0, -1)` infers a NEGATIVE step and
    * yields [0, -1], not an empty array.) */
  def chunkDocuments(docs0: DataFrame, idCol: String, textCol: String,
                     chunkSize: Int = 128, overlap: Int = 32): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    val docs = prepared(docs0, idCol, textCol)
    val nChunks = sf.lit(1) +
      sf.ceil(sf.greatest(sf.size(sf.col("__toks")) - chunkSize, sf.lit(0))
        .cast("double") / stride).cast("int")
    docs.select(sf.col(idCol), gf.wsTokens(sf.col(textCol)).as("__toks"))
      .filter(sf.size(sf.col("__toks")) > 0)
      .select(sf.col(idCol),
        sf.explode(sf.sequence(sf.lit(0), nChunks - 1)).as("chunk_id"),
        sf.col("__toks"))
      .select(sf.col(idCol), sf.col("chunk_id"),
        sf.size(sf.slice(sf.col("__toks"), sf.col("chunk_id") * stride + 1,
          sf.lit(chunkSize))).as("n_tokens"),
        sf.concat_ws(" ", sf.slice(sf.col("__toks"), sf.col("chunk_id") * stride + 1,
          sf.lit(chunkSize))).as("chunk_text"))
      .orderBy(idCol, "chunk_id")
  }

  /** Blocklist tagging (word-boundary term filter): per-document count
    * of tokens (with multiplicity) in a curation blocklist, plus the
    * distinct terms matched. Tokenizes like every other text operator
    * (lowercased whitespace tokens) so "Spam." != "spam" — pair with a
    * normalizer upstream when punctuation matters. Map-only: the
    * blocklist is a plan literal (curation lists are thousands of
    * terms, not millions — past that, switch to a broadcast join on
    * token), so the operator runs at scan speed at any corpus size. */
  def blocklistTag(docs0: DataFrame, idCol: String, textCol: String,
                   terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "blocklist must not be empty")
    require(terms.size <= 100000, "literal blocklist capped at 100k terms; " +
      "use a broadcast join on token for larger lists")
    val docs = prepared(docs0, idCol, textCol)
    val toks = sf.transform(gf.wsTokens(sf.col(textCol)), t => sf.lower(t))
    val blocked = sf.lit(terms.map(_.toLowerCase).distinct.sorted.toArray)
    val hits = sf.size(sf.filter(toks, t => sf.array_contains(blocked, t)))
    docs.select(
      sf.col(idCol),
      hits.as("n_hits"),
      sf.size(sf.array_intersect(sf.array_distinct(toks), blocked))
        .as("n_terms_matched"),
      (hits > 0).cast("int").as("flagged"))
      .orderBy(idCol)
  }
  /** PHRASE blocklist tagging via a single Aho–Corasick pass
    * ([[graft.functions.multiMatch]]) — the SUBSTRING/multi-word
    * companion of the token-level [[blocklistTag]]: real blocklists
    * (policy phrase lists, boilerplate markers, SEO spam templates)
    * are phrases, not tokens, and matching them by k contains() probes
    * is O(chars·k) where the automaton is O(chars + matches)
    * regardless of list size — at 100 TB the difference between a
    * scan-speed gate and a quadratic one. Counts follow the automaton
    * semantics: every match END POSITION counts (overlapping and
    * nested matches included — "a a" hits twice inside "a a a"); the
    * oracle twin is the naive per-position substring scan.
    *
    * Scale shape: map-only kernel inside whole-stage codegen (the
    * automaton is built once per plan and memoized per JVM); one
    * output row per document, ordered. Zero joins, zero shuffles
    * beyond the output order. */
  /** Language-ID confusion matrix against a labeled corpus — the EVAL
    * readout of the row-36 classifier (q16 scores documents; THIS says
    * where the classifier is wrong, which is what decides whether the
    * langid gate is trustworthy per language): one row per
    * (label, predicted) cell with the count, the within-label share
    * (row-normalized recall view), and the global accuracy repeated on
    * every row (the q120 ECE convention for one-number summaries in a
    * tall frame). Pure COMPOSITION over [[langId]] — never a second
    * language-ID implementation.
    *
    * Determinism: counts exact; shares/accuracy are pinned double
    * divisions rounded 1e-6; output ordered (label, predicted).
    *
    * Scale shape: the langId map-only pass + one |langs|²-domain
    * combinable cell collapse + a broadcast label margin + a broadcast
    * one-row accuracy. */
  def langIdConfusion(docs: DataFrame, idCol: String, textCol: String,
                      labelCol: String): DataFrame = {
    val pred = langId(docs, idCol, textCol, Some(labelCol))
      .localCheckpoint(true) // cells + accuracy read it
    val cells = pred.groupBy("label_lang", "predicted_lang")
      .agg(sf.count(sf.lit(1)).as("n"))
    val rowT = cells.groupBy(sf.col("label_lang").as("__l"))
      .agg(sf.sum("n").cast("long").as("__nl"))
    val acc = pred.agg((sf.sum(sf.col("is_match").cast("long")).cast("double") /
      sf.count(sf.lit(1)).cast("double")).as("__acc"))
    cells.join(sf.broadcast(rowT), sf.col("label_lang") === sf.col("__l"))
      .crossJoin(sf.broadcast(acc))
      .select(sf.col("label_lang"), sf.col("predicted_lang"), sf.col("n"),
        gf.roundAt(sf.col("n").cast("double") /
          sf.col("__nl").cast("double"), 6).as("share"),
        gf.roundAt(sf.col("__acc"), 6).as("accuracy"))
      .orderBy("label_lang", "predicted_lang")
  }

  /** Typed-PII audit per source (the MEASUREMENT companion of the
    * row-63 PII scrub: the scrub removes, this COUNTS what a corpus
    * leaks, by type — the number a release review asks for before any
    * redaction runs): email-shaped tokens, IPv4-shaped tokens, 10-digit
    * phone-shaped runs, 13–16-digit card candidates, and the subset
    * passing the Luhn checksum (ISO/IEC 7812 — the difference between
    * "digits that look like a card" and "a checksummed card number").
    * All detectors are PORTABLE STRUCTURAL definitions over whitespace
    * tokens and raw ASCII digit runs (`functions.piiSignals`) — no
    * regex dialect, so any SQL engine replays them with splits and
    * list comprehensions.
    *
    * Scale shape: ONE map-only kernel pass per document inside
    * whole-stage codegen + one source-keyed combinable rollup. No
    * joins, no windows. */
  def piiAudit(docs: DataFrame, textCol: String,
               sourceCol: String): DataFrame = {
    val sig = gf.piiSignals(sf.col(textCol))
    val base = Par.spread(docs.select(sf.col(sourceCol).as("source"),
        sf.col(textCol)))
      .filter(sf.col(textCol).isNotNull && sf.col("source").isNotNull)
      .select(sf.col("source"), sig.as("__s"))
    base.groupBy("source").agg(
        sf.count(sf.lit(1)).as("n_docs"),
        sf.sum(sf.col("__s").getItem(0)).as("n_email"),
        sf.sum(sf.col("__s").getItem(1)).as("n_ipv4"),
        sf.sum(sf.col("__s").getItem(2)).as("n_phone"),
        sf.sum(sf.col("__s").getItem(3)).as("n_card_candidates"),
        sf.sum(sf.col("__s").getItem(4)).as("n_luhn_valid"),
        sf.sum((sf.col("__s").getItem(0) + sf.col("__s").getItem(1) +
          sf.col("__s").getItem(2) + sf.col("__s").getItem(3) > 0)
          .cast("long")).as("docs_flagged"))
      .orderBy("source")
  }

  def blocklistPhrases(docs0: DataFrame, idCol: String, textCol: String,
                       phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "phrase blocklist must not be empty")
    require(phrases.forall(_.nonEmpty), "phrase blocklist contains an empty phrase")
    require(phrases.size <= 100000, "literal phrase blocklist capped at 100k")
    val docs = prepared(docs0, idCol, textCol)
      .filter(sf.col(textCol).isNotNull)
    val pats = sf.lit(phrases.map(_.toLowerCase).distinct.sorted.toArray)
    val mm = gf.multiMatch(sf.lower(sf.col(textCol)), pats)
    docs.select(
      sf.col(idCol),
      mm.getItem(0).as("n_hits"),
      mm.getItem(1).as("n_phrases_matched"),
      (mm.getItem(0) > 0L).cast("int").as("flagged"))
      .orderBy(idCol)
  }

  /** Tokenizer fertility profile per source: how many subword (BPE-ish)
    * tokens a source costs per whitespace word and per UTF-8 byte —
    * the budgeting number that says "this source is 40% more expensive
    * to train on than its word count suggests" (fertility varies 2-4x
    * across languages/scripts for real BPE vocabularies).
    *
    * Scale shape: map-only token counting (the q14 kernels) into one
    * combinable aggregation — shuffle is one row per (map task,
    * source). Ratios assemble from exact integer sums in pinned double
    * expressions. */
  def tokenizerFertility(docs: DataFrame, sourceCol: String,
                         textCol: String): DataFrame =
    docs
      .select(sf.col(sourceCol).as("source"),
        gf.tokenCount(sf.col(textCol)).cast("long").as("__ws"),
        gf.bpeTokenCount(sf.col(textCol)).cast("long").as("__bpe"),
        sf.octet_length(sf.col(textCol)).cast("long").as("__bytes"))
      .groupBy("source")
      .agg(sf.count(sf.lit(1)).as("n_docs"),
        sf.sum(sf.col("__ws")).as("n_words"),
        sf.sum(sf.col("__bpe")).as("n_tokens"),
        sf.sum(sf.col("__bytes")).as("n_bytes"))
      .select(sf.col("source"), sf.col("n_docs"), sf.col("n_words"),
        sf.col("n_tokens"), sf.col("n_bytes"),
        sf.when(sf.col("n_words") > 0,
          gf.roundAt(sf.col("n_tokens").cast("double") / sf.col("n_words").cast("double"), 4))
          .as("fertility"),
        sf.when(sf.col("n_tokens") > 0,
          gf.roundAt(sf.col("n_bytes").cast("double") / sf.col("n_tokens").cast("double"), 4))
          .as("bytes_per_token"))
      .orderBy("source")

  /** Iterative BPE merge learning (Sennrich et al. 2016) — the actual
    * tokenizer-training loop, not just the first pair count (q112):
    * start from characters, repeatedly find the most frequent adjacent
    * symbol pair over the WORD-FREQUENCY table and fuse it everywhere,
    * emitting the ordered merge table a tokenizer is built from.
    *
    * Symbol streams are encoded as sentinel-wrapped strings
    * (" h  e …" — the sentinel is a SPACE, which `wsTokens` guarantees
    * can never appear inside a token, unlike any control character a
    * dirty web corpus can and does contain), so one literal string
    * `replace` per iteration applies a merge corpus-wide with exactly
    * BPE's greedy left-to-right non-overlapping semantics, and
    * full-symbol boundaries can never match inside a longer symbol.
    * Ties on the pair count break by (left, right) — a total order, so
    * the merge sequence is a pure function of the corpus.
    *
    * Scale shape: ONE corpus-sized pass builds the word-frequency
    * table; all iterations run on that vocabulary-sized frame (Zipf:
    * orders of magnitude below corpus size), checkpointed each round
    * so lineage stays flat. The per-round argmax is a one-row collect
    * — a bounded scalar, the same contract as pageRank's node count.
    * Round ceiling: each merge is one Spark job over the vocab frame +
    * a one-row collect, so nMerges is capped at 200 — right for
    * merge-table analytics and spec-sized tokenizers; a production 32k
    * tokenizer would train on the (tiny, Zipf-truncated) driver-local
    * top-vocabulary instead, not on 32k sequential cluster jobs.
    * Caveat: character splitting is UTF-16-unit-based on the Spark
    * side; byte- or codepoint-level pretokenization is upstream's job
    * for non-BMP corpora. */
  def bpeTrain(docs: DataFrame, textCol: String, nMerges: Int = 10): DataFrame = {
    require(nMerges >= 1 && nMerges <= 200,
      s"nMerges must be in [1, 200], got $nMerges")
    val SEP = " "
    val spark = docs.sparkSession
    val wf = Par.spread(docs.select(sf.col(textCol).as("__t")))
      .select(sf.explode(gf.wsTokens(sf.lower(sf.col("__t")))).as("w"))
      .groupBy("w").agg(sf.count(sf.lit(1)).as("freq"))
    var vocab = wf.select(
      sf.array_join(sf.transform(sf.split(sf.col("w"), ""),
        c => sf.concat(sf.lit(SEP), c, sf.lit(SEP))), "").as("s"),
      sf.col("freq"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var done = false
    while (step <= nMerges && !done) {
      val syms = sf.split(sf.expr(s"btrim(s, '$SEP')"), SEP + SEP)
      val best = vocab
        .select(sf.col("freq"), syms.as("syms"))
        .filter(sf.size(sf.col("syms")) >= 2)
        .select(sf.col("freq"), sf.explode(sf.expr(
          "transform(sequence(0, size(syms) - 2), i -> struct(syms[i] AS a, syms[i + 1] AS b))"))
          .as("p"))
        .groupBy("p.a", "p.b").agg(sf.sum("freq").as("cnt"))
        .orderBy(sf.col("cnt").desc, sf.col("a"), sf.col("b"))
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (a, b, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((step, a, b, cnt))
        vocab = vocab.select(
          sf.replace(sf.col("s"), sf.lit(SEP + a + SEP + SEP + b + SEP),
            sf.lit(SEP + a + b + SEP)).as("s"), sf.col("freq"))
          .localCheckpoint(true)
        step += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("step", "left_sym", "right_sym", "freq")
      .select(sf.col("step"), sf.col("left_sym"), sf.col("right_sym"),
        sf.concat(sf.col("left_sym"), sf.col("right_sym")).as("merged"),
        sf.col("freq"))
      .orderBy("step")
  }

  /** Per-source character-class profile: exact counts and fractions of
    * alphabetic / digit / space / other characters — the script-mix
    * datasheet row that flags encoding junk, numeric dumps, and
    * minified blobs at the source level before any per-doc scoring.
    * Classes are explicit ASCII ranges ([a-z] on lowercased text,
    * [0-9], the space character) so the Java and RE2 regex engines
    * agree by construction; everything else (unicode letters, control
    * bytes, punctuation) lands in `other`.
    *
    * Determinism: per-doc class counts are length differences after
    * regexp_replace — exact integers; per-source sums are exact; each
    * fraction is ONE division of exact longs rounded at 1e-4.
    *
    * Scale shape: map-only per-row counting (codegen'd regex on the
    * scan), one map-side-combinable aggregation to the source domain. */
  def charClassProfile(docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val t = sf.lower(sf.col(textCol))
    val len = sf.length(sf.col(textCol)).cast("long")
    def cnt(cls: String) = len - sf.length(sf.regexp_replace(t, cls, "")).cast("long")
    val agg = Par.spread(docs.select(sf.col(groupCol), sf.col(textCol)))
      .filter(sf.col(textCol).isNotNull)
      .select(sf.col(groupCol), len.as("__n"), cnt("[a-z]").as("__a"),
        cnt("[0-9]").as("__d"), cnt("[ ]").as("__s"))
      .groupBy(groupCol)
      .agg(sf.sum("__n").as("n_chars"), sf.sum("__a").as("__sa"),
        sf.sum("__d").as("__sd"), sf.sum("__s").as("__ss"))
    def frac(c: org.apache.spark.sql.Column) = sf.when(sf.col("n_chars") > 0,
      gf.roundAt(c.cast("double") / sf.col("n_chars").cast("double"), 4))
    agg.select(sf.col(groupCol), sf.col("n_chars"),
        frac(sf.col("__sa")).as("frac_alpha"),
        frac(sf.col("__sd")).as("frac_digit"),
        frac(sf.col("__ss")).as("frac_space"),
        frac(sf.col("n_chars") - sf.col("__sa") - sf.col("__sd") - sf.col("__ss"))
          .as("frac_other"))
      .orderBy(groupCol)
  }

  /** Apply a learned BPE merge table (the `bpeTrain` output) to
    * tokenize the corpus — the encode half of the tokenizer, giving
    * TRUE tokenizer token streams/counts where `tokenCount`'s regex is
    * an approximation (token budgets, mixture weights, packing all
    * consume these).
    *
    * Each document's words are sentinel-wrapped exactly as in
    * training (" h  e …", space sentinel) and joined with a newline
    * word boundary (a whitespace char, so it can never occur inside a
    * `wsTokens` token and no merge pattern " a  b " can span it); the
    * merge table then applies as an ORDERED chain of literal
    * `replace`s — the same greedy left-to-right non-overlapping
    * semantics as training, one codegen'd expression, no UDF.
    *
    * Scale shape: map-only — the merge table is a bounded tokenizer
    * artifact (<= 200 merges, the `bpeTrain` contract) compiled into
    * the plan as literals; the corpus never shuffles and the pass runs
    * at scan speed. */
  def applyBpe(docs: DataFrame, idCol: String, textCol: String,
               merges: Seq[(String, String)]): DataFrame = {
    require(merges.size <= 200,
      s"merge table must be bounded (<= 200), got ${merges.size}")
    val SEP = " "
    val WB = "\n"
    val enc = sf.array_join(
      sf.transform(gf.wsTokens(sf.lower(sf.col(textCol))),
        w => sf.array_join(
          sf.transform(sf.split(w, ""), c => sf.concat(sf.lit(SEP), c, sf.lit(SEP))), "")),
      WB)
    val mergedS = merges.foldLeft(enc) { case (c, (a, b)) =>
      sf.replace(c, sf.lit(SEP + a + SEP + SEP + b + SEP), sf.lit(SEP + a + b + SEP))
    }
    val toks = sf.filter(
      sf.flatten(sf.transform(sf.split(mergedS, WB),
        w => sf.split(sf.btrim(w, sf.lit(SEP)), SEP + SEP))),
      t => t =!= "")
    docs.select(sf.col(idCol), toks.as("bpe_tokens"))
  }

  /** Gopher document-quality gate (Rae et al. 2021, appendix A1.1 —
    * the rule set most LLM curation pipelines start from), evaluated
    * as ONE wide map-only pass: per document the raw signals, one
    * boolean per rule, and the conjunction `pass`.
    *
    * Rules (published thresholds):
    *   word count in [minWords, maxWords] (50..100k);
    *   mean word length in [3, 10];
    *   symbol-to-word ratio ('#' and '...') <= 0.1;
    *   <= 90% of lines start with a bullet ('-' or '*');
    *   <= 30% of lines end with an ellipsis;
    *   >= 80% of words contain an alphabetic character;
    *   >= 2 distinct English stopwords present (the Kernels.stopwords
    *   "en" list — the ham-vs-gibberish check).
    *
    * Every signal is integer counting + one exact division, so rule
    * booleans can't drift between engines; fractions are additionally
    * emitted 1e-4-rounded for the report. Scale shape: map-only (no
    * shuffle, no UDFs — regex/array kernels inside codegen); the gate
    * composes with `Pipeline.curate` as a pre-dedup filter. */
  def gopherGate(docs0: DataFrame, idCol: String, textCol: String,
                 minWords: Long = 50, maxWords: Long = 100000): DataFrame = {
    val docs = Par.spread(docs0.select(sf.col(idCol).cast("long").as("doc_id"),
      sf.col(textCol).as("__t")))
    val t = sf.col("__t")
    val toks = gf.wsTokens(t)
    val lowToks = gf.wsTokens(sf.lower(t))
    val lines = sf.split(t, "\n")
    val nWords = sf.size(toks).cast("long")
    val nLines = sf.size(lines).cast("long")
    val charLen = sf.length(t)
    val nHash = (charLen - sf.length(sf.regexp_replace(t, "#", ""))).cast("long")
    val nEll = ((charLen - sf.length(sf.regexp_replace(t, "\\.\\.\\.", "")))
      .cast("double") / 3.0).cast("long")
    val nBullet = sf.size(sf.filter(lines,
      l => l.rlike("^\\s*[-*]"))).cast("long")
    val nEllLine = sf.size(sf.filter(lines,
      l => l.rlike("\\.\\.\\.\\s*$"))).cast("long")
    val nAlpha = sf.size(sf.filter(toks,
      x => x.rlike("[A-Za-z]"))).cast("long")
    val stopLits = sf.array(
      graft.plans.Kernels.stopwords("en").map(sf.lit): _*)
    val stopHits = sf.size(sf.filter(stopLits,
      w => sf.array_contains(lowToks, w))).cast("long")
    val nw = nWords.cast("double")
    val meanW = sf.when(nWords > 0,
      sf.length(sf.regexp_replace(sf.trim(t), "\\s+", "")).cast("double") / nw)
    val symR = sf.when(nWords > 0, (nHash + nEll).cast("double") / nw)
    val bulletF = nBullet.cast("double") / nLines.cast("double")
    val ellF = nEllLine.cast("double") / nLines.cast("double")
    val alphaF = sf.when(nWords > 0, nAlpha.cast("double") / nw)
    def rule(c: org.apache.spark.sql.Column) =
      sf.when(c, true).otherwise(false)
    val rWc = rule(nWords >= minWords && nWords <= maxWords)
    val rMwl = rule(sf.coalesce(meanW >= 3.0 && meanW <= 10.0, sf.lit(false)))
    val rSym = rule(sf.coalesce(symR <= 0.1, sf.lit(false)))
    val rBul = rule(bulletF <= 0.9)
    val rEll = rule(ellF <= 0.3)
    val rAlp = rule(sf.coalesce(alphaF >= 0.8, sf.lit(false)))
    val rStp = rule(stopHits >= 2)
    docs.select(sf.col("doc_id"), nWords.as("n_words"),
        gf.roundAt(meanW, 4).as("mean_word_len"),
        gf.roundAt(symR, 4).as("symbol_ratio"),
        gf.roundAt(bulletF, 4).as("bullet_frac"),
        gf.roundAt(ellF, 4).as("ellipsis_frac"),
        gf.roundAt(alphaF, 4).as("alpha_word_frac"),
        stopHits.as("stop_hits"),
        rWc.as("r_word_count"), rMwl.as("r_mean_word_len"),
        rSym.as("r_symbol"), rBul.as("r_bullet"), rEll.as("r_ellipsis"),
        rAlp.as("r_alpha"), rStp.as("r_stopwords"),
        (rWc && rMwl && rSym && rBul && rEll && rAlp && rStp).as("pass"))
      .orderBy("doc_id")
  }

  /** Per-document language-mixture profile: chunk the token stream
    * into fixed windows, language-ID each chunk with the q16
    * stopword-hit heuristic, and report how many languages the doc
    * spans, the dominant one and its chunk share — the code-switching
    * / concatenated-page detector a single whole-doc langId call
    * structurally cannot be (it averages the mixture away), and the
    * router for per-language quality gates (q44 stopword ratios are
    * per-language).
    *
    * Determinism: chunk boundaries are exact token indices; each
    * chunk's prediction is the q16 argmax (distinct stopword hits,
    * ties to the lexicographically larger code); the dominant
    * language maxes (chunk-count, lang) — all integers, one final
    * division.
    *
    * Scale shape: map-only chunk explode (fan-out = tokens/W, the q81
    * chunking shape), then two combinable aggregations on (doc, lang)
    * and doc domains. */
  def langMixture(docs0: DataFrame, idCol: String, textCol: String,
                  chunkTokens: Int = 16): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    val docs = prepared(docs0, idCol, textCol)
    val W = chunkTokens
    val chunked = docs
      .select(sf.col(idCol), gf.wsTokens(sf.lower(sf.col(textCol))).as("__toks"))
      .filter(sf.size(sf.col("__toks")) > 0)
      .select(sf.col(idCol), sf.explode(sf.expr(
        s"""transform(sequence(0, int(ceil(size(__toks) / ${W}.0)) - 1),
           |i -> slice(__toks, i * $W + 1, $W))""".stripMargin)).as("__ct"))
    val perChunk = chunked.select(sf.col(idCol),
      gf.langIdTokens(sf.col("__ct")).as("__lang"))
    val counts = perChunk.groupBy(sf.col(idCol), sf.col("__lang"))
      .agg(sf.count(sf.lit(1)).as("__c"))
    counts.groupBy(sf.col(idCol))
      .agg(sf.sum("__c").as("n_chunks"),
        sf.count(sf.lit(1)).as("n_langs"),
        sf.max(sf.struct(sf.col("__c"), sf.col("__lang"))).as("__dom"))
      .select(sf.col(idCol), sf.col("n_chunks"), sf.col("n_langs"),
        sf.col("__dom.__lang").as("dominant_lang"),
        gf.roundAt(sf.col("__dom.__c").cast("double") /
          sf.col("n_chunks").cast("double"), 4).as("dominant_frac"),
        (sf.col("n_langs") > 1).as("is_mixed"))
      .orderBy(idCol)
  }

  /** Flesch readability per document — FK grade level
    * 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59 and
    * Reading Ease 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words) (Kincaid et al. 1975) — the classic
    * audience-difficulty signal quality-filter stacks report next to
    * the Gopher gate (grade-2 text and grade-19 text are both
    * suspicious in a web corpus). Syllables use the standard
    * vowel-group heuristic: non-overlapping [aeiouy]+ runs per
    * lowercased word, floored at 1 per word; sentences are [.!?]+
    * runs, floored at 1 — exact integer counts, so the only doubles
    * are the two final pinned assemblies, rounded once at 1e-4.
    *
    * Scale shape: pure per-row kernels (regexp_count + one bounded
    * array fold) — map-only at any scale, zero shuffles, zero UDFs. */
  def readability(docs0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = prepared(docs0, idCol, textCol)
      .filter(sf.length(sf.trim(sf.col(textCol))) > 0)
    val lower = sf.lower(sf.col(textCol))
    val words = gf.wsTokens(lower)
    val nWords = sf.size(words).cast("long")
    val syl = sf.aggregate(
      sf.transform(words, w =>
        sf.greatest(sf.lit(1L), sf.regexp_count(w, sf.lit("[aeiouy]+")).cast("long"))),
      sf.lit(0L), (acc, x) => acc + x)
    val nSent = sf.greatest(sf.lit(1L),
      sf.regexp_count(lower, sf.lit("[.!?]+")).cast("long"))
    val wps = sf.col("n_words").cast("double") / sf.col("n_sentences").cast("double")
    val spw = sf.col("n_syllables").cast("double") / sf.col("n_words").cast("double")
    docs.select(sf.col(idCol), nWords.as("n_words"), nSent.as("n_sentences"),
        syl.as("n_syllables"))
      .select(sf.col(idCol), sf.col("n_words"), sf.col("n_sentences"),
        sf.col("n_syllables"),
        gf.roundAt(sf.lit(0.39) * wps + sf.lit(11.8) * spw - sf.lit(15.59), 4)
          .as("fk_grade"),
        gf.roundAt(sf.lit(206.835) - sf.lit(1.015) * wps - sf.lit(84.6) * spw, 4)
          .as("reading_ease"))
      .orderBy(idCol)
  }

  /** Unicode-hygiene audit per source — the byte-level damage signals
    * the mojibake audit (row 254) and homoglyph audit (row 394) don't
    * cover: combining diacritical marks (Zalgo text stacks dozens per
    * base char — it crashes renderers and poisons tokenizers),
    * zero-width characters (ZWSP/ZWNJ/ZWJ/BOM — the classic
    * wall-bypass and watermark channel: text that LOOKS identical
    * dedups differently), raw C0 control characters, and the UTF-8
    * bytes-per-char ratio (a corpus claiming to be English at 2.1
    * bytes/char is mislabeled or damaged). Reported per source as
    * per-10k-char densities — the curation dashboard row.
    *
    * Determinism: every count is an exact regexp_count over explicit
    * code-point ranges; densities are pinned integer-ratio divisions
    * rounded 1e-6.
    *
    * Scale shape: map-only per-row counting + ONE combinable source
    * rollup — zero joins, zero windows at any corpus size. */
  def unicodeAudit(docs0: DataFrame, sourceCol: String,
                   textCol: String): DataFrame = {
    val docs = Par.spread(docs0
      .filter(sf.col(sourceCol).isNotNull && sf.col(textCol).isNotNull)
      .select(sf.col(sourceCol).cast("string").as("source"),
        sf.col(textCol).as("__t")))
    val t = sf.col("__t")
    def cnt(pattern: String) = sf.regexp_count(t, sf.lit(pattern)).cast("long")
    val per = docs.select(sf.col("source"),
      sf.length(t).cast("long").as("__ch"),
      sf.octet_length(t).cast("long").as("__by"),
      cnt("[\\x{0300}-\\x{036F}]").as("__comb"),
      cnt("[\\x{200B}-\\x{200D}\\x{FEFF}]").as("__zw"),
      // NUL (U+0000) is deliberately excluded: the DuckDB oracle can't
      // embed it in a pattern literal, and a NUL in text is upstream
      // ingestion damage the mojibake audit (row 254) owns anyway
      cnt("[\\x{0001}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}]")
        .as("__ctl"))
    per.groupBy("source")
      .agg(sf.count(sf.lit(1)).as("n_docs"),
        sf.sum("__ch").cast("long").as("n_chars"),
        sf.sum("__by").cast("long").as("n_bytes"),
        sf.sum("__comb").cast("long").as("__c"),
        sf.sum("__zw").cast("long").as("__z"),
        sf.sum("__ctl").cast("long").as("__k"))
      .select(sf.col("source"), sf.col("n_docs"), sf.col("n_chars"),
        sf.when(sf.col("n_chars") > 0, gf.roundAt(
          sf.col("n_bytes").cast("double") / sf.col("n_chars").cast("double"), 6))
          .as("bytes_per_char"),
        sf.when(sf.col("n_chars") > 0, gf.roundAt(
          sf.col("__c").cast("double") * 1e4 / sf.col("n_chars").cast("double"),
          6)).as("combining_per_10k"),
        sf.when(sf.col("n_chars") > 0, gf.roundAt(
          sf.col("__z").cast("double") * 1e4 / sf.col("n_chars").cast("double"),
          6)).as("zero_width_per_10k"),
        sf.when(sf.col("n_chars") > 0, gf.roundAt(
          sf.col("__k").cast("double") * 1e4 / sf.col("n_chars").cast("double"),
          6)).as("control_per_10k"))
      .orderBy("source")
  }

  /** Dialog/instruction-format census per source — which documents
    * carry CONVERSATIONAL or INSTRUCTION-TUNING structure: chat
    * transcripts (role-prefixed lines `User:` / `Assistant:` /
    * `System:`), Q&A pairs (`Q:` and `A:` line heads), and the Alpaca
    * instruction template (`### Instruction` + `### Response`
    * headers). The routing signal an LLM-data pipeline needs that
    * row 448's markdown profile (headers/lists/fences) doesn't carry:
    * dialog-formatted documents go to the SFT lane with different
    * dedup keys, packing rules and quality gates than plain prose.
    *
    * Determinism: line endings are NORMALIZED first (CRLF/CR/NEL/
    * LS/PS -> LF) because the engines' `(?m)^` semantics differ on
    * raw text — Java multiline ^ also matches after \r, U+0085 and
    * U+2028/9 while RE2 (the oracle engine) matches only after \n;
    * after normalization only \n breaks exist and the anchored
    * patterns (character classes only) count identically in both.
    * Shares are pinned integer-ratio divisions 1e-6.
    *
    * Scale shape: map-only per-row flags + ONE combinable source
    * rollup — zero joins, zero windows at any corpus size. */
  def formatCensus(docs0: DataFrame, sourceCol: String,
                   textCol: String): DataFrame = {
    val docs = Par.spread(docs0
      .filter(sf.col(sourceCol).isNotNull && sf.col(textCol).isNotNull)
      .select(sf.col(sourceCol).cast("string").as("source"),
        sf.translate(
          sf.regexp_replace(sf.col(textCol), sf.lit("\r\n"), sf.lit("\n")),
          "\r\u0085\u2028\u2029", "\n\n\n\n").as("__t")))
    def cnt(pattern: String) =
      sf.regexp_count(sf.col("__t"), sf.lit(pattern)).cast("long")
    val per = docs.select(sf.col("source"),
      (cnt("(?m)^(User|Assistant|System): ") >= 2).cast("int").as("__chat"),
      (cnt("(?m)^Q[:.]") >= 1 && cnt("(?m)^A[:.]") >= 1).cast("int").as("__qa"),
      (cnt("(?m)^### Instruction") >= 1 &&
        cnt("(?m)^### Response") >= 1).cast("int").as("__alpaca"))
    per.withColumn("__any",
        sf.greatest(sf.col("__chat"), sf.col("__qa"), sf.col("__alpaca")))
      .groupBy("source")
      .agg(sf.count(sf.lit(1)).as("n_docs"),
        sf.sum("__chat").cast("long").as("n_chat"),
        sf.sum("__qa").cast("long").as("n_qa"),
        sf.sum("__alpaca").cast("long").as("n_alpaca"),
        sf.sum("__any").cast("long").as("__na"))
      .select(sf.col("source"), sf.col("n_docs"), sf.col("n_chat"),
        sf.col("n_qa"), sf.col("n_alpaca"),
        gf.roundAt(sf.col("__na").cast("double") /
          sf.col("n_docs").cast("double"), 6).as("dialog_share"))
      .orderBy("source")
  }

  /** Dialog STRUCTURE profile per source — beyond row 496's format
    * DETECTION (is this a chat?), the structural stats an SFT-data
    * curator gates on: turns per dialog, ALTERNATION VIOLATIONS
    * (consecutive same-role turns — merged/truncated transcripts, the
    * classic scrape defect), and the user/assistant balance (a
    * healthy instruction corpus sits near 1; assistant-heavy means
    * monologue spam). Dialogs are documents with >= 2 role-prefixed
    * lines.
    *
    * Determinism: line endings normalize exactly as row 496 (CRLF/CR/
    * NEL/LS/PS -> LF — Java vs RE2 multiline-^ parity); roles are
    * anchored regexp captures in document order; every stat is an
    * exact count, shares pinned 1e-6.
    *
    * Scale shape: map-only per-row role extraction (one regexp pass +
    * bounded array ops) + ONE combinable source rollup. */
  def dialogProfile(docs0: DataFrame, sourceCol: String,
                    textCol: String): DataFrame = {
    val docs = Par.spread(docs0
      .filter(sf.col(sourceCol).isNotNull && sf.col(textCol).isNotNull)
      .select(sf.col(sourceCol).cast("string").as("source"),
        sf.translate(
          sf.regexp_replace(sf.col(textCol), sf.lit("\r\n"), sf.lit("\n")),
          "\r\u0085\u2028\u2029", "\n\n\n\n").as("__t")))
    val roles = sf.regexp_extract_all(sf.col("__t"),
      sf.lit("(?m)^(User|Assistant|System): "), sf.lit(1))
    val per = docs.select(sf.col("source"), roles.as("__r"))
      .select(sf.col("source"),
        sf.size(sf.col("__r")).cast("long").as("__nt"),
        sf.size(sf.filter(sf.col("__r"), r => r === "User")).cast("long").as("__nu"),
        sf.size(sf.filter(sf.col("__r"), r => r === "Assistant")).cast("long").as("__na"),
        // adjacent same-role pairs in document order
        sf.size(sf.filter(
          sf.zip_with(sf.col("__r"),
            sf.slice(sf.col("__r"), sf.lit(2), sf.size(sf.col("__r"))),
            (a, b) => a === b), x => x)).cast("long").as("__nv"))
    per.groupBy("source").agg(
        sf.count(sf.lit(1)).as("n_docs"),
        sf.sum((sf.col("__nt") >= 2).cast("long")).as("n_dialog_docs"),
        sf.sum(sf.when(sf.col("__nt") >= 2, sf.col("__nt"))
          .otherwise(sf.lit(0L))).as("__turns"),
        sf.sum(sf.when(sf.col("__nt") >= 2, sf.col("__nv"))
          .otherwise(sf.lit(0L))).as("__viol"),
        sf.sum(sf.when(sf.col("__nt") >= 2, sf.col("__nt") - 1)
          .otherwise(sf.lit(0L))).as("__adj"),
        sf.sum(sf.when(sf.col("__nt") >= 2, sf.col("__nu"))
          .otherwise(sf.lit(0L))).as("__u"),
        sf.sum(sf.when(sf.col("__nt") >= 2, sf.col("__na"))
          .otherwise(sf.lit(0L))).as("__a"))
      .select(sf.col("source"), sf.col("n_docs"), sf.col("n_dialog_docs"),
        sf.when(sf.col("n_dialog_docs") > 0, gf.roundAt(
          sf.col("__turns").cast("double") / sf.col("n_dialog_docs").cast("double"),
          6)).as("mean_turns"),
        sf.when(sf.col("__adj") > 0, gf.roundAt(
          sf.col("__viol").cast("double") / sf.col("__adj").cast("double"), 6))
          .as("violation_share"),
        sf.when(sf.col("__a") > 0, gf.roundAt(
          sf.col("__u").cast("double") / sf.col("__a").cast("double"), 6))
          .as("user_assistant_ratio"))
      .orderBy("source")
  }

  /** Boilerplate LINE census — the exact lines that repeat across the
    * most documents (nav bars, license headers, cookie banners,
    * signature blocks), with occurrence and source spread: the
    * REVIEW TABLE behind row 62's keep-first line dedup and row 376's
    * prefix detector — before deleting 40M copies of a line, a human
    * wants to SEE the top offenders and which sources ship them
    * (spread across every source = platform chrome; one source =
    * that crawl's template).
    *
    * Determinism: lines split on newline, trimmed, shorter than
    * `minChars` dropped (trivia); counts are exact; the top-K order
    * (doc-frequency desc, line asc) is integer-decided.
    *
    * Scale shape: one map-only line explode + a distinct (doc, line)
    * collapse + one combinable line rollup + TakeOrdered — the row 62
    * shuffle with a census finish. */
  def boilerplateLines(docs: DataFrame, idCol: String, sourceCol: String,
                       textCol: String, minChars: Int = 10,
                       topK: Int = 50): DataFrame = {
    require(minChars >= 1 && topK >= 1,
      s"boilerplateLines: bad minChars=$minChars / topK=$topK")
    val lines = Par.spread(docs.filter(sf.col(idCol).isNotNull &&
        sf.col(sourceCol).isNotNull && sf.col(textCol).isNotNull)
      .select(sf.col(idCol).as("__d"), sf.col(sourceCol).as("__s"),
        sf.col(textCol).as("__t")))
      .select(sf.col("__d"), sf.col("__s"),
        sf.explode(sf.split(sf.col("__t"), "\n")).as("__l0"))
      .select(sf.col("__d"), sf.col("__s"), sf.trim(sf.col("__l0")).as("line"))
      .filter(sf.length(sf.col("line")) >= minChars)
    lines.groupBy("line")
      .agg(sf.count_distinct(sf.col("__d")).as("n_docs"),
        sf.count(sf.lit(1)).as("n_occurrences"),
        sf.count_distinct(sf.col("__s")).as("n_sources"))
      .orderBy(sf.col("n_docs").desc, sf.col("line"))
      .limit(topK)
  }

  /** Token case-collision report — for every case-folded token with
    * more than one SURFACE form, the variant census (forms, total
    * occurrences, the dominant form and its share): the vocabulary-
    * build decision table ("US" vs "us", "Apple" vs "apple" — fold or
    * keep?) that neither the cased nor the folded frequency table can
    * answer alone, and the pre-tokenizer audit before any row 150/174
    * BPE training commits to a casing policy. Low dominant share =
    * genuinely ambiguous casing (fold loses information); ~1.0 =
    * safe to fold.
    *
    * Determinism: exact token counts on the (folded, surface) DOMAIN;
    * the dominant form is an exact max(struct(count, form)) with a
    * LARGEST-form tie-break; share is a pinned division 1e-6; output
    * caps at `topK` collisions by (occurrences desc, token) —
    * tie-deterministic.
    *
    * Scale shape: one tokenize-explode + a (folded, surface) domain
    * collapse + a folded-domain rollup + TakeOrdered — the vocabulary
    * is the domain, never the corpus. */
  def caseCollisions(docs0: DataFrame, textCol: String,
                     topK: Int = 100): DataFrame = {
    require(topK >= 1 && topK <= 100000, s"topK must be in [1, 1e5], got $topK")
    val docs = Par.spread(docs0.filter(sf.col(textCol).isNotNull)
      .select(sf.col(textCol).as("__t")))
    val surf = docs
      .select(sf.explode(gf.wsTokens(sf.col("__t"))).as("form"))
      .filter(sf.col("form").rlike("^[A-Za-z]+$")) // letters only: casing is the question
      .groupBy(sf.lower(sf.col("form")).as("token"), sf.col("form"))
      .agg(sf.count(sf.lit(1)).as("c"))
    surf.groupBy("token")
      .agg(sf.count(sf.lit(1)).as("n_forms"),
        sf.sum("c").cast("long").as("n_occurrences"),
        sf.max(sf.struct(sf.col("c"), sf.col("form"))).as("__m"))
      .filter(sf.col("n_forms") >= 2)
      .select(sf.col("token"), sf.col("n_forms"), sf.col("n_occurrences"),
        sf.col("__m.form").as("dominant_form"),
        gf.roundAt(sf.col("__m.c").cast("double") /
          sf.col("n_occurrences").cast("double"), 6).as("dominant_share"))
      .orderBy(sf.col("n_occurrences").desc, sf.col("token"))
      .limit(topK)
  }

  /** Shouting / emphasis audit per source — the caps-and-punctuation
    * spam signals the length/stopword gates (rows 35/220) don't read:
    * ALL-CAPS word share (≥ 2 letters, all upper — headline spam,
    * scraped navigation chrome), repeated-punctuation BURSTS (!!, ??,
    * !?, … runs — engagement-bait register), and trailing-ellipsis
    * density (truncated scrapes). Reported per source as word-share /
    * per-10k-word densities — the curation dashboard row beside the
    * unicode audit (row 447).
    *
    * Determinism: exact regexp counts on the RAW (uncased) text;
    * shares are pinned divisions 1e-6.
    *
    * Scale shape: map-only per-row counting + one combinable source
    * rollup. */
  def shoutingAudit(docs0: DataFrame, sourceCol: String,
                    textCol: String): DataFrame = {
    val docs = Par.spread(docs0
      .filter(sf.col(sourceCol).isNotNull && sf.col(textCol).isNotNull)
      .select(sf.col(sourceCol).cast("string").as("source"),
        sf.col(textCol).as("__t")))
    val t = sf.col("__t")
    def cnt(pattern: String) = sf.regexp_count(t, sf.lit(pattern)).cast("long")
    val per = docs.select(sf.col("source"),
      sf.size(gf.wsTokens(t)).cast("long").as("__w"),
      cnt("\\b[A-Z]{2,}\\b").as("__caps"),
      cnt("[!?]{2,}").as("__burst"),
      cnt("\\.\\.\\.").as("__ell"))
    per.groupBy("source")
      .agg(sf.count(sf.lit(1)).as("n_docs"),
        sf.sum("__w").cast("long").as("n_words"),
        sf.sum("__caps").cast("long").as("__c"),
        sf.sum("__burst").cast("long").as("__b"),
        sf.sum("__ell").cast("long").as("__e"))
      .select(sf.col("source"), sf.col("n_docs"), sf.col("n_words"),
        sf.when(sf.col("n_words") > 0, gf.roundAt(
          sf.col("__c").cast("double") / sf.col("n_words").cast("double"), 6))
          .as("caps_word_share"),
        sf.when(sf.col("n_words") > 0, gf.roundAt(
          sf.col("__b").cast("double") * 1e4 / sf.col("n_words").cast("double"),
          6)).as("punct_bursts_per_10k"),
        sf.when(sf.col("n_words") > 0, gf.roundAt(
          sf.col("__e").cast("double") * 1e4 / sf.col("n_words").cast("double"),
          6)).as("ellipses_per_10k"))
      .orderBy("source")
  }

  /** Markdown / code structure profile per document — the layout
    * signals a pretraining mixture needs BEFORE deciding a document's
    * pipeline (prose filters destroy code; code filters destroy
    * prose): ATX headers, fenced-code markers, list items, markdown
    * links, and the brace+semicolon density that separates C-family
    * source from prose, plus the combined `looks_like_code` verdict
    * (fences present, or punct density above 2%). The router in
    * front of rows 35/220/253's prose-tuned quality gates.
    *
    * Determinism: every count is an exact multiline regexp_count;
    * the density is one pinned division rounded 1e-6 and the verdict
    * compares the EXACT integers (50·punct > chars ⇔ density > 0.02),
    * so the flag can never disagree with the printed density.
    *
    * Scale shape: map-only per-row regexes — zero shuffles beyond
    * the output order. */
  def markdownProfile(docs0: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val docs = prepared(docs0, idCol, textCol)
      .filter(sf.col(textCol).isNotNull)
    val t = sf.col(textCol)
    def cnt(pattern: String) = sf.regexp_count(t, sf.lit(pattern)).cast("long")
    docs.select(sf.col(idCol),
        sf.length(t).cast("long").as("n_chars"),
        cnt("(?m)^#{1,6} ").as("n_headers"),
        cnt("```").as("n_fence_marks"),
        cnt("(?m)^[ \\t]*[-*+] ").as("n_list_items"),
        cnt("\\[[^\\]]*\\]\\([^)]*\\)").as("n_links"),
        cnt("[{};]").as("__punct"))
      .select(sf.col(idCol), sf.col("n_chars"), sf.col("n_headers"),
        sf.col("n_fence_marks"), sf.col("n_list_items"), sf.col("n_links"),
        sf.when(sf.col("n_chars") > 0, gf.roundAt(
          sf.col("__punct").cast("double") / sf.col("n_chars").cast("double"),
          6)).as("code_punct_density"),
        (sf.col("n_fence_marks") > 0 ||
          (sf.col("n_chars") > 0 &&
            sf.col("__punct") * 50 > sf.col("n_chars"))).as("looks_like_code"))
      .orderBy(idCol)
  }

  /** Hard-word readability ladder per document — the four classic
    * indices built on WORD-difficulty counts rather than the syllable
    * totals [[readability]] reports (two texts with the same
    * syllables/word can differ wildly in how the difficulty is
    * CONCENTRATED; these indices count the hard words directly):
    * Gunning fog 0.4·(words/sentences + 100·complex/words) (Gunning
    * 1952), SMOG 1.0430·√(complex·30/sentences) + 3.1291 (McLaughlin
    * 1969), LIX words/sentences + 100·long/words and RIX
    * long/sentences (Björnsson 1968; Anderson 1983 — the
    * language-agnostic pair: "long" is a pure character count, no
    * syllable model, so they survive on non-English text where the
    * vowel heuristic is meaningless). A word is COMPLEX with >= 3
    * vowel-group syllables ([[readability]]'s [aeiouy]+ run heuristic,
    * same tokenization), LONG with > 6 characters (the published LIX
    * cutoff). Sentences are [.!?]+ runs floored at 1, words are
    * whitespace tokens of the lowercased text — exact integer counts;
    * each index is ONE pinned left-assoc double assembly rounded once
    * at 1e-4 (√ is IEEE-exact on both engines, so SMOG stays
    * bit-identical).
    *
    * Scale shape: pure per-row kernels (two bounded array filters +
    * one regexp count) — map-only at any corpus size, zero shuffles,
    * zero UDFs; composes beside [[readability]] and [[gopherGate]] in
    * the curation funnel. */
  def readability2(docs0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = prepared(docs0, idCol, textCol)
      .filter(sf.length(sf.trim(sf.col(textCol))) > 0)
    val lower = sf.lower(sf.col(textCol))
    val words = gf.wsTokens(lower)
    val nWords = sf.size(words).cast("long")
    val nComplex = sf.size(sf.filter(words, w =>
      sf.regexp_count(w, sf.lit("[aeiouy]+")) >= 3)).cast("long")
    val nLong = sf.size(sf.filter(words, w => sf.length(w) > 6)).cast("long")
    val nSent = sf.greatest(sf.lit(1L),
      sf.regexp_count(lower, sf.lit("[.!?]+")).cast("long"))
    val base = docs.select(sf.col(idCol), nWords.as("n_words"),
      nSent.as("n_sentences"), nComplex.as("n_complex"), nLong.as("n_long"))
    val w = sf.col("n_words").cast("double")
    val st = sf.col("n_sentences").cast("double")
    val cx = sf.col("n_complex").cast("double")
    val lg = sf.col("n_long").cast("double")
    base.select(sf.col(idCol), sf.col("n_words"), sf.col("n_sentences"),
        sf.col("n_complex"), sf.col("n_long"),
        gf.roundAt(sf.lit(0.4) * (w / st + sf.lit(100.0) * cx / w), 4)
          .as("fog"),
        gf.roundAt(sf.lit(1.0430) * sf.sqrt(cx * sf.lit(30.0) / st) +
          sf.lit(3.1291), 4).as("smog"),
        gf.roundAt(w / st + sf.lit(100.0) * lg / w, 4).as("lix"),
        gf.roundAt(lg / st, 4).as("rix"))
      .orderBy(idCol)
  }

  /** Compression-ratio quality signal (the DataComp-LM / Dolma family
    * filter): DEFLATE(level 6) compressed bytes / raw UTF-8 bytes per
    * document. Boilerplate, template spam, and keyword stuffing
    * compress far below natural prose (ratio < ~0.3 at a few KB);
    * random or already-compressed payloads approach (or exceed) 1.0 —
    * both tails are curation signals the n-gram repetition stats
    * ([[repetitionStats]], [[dupNgramFraction]]) only approximate,
    * because DEFLATE sees ALL repeated substrings at once.
    *
    * Determinism: the kernel is a pure JVM function (same bytes ->
    * same length); DEFLATE has no SQL twin, so this operator is
    * spec-gated (planted repetitive/diverse docs), the
    * streaming/sink-row convention. Scale shape: map-only — one
    * kernel call per row, zero shuffles. */
  def compressionRatio(docs0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = Par.spread(docs0.select(sf.col(idCol).cast("long").as("doc_id"),
      sf.col(textCol).as("__t")))
    val nBytes = sf.octet_length(sf.col("__t")).cast("long")
    docs.select(sf.col("doc_id"), nBytes.as("n_bytes"),
        gf.deflateLen(sf.col("__t")).as("deflate_bytes"))
      .withColumn("compression_ratio", gf.roundAt(
        sf.when(sf.col("n_bytes") > 0,
          sf.col("deflate_bytes").cast("double") / sf.col("n_bytes").cast("double")), 4))
      .orderBy("doc_id")
  }

  /** C4 cleaning gate (Raffel et al. 2020, §2.2 — the published
    * heuristics that produced the C4 corpus), line + page level in one
    * map-only pass. Line rules (a line is RETAINED iff all hold):
    *   ends in a terminal punctuation mark (. ! ? or closing quote);
    *   contains >= 5 words;
    *   does not contain the word "javascript" (case-insensitive).
    * Page rules: >= 3 sentences in the retained text ([.!?] count),
    * no "lorem ipsum" (case-insensitive), no curly brace '{'.
    *
    * Output per doc: line/word/sentence counts, the page-rule flags,
    * `pass`, and `kept_md5` — the md5 of retained lines re-joined with
    * '\n' (the cleaned-page identity, so the gate's TRANSFORM — not
    * just its verdict — is oracle-checked).
    *
    * Determinism: every rule is integer counting or a regex boolean on
    * the raw line; the only derived text is the '\n' re-join.
    * Scale shape: map-only — per-line lambdas run over the doc's own
    * bounded line array, no shuffle, no UDFs; composes with
    * `Pipeline.curate` as a pre-dedup gate beside [[gopherGate]]. */
  def c4Gate(docs0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = Par.spread(docs0.select(sf.col(idCol).cast("long").as("doc_id"),
      sf.col(textCol).as("__t")))
    val t = sf.col("__t")
    val lines = sf.split(t, "\n")
    def words(l: org.apache.spark.sql.Column) =
      sf.size(sf.split(sf.trim(l), "\\s+"))
    def keptLine(l: org.apache.spark.sql.Column) =
      (sf.length(sf.trim(l)) > 0) &&
        sf.trim(l).rlike("[.!?\"']$") &&
        (words(l) >= 5) &&
        !sf.lower(l).contains("javascript")
    val kept = sf.filter(lines, keptLine _)
    val joined = sf.array_join(kept, "\n")
    val nJs = sf.size(sf.filter(lines,
      l => sf.lower(l).contains("javascript"))).cast("long")
    val nSent = sf.regexp_count(joined, sf.lit("[.!?]")).cast("long")
    val hasLorem = sf.lower(t).contains("lorem ipsum")
    val hasCurly = t.contains("{")
    docs.select(sf.col("doc_id"),
        sf.size(lines).cast("long").as("n_lines"),
        sf.size(kept).cast("long").as("n_kept_lines"),
        nJs.as("n_js_lines"),
        sf.when(sf.length(joined) > 0, sf.size(gf.wsTokens(joined)))
          .otherwise(0).cast("long").as("n_kept_words"),
        nSent.as("n_sentences"),
        hasLorem.as("has_lorem_ipsum"),
        hasCurly.as("has_curly"),
        sf.md5(joined).as("kept_md5"),
        (nSent >= 3 && !hasLorem && !hasCurly).as("pass"))
      .orderBy("doc_id")
  }

  /** Lexical-richness datasheet per source (Yule 1944; Simpson 1949;
    * Herdan 1960): Yule's K = 10⁴(Σm² − N)/N², Simpson's repeat-rate
    * D = Σm(m−1)/(N(N−1)), Herdan's C = ln V/ln N, type-token ratio
    * and hapax share — the SIZE-ROBUST vocabulary-diversity numbers
    * (raw TTR collapses as N grows; K and C are the standard
    * corpus-comparable alternatives). A generated/templated source
    * shows K far above, and hapax share far below, its organic
    * siblings — the row-per-source companion of row 297's Chao1
    * "how much vocabulary is left" and row 298's style distance.
    *
    * Determinism: everything derives from exact integer (source,
    * token) multiplicities: N, V, V1, Σm², Σm(m−1) are DECIMAL/long
    * exact; K and D are single pinned divisions; Herdan's C divides
    * the two lns AFTER each snaps to the 1e-9 grid (the q168/q210
    * ln-snap convention). N < 2 guards D and C to NULL.
    *
    * Scale shape: one map-side-combined (source, token) count, one
    * combinable per-source rollup — token text shuffles once,
    * domain-compressed. No joins, no windows. */
  def lexicalRichness(docs0: DataFrame, sourceCol: String,
                      textCol: String): DataFrame = {
    val docs = Par.spread(docs0.select(sf.col(sourceCol), sf.col(textCol)))
      .filter(sf.length(sf.trim(sf.col(textCol))) > 0)
    val cells = docs
      .select(sf.col(sourceCol),
        sf.explode(gf.wsTokens(sf.lower(sf.col(textCol)))).as("__t"))
      .groupBy(sourceCol, "__t").agg(sf.count(sf.lit(1)).as("__m"))
    val m = sf.col("__m")
    cells.groupBy(sourceCol)
      .agg(sf.sum(m).as("__n"), sf.count(sf.lit(1)).as("__v"),
        sf.sum(sf.when(m === 1, 1L).otherwise(0L)).as("__v1"),
        sf.sum(dec(m) * dec(m)).as("__m2"),
        sf.sum(dec(m) * dec(m - 1)).as("__mm1"))
      .select({
        val n = sf.col("__n").cast("double")
        val v = sf.col("__v").cast("double")
        def ln9(c: org.apache.spark.sql.Column) =
          sf.floor(sf.log(c) * 1e9 + 0.5).cast("long")
        Seq(sf.col(sourceCol).as("source"), sf.col("__n").as("n_tokens"),
          sf.col("__v").as("vocab"), sf.col("__v1").as("hapax"),
          sf.when(sf.col("__n") >= 2, gf.roundAt(
            sf.lit(1e4) * (sf.col("__m2").cast("double") - n) / (n * n), 4))
            .as("yule_k"),
          sf.when(sf.col("__n") >= 2, gf.roundAt(
            sf.col("__mm1").cast("double") / (n * (n - 1)), 6)).as("simpson_d"),
          sf.when(sf.col("__n") >= 2, gf.roundAt(
            ln9(v).cast("double") / ln9(n).cast("double"), 6)).as("herdan_c"),
          gf.roundAt(v / n, 6).as("ttr"),
          gf.roundAt(sf.col("__v1").cast("double") / v, 6).as("hapax_ratio"))
      }: _*)
      .orderBy("source")
  }

  /** Coleman–Liau index + Automated Readability Index per document
    * (Coleman & Liau 1975; Senter & Smith 1967) — the CHARACTER-based
    * readability pair beside [[readability]]'s syllable-proxy
    * Flesch–Kincaid: letter and letter+digit counting is deterministic
    * where syllable counting is a heuristic, which is exactly why CLI
    * was designed for machine scoring. Two grade estimates that
    * disagree with FK flag text whose "syllables" are artifacts
    * (code, URLs, tables) — a routing signal, not just a score.
    *
    * Determinism: letters/chars/words/sentences are exact integer
    * counts ([[readability]]'s [.!?]+ sentence convention, ≥ 1
    * floor); both indices are single pinned double assemblies of the
    * published coefficients, rounded 1e-4. Empty docs are filtered;
    * word count is ≥ 1 by construction.
    *
    * Scale shape: map-only — regexp counts + one arithmetic select
    * per row, zero shuffles (the [[readability]] shape). */
  def colemanLiau(docs0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = prepared(docs0, idCol, textCol)
      .filter(sf.length(sf.trim(sf.col(textCol))) > 0)
    val lower = sf.lower(sf.col(textCol))
    docs.select(sf.col(idCol),
        sf.regexp_count(lower, sf.lit("[a-z]")).cast("long").as("n_letters"),
        sf.regexp_count(lower, sf.lit("[a-z0-9]")).cast("long").as("n_chars"),
        sf.size(gf.wsTokens(lower)).cast("long").as("n_words"),
        sf.greatest(sf.lit(1L),
          sf.regexp_count(lower, sf.lit("[.!?]+")).cast("long")).as("n_sentences"))
      .select({
        val nl = sf.col("n_letters").cast("double")
        val nc = sf.col("n_chars").cast("double")
        val nw = sf.col("n_words").cast("double")
        val ns = sf.col("n_sentences").cast("double")
        Seq(sf.col(idCol), sf.col("n_letters"), sf.col("n_chars"),
          sf.col("n_words"), sf.col("n_sentences"),
          gf.roundAt(sf.lit(0.0588) * (nl * 100 / nw) -
            sf.lit(0.296) * (ns * 100 / nw) - 15.8, 4).as("cli"),
          gf.roundAt(sf.lit(4.71) * (nc / nw) +
            sf.lit(0.5) * (nw / ns) - 21.43, 4).as("ari"))
      }: _*)
      .orderBy(idCol)
  }

  /** Per-group zlib compressibility profile — the Gopher/RefinedWeb
    * quality gate the n-gram repetition signals (q34) approximate:
    * deflate ratio = compressed/original bytes per document
    * ([[graft.functions.deflateRatio]], level-6 raw deflate), then per
    * group the mean ratio, the share BELOW `loThreshold` (templated /
    * repeated boilerplate — the mass a dedup-aware mixture should
    * down-weight), and the share ABOVE `hiThreshold` (high-entropy
    * noise: base64, minified blobs, binary-in-text). Reading the two
    * tails beats a single mean: a source can look average while being
    * half boilerplate and half noise.
    *
    * Determinism: per-doc ratios snap to the 1e-6 integer grid before
    * the unordered group sum (exact longs; zlib output is a pure
    * function of the bytes for a fixed JDK). No SQL-engine zlib twin
    * exists, so the gate check is rows-only — the property spec pins
    * behavior instead (the documented exception class, like the
    * multimodal decode stubs).
    *
    * Scale shape: map-only kernel per document inside whole-stage
    * codegen + ONE map-side-combinable group rollup. Zero joins, zero
    * windows — scan speed. */
  def compressibility(df: DataFrame, textCol: String, groupCol: String,
                      loThreshold: Double = 0.3,
                      hiThreshold: Double = 0.95): DataFrame = {
    require(loThreshold < hiThreshold,
      s"need loThreshold < hiThreshold, got $loThreshold >= $hiThreshold")
    val r6 = sf.floor(gf.deflateRatio(sf.col(textCol)) * 1e6 + 0.5).cast("long")
    val lo6 = math.floor(loThreshold * 1e6 + 0.5).toLong
    val hi6 = math.floor(hiThreshold * 1e6 + 0.5).toLong
    df.filter(sf.col(textCol).isNotNull)
      .select(sf.col(groupCol).as("grp"), r6.as("__r6"))
      .groupBy("grp")
      .agg(sf.count(sf.lit(1)).as("n_docs"),
        sf.sum("__r6").as("__s6"),
        sf.sum((sf.col("__r6") < lo6).cast("long")).as("__nlo"),
        sf.sum((sf.col("__r6") > hi6).cast("long")).as("__nhi"))
      .select(sf.col("grp").as(groupCol), sf.col("n_docs"),
        gf.roundAt(sf.col("__s6").cast("double") / 1e6 /
          sf.col("n_docs").cast("double"), 6).as("mean_ratio"),
        gf.roundAt(sf.col("__nlo").cast("double") /
          sf.col("n_docs").cast("double"), 6).as("share_templated"),
        gf.roundAt(sf.col("__nhi").cast("double") /
          sf.col("n_docs").cast("double"), 6).as("share_noise"))
      .orderBy(groupCol)
  }

  /** Intra-word script-mixing audit per source — tokens containing
    * BOTH Latin and Cyrillic (or Latin and Greek) letters: the
    * homoglyph-spoofing signal ("pаypal" with a Cyrillic а) behind
    * phishing text, adversarial SEO, and poisoned training corpora —
    * invisible to [[langId]] (the doc still reads as its majority
    * language) and to per-CHARACTER class profiles (a bilingual doc
    * legitimately mixes scripts ACROSS words; mixing INSIDE one word
    * is the attack shape). Reports per source: docs scanned, docs
    * with ≥1 mixed token, total mixed tokens, and the flagged-doc
    * share.
    *
    * Determinism: pure structural predicates over whitespace tokens
    * (two regex range tests per script pair — portable character
    * classes, no Unicode property dialects); exact counts, the share
    * one pinned division 1e-6.
    *
    * Scale shape: ONE map-only pass (builtin filter/size HOFs over
    * the token array — no explode, no UDF) + a combinable source
    * rollup. */
  def scriptMixing(docs: DataFrame, sourceCol: String,
                   textCol: String): DataFrame = {
    val latin = "[A-Za-z]"
    // The FULL Cyrillic block U+0400–U+04FF, not just а-я/А-Я
    // (U+0430–U+044F): ё (U+0451) and the extended-Cyrillic Latin
    // lookalikes і (U+0456), ј (U+0458), ѕ (U+0455) are among the most
    // common homoglyph-spoofing characters, and the narrow class would
    // pass exactly those attacks. Literal-range style kept (portable
    // across Java regex and RE2 without \p{IsCyrillic}-dialect forks).
    val cyr = "[Ѐ-ӿ]"
    val greek = "[α-ωΑ-Ω]"
    def mixed(t: org.apache.spark.sql.Column) =
      (t.rlike(latin) && t.rlike(cyr)) || (t.rlike(latin) && t.rlike(greek))
    val toks = gf.wsTokens(sf.lower(sf.col(textCol)))
    val nMixed = sf.size(sf.filter(toks, t => mixed(t)))
    graft.operators.Par.spread(
        docs.select(sf.col(sourceCol).as("source"), sf.col(textCol)))
      .filter(sf.col("source").isNotNull && sf.col(textCol).isNotNull)
      .select(sf.col("source"), nMixed.as("__m"))
      .groupBy("source")
      .agg(sf.count(sf.lit(1)).as("n_docs"),
        sf.sum((sf.col("__m") > 0).cast("long")).cast("long").as("docs_flagged"),
        sf.sum("__m").cast("long").as("mixed_tokens"))
      .select(sf.col("source"), sf.col("n_docs"), sf.col("docs_flagged"),
        sf.col("mixed_tokens"),
        gf.roundAt(sf.col("docs_flagged").cast("double") /
          sf.col("n_docs").cast("double"), 6).as("flagged_share"))
      .orderBy("source")
  }

  /** Boilerplate-prefix detection per source: n-token document
    * prefixes shared by ≥ max(2, ⌈phi·n_source⌉) of a source's docs —
    * the TEMPLATE fingerprint (injected headers, scraper banners,
    * license preambles, "subscribe to read" walls) that per-document
    * gates can't see because each instance looks fine alone; the
    * flagged prefixes feed a [[phraseBlocklist]] / prefix-strip pass,
    * which is exactly how production curation removes crawler
    * boilerplate. Share-THRESHOLD semantics, not top-k: "what covers
    * ≥ phi of the source" is the curation question, and it needs no
    * per-source ranking window — the output stays exact and
    * data-independent in shape.
    *
    * Determinism: one canonical prefix per doc (lowercased whitespace
    * tokens, first `nTokens`, space-joined — shorter docs contribute
    * their whole token list; token-free docs drop); exact integer
    * counts; phi snaps to the 1e-4 grid and the share-≥-phi test runs
    * on exact integers (n_docs·10⁴ ≥ phi₄·n_source — no doubles in
    * the decision); the reported share is one pinned division rounded
    * 1e-6.
    *
    * Scale shape: a map-only prefix projection (ONE row per doc — no
    * token fan-out), one map-side-combined (source, prefix) count, a
    * |sources|-domain totals broadcast. No windows, no sketch
    * needed. */
  def boilerplatePrefixes(docs: DataFrame, sourceCol: String, textCol: String,
                          nTokens: Int = 2, phi: Double = 0.05): DataFrame = {
    require(nTokens >= 1 && nTokens <= 64,
      s"nTokens must be in [1, 64], got $nTokens")
    require(phi > 0 && phi <= 1, s"phi must be in (0, 1], got $phi")
    val toks = gf.wsTokens(sf.lower(sf.col(textCol)))
    val base = graft.operators.Par.spread(
        docs.select(sf.col(sourceCol).as("source"), sf.col(textCol)))
      .filter(sf.col("source").isNotNull && sf.size(toks) >= 1)
      .select(sf.col("source"),
        sf.array_join(sf.slice(toks, 1, nTokens), " ").as("prefix"))
      .localCheckpoint(true) // totals + prefix counts read it
    val totals = base.groupBy("source").agg(sf.count(sf.lit(1)).as("n_source_docs"))
    base.groupBy("source", "prefix").agg(sf.count(sf.lit(1)).as("n_docs"))
      .join(sf.broadcast(totals), "source")
      .filter(sf.col("n_docs") >= 2 &&
        sf.col("n_docs") * 10000L >=
          sf.lit(math.floor(phi * 1e4 + 0.5).toLong) * sf.col("n_source_docs"))
      .select(sf.col("source"), sf.col("prefix"), sf.col("n_docs"),
        sf.col("n_source_docs"),
        gf.roundAt(sf.col("n_docs").cast("double") /
          sf.col("n_source_docs").cast("double"), 6).as("share"))
      .orderBy(sf.col("source"), sf.col("n_docs").desc, sf.col("prefix"))
  }

  /** The homoglyph → Latin skeleton character map: the high-frequency
    * Latin-lookalike subset of UTS #39's confusables table (the spoof
    * set behind "pаypal"/"vіsa"/"microѕoft" phishing and poisoned-
    * corpus dedup evasion), deliberately pinned SMALL and explicit —
    * a full confusables table is a data file, this is the set that
    * shows up in practice: Cyrillic а е о р с у х і ј ѕ ё and Greek
    * α ο ν over their Latin skeletons. Applied after lowercasing. */
  private val HomoglyphFrom = "аеорсу" +
    "хіјѕёαον"
  private val HomoglyphTo = "aeopcyxijseaov"

  /** Lowercased text with the pinned homoglyph set folded to its Latin
    * skeleton — the canonical form [[homoglyphSkeletonDedup]] groups
    * on and the NEUTRALIZER beside [[scriptMixing]]'s detector. */
  def homoglyphSkeleton(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    sf.translate(sf.lower(text), HomoglyphFrom, HomoglyphTo)

  /** Homoglyph-skeleton exact dedup: the [[graft.operators.Dedup]]
    * exact-dedup shape, but grouping on [[homoglyphSkeleton]] so a
    * spoofed copy ("login to pаypal portal", Cyrillic а) collapses
    * into its clean original's group — the dedup-evasion counter to
    * go with [[scriptMixing]]'s audit (an attacker who defeats exact
    * dedup by swapping confusable characters defeats THIS only by
    * changing visible text). Reports per group: representative (min
    * id), total copies, and how many members were spoofed (their
    * lowercased text differs from the skeleton — i.e. the translation
    * actually fired).
    *
    * Determinism: the map is a pinned literal; skeleton, counts, and
    * min-id are exact. Scale shape: ONE map-side-combined groupBy on
    * the skeleton hash — the [[graft.operators.Dedup]] exact shape,
    * text never shuffles (md5 of the skeleton rides instead). */
  def homoglyphSkeletonDedup(docs: DataFrame, idCol: String,
                             textCol: String): DataFrame = {
    val skel = homoglyphSkeleton(sf.col(textCol))
    docs.filter(sf.col(idCol).isNotNull && sf.col(textCol).isNotNull)
      .select(sf.col(idCol).cast("long").as("__id"),
        sf.md5(skel).as("__sk"),
        (sf.lower(sf.col(textCol)) =!= skel).cast("long").as("__sp"))
      .groupBy("__sk")
      .agg(sf.min("__id").as("rep_id"),
        sf.count(sf.lit(1)).as("n_copies"),
        sf.sum("__sp").cast("long").as("n_spoofed"))
      .select("rep_id", "n_copies", "n_spoofed")
      .orderBy("rep_id")
  }

  /** Boilerplate-prefix STRIP — the transform [[boilerplatePrefixes]]
    * feeds: docs whose lowercased first-`nTokens` prefix is flagged for
    * THEIR source (shared by ≥ max(2, ⌈phi·n_source⌉) docs) lose those
    * leading tokens; everything else passes through untouched. This is
    * how production curation actually removes crawler banners /
    * injected headers: detect per source, strip per document, leave
    * the body for the quality gates downstream.
    *
    * Strip semantics (pinned, engine-replicable): the stripped text is
    * the doc's ORIGINAL-case whitespace tokens after the first
    * `nTokens`, single-space-joined — token-canonical, like
    * [[graft.functions.tokenCount]]'s view of the document; a flagged
    * doc shorter than `nTokens` strips to the empty string. Unflagged
    * docs keep their text VERBATIM (no re-tokenization damage).
    * Reports per doc: stripped flag, char counts before/after, and the
    * result text.
    *
    * Scale shape: the detection chain (domain-compressed prefix
    * counts) + ONE broadcast (source, prefix) attach + a map-only
    * rewrite — the corpus never shuffles. */
  def stripBoilerplatePrefixes(docs: DataFrame, idCol: String,
                               sourceCol: String, textCol: String,
                               nTokens: Int = 2,
                               phi: Double = 0.05): DataFrame = {
    val flagged = boilerplatePrefixes(docs, sourceCol, textCol, nTokens, phi)
      .select(sf.col("source").as("__fsrc"), sf.col("prefix").as("__fpfx"),
        sf.lit(true).as("__hit"))
    val toks = gf.wsTokens(sf.col(textCol))
    val lowPfx = sf.array_join(
      sf.slice(gf.wsTokens(sf.lower(sf.col(textCol))), 1, nTokens), " ")
    val stripped = sf.array_join(sf.expr(
      s"slice(__toks, ${nTokens + 1}, greatest(size(__toks) - $nTokens, 0))"),
      " ")
    docs.filter(sf.col(sourceCol).isNotNull && sf.col(textCol).isNotNull)
      .select(sf.col(idCol).cast("long").as("doc_id"),
        sf.col(sourceCol).as("source"), sf.col(textCol).as("__text"),
        toks.as("__toks"), lowPfx.as("__pfx"))
      .join(sf.broadcast(flagged),
        sf.col("source") === sf.col("__fsrc") &&
          sf.col("__pfx") === sf.col("__fpfx"), "left")
      .select(sf.col("doc_id"), sf.col("source"),
        sf.coalesce(sf.col("__hit"), sf.lit(false)).as("was_stripped"),
        sf.length(sf.col("__text")).cast("long").as("n_chars_before"),
        sf.when(sf.col("__hit"), stripped).otherwise(sf.col("__text"))
          .as("text"))
      .withColumn("n_chars_after", sf.length(sf.col("text")).cast("long"))
      .select("doc_id", "source", "was_stripped",
        "n_chars_before", "n_chars_after", "text")
      .orderBy("doc_id")
  }

  /** HTML/markup strip — the first transform every web-scraped corpus
    * passes through before any row-376 boilerplate or row-35 quality
    * logic can see real prose: removes `<...>` tags, decodes the five
    * core character entities plus `&nbsp;`, and collapses the
    * whitespace runs block tags leave behind. Deliberately a TEXT
    * transform, not a DOM parse (scripts/styles survive as text —
    * honest non-goal documented here; a corpus needing structural
    * extraction should land through a real HTML pipeline first) —
    * what this buys at 100 TB is scan-speed cleanup with zero shuffle.
    *
    * Determinism: three fixed-order regex/replace passes (tags →
    * entities with `&amp;` LAST so `&amp;lt;` decodes once to the
    * literal `&lt;`, the standard single-pass convention → whitespace
    * collapse + trim); tag count from the same pattern the strip
    * uses, so the count can never disagree with the removal.
    *
    * Scale shape: pure per-row expressions — map-only, codegen'd,
    * zero shuffle; runs at scan speed on any corpus size. */
  def stripMarkup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tagPat = "<[^>]*>"
    val t0 = sf.col(textCol)
    val noTags = sf.regexp_replace(t0, tagPat, " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) =>
        sf.replace(c, sf.lit(ent), sf.lit(ch)) }
    val clean = sf.trim(sf.regexp_replace(decoded, "\\s+", " "))
    docs.filter(sf.col(idCol).isNotNull && t0.isNotNull)
      .select(sf.col(idCol).cast("long").as("doc_id"),
        sf.size(sf.regexp_extract_all(t0, sf.lit(tagPat), sf.lit(0)))
          .cast("long").as("n_tags"),
        sf.length(t0).cast("long").as("n_chars_before"),
        sf.length(clean).cast("long").as("n_chars_after"),
        clean.as("text"))
      .orderBy("doc_id")
  }
}
